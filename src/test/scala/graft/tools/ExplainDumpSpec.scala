package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ExplainDumpSpec extends AnyFunSuite {

  test("mask hides expression, exchange, RDD and lambda ids, nothing else") {
    val plan =
      """(3) BroadcastExchange
        |Input [2]: [cert_id#5617L, group_id#12]
        |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=5728]
        |(4) Filter [codegen id : 2]
        |Condition : (isnotnull(amount#7) AND (amount#7 > 100.0))
        |Arguments: [u#3L, v#4L], MapPartitionsRDD[982] at localCheckpoint at Mat.scala:61, ExistingRDD, UnknownPartitioning(1)
        |Arguments: graft.operators.Intervals$$$Lambda$6448/0x00007f22c98b7038@2d0f34d, newInstance(class scala.Tuple3)""".stripMargin
    assert(ExplainDump.mask(plan) ==
      """(3) BroadcastExchange
        |Input [2]: [cert_id#_L, group_id#_]
        |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=_]
        |(4) Filter [codegen id : 2]
        |Condition : (isnotnull(amount#_) AND (amount#_ > 100.0))
        |Arguments: [u#_L, v#_L], MapPartitionsRDD[_] at localCheckpoint at Mat.scala:61, ExistingRDD, UnknownPartitioning(1)
        |Arguments: graft.operators.Intervals$$$Lambda_, newInstance(class scala.Tuple3)""".stripMargin)
  }
}
