package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  private val left = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "lv")
  private val right = Seq((1, "X"), (2, "Y")).toDF("k", "rv")

  test("saltedJoin matches plain join results") {
    val plain = left.join(right, Seq("k")).select(col("k"), col("lv"), col("rv"))
      .as[(Int, String, String)].collect().toSet
    val salted = Skew.saltedJoin(left, right, "k", salt = 4, leftSaltSource = col("lv"))
      .select(col("k"), col("lv"), col("rv")).as[(Int, String, String)].collect().toSet
    assert(salted == plain)
  }

  test("saltedJoin left join preserves unmatched rows exactly once") {
    val out = Skew.saltedJoin(left, right, "k", salt = 3,
      leftSaltSource = col("lv"), joinType = "left")
      .select(col("k"), col("lv"), col("rv")).as[(Int, String, Option[String])].collect()
    assert(out.count(_._1 == 3) == 1)
    assert(out.find(_._1 == 3).get._3.isEmpty)
    assert(out.length == 4)
  }

  test("keySkewReport surfaces the hot key with the right shares") {
    // 80 rows of "hot", 10 of "warm", 10 singletons -> 12 keys, 100 rows
    val rows = Seq.fill(80)("hot") ++ Seq.fill(10)("warm") ++
      (1 to 10).map(i => s"k$i")
    val df = rows.toDF("key2")
    val got = Skew.keySkewReport(df, col("key2"), topK = 3)
      .as[(Int, String, Long, Double, Double, Double)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1, "hot", 80L), (2, "warm", 10L), (3, "k1", 1L)))
    val hot = got.head
    assert(hot._4 == 80.0)            // share
    assert(hot._5 == 80.0)            // cumulative share
    assert(hot._6 == 9.6)             // 80 * 12 keys / 100 rows
    assert(got(1)._5 == 90.0)
  }
}
