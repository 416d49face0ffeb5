package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def steps = Seq(
    Pipeline.Step("load", Nil, Seq("raw"),
      (s, _) => Map("raw" -> Seq(1, 2, 3).toDF("v"))),
    Pipeline.Step("double", Seq("raw"), Seq("doubled"),
      (_, ctx) => Map("doubled" -> ctx("raw").withColumn("v", col("v") * 2))),
    Pipeline.Step("sum", Seq("doubled"), Seq("total"),
      (_, ctx) => Map("total" -> ctx("doubled").agg(sum(col("v")).as("t")))),
  )

  test("ordered run produces the DAG outputs") {
    val frames = Pipeline.run(spark, steps)
    assert(frames.keySet == Set("raw", "doubled", "total"))
    assert(frames("total").as[Long].collect().head == 12L)
  }

  test("missing input fails fast with a diagnostic") {
    val bad = Seq(Pipeline.Step("s", Seq("nope"), Seq("out"), (_, _) => Map.empty))
    val e = intercept[IllegalStateException](Pipeline.run(spark, bad))
    assert(e.getMessage == "step s: missing inputs: nope", e.getMessage)
  }
}
