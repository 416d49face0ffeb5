package graft

import java.nio.file.{Files, Paths}
import scala.sys.process.{Process, ProcessLogger}

/** The DuckDB oracle floor inside the test suite: `Verify.dump` writes
  * every registry query at sf0.001, and `tools/check_oracle.py` (python3
  * with duckdb) replays each query's oracle SQL over the same tables and
  * compares rows. */
class OracleFloorSpec extends SparkSpec {

  test("every registry query matches its DuckDB oracle at sf0.001") {
    val out = Files.createTempDirectory("graft_oracle")
    try {
      val threw = Verify.dump(spark, sf001, out.toString, SparkEntry.select(None))
      assert(threw.isEmpty, s"queries threw: ${threw.mkString(", ")}")
      val repo = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir")))
      val log = Seq.newBuilder[String]
      val exit = Process(Seq("python3", repo.resolve("tools/check_oracle.py").toString,
        sf001, out.toString)).!(ProcessLogger(log += _, log += _))
      val lines = log.result()
      val fails = lines.filter(_.trim.startsWith("FAIL"))
      assert(exit == 0 && fails.isEmpty, s"check_oracle.py exited $exit:\n" +
        (if (fails.nonEmpty) fails else lines.takeRight(20)).mkString("\n"))
      assert(lines.contains(s"${SparkEntry.queries.size} pass, 0 fail"), lines.takeRight(20).mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
