package graft

import java.nio.file.{Files, Paths}
import scala.sys.process.{Process, ProcessLogger}

/** The flagship pair's DuckDB oracle inside the test suite: `Verify.dump`
  * writes `domain_e2e_gl` and `g_incremental_gl` at sf0.001, and
  * `tools/check_oracle.py` (python3 with duckdb) replays their oracle SQL
  * over the same tables and compares rows. */
class FlagshipOracleSpec extends SparkSpec {

  test("domain_e2e_gl and g_incremental_gl match their DuckDB oracle at sf0.001") {
    val names = Seq("domain_e2e_gl", "g_incremental_gl")
    val out = Files.createTempDirectory("graft_oracle").toString
    val threw = Verify.dump(spark, sf001, out, SparkEntry.select(Some(names.mkString(","))))
    assert(threw.isEmpty, s"queries threw: ${threw.mkString(", ")}")
    val repo = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir")))
    val log = Seq.newBuilder[String]
    val exit = Process(Seq("python3", repo.resolve("tools/check_oracle.py").toString, sf001, out),
      None, "ORACLE_ONLY" -> names.mkString(",")).!(ProcessLogger(log += _, log += _))
    val lines = log.result()
    val fails = lines.filter(_.trim.startsWith("FAIL"))
    assert(exit == 0, s"check_oracle.py exited $exit:\n" +
      (if (fails.nonEmpty) fails else lines.takeRight(20)).mkString("\n"))
    assert(lines.contains(s"${names.size} pass, 0 fail"), lines.mkString("\n"))
  }
}
