package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Smoke: the driver contract — entry() has rows, every registered query
  * runs at sf0.001, a warm flagship pass reuses its generated classes —
  * plus source-tree guards over `src/main/scala`. */
class EntrySpec extends SparkSpec {

  /** The repo root and every `.scala` file under its `src/main/scala`,
    * in path order. */
  private def mainSources(): (Path, Vector[Path]) = {
    val repo = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir")))
    val root = repo.resolve("src/main/scala")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under $root")
    (repo, files)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf001).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("a37_conversion_lag on events with no purchase is one all-NULL row, as its oracle") {
    val dir = Files.createTempDirectory("graft_no_purchase")
    try {
      Tables.events(spark, sf001).filter(col("event_type") =!= "purchase")
        .write.parquet(s"$dir/events.parquet")
      val rows = SparkEntry.queries("a37_conversion_lag")(spark, dir.toString).collect()
      assert(rows.map(_.toSeq).toSeq == Seq(Seq(null, null, null)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a warm domain_e2e_gl pass compiles no generated classes") {
    // the flagship's generated classes fit the codegen cache that
    // GraftSession sizes, so a warm pass finds every one of them; under
    // Spark's default of 100 entries the LRU evicts each class before its
    // next use and every warm pass recompiles ~200. AQE turns the
    // proposal_id join into a broadcast from whichever side's shuffle
    // finishes first, so a warm pass can meet a join variant it has not
    // compiled yet (4-5 classes, about one pass in six); each variant
    // compiles once, so the least of three warm passes is 0
    import org.apache.spark.metrics.source.CodegenMetrics
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("domain_e2e_gl")(spark, sf001).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pass()
    val warm = Seq.fill(3)(pass())
    assert(warm.min == 0, s"warm passes compiled ${warm.mkString(", ")} generated classes")
  }

  test("src/main reads exactly the eight documented settings") {
    // every env var / system property the engine reads is listed in the
    // README's Configuration section; a new switch must be added there
    // (and here) on purpose, not ship as an undocumented A/B toggle
    val (_, files) = mainSources()
    val env = "SPARK_GRAFT_[A-Z_]+".r
    val prop = """sys\.props(?:\.get)?\(\s*"(graft\.[\w.]+)"""".r
    val found = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      env.findAllIn(text).toSeq ++ prop.findAllMatchIn(text).map(_.group(1))
    }.toSet
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MAT", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_REPEAT", "SPARK_GRAFT_BENCH_OUT",
      "SPARK_GRAFT_REPO_DIR", "graft.mat")
    assert(found == allowed,
      s"unlisted: ${found -- allowed}; listed but unread: ${allowed -- found}")
  }

  test("src/main defines exactly the documented mains") {
    // the runnable surface is the two driver mains and three tools, each
    // listed in the README layout; a second orchestrator or profiling twin
    // of a shipped path must be added there (and here) on purpose
    val (_, files) = mainSources()
    val pkg = """(?m)^package ([\w.]+)""".r
    val obj = """(?m)^\s*(?:private\s+)?(?:case\s+)?object\s+(\w+)""".r
    val found = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val p = pkg.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
      """def main\(""".r.findAllMatchIn(text).map { m =>
        val o = obj.findAllMatchIn(text.take(m.start)).map(_.group(1)).toSeq.lastOption
        (p + "." + o.getOrElse("?")).stripPrefix("graft.")
      }
    }.toSet
    val allowed = Set("Bench", "Verify", "tools.ExplainDump", "tools.ManifestGen",
      "tools.ScaleGen")
    assert(found == allowed,
      s"unlisted: ${found -- allowed}; listed but absent: ${allowed -- found}")
  }

  test("SPARK_GRAFT_ONLY selection trims names and rejects unknown ones") {
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.select(Some(" s1_csv_ingest, ,a10_approx_distinct ")).keySet ==
      Set("s1_csv_ingest", "a10_approx_distinct"))
    val unknown = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("s1_csv_ingest,no_such_query"))
    }
    assert(unknown.getMessage.contains("no_such_query"), unknown.getMessage)
    val empty = intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
    assert(empty.getMessage.contains("names no query"), empty.getMessage)
  }

  test("src/main repeats no run of 6 lines") {
    // each shared query input, operator block or oracle fragment has one
    // definition: a run of 6 consecutive lines (each trimmed, >= 200
    // characters in all) that appears twice in the tree is a copy to fold
    // into a helper. `package` and `import` lines cannot be folded, so
    // they are left out before the windows are formed.
    val (repo, files) = mainSources()
    val window = 6
    val seen = scala.collection.mutable.LinkedHashMap[Seq[String], List[String]]()
    for (f <- files) {
      val lines = Files.readAllLines(f).asScala.map(_.trim).zipWithIndex
        .filterNot { case (l, _) => l.startsWith("package ") || l.startsWith("import ") }
        .toVector
      for (i <- 0 to lines.length - window) {
        val w = lines.slice(i, i + window).map(_._1)
        if (w.map(_.length).sum >= 200)
          seen(w) = seen.getOrElse(w, Nil) :+ s"${repo.relativize(f)}:${lines(i)._2 + 1}"
      }
    }
    val repeated = seen.values.filter(_.size > 1).toSeq
    if (repeated.nonEmpty)
      fail(s"${repeated.size} repeated $window-line windows, e.g.\n" +
        repeated.take(10).map(_.mkString(" = ")).mkString("\n"))
  }

  test("src/main does not branch on functionExists") {
    // every session installs GraftExtensions, so each native kernel has
    // one call path: a session without it fails loudly at analysis rather
    // than quietly taking an untested composed fallback
    val (repo, files) = mainSources()
    val forks = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("functionExists")
    } yield s"${repo.relativize(f)}:${i + 1}"
    assert(forks.isEmpty, s"${forks.size} functionExists forks: ${forks.mkString(", ")}")
  }

  test("src/main materializes only through graft.Mat") {
    // Mat is the engine's one materializer: a frame reaches its mode
    // (SPARK_GRAFT_MAT) only through it, so a raw persist or checkpoint
    // elsewhere ignores the setting and is never counted
    val (repo, files) = mainSources()
    val call = """\.(?:persist|unpersist|localCheckpoint|checkpoint)\(|\.cache\(\)""".r
    val owners = Seq("graft/Mat.scala", "graft/plans/PlanBridge.scala")
    val sites = for {
      f <- files if !owners.exists(o => f.toString.endsWith(o))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !Seq("//", "*", "/*").exists(code.startsWith)
      if call.findFirstIn(code).nonEmpty
    } yield s"${repo.relativize(f)}:${i + 1}"
    assert(sites.isEmpty,
      s"${sites.size} materializations outside graft.Mat: ${sites.mkString(", ")}")
  }

  test("every operators/ and streaming/ def is called from src/main") {
    // an operator earns its place by a query or main that runs it; a def
    // only a spec calls is deleted. A mention in a comment is no call.
    val exempt = Map(
      "embeddingNearDupPairsExact" ->
        "exact all-pairs baseline DedupSpec checks embeddingNearDupPairs against",
      "simHash" -> "column form DedupSpec checks simHashDocs' fingerprints against")
    val (repo, files) = mainSources()
    val code = files.map { f =>
      f -> Files.readAllLines(f).asScala.zipWithIndex.filterNot { case (line, _) =>
        Seq("//", "*", "/*").exists(line.trim.startsWith)
      }.toVector
    }
    // how many code lines each word is on: a def's own line is one of them
    val linesWith = code.flatMap(_._2)
      .flatMap { case (line, _) => """\w+""".r.findAllIn(line).toSet }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val defName = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+)*def\s+(\w+)""".r
    val uncalled = for {
      (f, lines) <- code
      if Seq("graft/operators/", "graft/streaming/").exists(f.toString.contains)
      (line, i) <- lines
      name <- defName.findFirstMatchIn(line).map(_.group(1)).toSeq
      if !exempt.contains(name) && linesWith(name) < 2
    } yield s"${repo.relativize(f)}:${i + 1} $name"
    assert(uncalled.isEmpty,
      s"${uncalled.size} defs with no caller in src/main: ${uncalled.mkString(", ")}")
  }

  test("approx_count_distinct within 5% of exact") {
    val rows = SparkEntry.queries("a10_approx_distinct")(spark, sf001)
      .select(col("within_5pct")).collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(0)))
  }

  test("frame-sample stub: stride sampling of byte blocks with fixed block size") {
    val m = graft.operators.Multimodal.asMediaTable(
      Tables.documents(spark, sf001).limit(3), "doc_id", "text", "text/plain")
    val frames = graft.operators.Multimodal.frameSampleStub(m, blockSize = 16, stride = 4)
      .select(col("media_id"), col("frames")).collect()
    frames.foreach { r =>
      val fs = r.getSeq[Array[Byte]](1)
      assert(fs.nonEmpty)
      assert(fs.forall(_.length <= 16))
    }
  }

  test("patchGrid: full grid with clipped edge patches, degenerate dims dropped") {
    import spark.implicits._
    // 20x17 @ patch 16 -> 2x2 grid; right/bottom patches clip to 4/1 px
    val m = Seq((1L, 20, 17), (2L, 16, 16), (3L, 0, 5)).toDF("mid", "w", "h")
    val got = graft.operators.Multimodal.patchGrid(m, col("mid"), col("w"), col("h"), 16)
      .as[(Long, Int, Int, Int, Int, Int, Int, Int)].collect()
    val m1 = got.filter(_._1 == 1L).map(r => (r._2, r._3, r._6, r._7, r._8)).toSet
    assert(m1 == Set(
      (0, 0, 16, 16, 256), (1, 0, 20, 16, 64), (0, 1, 16, 17, 16), (1, 1, 20, 17, 4)))
    assert(got.count(_._1 == 2L) == 1)          // exact single patch
    assert(!got.exists(_._1 == 3L))             // zero-width image dropped
  }

  test("resize stub keeps every factor-th payload byte") {
    import spark.implicits._
    val m = graft.operators.Multimodal.asMediaTable(
      Seq((1L, "abcdefgh"), (2L, "ab"), (3L, "")).toDF("doc_id", "text"),
      "doc_id", "text", "text/plain")
    val got = graft.operators.Multimodal.resizeStub(m, 3)
      .select(col("media_id"), col("resized").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "adg", 2L -> "a", 3L -> ""))
  }

  test("multimodal decode stub emits deterministic 8-dim features") {
    val m = graft.operators.Multimodal.asMediaTable(
      Tables.documents(spark, sf001).limit(5), "doc_id", "text", "text/plain")
    val f1 = graft.operators.Multimodal.decodeStub(m)
      .select(col("media_id"), col("features")).collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(f1.forall(_._2.length == 8))
    val f2 = graft.operators.Multimodal.decodeStub(m)
      .select(col("media_id"), col("features")).collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(f1.toMap == f2.toMap) // deterministic across runs
  }
}
