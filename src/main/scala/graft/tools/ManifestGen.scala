package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates MANIFEST.md — the mechanical queries→operators index: one
  * row per `SparkEntry.queries` key listing the graft operator/function
  * defs its definition calls (resolved to file:line). SURVEY §2.0's
  * prose table claims coverage; this manifest keeps the claim
  * CHECKABLE: a reader can cross-check query keys against operator
  * implementations without reading 10k lines, and `ManifestSpec`
  * regenerates the table and diffs it against
  * the committed file so any drift between `SparkEntry.defs` and the
  * manifest fails the build.
  *
  * Resolution is source-level (no reflection): every `object X` under
  * src/main/scala/graft is scanned for `def y` lines; each query's body
  * in SparkEntry.scala, string literals removed, is scanned for `X.y`
  * tokens, together with the bodies of the private SparkEntry helpers
  * it calls, followed transitively. Only graft objects are indexed, so
  * Spark API calls never appear.
  */
object ManifestGen {

  /** The checkout: the working directory, or `SPARK_GRAFT_REPO_DIR`. */
  private val repo = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir")))
  private val srcRoot = repo.resolve("src/main/scala/graft")

  private def allScala(): Seq[java.nio.file.Path] = {
    val s = Files.walk(srcRoot)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  /** (objectName, defName) -> "relative/File.scala:line" for every def
    * declared inside every graft object. Nested objects resolve to the
    * nearest enclosing `object` line above the def (graft code is flat
    * one-object-per-file except sql/, where the object name matches). */
  private def defIndex(): Map[(String, String), String] = {
    val objRe = "^\\s*(?:private\\s+)?(?:case\\s+)?object\\s+([A-Za-z0-9_]+)".r
    val defRe = "^\\s*(?:private(?:\\[\\w+\\])?\\s+)?(?:final\\s+)?(?:lazy\\s+)?(?:override\\s+)?(?:def|val)\\s+([a-zA-Z0-9_]+)".r
    allScala().flatMap { p =>
      val rel = repo.relativize(p).toString
      var cur: Option[String] = None
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        objRe.findFirstMatchIn(line).foreach(m => cur = Some(m.group(1)))
        (defRe.findFirstMatchIn(line), cur) match {
          case (Some(m), Some(obj)) => Some((obj, m.group(1)) -> s"$rel:${i + 1}")
          case _ => None
        }
      }
    }.toMap // later files win on collision; names are unique in practice
  }

  /** Slices of SparkEntry.scala without comments and string literals
    * (so neither prose nor oracle SQL reads as code): each query's body,
    * from its `Q(` line to the next or to the end of the query list, and
    * each private helper's, from its `private def`/`val` line to the
    * object's next member. */
  private def entrySources(): (Seq[(String, String)], Map[String, String]) = {
    val text = new String(Files.readAllBytes(srcRoot.resolve("SparkEntry.scala")), "UTF-8")
    val members = "(?m)^  [^\\s}]".r.findAllMatchIn(text).map(_.start).toVector
    def slices(start: String, ends: Seq[Int]) = start.r.findAllMatchIn(text).map { m =>
      m.group(1) -> text.substring(m.start, ends.find(_ > m.start).getOrElse(text.length))
        .replaceAll("(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|//[^\n]*|/\\*.*?\\*/", " ")
    }.toVector
    val queries = "(?m)^    Q\\(\"([a-z0-9_]+)\""
    (slices(queries, (queries.r.findAllMatchIn(text).map(_.start) ++ members).toVector.sorted),
      slices("(?m)^  private(?:\\[\\w+\\])? +(?:lazy +)?(?:def|val) +(\\w+)", members).toMap)
  }

  def render(): String = {
    val idx = defIndex()
    // matches both calls (X.y(...)) and val references (X.y); the
    // uppercase-object + def-index containment filter keeps noise out
    val callRe = "\\b([A-Z][A-Za-z0-9_]*)\\.([a-zA-Z0-9_]+)\\b".r
    val queryNames = graft.SparkEntry.queries.keySet
    val (queries, helpers) = entrySources()
    // the private helpers `code` calls (identifiers not after a `.`),
    // followed transitively
    def reach(seen: Set[String], code: String): Set[String] =
      ("(?<![.\\w])\\w+".r.findAllIn(code).filter(helpers.contains).toSet -- seen)
        .foldLeft(seen)((s, h) => reach(s + h, helpers(h)))
    val rows = queries.filter(q => queryNames.contains(q._1)).map {
      case (name, body) =>
        val refs = callRe.findAllMatchIn((reach(Set.empty, body).map(helpers) + body).mkString("\n"))
          .map(m => (m.group(1), m.group(2)))
          .filter(idx.contains)
          .toVector.distinct.sortBy(t => (t._1, t._2))
          .map { case (obj, d) => s"`$obj.$d` ${idx((obj, d))}" }
        s"| `$name` | ${if (refs.isEmpty) "inline (SparkEntry only)" else refs.mkString("; ")} |"
    }
    // rows are appended OUTSIDE the stripMargin block: table rows start
    // with '|', which stripMargin would eat as a margin character
    Seq(
      "# MANIFEST — queries → operators (generated)",
      "",
      "Generated by `graft.tools.ManifestGen` (run: see tools/gen_manifest.sh);",
      "`ManifestSpec` regenerates this table and fails on drift. One row per",
      "`SparkEntry.queries` key: the graft operator/function defs the query's",
      "Spark definition calls, directly or through SparkEntry's private",
      "helpers (source-resolved to file:line). Every query has a DuckDB",
      "oracle (`GateContractSpec`).",
      "",
      s"${rows.size} queries.",
      "",
      "| query | operators |",
      "|---|---|").mkString("\n") + "\n" + rows.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val out = repo.resolve("MANIFEST.md")
    Files.write(out, render().getBytes("UTF-8"))
    println(s"wrote $out")
  }
}
