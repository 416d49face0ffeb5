package graft.tools

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** MANIFEST.md must stay in lockstep with `SparkEntry.defs`: the spec
  * regenerates the queries→operators table from source and diffs it
  * against the committed file, so adding/renaming a query (or moving an
  * operator def) without re-running ManifestGen fails the build. */
class ManifestSpec extends AnyFunSuite {

  test("committed MANIFEST.md matches a fresh ManifestGen.render()") {
    val committed = new String(Files.readAllBytes(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir")), "MANIFEST.md")),
      "UTF-8")
    val fresh = ManifestGen.render()
    if (committed != fresh) {
      val cl = committed.linesIterator.toVector
      val fl = fresh.linesIterator.toVector
      val firstDiff = cl.zipAll(fl, "<eof>", "<eof>")
        .indexWhere { case (a, b) => a != b }
      fail(s"MANIFEST.md is stale — re-run graft.tools.ManifestGen " +
        s"(first differing line ${firstDiff + 1}:\n  committed: " +
        s"${cl.lift(firstDiff).getOrElse("<eof>")}\n  fresh:     " +
        s"${fl.lift(firstDiff).getOrElse("<eof>")})")
    }
  }

  test("every query key appears exactly once in the manifest") {
    val fresh = ManifestGen.render()
    graft.SparkEntry.queries.keySet.foreach { q =>
      assert(fresh.contains(s"| `$q` |"), s"query $q missing from manifest")
    }
    // row count line matches the actual query count
    assert(fresh.contains(s"${graft.SparkEntry.queries.size} queries."))
  }
}
