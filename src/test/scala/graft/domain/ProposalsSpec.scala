package graft.domain

import graft.{Reference, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ProposalsSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  /** cert rows: (cert, group, splitSeq, splitPct, tier, broker, sched, paid, prod, plan, date) */
  private def certs(rows: (Long, String, Int, Double, Int, String, String, String, String, String, String)*): DataFrame =
    rows.toSeq.toDF("cert_id", "group_id", "split_seq", "split_pct", "tier_level",
      "broker_id", "schedule_code", "paid_broker_id", "product_code", "plan_code", "eff")
      .withColumn("eff_date", to_date(col("eff"))).drop("eff")

  test("config hash is invariant to split_seq and paid broker, sensitive to structure") {
    val base = certs(
      (1L, "G1", 1, 60.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      (1L, "G1", 2, 40.0, 1, "B2", "S1", "B9", "A", "x", "2020-01-01"),
      // cert 2: same structure, different split_seq numbers + different paid broker
      (2L, "G1", 74, 60.0, 1, "B1", "S1", "B7", "A", "x", "2020-02-01"),
      (2L, "G1", 75, 40.0, 1, "B2", "S1", "B2", "A", "x", "2020-02-01"),
      // cert 3: different split pct -> different config
      (3L, "G1", 1, 50.0, 1, "B1", "S1", "B1", "A", "x", "2020-03-01"),
      (3L, "G1", 2, 50.0, 1, "B2", "S1", "B2", "A", "x", "2020-03-01"))
    val cfg = Proposals.configHashes(Proposals.hierarchyHashes(base))
      .select(col("cert_id"), col("config_hash")).as[(Long, String)].collect().toMap
    assert(cfg(1L) == cfg(2L)) // seq + paid broker excluded from hashes
    assert(cfg(1L) != cfg(3L)) // split pct included
  }

  test("fusedHashes is bit-equal to the two-phase hierarchy+config build") {
    val base = certs(
      (1L, "G1", 1, 60.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      (1L, "G1", 1, 60.0, 2, "B9", "S2", "B1", "A", "x", "2020-01-01"), // 2nd tier
      (1L, "G1", 2, 40.0, 1, "B2", "S1", "B9", "A", "x", "2020-01-01"),
      (2L, "G1", 74, 60.0, 1, "B1", "S1", "B7", "A", "x", "2020-02-01"),
      (2L, "G1", 75, 40.0, 1, "B2", "S1", "B2", "A", "x", "2020-02-01"),
      (3L, "G2", 1, 101.0, 1, "B3", "S3", "B3", "B", "y", "2020-03-01"))
    val twoPhase = Proposals.configHashes(Proposals.hierarchyHashes(base))
      .select(col("cert_id"), col("group_id"), col("config_hash"),
        col("total_split_pct"), col("n_splits"))
      .as[(Long, String, String, Double, Long)].collect().toSet
    val fused = Proposals.fusedHashes(base)
      .select(col("cert_id"), col("group_id"), col("config_hash"),
        col("total_split_pct"), col("n_splits"))
      .as[(Long, String, String, Double, Long)].collect().toSet
    assert(fused == twoPhase)
    val hhTwo = Proposals.hierarchyHashes(base)
      .select(col("cert_id"), col("group_id"), col("split_seq"),
        col("split_pct"), col("hierarchy_hash"))
      .as[(Long, String, Int, Double, String)].collect().toSet
    val hhFused = Proposals.fusedSplitRows(Proposals.fusedHashes(base))
      .as[(Long, String, Int, Double, String)].collect().toSet
    assert(hhFused == hhTwo)
  }

  test("multi-tier hierarchies hash by ordered tier array") {
    val base = certs(
      (1L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      (1L, "G1", 1, 100.0, 2, "B2", "S2", "B1", "A", "x", "2020-01-01"),
      // cert 2: same tiers, listed in reverse input order -> same hash
      (2L, "G1", 1, 100.0, 2, "B2", "S2", "B1", "A", "x", "2020-01-01"),
      (2L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      // cert 3: different tier-2 broker -> different hash
      (3L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      (3L, "G1", 1, 100.0, 2, "B9", "S2", "B1", "A", "x", "2020-01-01"))
    val h = Proposals.hierarchyHashes(base)
      .select(col("cert_id"), col("hierarchy_hash")).as[(Long, String)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L))
  }

  test("nonconformant flag on split sum != 100; entropy routing merges flags") {
    val base = certs(
      (1L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      (2L, "G1", 1, 60.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01")) // 60 != 100
    val routed = Proposals.routeGroups(
      Proposals.flagNonConformant(Proposals.configHashes(Proposals.hierarchyHashes(base))))
    val m = routed.select(col("cert_id"), col("nonconformant"), col("route_pha"))
      .as[(Long, Boolean, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((false, false)))
    assert(m(2L) == ((true, true)))
  }

  test("buildProposals groups by (group, config); date span + key mappings explode") {
    val base = certs(
      (1L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "A", "x", "2020-03-01"),
      (2L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "B", "y", "2021-07-01"),
      (3L, "G1", 1, 50.0, 1, "B2", "S1", "B2", "A", "x", "2020-06-01")) // nonconformant
    val routed = Proposals.routeGroups(
      Proposals.flagNonConformant(Proposals.configHashes(Proposals.hierarchyHashes(base))))
    val props = Proposals.buildProposals(routed, base)
    val rows = props.select(col("proposal_id"), col("n_certs"),
      col("eff_from").cast("string")).as[(String, Long, String)].collect()
    assert(rows.length == 1) // certs 1,2 share config; cert 3 routed out
    assert(rows.head._1 == "PROP-G1-1" && rows.head._2 == 2 && rows.head._3 == "2020-03-01")
    val km = Proposals.keyMappings(Proposals.normalizeDateRanges(props))
      .select(col("yr"), col("product_code"), col("plan_code"))
      .as[(Int, String, String)].collect().toSet
    // years 2020..2021 x products {A,B} x plans {x,y}
    assert(km.size == 8)
    assert(km.contains((2020, "A", "x")) && km.contains((2021, "B", "y")))
  }

  test("hierarchy dedup keeps one row per hash; collision audit is empty") {
    val base = certs(
      (1L, "G1", 1, 100.0, 1, "B1", "S1", "B1", "A", "x", "2020-01-01"),
      (2L, "G1", 1, 100.0, 1, "B1", "S1", "B2", "A", "x", "2020-02-01"), // same structure
      (3L, "G1", 1, 100.0, 1, "B3", "S1", "B3", "A", "x", "2020-03-01"))
    val hh = Proposals.hierarchyHashes(base)
    assert(Proposals.dedupHierarchies(hh).count() == 2)
    assert(Reference.hashCollisions(hh).count() == 0)
    assert(Reference.hierKeyCollisions(hh).count() == 0)
  }

  test("hierKeyCollisions flags distinct hashes sharing a truncated prefix") {
    // two different full hashes with the same first-15-hex prefix: the
    // 60-bit join key collides even though hashCollisions sees no problem
    val hh = Seq(
      "ABCDEF012345678" + "0" * 49,
      "ABCDEF012345678" + "F" * 49,
      "1234567890ABCDE" + "0" * 49)
      .toDF("hierarchy_hash")
    assert(Reference.hierKeyCollisions(hh).count() == 1)
  }
}
