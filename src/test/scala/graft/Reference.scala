package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.domain.{Proposals, ProductionReadiness}
import graft.operators.Dedup

/** Test oracles: straightforward reference forms of engine paths and the
  * commissions invariants the specs check built entities against. No
  * engine path runs them; each spec compares the shipped operator or
  * kernel with the form here. */
object Reference {
  import ProductionReadiness.Check

  // ---- commissions audits -----------------------------------------

  /** The commissions-entity invariants of the reference's audit suite
    * (`sql/transforms/99-audit-and-cleanup.sql`: referential integrity
    * §1, completeness §3, data quality §4), as suite `audit` checks for
    * [[ProductionReadiness.report]]. All must report 0. */
  def commissionsChecks(
      proposals: DataFrame, splits: DataFrame, hierarchyVersions: DataFrame,
      participants: DataFrame): Seq[Check] = Seq(
    // referential integrity (99-audit §1: orphans)
    Check.rows("audit", "splits_without_proposal",
      splits.join(proposals, Seq("proposal_id"), "left_anti")),
    Check.rows("audit", "participants_without_version",
      participants.join(hierarchyVersions.select(col("version_id")), Seq("version_id"), "left_anti")),
    // completeness (§3: proposals without split versions)
    Check.rows("audit", "proposals_without_splits",
      proposals.join(splits, Seq("proposal_id"), "left_anti")),
    // data quality (§4: From > To ranges; null brokers)
    Check.rows("audit", "inverted_date_ranges",
      proposals.filter(col("eff_to").isNotNull && col("eff_from") > col("eff_to"))),
    Check.rows("audit", "null_participant_brokers",
      participants.filter(col("broker_id").isNull)),
    // split percents must sum to 100 per proposal
    Check.rows("audit", "split_pct_not_100",
      splits.groupBy(col("proposal_id")).agg(sum(col("split_pct")).as("s"))
        .filter(abs(col("s") - 100.0) > 0.001)),
  )

  /** Hash-collision audit (`proposal-builder.ts:1972-1984`): same hash,
    * different content -> a row here (must be empty). */
  def hashCollisions(hierHashes: DataFrame): DataFrame =
    hierHashes.groupBy(col("hierarchy_hash"))
      .agg(countDistinct(col("group_id"), col("split_pct"), col("tier_sig")).as("n_variants"))
      .filter(col("n_variants") > 1)

  /** Truncated-key audit: [[Proposals.hierKey]] keeps only 60 bits of the
    * content hash as the join key, so two DISTINCT full hashes colliding
    * on the truncated prefix would silently merge hierarchies without
    * tripping [[hashCollisions]]. This surfaces exactly that case (must
    * be empty). */
  def hierKeyCollisions(hierHashes: DataFrame): DataFrame =
    hierHashes.select(col("hierarchy_hash")).distinct()
      .groupBy(Proposals.hierKey(col("hierarchy_hash")).as("hierarchy_id"))
      .agg(countDistinct(col("hierarchy_hash")).as("n_hashes"))
      .filter(col("n_hashes") > 1)

  // ---- vector math as higher-order functions --------------------------

  /** `zip_with` + `aggregate`: a sequential fold, the accumulation order
    * the native `dot_product` / `cosine_sim` kernels reproduce bit for
    * bit. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val na = norm2(a)
    val nb = norm2(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  // ---- text and dedup baselines -----------------------------------

  /** Character k-shingles (distinct). Empty array when the text is
    * shorter than k. */
  def charShingles(c: Column, k: Int): Column =
    when(length(c) >= k,
      array_distinct(transform(sequence(lit(1), length(c) - (k - 1)),
        i => c.substr(i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Exact all-pairs embedding near-dup (quadratic nested loop): the
    * baseline `Dedup.embeddingNearDupPairs`' IVF blocking is checked
    * against. */
  def embeddingNearDupPairsExact(
      df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosineNative _
    val e = df.select(id.cast("long").as("vid"),
      graft.functions.VectorFunctions.toDoubleArray(vec).as("v"))
    e.select(col("vid").as("id_a"), col("v").as("va"))
      .join(e.select(col("vid").as("id_b"), col("v").as("vb")), col("id_a") < col("id_b"))
      .withColumn("cos", round(cos(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SimHash over whitespace tokens as a column fold: per bit, sum +1/-1
    * weighted by the token's md5 bits; the sign of each sum forms the
    * fingerprint. The native `simhash_sig` kernel (`Dedup.simHashDocs`)
    * must produce the same values. */
  def simHash(text: Column, bits: Int = 32): Column = {
    val toks = split(trim(text), "\\s+")
    val bitSums = (0 until bits).map { b =>
      // bit b of the token's md5-derived integer -> +1 / -1
      val tokBit = (c: Column) => shiftright(Dedup.md5Int(c), b % 32).bitwiseAND(1)
      aggregate(toks, lit(0L), (acc, t) => acc + (tokBit(t) * 2 - 1))
    }
    bitSums.zipWithIndex.map { case (s, i) =>
      when(s > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }
}
