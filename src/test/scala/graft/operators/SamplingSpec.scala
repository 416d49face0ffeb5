package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  // a constant weight is a uniform sample of ~rate of the rows
  private def uniform(df: DataFrame, rate: Double, salt: String = ""): Set[Long] =
    Sampling.weightedSample(df, col("id"), lit(rate), salt)
      .select(col("id")).as[Long].collect().toSet

  test("constant-weight weightedSample is deterministic and near the rate") {
    val df = (1L to 10000L).toDF("id")
    val a = uniform(df, 0.3)
    val b = uniform(df, 0.3)
    assert(a == b) // pure function of id: identical across runs
    assert(math.abs(a.size / 10000.0 - 0.3) < 0.02)
    // a lower rate's sample NESTS inside a higher rate's (same bucket fn)
    val c = uniform(df, 0.1)
    assert(c.subsetOf(a))
  }

  test("different salts draw different samples") {
    val df = (1L to 5000L).toDF("id")
    val a = uniform(df, 0.5, salt = "s1")
    val b = uniform(df, 0.5, salt = "s2")
    assert(a != b)
    assert(math.abs((a intersect b).size / 5000.0 - 0.25) < 0.03) // independent draws
  }

  test("stratifiedSample applies per-stratum rates and drops unknown strata") {
    val df = (1L to 9000L).map(i => (i, Seq("hi", "mid", "skip")((i % 3).toInt)))
      .toDF("id", "grp")
    val rates = Seq(("hi", 1.0), ("mid", 0.2)).toDF("stratum", "rate")
    val got = Sampling.stratifiedSample(df, col("grp"), col("id"), rates)
      .groupBy(col("grp")).count().as[(String, Long)].collect().toMap
    assert(got("hi") == 3000L)                       // rate 1.0 keeps all
    assert(math.abs(got("mid") / 3000.0 - 0.2) < 0.03)
    assert(!got.contains("skip"))                    // no configured rate -> dropped
  }

  test("groupSample keeps at most k rows per group, deterministically") {
    val df = (1L to 1000L).map(i => (i, (i % 7).toString)).toDF("id", "grp")
    val a = Sampling.groupSample(df, Seq(col("grp")), col("id"), k = 5)
    val sizes = a.groupBy(col("grp")).count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ == 5L) && sizes.size == 7)
    val b = Sampling.groupSample(df, Seq(col("grp")), col("id"), k = 5)
    assert(a.select(col("id")).as[Long].collect().toSet ==
      b.select(col("id")).as[Long].collect().toSet)
  }

  test("weightedSample keeps ~weight fraction per weight level; weight>=1 keeps all") {
    val df = (1L to 6000L).map(i => (i, if (i % 2 == 0) 0.2 else 1.5)).toDF("id", "w")
    val kept = Sampling.weightedSample(df, col("id"), col("w"))
    val byW = kept.groupBy(col("w")).count().as[(Double, Long)].collect().toMap
    assert(byW(1.5) == 3000L) // clamped to 1.0 -> keeps every row
    assert(math.abs(byW(0.2) / 3000.0 - 0.2) < 0.05)
    // deterministic: same filter, same rows
    assert(kept.count() == Sampling.weightedSample(df, col("id"), col("w")).count())
  }

  test("splitAssign is leakage-free (one split per group) and covers every row") {
    val df = (1L to 3000L).map(i => (i, s"dom${i % 97}")).toDF("id", "grp")
    val out = Sampling.splitAssign(df, col("grp"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(out.filter(col("split").isNull).count() == 0)
    // every group maps to exactly one split
    val perGroup = out.groupBy(col("grp"))
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1)
    assert(perGroup.count() == 0)
    // fractions are about right at the GROUP level
    val splits = out.select(col("grp"), col("split")).distinct()
      .groupBy(col("split")).count().as[(String, Long)].collect().toMap
    assert(splits.values.sum == 97L && splits("train") > 60)
  }
  test("temperatureMix: rates follow count^alpha and total approximates target") {
    val df = ((1L to 4000L).map(i => (i, "big")) ++
      (4001L to 4400L).map(i => (i, "mid")) ++
      (4401L to 4440L).map(i => (i, "small"))).toDF("id", "src")
    val out = Sampling.temperatureMix(df, col("src"), col("id"),
      alpha = 0.5, targetRows = 500)
    val byS = out.groupBy(col("src")).count().as[(String, Long)].collect().toMap
    // alpha < 1 up-weights the tail: small keeps a larger FRACTION than big
    val fBig = byS("big") / 4000.0; val fSmall = byS.getOrElse("small", 0L) / 40.0
    assert(fSmall > fBig)
    // expected total is ~target (hash-bucket granularity + capping slack)
    assert(math.abs(out.count() - 500L) < 100)
    // deterministic
    assert(out.count() == Sampling.temperatureMix(df, col("src"), col("id"),
      alpha = 0.5, targetRows = 500).count())
  }

  test("temperatureMix alpha=0 equalizes expected per-source keeps") {
    val df = ((1L to 3000L).map(i => (i, "a")) ++
      (3001L to 3300L).map(i => (i, "b"))).toDF("id", "src")
    val byS = Sampling.temperatureMix(df, col("src"), col("id"),
      alpha = 0.0, targetRows = 400)
      .groupBy(col("src")).count().as[(String, Long)].collect().toMap
    // each source targets ~200 rows regardless of its size
    assert(math.abs(byS("a") - 200.0) < 60 && math.abs(byS("b") - 200.0) < 60)
  }

  test("dsirResample up-weights target-like documents, deterministically") {
    // target speaks "alpha beta gamma"; half the raw pool mimics it, the
    // other half speaks "omega psi chi" — the mimics must dominate the
    // kept set and carry strictly higher importance weights
    val target = (1L to 20L).map(i => (i, "alpha beta gamma alpha beta", true))
    val mimics = (100L to 119L).map(i => (i, "alpha beta gamma beta alpha", false))
    val others = (200L to 219L).map(i => (i, "omega psi chi omega psi", false))
    val df = (target ++ mimics ++ others).toDF("doc_id", "text", "is_t")
    val got = Sampling.dsirResample(df, col("doc_id"), col("text"), col("is_t"),
      buckets = 16, k = 20)
      .as[(Long, Double, Double)].collect()
    val again = Sampling.dsirResample(df, col("doc_id"), col("text"), col("is_t"),
      buckets = 16, k = 20)
      .as[(Long, Double, Double)].collect()
    assert(got.toSeq == again.toSeq) // hash-derived noise: replayable
    assert(got.length == 20)
    val mimicW = got.filter(_._1 < 200).map(_._2)
    val otherW = got.filter(_._1 >= 200).map(_._2)
    // every kept mimic outweighs every kept non-mimic, and mimics dominate
    assert(mimicW.nonEmpty)
    assert(otherW.isEmpty || mimicW.min > otherW.max)
    assert(mimicW.length >= 15)
  }

  test("budgetWaterfill caps at supply and redistributes to uncapped domains") {
    // tiny domain caps long before its sqrt-share of a big budget; the
    // remainder must flow to the large domains across rounds
    val sup = Seq(("tiny", 100L), ("mid", 100000L), ("big", 1000000L))
      .toDF("domain", "supply")
    val out = Sampling.budgetWaterfill(sup, budget = 600000L, rounds = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val allocs = out.map { case (d, (_, a)) => d -> a }
    assert(allocs("tiny") == 100L, s"tiny must cap at its supply: $allocs")
    assert(out.forall { case (_, (s, a)) => a <= s }, s"no alloc beyond supply: $out")
    val total = allocs.values.sum
    assert(total <= 600000L, s"never over budget: $total")
    // waterfilling should get within rounding slack of the full budget
    assert(total >= 599990L, s"remainder should be redistributed: $total")
    // sqrt weighting upweights mid (10x less supply, only 3.16x less
    // weight) past its own supply: mid caps too, and big absorbs the
    // whole remainder
    assert(allocs("mid") == 100000L, s"mid must cap at its supply: $allocs")
    assert(allocs("big") >= 499890L, s"big absorbs the remainder: $allocs")
  }

  test("budgetWaterfill with budget >= total supply allocates everything") {
    val sup = Seq(("a", 1000L), ("b", 2000L)).toDF("domain", "supply")
    val out = Sampling.budgetWaterfill(sup, budget = 10000L, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("a" -> 1000L, "b" -> 2000L), out)
  }

  test("curriculumInterleave: per-source easy-to-hard, round-robin positions, unique") {
    val df = Seq(
      ("A", 1L, 30), ("A", 2L, 10), ("A", 3L, 20),
      ("B", 4L, 5), ("B", 5L, 50),
      ("C", 6L, 1)).toDF("source", "doc_id", "n_chars")
    val got = Sampling.curriculumInterleave(df, col("source"), col("n_chars"),
        Seq(col("doc_id")))
      .select("source", "doc_id", "rank_in_source", "pos")
      .as[(String, Long, Long, Long)].collect().sortBy(_._4)
    // positions globally unique
    assert(got.map(_._4).distinct.length == got.length)
    // step 1 (rank 1) holds one doc per source in source order: A,B,C
    assert(got.take(3).map(t => (t._1, t._3)).toSeq ==
      Seq(("A", 1L), ("B", 1L), ("C", 1L)))
    // within a source, rank follows ascending difficulty with id tiebreak
    val aDocs = got.filter(_._1 == "A").sortBy(_._3).map(_._2).toSeq
    assert(aDocs == Seq(2L, 3L, 1L)) // n_chars 10 < 20 < 30
    // analytic positions: pos = (rank-1)*3 + src_idx
    got.foreach { case (src, _, rk, pos) =>
      val idx = Map("A" -> 0L, "B" -> 1L, "C" -> 2L)(src)
      assert(pos == (rk - 1) * 3 + idx, s"$src rank $rk pos $pos")
    }
    // exhausted source (C after step 1) leaves holes, never re-packs
    assert(!got.map(_._4).contains(5L)) // step 2 slot for C is empty
  }

  test("shardBalance: deterministic shards, conserved totals, mean balance 1") {
    val docs = (0 until 200).map(i => (i.toLong, ("w " * (i % 7 + 1)).trim))
      .toDF("doc_id", "text")
    val a = Sampling.shardBalance(docs, col("doc_id"), col("text"), nShards = 8)
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("balance"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    val b = Sampling.shardBalance(docs, col("doc_id"), col("text"), nShards = 8)
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("balance"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(a == b) // content-hash sharding: no RNG, stable across runs
    assert(a.map(_._2).sum == 200L)
    assert(a.map(_._3).sum == docs.select(
      sum(size(split(col("text"), " ")))).as[Long].head)
    // balance_i = tok_i * n_shards / T, so the plain mean over shards is 1
    val mean = a.map(_._4).sum / a.size
    assert(math.abs(mean - 1.0) < 1e-4)
  }
}
