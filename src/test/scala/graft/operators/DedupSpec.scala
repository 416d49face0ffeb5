package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup flags whitespace/case variants as duplicates") {
    val df = Seq(
      (1L, "Hello World"), (2L, "hello  world"), (3L, "different doc"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, col("doc_id"), col("text"))
      .select(col("doc_id"), col("is_duplicate")).as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false))
  }

  test("ngramJaccardPairs computes exact jaccard on shingle sets") {
    val a = "w1 w2 w3 w4"   // shingles: {w1 w2 w3, w2 w3 w4}
    val b = "w1 w2 w3 w5"   // shingles: {w1 w2 w3, w2 w3 w5}
    val df = Seq((1L, a), (2L, b), (3L, "zz yy xx qq")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.1)
      .as[(Long, Long, Double)].collect()
    // common = 1, union = 3 -> 1/3
    assert(got.toSeq == Seq((1L, 2L, 0.333333)))
  }

  test("ngramJaccardPairs maxDf cap drops stop-shingle blocking keys") {
    // "of the and" appears in every doc (a stop-shingle); tails are unique
    val docs = (1 to 5).map(i => (i.toLong, s"of the and tail$i more$i words$i"))
    val df = docs.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.1)
    assert(uncapped.count() == 10) // every pair shares the stop-shingle: 1/7 >= 0.1
    val capped = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.1,
      maxDf = Some(3))
    assert(capped.count() == 0) // stop-shingle dropped -> no blocking key left
  }

  test("prefixJaccardPairs equals the unblocked exact join, incl. hot shingles") {
    // every doc shares the stop-bigrams of "of the and"; pairs (1,2) and
    // (3,4) are true near-dups that must survive the prefix pruning
    val docs = Seq(
      (1L, "of the and alpha beta gamma delta"),
      (2L, "of the and alpha beta gamma DELTA"),
      (3L, "of the and zeta eta theta iota"),
      (4L, "of the and zeta eta theta IOTA"),
      (5L, "of the and unrelated tail words here"))
    val df = docs.toDF("doc_id", "text")
    for (th <- Seq(0.3, 0.5, 0.7)) {
      val pruned = Dedup.prefixJaccardPairs(df, col("doc_id"), col("text"), 2, th)
        .as[(Long, Long, Double)].collect().toSet
      val exact = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 2, th)
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned == exact, s"threshold $th")
    }
    val high = Dedup.prefixJaccardPairs(df, col("doc_id"), col("text"), 2, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(high.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
  }

  test("embeddingNearDupPairs (IVF-blocked) matches exact within cells; subset of exact") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (16L, Array(0.99, 0.01, 0.0)), // -> cell 0
      (1L, Array(0.0, 1.0, 0.0)), (17L, Array(0.0, 0.98, 0.02)), // -> cell 1
      (2L, Array(0.0, 0.0, 1.0)))
    val df = vecs.toDF("vec_id", "embedding")
    val blocked = Dedup.embeddingNearDupPairs(df, col("vec_id"), col("embedding"), 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val exact = graft.Reference.embeddingNearDupPairsExact(df, col("vec_id"), col("embedding"), 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked.subsetOf(exact))
    assert(blocked.map(p => (p._1, p._2)) == Set((0L, 16L), (1L, 17L)))
  }

  test("containmentPairs: embedded doc scores 1.0 one way, Jaccard-diluted the other") {
    val small = (1 to 6).map(i => s"w$i").mkString(" ")          // 4 trigrams
    val large = ((1 to 6) ++ (100 to 120)).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, small), (2L, large), (3L, "zz yy xx qq pp")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, col("doc_id"), col("text"), 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    // small fully embedded in large: containment(small->large) = 1.0;
    // the reverse direction (4/25) and doc 3 stay out
    assert(got == Set((1L, 2L, 1.0)))
    // the same pair under symmetric Jaccard at the same bar: invisible
    assert(Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.8).count() == 0)
  }

  test("kernels and pair operators absorb null/empty/whitespace docs") {
    val df = Seq((1L, "regular words here spread around"),
      (2L, null.asInstanceOf[String]), (3L, ""), (4L, "   "),
      (5L, "regular words here spread around"))
      .toDF("doc_id", "text")
    val mh = Dedup.minHashLshPairs(df, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().toSet
    assert(mh.map(p => (p._1, p._2)) == Set((1L, 5L))) // degenerate docs dropped
    val sh = Dedup.simHashPairs(df, col("doc_id"), col("text"), maxHamming = 0)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    // empty-ish docs all hash the '' token -> they may pair with each
    // other, but never with real content
    assert(sh.contains((1L, 5L)))
    assert(!sh.exists(p => Set(1L, 5L).contains(p._1) ^ Set(1L, 5L).contains(p._2)))
  }

  test("simHashPairs: banded blocking finds all pairs within the Hamming bound") {
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val far = (100 to 140).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, words), (2L, near), (3L, far), (4L, words)).toDF("doc_id", "text")
    // maxHamming (3) < bands (4): the pigeonhole guarantee applies, so
    // the banded result must equal the brute-force pairs at the bound
    val got = Dedup.simHashPairs(df, col("doc_id"), col("text"),
        bits = 32, bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((1L, 4L)) && got((1L, 4L)) == 0) // identical docs
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L))) // far pair out
    val fps = Dedup.simHashDocs(df, col("doc_id"), col("text"), 32)
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b) -> h).toMap
    assert(got == brute)
  }

  test("simHashPairs maxBucket drops saturated band buckets, keeps cold ones") {
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    // 8 identical docs share every band value (hot buckets of size >= 8);
    // the near pair (1, 2) still agrees on >= 1 band with population 2
    val clones = (10L to 17L).map(i => (i, "clone " * 30))
    val df = (Seq((1L, words), (2L, near)) ++ clones).toDF("doc_id", "text")
    val uncapped = Dedup.simHashPairs(df, col("doc_id"), col("text"))
      .as[(Long, Long, Int)].collect()
    assert(uncapped.count(p => p._1 >= 10L) == 28) // all clone pairs found
    val capped = Dedup.simHashPairs(df, col("doc_id"), col("text"),
        maxBucket = Some(4))
      .as[(Long, Long, Int)].collect()
    assert(!capped.exists(p => p._1 >= 10L)) // hot clone buckets dropped
    assert(capped.exists(p => (p._1, p._2) == ((1L, 2L)))) // cold pair kept
  }

  test("minhash est_jaccard approximates true jaccard for near-identical docs") {
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val far = (100 to 140).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, words), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(df, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // docs 1,2 share 35/41 shingles (true J≈0.85) -> must be LSH candidates with high est
    val est = pairs.get((1L, 2L))
    assert(est.isDefined && est.get > 0.5, s"got $pairs")
    assert(!pairs.contains((1L, 3L)) || pairs((1L, 3L)) < 0.2)
  }

  test("simHashDocs (explode form) produces identical fingerprints to the column fn") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark sql catalyst tungsten codegen shuffle"),
      (3L, "a b c d e f g h i j k l m n o p"))
      .toDF("doc_id", "text")
    val viaCol = docs.select(col("doc_id"), graft.Reference.simHash(col("text"), 32).as("sh"))
      .as[(Long, Long)].collect().toMap
    val viaOp = Dedup.simHashDocs(docs, col("doc_id"), col("text"), 32)
      .as[(Long, Long)].collect().toMap
    assert(viaCol == viaOp)
  }

  test("simhash: near-identical docs have small hamming distance") {
    val words = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = words + " extra"
    val far = (200 to 260).map(i => s"z$i").mkString(" ")
    val got = Seq((1L, words), (2L, near), (3L, far)).toDF("doc_id", "text")
      .select(graft.Reference.simHash(col("text"), 32)).as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(got(0), got(1)) < ham(got(0), got(2)),
      s"near=${ham(got(0), got(1))} far=${ham(got(0), got(2))}")
  }

  test("passageDupPairs finds shared-span pairs and the df-cap drops boilerplate spans") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"unrelated prefix text $shared plus extra trailing words"),
      (3L, "zxqv wmbl kjhg pqrs tuvw xyzc dfgh jklm nbvc qwer")
    ).toDF("doc_id", "text")
    val pairs = Dedup.passageDupPairs(docs, col("doc_id"), col("text"),
      k = 5, w = 4, minShared = 2)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // a cap of 1 kills every fingerprint present in both docs -> no pairs
    assert(Dedup.passageDupPairs(docs, col("doc_id"), col("text"),
      k = 5, w = 4, minShared = 1, maxDf = Some(1)).count() == 0)
  }

  test("contaminationReport counts probe-overlapping n-grams per corpus doc") {
    val corpus = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "nine ten eleven twelve thirteen fourteen")
    ).toDF("doc_id", "text")
    val probes = Seq((99L, "one two three four five six")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, probes,
        col("doc_id"), col("text"), col("text"), n = 5)
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"))
      .as[(Long, Long, Long)].collect()
    val m = rep.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((4L, 2L))) // 8 toks -> 4 grams; probe shares 2 of them
    assert(m(2L) == ((2L, 0L)))
  }

  test("chunkDedup keeps the globally-first occurrence and reassembles in order") {
    // chunkWords=2: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [c d][a b]
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d a b")
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, col("doc_id"), col("text"), chunkWords = 2)
      .select(col("doc_id"), col("n_chunks"), col("n_removed"), col("dedup_text"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 0L, "a b c d")))   // first owner of both chunks
    assert(got(2L) == ((2L, 1L, "x y")))       // "a b" removed, order kept
    assert(got(3L) == ((2L, 2L, "")))          // fully duplicated -> empty text
  }

  test("chunkDedup ragged tail chunk is its own unit") {
    val docs = Seq((1L, "a b c"), (2L, "c")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, col("doc_id"), col("text"), chunkWords = 2)
      .select(col("doc_id"), col("n_chunks"), col("n_removed"), col("dedup_text"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 = [a b][c]; doc 2's single chunk [c] collides with doc 1's tail
    assert(got(1L) == ((2L, 0L, "a b c")))
    assert(got(2L) == ((1L, 1L, "")))
  }

  test("segmentDedup removes EVERY occurrence of corpus-hot segments") {
    // segmentWords=2, maxDf=2: "a b" occurs 3x corpus-wide -> suppressed
    // everywhere (including the first owner — the contract that
    // distinguishes this from chunkDedup's keep-first)
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d a b")
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, col("doc_id"), col("text"),
        segmentWords = 2, maxDf = 2)
      .select(col("doc_id"), col("n_segments"), col("n_removed"), col("kept_text"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "a b" df=3 (hot), "c d" df=2 (kept at threshold), "x y" df=1
    assert(got(1L) == ((2L, 1L, "c d")))
    assert(got(2L) == ((2L, 1L, "x y")))
    assert(got(3L) == ((2L, 1L, "c d")))
  }

  test("segmentDedup counts within-doc repeats toward the frequency") {
    // "z z" appears 3x inside ONE doc -> still hot at maxDf=2; a doc
    // whose every segment is hot reassembles to the empty string
    val docs = Seq((1L, "z z z z z z"), (2L, "p q")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, col("doc_id"), col("text"),
        segmentWords = 2, maxDf = 2)
      .select(col("doc_id"), col("n_segments"), col("n_removed"),
        col("removed_ratio"), col("kept_text"))
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((3L, 3L, 1.0, "")))
    assert(got(2L) == ((1L, 0L, 0.0, "p q")))
  }

  test("segmentDedup ragged tail segment is its own frequency unit") {
    val docs = Seq((1L, "a b c"), (2L, "c"), (3L, "c")).toDF("doc_id", "text")
    // tail segment "c" of doc 1 + whole docs 2,3 -> df=3 -> hot
    val got = Dedup.segmentDedup(docs, col("doc_id"), col("text"),
        segmentWords = 2, maxDf = 2)
      .select(col("doc_id"), col("kept_text")).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a b", 2L -> "", 3L -> ""))
  }

  test("spanDedup removes shifted duplicate spans chunk dedup cannot see") {
    // spanWords=3. doc 2 embeds doc 1's "a b c d" shifted one token right —
    // invisible to fixed tiles, caught by overlapping windows: dup windows
    // at p=1 ("a b c") and p=2 ("b c d") cover positions 1..4.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "a b c d e"),            // exact copy -> fully removed
      (4L, "p q r p q r p q r"),    // in-doc period-3 repeat -> one period kept
      (5L, "a b")                   // shorter than the span -> untouched
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, col("doc_id"), col("text"), spanWords = 3)
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        col("n_removed_tokens"), col("removed_ppm"), col("kept_text"))
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) == ((3L, 0L, 0L, 0L, "a b c d e")))
    assert(got(2L) == ((4L, 2L, 4L, 666666L, "x y")))
    assert(got(3L) == ((3L, 3L, 5L, 1000000L, "")))
    assert(got(4L) == ((7L, 4L, 6L, 666666L, "p q r")))
    assert(got(5L) == ((0L, 0L, 0L, 0L, "a b")))
  }

  test("indocDedup keeps first in-doc occurrence; cross-doc repeats untouched") {
    val docs = Seq(
      (1L, "a b a b c d"), // [a b][a b][c d] -> second [a b] removed
      (2L, "a b x y")      // [a b] repeats doc 1 but NOT within doc 2 -> kept
    ).toDF("doc_id", "text")
    val got = Dedup.indocDedup(docs, col("doc_id"), col("text"), segmentWords = 2)
      .select(col("doc_id"), col("n_segments"), col("n_removed"), col("dedup_text"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 1L, "a b c d")))
    assert(got(2L) == ((2L, 0L, "a b x y")))
  }

  test("indocDedup ragged tail is its own segment; order is first-occurrence") {
    val docs = Seq(
      (1L, "a a a a a"),   // [a a][a a][a] -> one [a a] removed, tail [a] distinct
      (2L, "c d a b c d")  // [c d][a b][c d] -> trailing [c d] removed, order kept
    ).toDF("doc_id", "text")
    val got = Dedup.indocDedup(docs, col("doc_id"), col("text"), segmentWords = 2)
      .select(col("doc_id"), col("n_segments"), col("n_removed"),
        col("removed_ratio"), col("dedup_text"))
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((3L, 1L, 0.333333, "a a a")))
    assert(got(2L) == ((3L, 1L, 0.333333, "c d a b")))
  }

  test("lshQualityEval: identical docs are found (tp), disjoint ones are not") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1 -> J = 1
      (3L, "one two three four five six seven")    // disjoint
    ).toDF("doc_id", "text")
    val got = Dedup.lshQualityEval(docs, col("doc_id"), col("text"),
        shingleWords = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select(col("n_true"), col("tp"), col("fn"), col("recall"))
      .as[(Long, Long, Long, Double)].collect().head
    // the (1,2) pair is the only true pair; identical signatures always
    // collide in every band, so LSH cannot miss it
    assert(got == ((1L, 1L, 0L, 1.0)))
  }

  test("lshQualityEval: enforced hash slice activates above maxTruthDocs") {
    val docs = (1L to 40L).map(i => (i, s"w$i alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val got = Dedup.lshQualityEval(docs, col("doc_id"), col("text"),
        shingleWords = 3, numHashes = 16, bands = 4, threshold = 0.5,
        maxTruthDocs = 10L)
      .select(col("n_docs_scored"), col("slice_k"))
      .as[(Long, Long)].collect().head
    assert(got._2 == 4L)                  // ceil(40 / 10)
    assert(got._1 > 0L && got._1 < 40L)   // a strict, non-empty slice scored
  }

  test("sourceOverlap: distinct shingles per source, Jaccard per pair") {
    val docs = Seq(
      (1L, "a b c d", "s1"), // s1 grams: {a b c, b c d}
      (2L, "a b c", "s1"),   // duplicate gram within s1 counts once
      (3L, "a b c x", "s2"), // s2 grams: {a b c, b c x}
      (4L, "z z z", "s3")    // disjoint -> no pair row with anyone
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(docs, col("text"), col("source"), n = 3)
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard"))
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    assert(got == List(("s1", "s2", 2L, 2L, 1L, 0.333333)))
  }

  test("incrementalDedup flags new docs against the corpus only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different corpus content here"))
      .toDF("doc_id", "text")
    val newB = Seq(
      (10L, " Alpha  beta gamma DELTA epsilon "), // exact after normalization
      (11L, "alpha beta gamma delta zeta"),        // near (shares 2 of 3+2-... trigrams)
      (12L, "nothing in common with anything"),    // keep
      (13L, "nothing in common with anything"))    // within-batch dup: NOT flagged
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(newB, corpus, col("doc_id"), col("text"),
        n = 3, threshold = 0.2)
      .select(col("doc_id"), col("is_exact_dup"), col("is_near_dup"), col("verdict"))
      .as[(Long, Boolean, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // fingerprint is case-folded (exact hit) but shingles are
    // case-sensitive, so the case-mangled twin is NOT a near-dup
    assert(got(10L) == ((true, false, "drop")))
    assert(got(11L) == ((false, true, "drop")))
    assert(got(12L) == ((false, false, "keep")))
    assert(got(13L) == ((false, false, "keep"))) // batch-internal dup survives
  }

  test("incrementalDedup maxDf caps the corpus-derived hot shingles on both sides") {
    // the shared trigram lives in EVERY corpus doc -> hot at cap 2
    val corpus = (1L to 5L).map(i => (i, s"of the and unique$i tail$i"))
      .toDF("doc_id", "text")
    val newB = Seq((100L, "of the and something else entirely")).toDF("doc_id", "text")
    val uncapped = Dedup.incrementalDedup(newB, corpus, col("doc_id"), col("text"),
      n = 3, threshold = 0.1)
    assert(uncapped.filter(col("is_near_dup")).count() == 1)
    val capped = Dedup.incrementalDedup(newB, corpus, col("doc_id"), col("text"),
      n = 3, threshold = 0.1, maxDf = Some(2))
    assert(capped.filter(col("is_near_dup")).count() == 0)
  }

  test("semDedup flags later near-identical cluster-mates, keeps the earliest") {
    // 4-dim vectors: 1 and 3 near-identical, 2 orthogonal, 4 close to 2
    val e = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.999, 0.01, 0.0, 0.0)),
      (4L, Seq(0.01, 0.999, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Dedup.semDedup(e, col("vec_id"), col("embedding"),
        k = 2, iters = 1, threshold = 0.9)
      .select(col("doc_id"), col("is_semdup")).as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true))
  }

  test("semDedup is one row per input and order-independent (pure EXISTS)") {
    val e = (1L to 20L).map(i => (i, Seq(i.toDouble, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(e, col("vec_id"), col("embedding"),
      k = 4, iters = 1, threshold = 0.999999)
    assert(out.count() == 20)
    // same input reversed -> identical flags (no greedy chain order effects)
    val rev = Dedup.semDedup(e.orderBy(col("vec_id").desc), col("vec_id"),
      col("embedding"), k = 4, iters = 1, threshold = 0.999999)
    assert(out.orderBy("doc_id").collect().toSeq ==
      rev.orderBy("doc_id").collect().toSeq)
  }

  test("dedupRetentionReport: exact wins over near, each doc dropped once") {
    // srcA: 1 and 2 are byte-identical (2 = exact drop); 3 is a near-dup
    // of 1 (shares most 3-shingles) with lower quality than 1.
    // srcB: 4 is unique and survives.
    val common = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, common + " tail one", "srcA"),
      (2L, common + " tail one", "srcA"),   // exact dup of 1
      (3L, common + " different end", "srcA"), // near dup of 1
      (4L, "completely unrelated words nothing shared here at all", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.dedupRetentionReport(docs, col("doc_id"), col("text"),
        col("source"), shingleWords = 3, numHashes = 16, bands = 4)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val a = got("srcA")
    assert(a._2 == 3, s"srcA docs: $a")
    assert(a._3 == 1, s"exactly one exact drop (doc 2): $a")
    assert(a._4 == 1, s"exactly one near drop (doc 3): $a")
    assert(a._5 == 1 && a._6 == 33.333333, s"one kept: $a")
    assert(got("srcB") == ("srcB", 1L, 0L, 0L, 1L, 100.0))
    // counts partition: every doc lands in exactly one bucket
    assert(a._3 + a._4 + a._5 == a._2)
  }

  test("bloomDedupReport: no false negatives, counts reconcile, tiny filter saturates") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha  beta"), // exact dup after whitespace canonicalization
      (11L, "gamma delta"), // exact dup
      (12L, "brand new doc"), (13L, "another fresh one")
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.bloomDedupReport(
      batch, corpus, col("doc_id"), col("text"), mBits = 1 << 16, k = 3)
      .as[(Long, Long, Long, Long, Option[Double], Long, Double)].head()
    val (nBatch, nBloom, nExact, nFp, _, nBits, fill) = r
    assert(nBatch == 4 && nExact == 2)
    assert(nBloom >= nExact, "bloom must never miss an exact dup")
    assert(nFp == nBloom - nExact && nFp >= 0)
    assert(nBits <= 9 && math.abs(fill - nBits / 65536.0) < 5e-7) // fill is round-6

    // a 16-bit space with k=3: every probe collides, so ALL batch docs hit
    val tiny = graft.operators.Dedup.bloomDedupReport(
      batch, corpus, col("doc_id"), col("text"), mBits = 1, k = 3)
      .as[(Long, Long, Long, Long, Option[Double], Long, Double)].head()
    assert(tiny._2 == 4 && tiny._4 == 2)
  }
}
