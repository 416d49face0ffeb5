package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash. First-class components for a 100 TB training-data pipeline.
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on the fingerprint;
  *  - pairwise similarity is NEVER all-pairs: candidates come from an
  *    equi-join on a blocking key (shared shingle / LSH band bucket /
  *    SimHash band), so the only shuffles are hash-joins on those keys;
  *  - all hashing is content-derived (md5-based), so results are
  *    deterministic across executors and runs.
  *
  * Shared pieces: [[ngramJaccardPairs]] and [[containmentPairs]] count
  * shared shingles through one df-capped core (`sharedShingleCounts`);
  * [[segmentDedup]] and [[indocDedup]] cut documents with one
  * `wordSegments`; [[embeddingNearDupPairs]] blocks on the engine's IVF
  * cells ([[Clustering.seedCentroids]] + [[Clustering.assign]]).
  */
object Dedup {

  /** Distinct word n-gram shingles, exploded to (doc_id, sh) rows, via the
    * native `shingle_explode` Generator: tokenize + shingle + dedupe in one
    * pass inside GenerateExec, no document-sized intermediate arrays in
    * the projection. */
  private[operators] def explodedWordShingles(
      df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.cast("long").as("doc_id"),
      call_function("shingle_explode", text, lit(n)).as("sh"))

  /** Public surface for the exploded distinct word-shingle table
    * (doc_id, sh) — the shared substrate of the shingle-blocked
    * operators, also useful standalone (df stats, novelty scoring). */
  def wordShingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    explodedWordShingles(df, id, text, n)

  /** Exact dedup: keep the lowest-id representative per normalized-content
    * fingerprint. One shuffle on the fingerprint. */
  def exactDedup(df: DataFrame, id: Column, text: Column): DataFrame = {
    val withFp = df.withColumn("fingerprint", TextFunctions.fingerprint(text))
    val w = Window.partitionBy(col("fingerprint")).orderBy(id)
    withFp
      .withColumn("dup_rank", row_number().over(w))
      .withColumn("is_duplicate", col("dup_rank") > 1)
  }

  /** The shared-shingle core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: every doc pair (id_a < id_b) sharing a word
    * `n`-gram shingle, with its common-shingle count and both set sizes
    * (id_a, id_b, n_common, n_a, n_b). `maxDf` drops shingles present in
    * more than `maxDf` docs first; sizes count the capped universe. */
  private def sharedShingleCounts(
      df: DataFrame, id: Column, text: Column, n: Int, maxDf: Option[Int]): DataFrame = {
    // The exploded shingle table feeds three branches (both self-join
    // sides + the per-doc sizes); materialize it so shingle generation
    // runs once, not four times.
    val raw = graft.Mat(explodedWordShingles(df, id, text, n))
    val exploded = maxDf match {
      case Some(cap) =>
        // anti-join against the HOT list: it has at most
        // total_occurrences/cap entries (usually a handful of
        // stop-shingles), so AQE turns this into a broadcast anti join
        // over the cached shingles — far cheaper than windowing or
        // equi-joining the full shingle set
        val hot = raw.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("sh"))
        raw.join(hot, Seq("sh"), "left_anti")
      case None => raw
    }
    val sizes = exploded.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_sh"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
  }

  /** Candidate pairs by shared shingle + exact n-gram Jaccard.
    *
    * jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|), computed by exploding each
    * doc's distinct shingles, self-joining on the shingle (the blocking
    * key), counting common shingles per pair, and joining back the set
    * sizes. Returns pairs with id_a < id_b and jaccard >= threshold.
    */
  /** `maxDf`: drop blocking shingles present in more than `maxDf` docs
    * before the self-join. A stop-shingle ("of the and") is a hot key
    * whose candidate set grows quadratically — at corpus scale it is the
    * skew-killer. Sizes and Jaccard are computed over the capped shingle
    * universe, so the semantics stay well-defined (df-capped Jaccard,
    * the standard stop-shingle removal) and an oracle applying the same
    * cap stays bit-identical. */
  def ngramJaccardPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, maxDf: Option[Int] = None): DataFrame =
    sharedShingleCounts(df, id, text, n, maxDf)
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Prefix-filtered exact Jaccard pairs (PPJoin-style, Xiao et al.,
    * WWW'08 — public algorithm): candidates come from shared tokens in
    * each doc's RAREST-token prefix instead of any shared token.
    *
    * Each doc's distinct shingles are ordered by ascending global
    * document frequency (ties broken by the shingle string — a total
    * order), and only the first `|d| - ceil(t*|d|) + 1` of them are
    * blocking keys. The prefix-filter lemma guarantees any pair with
    * Jaccard >= t shares at least one prefix token, so the result is
    * IDENTICAL to [[ngramJaccardPairs]] with no df cap — the oracle for
    * this operator is the plain exact formulation, which proves the
    * pruning is semantics-preserving.
    *
    * Scale shape vs the shared-any-shingle join: stop-shingles ("of the
    * and") have the HIGHEST df, so they land at the back of every doc's
    * ordering and almost never act as blocking keys — the hot-key
    * quadratic blowup disappears without changing the answer (df-capping
    * changes the measure; this does not). Joins are equi (shingle, then
    * doc ids); the verify stage rescans full shingle sets only for
    * candidate pairs.
    *
    * Tuning: fan-out is governed by blocking-shingle SELECTIVITY, i.e.
    * `n` and the threshold together. Prefix length is
    * `|d|(1 - t) + 1`, so a low threshold keeps most of the doc as
    * blocking keys, and on a small-vocabulary corpus short shingles are
    * shared by a large fraction of documents (measured on the synthetic
    * corpus at sf0.1: n=2, t=0.5 -> 5.5M candidate pairs; n=3, t=0.6 ->
    * 193K for the same 256 result pairs). Prefer the longest shingle the
    * similarity semantics allow. */
  def prefixJaccardPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double): DataFrame = {
    // exploded feeds ranking, the candidate prefixes AND the verify
    // stage — materialize so shingle generation runs once
    val exploded = graft.Mat(explodedWordShingles(df, id, text, n))
    val dfreq = exploded.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    val perDoc = exploded.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("sh")))).as("__sorted"),
        count(lit(1)).cast("int").as("n_sh"))
      .withColumn("__plen",
        (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1).cast("int"))
    val prefixes = perDoc.select(col("doc_id"), col("n_sh"),
      explode(slice(transform(col("__sorted"), _.getField("sh")),
        lit(1), col("__plen"))).as("sh"))
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      // length filter: jaccard >= t requires t*|larger| <= |smaller|
      .filter(least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
        lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .dropDuplicates("id_a", "id_b")
    val common = cands
      .join(exploded.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
      .join(exploded.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Containment pairs: |A∩B| / |A| >= threshold, directed — the
    * asymmetric overlap measure that catches a document CONTAINED in a
    * larger one (boilerplate-wrapped copies, quote inflation), which
    * symmetric Jaccard dilutes away: a 100-shingle doc fully embedded in
    * a 1000-shingle doc has Jaccard 0.1 but containment 1.0. Emits both
    * directions when both clear the threshold (id_small is the contained
    * side). Blocking/scale shape identical to [[ngramJaccardPairs]]
    * (shared-shingle equi join + df cap on hot shingles). */
  def containmentPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, maxDf: Option[Int] = None): DataFrame = {
    val withSizes = sharedShingleCounts(df, id, text, n, maxDf)
    // one row per direction that clears the bar: contained -> container
    val aInB = withSizes
      .withColumn("containment", round(col("n_common").cast("double") / col("n_a"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("id_small"), col("id_b").as("id_large"), col("containment"))
    val bInA = withSizes
      .withColumn("containment", round(col("n_common").cast("double") / col("n_b"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_b").as("id_small"), col("id_a").as("id_large"), col("containment"))
    aInB.unionByName(bInA)
  }

  /** Stable 32-bit integer hash of a string: first 8 hex chars of md5.
    * Replicable in any engine (unlike Murmur3 `hash()`). */
  def md5Int(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** MinHash + LSH banding: docs sharing any band bucket are candidates;
    * exact Jaccard is then computed only on candidates. Returns candidate
    * pairs with their estimated (signature-agreement) similarity.
    */
  def minHashLshPairs(
      df: DataFrame, id: Column, text: Column,
      shingleWords: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    // native kernel: the signature is built inside the row (one md5 per
    // shingle, permutation minima folded in-place), so signature
    // construction needs NO explode and NO shuffle
    val sigs = df.select(id.cast("long").as("doc_id"),
      call_function("minhash_sig", text, lit(shingleWords), lit(numHashes)).as("sig"))
    // signatures materialized ONCE (r14): before this Mat the kernel ran
    // FOUR times per document — the empties filter was pushed below the
    // projection and re-evaluated it per row (guide §4.4's duplicated
    // derived-column filter), and the banding self-join then computed the
    // whole signature build once per side (the r14 before-plan shows two
    // full `minhash_sig` scan lineages under the bucket join). Signature
    // construction is the dominant per-row cost of the whole LSH family,
    // and the materialized frame is doc_id + numHashes longs — orders of
    // magnitude narrower than the text it replaces (guide §5, §2.3).
    val docs = graft.Mat(sigs).filter(size(col("sig")) > 0)
    val banded = docs.select(col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        concat_ws(",", col("band").cast("string"),
          array_join(transform(
            slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")), ",")))
    // est_jaccard is computed BEFORE the pair dedup and folded into the
    // dedup key: it is a pure function of the pair's two signatures, so
    // grouping on (id_a, id_b, est) returns exactly the old
    // dropDuplicates(id_a, id_b) rows — but as a plain HashAggregate
    // instead of the SortAggregate (+two sorts) that `first(sig_a)` over
    // array columns forced in the r14 before-plan (guide §2.3 "aggregate
    // before you shuffle": the shuffle now carries 3 scalars, no arrays).
    banded.as("a").join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)).cast("double") / numHashes, 6).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b", "est_jaccard")
  }

  /** Embedding-cosine near-duplicate pairs, IVF-cell blocked — the default
    * and the 100 TB shape: assign every vector to its nearest of `nlist`
    * deterministic centroids ([[Clustering.seedCentroids]]: lowest-id
    * vector per id-residue class, no RNG), then compute exact cosine only
    * within cells. The only large
    * shuffle is the equi self-join on cell id — never all-pairs. Pairs
    * split across cells are missed (recall < 1, like any single-probe
    * blocking); the specs check it against an exact all-pairs
    * baseline. */
  def embeddingNearDupPairs(
      df: DataFrame, id: Column, vec: Column, threshold: Double,
      nlist: Int = 16): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosineNative _
    val e = df.select(id.cast("long").as("vid"),
      graft.functions.VectorFunctions.toDoubleArray(vec).as("v"))
    // Clustering's cells: rounded similarity + cell tiebreak, so the
    // assignment is deterministic and engine-replicable
    val assigned = Clustering
      .assign(e, Clustering.seedCentroids(e, "vid", "v", nlist), "vid", "v")
      .select(col("cell"), col("vid"), col("v"))
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
      .withColumn("cos", round(cos(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"), col("cos"))
  }

  /** SimHash fingerprints per doc via the native `simhash_sig` kernel —
    * the scale form of the HOF per-bit fold (which re-hashes per bit and
    * stays interpreted). Same fingerprint values. */
  def simHashDocs(df: DataFrame, id: Column, text: Column, bits: Int = 32): DataFrame = {
    // fanned out first: the signature build is pure per-row hashing fused
    // into the scan stage, which is single-task over the one-row-group
    // local fixtures (no-op at real scale — Tables.fanOut's gate).
    // A/B at sf0.1: d_simhash_pairs 2.8 -> 0.7 s.
    val in = graft.Tables.fanOut(df)
    // native kernel: one md5 per token, all bit counters folded inside
    // the row — a pure projection, no explode, no shuffle
    in.select(id.cast("long").as("doc_id"),
      call_function("simhash_sig", text, lit(bits)).as("simhash"))
  }

  /** SimHash near-dup pairs: band-blocked Hamming matching. Fingerprints
    * split into `bands` contiguous bit-bands; docs sharing ANY band value
    * are candidates (a pair within Hamming distance d < bands must agree
    * on at least one band — the pigeonhole guarantee), then exact
    * Hamming (`bit_count(xor)`) keeps pairs at or under `maxHamming`.
    * Same scale shape as MinHash-LSH: the only shuffle is the equi join
    * on (band, band-value); never all-pairs. */
  def simHashPairs(
      df: DataFrame, id: Column, text: Column,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val width = bits / bands
    val mask = (1L << width) - 1
    val docs = simHashDocs(df, id, text, bits)
    val allBanded = docs.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bv",
        expr(s"shiftright(simhash, band * $width)").bitwiseAND(lit(mask)))
    // Band buckets have only 2^width values, so bucket population — and
    // the candidate-pair count, QUADRATICALLY — grows with corpus size
    // (measured: 10x docs -> 20x wall at 4x8-bit bands). The scale dials:
    // wider bands (bits grows with log n) and/or this hot-bucket cap,
    // which drops (band, value) buckets holding more than `maxBucket`
    // docs. Recall contract mirrors ngramJaccardPairs.maxDf: a pair is
    // lost only if EVERY band it agrees on is dropped.
    val banded = maxBucket match {
      case Some(cap) =>
        val hot = allBanded.groupBy(col("band"), col("bv"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
          .select(col("band"), col("bv"))
        allBanded.join(broadcast(hot), Seq("band", "bv"), "left_anti")
      case None => allBanded
    }
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Duplicate-passage detection: document pairs sharing at least
    * `minShared` winnowing fingerprints ([[graft.functions.TextFunctions
    * .winnowFingerprints]] — each fingerprint is a window-minimum k-gram
    * hash, so a shared fingerprint witnesses a shared text span, robust to
    * position shifts). The scale posture mirrors [[ngramJaccardPairs]]:
    * candidates are blocked on the shared fingerprint (equi join, never
    * all-pairs) and `maxDf` drops fingerprints present in more than that
    * many documents — a boilerplate span (license header, nav bar) is a
    * hot key whose candidate set grows quadratically. */
  def passageDupPairs(
      df: DataFrame, id: Column, text: Column,
      k: Int, w: Int, minShared: Int, maxDf: Option[Int] = None,
      hash: String = "poly"): DataFrame = {
    // poly (Rabin–Karp rolling) is the default kernel here: passage
    // witness only needs fingerprint EQUALITY, and the rolling form is
    // O(1) per position instead of an O(k) md5 digest
    val fps = graft.Mat(
      graft.functions.TextFunctions.winnowFingerprints(df, id, text, k, w, hash))
    val kept = maxDf match {
      case Some(cap) =>
        // fingerprints are distinct per doc, so count(*) = document
        // frequency; the hot list is tiny -> AQE broadcasts the anti join
        val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("fp"))
        fps.join(hot, Seq("fp"), "left_anti")
      case None => fps
    }
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Benchmark-decontamination report: for each corpus document, how many
    * of its distinct word `n`-grams also occur in the `probes` frame (the
    * eval/benchmark texts), plus the contaminated fraction. The probe gram
    * set is deduped first and is benchmark-sized in practice, so the semi
    * join broadcasts; the corpus side aggregates once per doc with
    * map-side partials. Downstream policy (drop, redact, flag) is the
    * caller's — this operator only measures. */
  def contaminationReport(
      corpus: DataFrame, probes: DataFrame,
      corpusId: Column, corpusText: Column, probeText: Column,
      n: Int): DataFrame = {
    val grams = explodedWordShingles(corpus, corpusId, corpusText, n)
    val probeSet = explodedWordShingles(probes, lit(0L), probeText, n)
      .select(col("sh")).distinct()
    val sizes = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams")) // shingles are distinct per doc
    val hit = grams.join(probeSet, Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    sizes.join(hit, Seq("doc_id"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_grams"), 6))
  }

  /** C4-style chunk-level exact dedup (Raffel et al. 2020 dedup lines;
    * generalized to fixed-width word chunks since this corpus has no
    * newlines): split every document into `chunkWords`-word chunks, keep
    * only the globally FIRST occurrence of each distinct chunk text
    * (ordered by doc_id then position), reassemble the surviving text.
    *
    * Scale shape: first-occurrence is ONE hash aggregate on the chunk
    * text (`min(struct(doc_id, cidx))` — partial aggregation collapses
    * each partition to one candidate per chunk before the shuffle), then
    * an equi join back on the chunk and one per-doc aggregate. No windows,
    * no sorts; the reassembly order comes from an in-row `array_sort`.
    * A corpus-hot chunk (boilerplate) fans its join-back rows through one
    * reducer, but the fan-out is bounded by that chunk's corpus frequency
    * — the same bound the dedup itself must materialize.
    *
    * Returns (doc_id, n_chunks, n_removed, dedup_text). */
  def chunkDedup(df: DataFrame, id: Column, text: Column, chunkWords: Int): DataFrame = {
    require(chunkWords > 0, "chunkWords must be positive")
    val toks = df.select(id.cast("long").as("doc_id"),
      split(trim(text), "\\s+").as("toks"))
    val chunks = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), floor((size(col("toks")) - 1) / lit(chunkWords)).cast("int")),
        i => concat_ws(" ", slice(col("toks"), i * chunkWords + 1, lit(chunkWords)))))
        .as(Seq("cidx", "chunk")))
    val first = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("cidx"))).as("first"))
    chunks.join(first, Seq("chunk"))
      .withColumn("kept",
        col("doc_id") === col("first.doc_id") && col("cidx") === col("first.cidx"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("cidx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("dedup_text"))
  }

  /** Fixed non-overlapping `segmentWords`-token windows of each doc as
    * (doc_id, idx, seg) rows: the segmentation of [[segmentDedup]] and
    * [[indocDedup]]. */
  private def wordSegments(
      df: DataFrame, id: Column, text: Column, segmentWords: Int): DataFrame = {
    require(segmentWords > 0, "segmentWords must be positive")
    df.select(id.cast("long").as("doc_id"), split(trim(text), "\\s+").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / lit(segmentWords)).cast("int")),
          i => concat_ws(" ", slice(col("toks"), i * segmentWords + 1, lit(segmentWords)))))
          .as(Seq("idx", "seg")))
  }

  /** Corpus-frequency segment suppression (the CCNet/RefinedWeb
    * paragraph-dedup shape, e.g. Wenzek et al. 2019 §4.1): hash every
    * segment of every document, count each hash's corpus-wide occurrence
    * frequency, and remove EVERY occurrence of segments seen more than
    * `maxDf` times — including the first. This is the boilerplate killer
    * (nav bars, license headers, cookie banners): unlike [[chunkDedup]]'s
    * keep-first contract, a hot segment survives nowhere, because its
    * repetition is evidence it is template text rather than content.
    *
    * Reference behavioral anchor: the reference's dedup stage is
    * keep-first only (dedup-processor.ts); this operator extends the
    * family with the frequency-threshold variant a pretraining corpus
    * needs.
    *
    * Segmentation here is fixed non-overlapping `segmentWords`-token
    * windows (the synthetic corpus has no newlines); on real data,
    * pre-split into (doc_id, idx, seg) rows — by '\n', sentence breaks,
    * whatever — and call [[segmentDedupFrom]], which is the actual
    * engine.
    *
    * Scale: one explode (bounded by token count), one hash aggregate for
    * the frequency table, and the hot-set is threshold-filtered BEFORE
    * the join back — at any realistic `maxDf` it is a tiny fraction of
    * the segment universe, so AQE broadcasts the left join (never forced:
    * hot-set size is data-dependent). Reassembly is an in-row
    * `array_sort`, no per-doc window/sort.
    *
    * Returns (doc_id, n_segments, n_removed, removed_ratio, kept_text). */
  def segmentDedup(
      df: DataFrame, id: Column, text: Column,
      segmentWords: Int, maxDf: Int): DataFrame =
    segmentDedupFrom(wordSegments(df, id, text, segmentWords), maxDf)

  /** Core of [[segmentDedup]] over pre-segmented rows
    * (doc_id, idx, seg): drop every occurrence of segments whose total
    * corpus occurrence count exceeds `maxDf`, reassemble per doc in
    * `idx` order. Within-doc repeats count toward the frequency — a doc
    * that repeats its own boilerplate 50 times is exactly the
    * degenerate-template case the threshold exists for. */
  def segmentDedupFrom(segs: DataFrame, maxDf: Int): DataFrame = {
    require(maxDf > 0, "maxDf must be positive")
    val hashed = segs.withColumn("__h", md5(col("seg")))
    val hot = hashed.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxDf).select(col("__h"), lit(true).as("__hot"))
    hashed.join(hot, Seq("__h"), "left")
      .withColumn("__drop", coalesce(col("__hot"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("idx"), col("seg"))))),
          s => s.getField("seg")), " ").as("kept_text"))
      .withColumn("removed_ratio",
        round(col("n_removed") / col("n_segments"), 6))
      .select("doc_id", "n_segments", "n_removed", "removed_ratio", "kept_text")
  }

  /** Within-document duplicate-segment removal, keep-FIRST occurrence —
    * the in-doc member of the segment-dedup family (crawl pages repeat
    * their own paragraphs: pagination artifacts, expanded/collapsed
    * sections, templated list items). Deliberately distinct from both
    * [[chunkDedup]] (keep-first CORPUS-wide) and [[segmentDedup]]
    * (suppress EVERY occurrence corpus-wide): here a segment's repeats
    * are judged only inside its own document, so two documents sharing
    * text are untouched.
    *
    * Segmentation is fixed non-overlapping `segmentWords`-token windows
    * (this corpus has no newlines); on real data pre-split into
    * (doc_id, idx, seg) rows and call [[indocDedupFrom]].
    *
    * Scale: first-occurrence is one hash aggregate keyed by
    * (doc_id, seg) — partial aggregation collapses per-partition repeats
    * before the shuffle, and the key includes doc_id so hot boilerplate
    * segments do NOT funnel through one reducer (the skew bound is
    * per-doc repetition, not corpus frequency — strictly better than the
    * corpus-level variants). Reassembly is the same in-row `array_sort`,
    * no per-doc window.
    *
    * Returns (doc_id, n_segments, n_removed, removed_ratio, dedup_text). */
  def indocDedup(
      df: DataFrame, id: Column, text: Column, segmentWords: Int): DataFrame =
    indocDedupFrom(wordSegments(df, id, text, segmentWords))

  /** Core of [[indocDedup]] over pre-segmented (doc_id, idx, seg) rows:
    * keep each distinct segment's first in-doc occurrence, reassemble in
    * first-occurrence order. */
  def indocDedupFrom(segs: DataFrame): DataFrame =
    segs.groupBy(col("doc_id"), col("seg"))
      .agg(min(col("idx")).as("__keep"), count(lit(1)).as("__n"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("__n")).as("n_segments"),
        sum(col("__n") - 1).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(struct(col("__keep"), col("seg")))),
          s => s.getField("seg")), " ").as("dedup_text"))
      .withColumn("removed_ratio",
        round(col("n_removed") / col("n_segments"), 6))
      .select("doc_id", "n_segments", "n_removed", "removed_ratio", "dedup_text")

  /** LSH estimator-quality evaluation — the tuning harness for the
    * (numHashes, bands) trade-off: candidates flagged by
    * [[minHashLshPairs]] at `est_jaccard >= threshold` scored against
    * the EXACT shingle-Jaccard ground truth from [[ngramJaccardPairs]]
    * at the same threshold (exhaustive for threshold > 0: any pair at
    * or above it shares a shingle, so the shared-shingle join misses
    * nothing). One full outer join on the pair key, then a one-row
    * confusion aggregate.
    *
    * Scale note: the truth side is deliberately UNCAPPED (a df cap
    * changes the measure being evaluated), so the corpus-scale posture
    * is ENFORCED here, not advisory: above `maxTruthDocs` documents the
    * whole evaluation runs on a deterministic hash slice of the corpus
    * (`pmod(md5(id+salt), k) = 0` with `k = ceil(n / maxTruthDocs)`) —
    * the standard estimator-tuning practice, and the verdict transfers
    * because BOTH the LSH and the exact-truth side see the same slice.
    * The slice denominator is reported (`slice_k`, 1 = exhaustive) so a
    * sampled verdict is never mistaken for a full-corpus one.
    *
    * Returns 1 row: (n_docs_scored, slice_k, n_candidates, n_flagged,
    * n_true, tp, fp, fn, precision, recall). */
  def lshQualityEval(
      df: DataFrame, id: Column, text: Column,
      shingleWords: Int, numHashes: Int, bands: Int,
      threshold: Double, maxTruthDocs: Long = 2000000L): DataFrame = {
    require(maxTruthDocs > 0, "maxTruthDocs must be positive")
    val n = df.count()
    val k = math.max(1L, math.ceil(n.toDouble / maxTruthDocs).toLong)
    val base =
      if (k > 1) df.filter(Sampling.sampleBucket(id, "#lsheval", k.toInt) === 0)
      else df
    val nScored = base.count()
    val cand = minHashLshPairs(base, id, text, shingleWords, numHashes, bands)
    val flagged = cand.filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b")).withColumn("f", lit(1L))
    val truth = ngramJaccardPairs(base, id, text, shingleWords, threshold,
        maxDf = None)
      .select(col("id_a"), col("id_b")).withColumn("e", lit(1L))
    val confusion = flagged.join(truth, Seq("id_a", "id_b"), "full")
      .select(coalesce(col("f"), lit(0L)).as("f"),
        coalesce(col("e"), lit(0L)).as("e"))
      .agg(sum(col("f")).as("n_flagged"), sum(col("e")).as("n_true"),
        sum(col("f") * col("e")).as("tp"))
    val candN = cand.agg(count(lit(1)).as("n_candidates"))
    confusion.crossJoin(broadcast(candN))
      .select(lit(nScored).as("n_docs_scored"), lit(k).as("slice_k"),
        col("n_candidates"), col("n_flagged"), col("n_true"), col("tp"),
        (col("n_flagged") - col("tp")).as("fp"),
        (col("n_true") - col("tp")).as("fn"),
        when(col("n_flagged") > 0, round(col("tp") / col("n_flagged"), 6))
          .otherwise(lit(null).cast("double")).as("precision"),
        when(col("n_true") > 0, round(col("tp") / col("n_true"), 6))
          .otherwise(lit(null).cast("double")).as("recall"))
  }

  /** Cross-source content-overlap matrix — corpus provenance analysis
    * (how much of source A is re-hosted in source B; the "two crawls of
    * the same forum" question that decides which source to keep). For
    * every pair of sources: distinct word `n`-gram counts per side,
    * shared distinct n-grams, and the shingle-set Jaccard.
    *
    * Scale: the shingle-sized frame is exchanged exactly ONCE — a
    * `groupBy(shingle).collect_set(source)` (the set is bounded by the
    * number of sources K, which is small by construction since the
    * output is K^2 rows). Per-source totals and per-pair shared counts
    * both derive from that frame by IN-ROW expansion (explode of the
    * K-bounded set / its C(K,2) sorted pairs) into map-side-combined
    * aggregates whose keys are source-cardinality, so no shingle-sized
    * data moves again. (The previous shape — distinct (source, shingle)
    * + equi self-join on the shingle — re-shuffled the shingle frame
    * three times and measured 21.7x on the 10x->100x decade; this shape
    * removes both self-join exchanges.) Total pair work is still
    * <= distinct-shingles x C(K,2).
    *
    * Returns (source_a, source_b, n_a, n_b, n_shared, jaccard). */
  def sourceOverlap(
      df: DataFrame, text: Column, source: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    // materialized: feeds two consumers (per-source totals + pair counts)
    val sets = graft.Mat(
      df.select(source.as("src"), split(trim(text), "\\s+").as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col("src"), explode(array_distinct(
          transform(sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", (0 until n).map(j => get(col("toks"), i + j)): _*))))
          .as("sh"))
        .groupBy(col("sh"))
        .agg(sort_array(collect_set(col("src"))).as("srcs")))
    val per = sets.select(explode(col("srcs")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    val pairs = sets.filter(size(col("srcs")) >= 2)
      .select(explode(flatten(
        transform(sequence(lit(0), size(col("srcs")) - 2), i =>
          transform(sequence(i + 1, size(col("srcs")) - 1), j =>
            struct(get(col("srcs"), i).as("source_a"),
              get(col("srcs"), j).as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(per.select(col("src"), col("n_sh").as("n_a")),
        col("source_a") === col("src")).drop("src")
      .join(per.select(col("src"), col("n_sh").as("n_b")),
        col("source_b") === col("src")).drop("src")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 6)
          .as("jaccard"))
  }

  /** Incremental dedup: flag each NEW-batch document against the
    * existing corpus — exact (normalized fingerprint present in the
    * corpus) and near (df-capped n-gram Jaccard vs a corpus doc >=
    * threshold, shared-shingle blocked). The daily-increment shape: the
    * corpus side contributes one fingerprint set + one shingle table
    * (both reusable across batches as materialized indexes); the only
    * pairwise work is new x corpus through the shingle equi join —
    * within-batch duplicates are deliberately NOT flagged (run
    * [[exactDedup]]/[[ngramJaccardPairs]] on the batch for that).
    * `maxDf` caps CORPUS-side shingle document frequency, same skew
    * contract as [[ngramJaccardPairs]].
    *
    * Returns one row per new doc: (doc_id, is_exact_dup, is_near_dup,
    * verdict keep|drop). */
  def incrementalDedup(
      newDocs: DataFrame, corpus: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, maxDf: Option[Int] = None): DataFrame = {
    val newFp = newDocs.select(id.cast("long").as("doc_id"),
      TextFunctions.fingerprint(text).as("fp"))
    val corpFp = corpus.select(TextFunctions.fingerprint(text).as("fp")).distinct()
    val exact = newFp.join(corpFp, Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("__e", lit(true))
    val rawN = explodedWordShingles(newDocs, id, text, n)
    val rawC = explodedWordShingles(corpus, id, text, n)
      .withColumnRenamed("doc_id", "c_id")
    // the hot list comes from CORPUS df (the stable side an incremental
    // pipeline can precompute) and caps BOTH sides, so the df-capped
    // Jaccard is computed over one well-defined shingle universe
    val (shN, shC) = maxDf match {
      case Some(cap) =>
        val hot = rawC.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("sh"))
        (rawN.join(hot, Seq("sh"), "left_anti"),
          rawC.join(hot, Seq("sh"), "left_anti"))
      case None => (rawN, rawC)
    }
    val sizeN = shN.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val sizeC = shC.groupBy(col("c_id")).agg(count(lit(1)).as("n_b"))
    val near = shN.join(shC, Seq("sh"))
      .groupBy(col("doc_id"), col("c_id")).agg(count(lit(1)).as("n_common"))
      .join(sizeN, Seq("doc_id")).join(sizeC, Seq("c_id"))
      .filter(round(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 6) >= threshold)
      .select(col("doc_id")).distinct().withColumn("__n", lit(true))
    newFp.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__e"), lit(false)).as("is_exact_dup"),
        coalesce(col("__n"), lit(false)).as("is_near_dup"))
      .withColumn("verdict",
        when(col("is_exact_dup") || col("is_near_dup"), "drop").otherwise("keep"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embeddings with deterministic k-means ([[Clustering.kMeansAssign]] —
    * RNG-free seeds, rounded similarities), then inside each cluster flag
    * every doc that has an EARLIER (lower-id) cluster-mate with rounded
    * cosine >= `threshold`. The flag rule is a pure EXISTS — no greedy
    * chain, so it is order-independent, engine-replayable, and one-pass.
    *
    * Scale shape: the only pairwise work is the within-cluster self-join
    * (O(n^2/k) pairs); at corpus scale `k` grows with the corpus so the
    * per-cluster population stays bounded — the cross-cluster recall loss
    * is the standard SemDeDup trade. Returns one row per input doc:
    * (doc_id, cluster, is_semdup). */
  def semDedup(
      df: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosineNative _
    val pts = df.select(id.cast("long").as("doc_id"),
      graft.functions.VectorFunctions.toDoubleArray(vec).as("v"))
    val assigned = Clustering.kMeansAssign(df, id, vec, k, iters)
      .select(col("point_id").as("doc_id"), col("cluster"))
      .join(pts, Seq("doc_id"))
    val dup = assigned.select(col("cluster"), col("doc_id").as("id_a"), col("v").as("va"))
      .join(assigned.select(col("cluster"), col("doc_id").as("id_b"), col("v").as("vb")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b") &&
        round(cos(col("va"), col("vb")), 6) >= threshold)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_semdup"))
  }

  /** Per-source dedup retention report — the corpus-curation summary a
    * dataset release ships next to its corpus card: how many documents
    * each source loses to exact duplication, how many more to near-dup
    * cluster canonicalization, and what survives.
    *
    * Policy (the standard pipeline order):
    *  1. exact: keep the min-id document per normalized fingerprint;
    *  2. near: MinHash-LSH pairs → connected components → keep the
    *     best-quality member per cluster (quality desc, id asc) — but a
    *     document already dropped as an exact dup is counted in the
    *     exact bucket only (each doc is dropped once).
    *
    * Scale shape: everything reuses the blocked operators — exact dedup
    * is one fingerprint hash-agg + join-back, near-dup candidates come
    * from [[minHashLshPairs]] (band-bucketed, never all-pairs),
    * components are O(diameter) label propagation, and the final report
    * is one per-source hash aggregate.
    *
    * Returns one row per source: (source, n_docs, n_exact_drop,
    * n_near_drop, n_kept, retention_pct). */
  def dedupRetentionReport(
      df: DataFrame, id: Column, text: Column, source: Column,
      shingleWords: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val base = df.select(id.cast("long").as("doc_id"), source.as("source"),
      TextFunctions.fingerprint(text).as("fp"))
    val firstFp = base.groupBy(col("fp")).agg(min(col("doc_id")).as("first_id"))
    val flagged = base.join(firstFp, Seq("fp"))
      .withColumn("exact_drop", col("doc_id") =!= col("first_id"))
    val pairs = minHashLshPairs(df, id, text, shingleWords, numHashes, bands)
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
    val qual = df.select(id.cast("long").as("qid"),
      TextFunctions.qualityScore(text).as("quality"))
    val members = comp.join(qual, col("node") === col("qid"))
    val keep = Joins.top1PerGroup(members, Seq(col("component")),
        Seq(col("quality").desc, col("node").asc))
      .select(col("component"), col("node").as("keep_id"))
    val nearDropped = members.join(keep, Seq("component"))
      .filter(col("node") =!= col("keep_id"))
      .select(col("node").as("doc_id")).withColumn("__near", lit(true))
    flagged.join(nearDropped, Seq("doc_id"), "left")
      .withColumn("near_drop",
        !col("exact_drop") && coalesce(col("__near"), lit(false)))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("exact_drop"), 1L).otherwise(0L)).as("n_exact_drop"),
        sum(when(col("near_drop"), 1L).otherwise(0L)).as("n_near_drop"),
        sum(when(!col("exact_drop") && !col("near_drop"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("retention_pct",
        round(col("n_kept") * 100.0 / col("n_docs"), 6))
  }

  /** Exact duplicate-SPAN removal over OVERLAPPING `spanWords`-token
    * windows, keep the globally FIRST occurrence (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * ExactSubstr, at token rather than byte granularity). The decisive
    * difference from [[chunkDedup]]: chunks are fixed non-overlapping
    * tiles, so a duplicate passage shifted by one word is invisible;
    * here every alignment produces a window, so a repeated span is
    * caught wherever it starts. Every token covered by ANY non-first
    * duplicate window is removed; the first occurrence (ordered by
    * doc_id then position) survives intact.
    *
    * Scale shape: one explode bounded by corpus token count (window
    * hashes are md5 of the joined window — 32 bytes each regardless of
    * span width), first-occurrence is ONE `min(struct(doc_id, p))` hash
    * aggregate with map-side partials, the join back is equi on the
    * hash, and coverage/reassembly is row-local (an `exists` probe of
    * the doc's own duplicate-start list — bounded by per-doc duplicate
    * density, never corpus-wide). No windows, no sorts.
    *
    * Returns (doc_id, n_tokens, n_windows, n_dup_windows,
    * n_removed_tokens, removed_ppm, kept_text); removed_ppm is an exact
    * integer division (parts-per-million), so no float boundary exists. */
  def spanDedup(df: DataFrame, id: Column, text: Column, spanWords: Int): DataFrame = {
    require(spanWords > 1, "spanWords must be > 1")
    val L = spanWords
    val toks = df.select(id.cast("long").as("doc_id"),
      split(trim(text), "\\s+").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val wins = toks.filter(col("n_tokens") >= L).select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), (col("n_tokens") - L).cast("int")),
        p => md5(concat_ws(" ", slice(col("toks"), p + 1, lit(L))))))
        .as(Seq("p", "wh")))
    val first = wins.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("p"))).as("first"))
    val dups = wins.join(first, Seq("wh"))
      .filter(!(col("doc_id") === col("first.doc_id") && col("p") === col("first.p")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p"))).as("starts"),
        count(lit(1)).as("n_dup_windows"))
    toks.join(dups, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(
        sequence(lit(0), (col("n_tokens") - 1).cast("int")),
        i => !exists(col("starts"), st => st <= i && i < st + L)))
      .select(
        col("doc_id"),
        col("n_tokens"),
        greatest(col("n_tokens") - (L - 1), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (col("n_tokens") - size(col("kept"))).as("n_removed_tokens"),
        expr(s"(n_tokens - size(kept)) * 1000000L div n_tokens").as("removed_ppm"),
        array_join(transform(col("kept"),
          i => element_at(col("toks"), i + 1)), " ").as("kept_text"))
  }

  /** Bloom-filter pre-screen for incremental (batch-vs-corpus) exact
    * dedup, with the filter itself held as DATA — a frame of set bit
    * positions — rather than driver-side state: the standing corpus's
    * fingerprints set k md5-derived positions in an m-bit space, each
    * batch doc probes its k positions with one equi join, and a doc is a
    * bloom hit iff all k probes land on set bits. The report compares
    * the bloom verdicts against exact fingerprint membership: bloom has
    * no false negatives (every exact dup is a hit by construction), so
    * `n_false_pos = n_bloom_hit - n_exact_dup` measures the filter's
    * precision at the chosen (m, k) against this corpus's fill ratio.
    *
    * Scale posture: the bit frame is `<= k * |corpus fingerprints|` rows
    * of one long each — the compact reusable index an ingest pipeline
    * ships to every batch instead of the corpus itself; probing is one
    * equi join on the bit position, never a corpus-sized join. Hashing
    * is md5-derived (no RNG), so any engine replays the exact bit
    * pattern. Returns ONE row: (n_batch, n_bloom_hit, n_exact_dup,
    * n_false_pos, fp_rate, n_bits_set, fill_ratio). */
  def bloomDedupReport(
      newDocs: DataFrame, corpus: DataFrame, id: Column, text: Column,
      mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    def bitPos(fp: Column, i: Column): Column =
      pmod(conv(substring(md5(concat(fp, lit(":"), i.cast("string"))), 1, 8),
        16, 10).cast("long"), lit(mBits.toLong))
    val newFp = newDocs.select(id.cast("long").as("doc_id"),
      TextFunctions.fingerprint(text).as("fp"))
    val corpFp = corpus.select(TextFunctions.fingerprint(text).as("fp")).distinct()
    val bits = corpFp
      .withColumn("__i", explode(sequence(lit(0), lit(k - 1))))
      .select(bitPos(col("fp"), col("__i")).as("__pos")).distinct()
    val probes = newFp
      .withColumn("__i", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("__pos", bitPos(col("fp"), col("__i")))
    val perDoc = probes
      .join(bits.withColumn("__hit", lit(1L)), Seq("__pos"), "left")
      .groupBy(col("doc_id"), col("fp"))
      .agg((sum(coalesce(col("__hit"), lit(0L))) === k).as("bloom_hit"))
    val flagged = perDoc.join(corpFp.withColumn("__e", lit(true)), Seq("fp"), "left")
    val bitCount = bits.agg(count(lit(1)).as("n_bits_set"))
    flagged.agg(
      count(lit(1)).as("n_batch"),
      sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hit"),
      sum(when(col("__e").isNotNull, 1L).otherwise(0L)).as("n_exact_dup"))
      .withColumn("n_false_pos", col("n_bloom_hit") - col("n_exact_dup"))
      .withColumn("fp_rate",
        when(col("n_batch") === col("n_exact_dup"), lit(null).cast("double"))
          .otherwise(round(col("n_false_pos").cast("double") /
            (col("n_batch") - col("n_exact_dup")), 6)))
      .crossJoin(broadcast(bitCount))
      .withColumn("fill_ratio",
        round(col("n_bits_set").cast("double") / mBits, 6))
  }
}
