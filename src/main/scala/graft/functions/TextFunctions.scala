package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting, and shingle generation for near-dup detection.
  *
  * All pure `Column` expressions (whole-stage-codegen friendly): at 100 TB
  * these run inside the parquet scan projection with zero shuffles.
  */
object TextFunctions {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCountWs(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * marks each count as one token (a cheap proxy for a real tokenizer's
    * token count, useful for corpus budgeting). */
  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Characters of punctuation. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?'\"()\\[\\]{}-]", ""))

  /** Tracking query params stripped by [[canonicalizeUrl]] (utm_*,
    * click ids, referrer tags) — the CommonCrawl-pipeline cleanup set. */
  private val trackingParamRe = "^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"

  /** Canonical form of an http(s) URL for crawl-level dedup: lowercase
    * scheme+host, strip a leading `www.`, drop the fragment, strip a
    * single trailing `/` from the path, remove tracking params and sort
    * the survivors. Pure `Column` expression (regexp + array HOFs) — runs
    * inside the scan projection, no shuffle, no UDF. Non-URL strings
    * yield an empty-host canonical (`scheme://`) the caller can filter. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", "")
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val params = array_join(
      array_sort(filter(split(query, "&"),
        p => length(p) > 0 && !p.rlike(trackingParamRe))), "&")
    concat(scheme, lit("://"), host, path,
      when(length(params) > 0, concat(lit("?"), params)).otherwise(lit("")))
  }

  /** Registered domain (last two host labels) of an http(s) URL — the
    * crawl-pipeline grouping key for per-site stats and rate limits.
    * Public-suffix awareness (co.uk) is a lookup-table join the caller
    * can layer on; two labels is the deterministic engine-level default. */
  def registeredDomain(url: Column): Column = {
    val host = regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
    val labels = split(host, "\\.")
    when(size(labels) >= 2,
      concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
      .otherwise(host)
  }

  /** The function-word list shared by [[stopwordCount]] (ratio scoring)
    * and [[lineCorrections]] (nav-line detection). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as")

  /** Occurrences of common English stopwords (word-boundary matched). */
  def stopwordCount(c: Column): Column =
    size(regexp_extract_all(
      lower(c),
      lit("\\b(" + stopwords.mkString("|") + ")\\b"),
      lit(0)))

  /** Composite quality score in [0,1]: blends length, stopword ratio and
    * punctuation ratio — the standard cheap pre-filter for training-data
    * pipelines. Deterministic arithmetic only. */
  def qualityScore(c: Column): Column = {
    val nTok  = tokenCountWs(c).cast("double")
    val stopR = when(nTok > 0, stopwordCount(c).cast("double") / nTok).otherwise(lit(0.0))
    val punR  = when(length(c) > 0, punctCount(c).cast("double") / length(c)).otherwise(lit(0.0))
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    round(least(greatest(
      lenScore * 0.4 + least(stopR * 4.0, lit(1.0)) * 0.4 + (lit(1.0) - least(punR * 10.0, lit(1.0))) * 0.2,
      lit(0.0)), lit(1.0)), 6)
  }

  /** Tiny word-list language-ID heuristic: score = count of marker-word
    * hits per language, argmax wins ('und' when all zero). */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|was|that|with)\\b",
    "es" -> "\\b(el|la|los|las|es|que|con|para)\\b",
    "fr" -> "\\b(le|la|les|est|que|avec|pour|dans)\\b",
    "de" -> "\\b(der|die|das|ist|und|mit|nicht)\\b",
  )

  def langScore(c: Column, pattern: String): Column =
    size(regexp_extract_all(lower(c), lit(pattern), lit(0)))

  /** Argmax over language marker scores; deterministic tie-break by the
    * declaration order of [[langMarkers]]. */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, p) => (l, langScore(c, p)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (l, s)) =>
      acc.when(s === best, lit(l))
    }.otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text.
    * Generalizes the reference's content-addressed config hashing
    * (`scripts/proposal-builder.ts:684-714`) to corpus dedup. */
  def fingerprint(c: Column): Column =
    md5(lower(trim(regexp_replace(c, "\\s+", " "))))

  /** Word n-gram shingles (distinct). */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = split(trim(c), "\\s+")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** PII scrub patterns, applied in a fixed order (emails before URLs
    * before phones — order is part of the contract since replacements can
    * overlap). RE2-compatible (no backrefs/lookaround) so any regex engine
    * reproduces them. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "https?://[^\\s]+" -> "[URL]",
    "\\b555-[0-9]+\\b" -> "[PHONE]")

  /** Redact PII in place; counts per category come from
    * [[piiMatchCount]] BEFORE redaction. */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  def piiMatchCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** TF-IDF top-k terms per document: raw term frequency x ln(N/df),
    * ranked per doc on the ROUNDED score with a term tiebreak (raw float
    * ranking can flip across engines). Relational: one explode, two hash
    * aggregates, one window — no driver-side vocabulary. The only
    * nested-loop join in the plan is the 1-row broadcast of the document
    * count N (the scalar-subquery shape — bounded at any scale). */
  def tfIdfTopK(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      k: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(id.as("doc_id"),
      explode(split(trim(text), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(id).distinct().agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"), col("rnk"))
  }

  /** Adjacent whitespace-token pairs (doc_id, pos, w, w2) of every doc,
    * empty tokens dropped, adjacency from one `lead` window keyed on the
    * doc: the bigram stream of [[bigramLm]], [[pmiCollocations]],
    * [[kneserNeyBigram]] and [[perplexityFilter]]. */
  private def adjacentPairs(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        posexplode(split(trim(text), "\\s+")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("w2", lead(col("w"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)

  /** Corpus bigram language model: count of each ordered token pair and
    * the conditional probability P(w2 | w1) = c(w1,w2) / Σ_w2 c(w1,w2)
    * (the denominator is occurrences of w1 as a predecessor, so rows per
    * w1 sum to exactly 1). The counting core of n-gram LM training and of
    * BPE-style pair-merge vocabulary induction.
    *
    * Relational shape: tokens are EXPLODED with positions, adjacency comes
    * from one `lead` window keyed on the document (not a self-join — one
    * shuffle), then a (w1,w2) hash aggregate with map-side partials and a
    * w1-window for the denominator. Scales: the widest frame is the token
    * stream itself. */
  def bigramLm(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column
  ): org.apache.spark.sql.DataFrame = {
    adjacentPairs(df, id, text)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("p_cond", round(col("cnt") / sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))), 6))
  }

  /** Flesch–Kincaid readability (grade level + reading ease) — the
    * classic surface-statistics quality signal next to [[qualityScore]]
    * and [[gopherRules]]: grade = 0.39·(words/sentence) +
    * 11.8·(syllables/word) − 15.59; ease = 206.835 − 1.015·(w/s) −
    * 84.6·(sy/w). Syllables use the standard vowel-group heuristic
    * (runs of [aeiouy]); sentence ends are [.!?] runs (floored at 1).
    *
    * Fully row-local (three regex counts per row, shuffle-free); the
    * two ratios are exact-integer divisions and the score a fixed
    * multiply-add chain — IEEE-replayable, rounded at 6. */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        size(regexp_extract_all(text, lit("\\S+"), lit(0))).as("n_words"),
        greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
          .as("n_sentences"),
        size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
          .as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences"))
      .withColumn("spw", col("n_syllables").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - 15.59, 6)
          .as("fk_grade"),
        round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 6)
          .as("reading_ease"))

  /** Stupid-backoff trigram scoring (Brants et al. 2007 — the web-scale
    * LM smoothing that skips discount mass entirely): each heldout
    * trigram scores `c(w1w2w3)/c(w1w2)`, backing off to
    * `0.4·c(w2w3)/c(w2)` then `0.16·c(w3)/N`; out-of-vocabulary target
    * words are counted, not scored. Completes the n-gram LM family
    * ([[bigramLm]] MLE → [[kneserNeyBigram]] → this, the third smoothing
    * strategy and the first with held-out evaluation tiers).
    *
    * Relational shape: n-gram counting is the one corpus-wide pass
    * (exploded positions + two `lead` windows per side); scoring is five
    * LEFT equi joins of the test trigram frame against vocabulary-
    * bounded count frames plus one broadcast token total. Per-trigram
    * log-scores round at 9 and sum per doc as DECIMAL(28,9)
    * (order-independent), the doc score rounds at 6; each tier's S is
    * built by one division then explicit 0.4 multiplies so any engine
    * replays the IEEE sequence.
    *
    * Returns per test doc: (doc_id, n_tri, n_hit3, n_hit2, n_hit1,
    * n_oov, sb_logscore). */
  def stupidBackoffScore(
      train: DataFrame, test: DataFrame, id: Column, text: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    def toks(df: DataFrame): DataFrame =
      df.select(id.as("doc_id"),
          posexplode(split(trim(text), "\\s+")).as(Seq("pos", "w1")))
        .filter(col("w1") =!= "")
    def tris(df: DataFrame): DataFrame = {
      val win = w.partitionBy(col("doc_id")).orderBy(col("pos"))
      toks(df)
        .withColumn("w2", lead(col("w1"), 1).over(win))
        .withColumn("w3", lead(col("w1"), 2).over(win))
        .filter(col("w3").isNotNull)
    }
    val trainToks = toks(train)
    val c1 = trainToks.groupBy(col("w1").as("u")).agg(count(lit(1)).as("c1"))
    val nTok = trainToks.agg(count(lit(1)).as("n_tok"))
    val c2 = trainToks
      .withColumn("u2", lead(col("w1"), 1).over(
        w.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("u2").isNotNull)
      .groupBy(col("w1").as("u"), col("u2")).agg(count(lit(1)).as("c2"))
    val c3 = tris(train)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val scored = tris(test)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("u").as("w1"), col("u2").as("w2"),
        col("c2").as("c2a")), Seq("w1", "w2"), "left")
      .join(c2.select(col("u").as("w2"), col("u2").as("w3"),
        col("c2").as("c23")), Seq("w2", "w3"), "left")
      .join(c1.select(col("u").as("w2"), col("c1").as("c1b")), Seq("w2"), "left")
      .join(c1.select(col("u").as("w3"), col("c1").as("c1c")), Seq("w3"), "left")
      .crossJoin(broadcast(nTok))
      .withColumn("tier",
        when(col("c3").isNotNull, 3)
          .when(col("c23").isNotNull, 2)
          .when(col("c1c").isNotNull, 1).otherwise(0))
      .withColumn("s",
        when(col("tier") === 3, col("c3").cast("double") / col("c2a"))
          .when(col("tier") === 2,
            (col("c23").cast("double") / col("c1b")) * 0.4)
          .when(col("tier") === 1,
            ((col("c1c").cast("double") / col("n_tok")) * 0.4) * 0.4))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("tier") === 3, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("tier") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_hit1"),
        sum(when(col("tier") === 0, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("tier") > 0, round(log(col("s")), 9).cast("decimal(28,9)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(28,9)"))).as("__sc"))
      .select(col("doc_id"), col("n_tri"), col("n_hit3"), col("n_hit2"),
        col("n_hit1"), col("n_oov"),
        round(col("__sc").cast("double"), 6).as("sb_logscore"))
  }

  /** ROUGE-N overlap between consecutive-id document pairs (candidate =
    * even doc_id, reference = doc_id+1) — the summarization/copy-overlap
    * metric as a relational operator: clipped n-gram precision, recall,
    * and F1, where overlap = Σ_g min(tf_cand(g), tf_ref(g)) (Lin 2004).
    * A training-data pipeline runs this shape to score generated-vs-
    * source pairs or detect near-verbatim continuations.
    *
    * Scale shape: per-doc n-gram counts are one explode + hash
    * aggregate; the overlap is an equi join on (pair, gram) — pair-local,
    * never corpus×corpus. All counts integer; P/R/F1 are single
    * divisions (F1 via the harmonic identity 2·ov/(|c|+|r|) — no nested
    * float ops), rounded at 6. */
  def rougeOverlap(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val grams = df.select(id.cast("long").as("doc_id"),
        split(trim(text), "\\s+").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", (0 until n).map(j => get(col("toks"), i + j)): _*)))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    val totals = grams.groupBy(col("doc_id")).agg(sum(col("tf")).as("tot"))
    val c = grams.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("pair_id"), col("g"), col("tf").as("tfc"))
    val r = grams.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("pair_id"), col("g"), col("tf").as("tfr"))
    val ov = c.join(r, Seq("pair_id", "g"))
      .groupBy(col("pair_id"))
      .agg(sum(least(col("tfc"), col("tfr"))).as("overlap"))
    val tc = totals.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("pair_id"), col("tot").as("n_cand"))
    val tr = totals.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("pair_id"), col("tot").as("n_ref"))
    tc.join(tr, Seq("pair_id"))
      .join(ov, Seq("pair_id"), "left")
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
      .select(col("pair_id").as("cand_id"), (col("pair_id") + 1).as("ref_id"),
        lit(n).as("gram_n"), col("n_cand"), col("n_ref"), col("overlap"),
        round(col("overlap").cast("double") / col("n_cand"), 6).as("rouge_p"),
        round(col("overlap").cast("double") / col("n_ref"), 6).as("rouge_r"),
        round(col("overlap").cast("double") * 2
          / (col("n_cand") + col("n_ref")), 6).as("rouge_f1"))
  }

  /** PMI collocation mining (Church & Hanks 1990) — the phrase-discovery
    * pass a tokenizer-training pipeline runs to promote "new york"-style
    * multiword units: for every adjacent token pair,
    * `PMI(x,y) = ln P(x,y) / (P(x) P(y)) = ln c_xy + ln N - ln c_x - ln c_y`
    * over corpus bigram/unigram occurrence counts, thresholded on the
    * pair count (PMI is noisy on rare pairs) and ranked.
    *
    * All formula inputs are exact integer counts from two hash aggregates
    * over one exploded token stream (adjacency via one `lead` window, the
    * [[bigramLm]] shape); the four-term ln sum is evaluated left-to-right
    * on exact-integer doubles and rounded at 6 — the cross-engine parity
    * class. Everything downstream of the pair count is vocabulary-
    * bounded; the final top-N is TakeOrdered, never a global sort. */
  def pmiCollocations(
      df: DataFrame, id: Column, text: Column,
      minCount: Long = 5L, topN: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val pairs = adjacentPairs(df, id, text)
      .select(col("w").as("w1"), col("w2"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
    // unigram counts AS BIGRAM ENDPOINTS (left/right occurrence counts),
    // so P(x), P(y) and P(x,y) share one sample space of N = Σ c_xy
    val leftC = big.groupBy(col("w1")).agg(sum(col("c_xy")).as("c_x"))
    val rightC = big.groupBy(col("w2")).agg(sum(col("c_xy")).as("c_y"))
    val tot = big.agg(sum(col("c_xy")).as("n_pairs"))
    big.filter(col("c_xy") >= minCount)
      .join(leftC, Seq("w1"))
      .join(rightC, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(
        log(col("c_xy")) + log(col("n_pairs"))
          - log(col("c_x")) - log(col("c_y")), 6))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(w.orderBy(
        col("pmi").desc, col("w1").asc, col("w2").asc)).cast("int"))
      .select(col("rank"), col("w1"), col("w2"), col("c_xy"),
        col("c_x"), col("c_y"), col("pmi"))
  }

  /** Dunning log-likelihood keyness (Dunning 1993): for each token, the
    * G² statistic of its rate in sub-corpus A vs sub-corpus B — the
    * standard "what words characterize THIS slice" screen for corpus
    * comparison (a source vs the rest, spam vs ham, one language's
    * contamination in another). `G² = 2·Σ O·ln(O/E)` over the token's
    * 2×2 contingency, computed in the closed x·ln(x) form so the four
    * observed cells (a, b, A−a, B−b) and the margins are the ONLY inputs
    * — all exact integers from one token-count aggregate, with the two
    * corpus totals broadcast as a 1-row frame.
    *
    * Keyness direction is decided by exact integer cross-multiplication
    * (`a·B > b·A`, no float rate compare); G² itself is one float
    * expression per token, rounded at 6 with a token tiebreak before the
    * top-k cut (the PMI/TF-IDF ordering discipline). Scale: everything
    * past the explode is vocabulary-bounded. Returns the `topN` tokens
    * over-represented in A: (rank, term, c_a, c_b, g2). */
  def llrKeyness(
      df: DataFrame, text: Column, isA: Column,
      minCount: Long = 5L, topN: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // x·ln(x) with the 0·ln(0) = 0 limit — every G² term is this shape
    def xlx(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    val toks = df.select(explode(split(trim(lower(text)), "\\s+")).as("term"),
        when(isA, 1L).otherwise(0L).as("in_a"))
      .filter(col("term") =!= "")
    val counts = graft.Mat(toks.groupBy(col("term")).agg(
      sum(col("in_a")).as("c_a"),
      sum(lit(1L) - col("in_a")).as("c_b")))
    val tot = counts.agg(sum(col("c_a")).as("tot_a"), sum(col("c_b")).as("tot_b"))
    counts.filter(col("c_a") + col("c_b") >= minCount)
      .crossJoin(broadcast(tot))
      // G² = 2(Σ xlx(cells) + xlx(N) − Σ xlx(margins)); margins tot_a/
      // tot_b are per-token constants but xlx(tot)−xlx(row margins)
      // varies with the token's split, so keep all terms per row
      .withColumn("g2", round(lit(2.0) * (
        xlx(col("c_a")) + xlx(col("c_b"))
          + xlx(col("tot_a") - col("c_a")) + xlx(col("tot_b") - col("c_b"))
          + xlx(col("tot_a") + col("tot_b"))
          - xlx(col("c_a") + col("c_b"))
          - xlx(col("tot_a") + col("tot_b") - col("c_a") - col("c_b"))
          - xlx(col("tot_a")) - xlx(col("tot_b"))), 6))
      // over-represented in A: a/A > b/B, decided in exact integers
      // (DECIMAL(18,0) factors keep the products under the precision cap)
      .filter(col("c_a").cast("decimal(18,0)") * col("tot_b").cast("decimal(18,0)")
        > col("c_b").cast("decimal(18,0)") * col("tot_a").cast("decimal(18,0)"))
      .orderBy(col("g2").desc, col("term").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(w.orderBy(
        col("g2").desc, col("term").asc)).cast("int"))
      .select(col("rank"), col("term"), col("c_a"), col("c_b"), col("g2"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 — the standard n-gram smoothing): for every
    * observed bigram,
    * `P_KN(w2|w1) = max(c(w1,w2)-D, 0)/c(w1) + D*N1+(w1,.)/c(w1) * P_cont(w2)`
    * with the continuation probability `P_cont(w2) = N1+(.,w2) / B`
    * (types preceding w2 over total bigram types). Unlike the MLE
    * [[bigramLm]], mass is redistributed by how PROMISCUOUS a word's
    * contexts are, not how frequent the word is — the "San Francisco"
    * correction.
    *
    * Every input to the formula is an exact integer count (pair counts,
    * per-w1 totals and continuation-type counts, the global type count),
    * produced by three hash aggregates over ONE bigram-count frame — so
    * any engine replays the arithmetic exactly. `P_cont` is rounded at 9
    * before use and the result at 6 (the cross-engine float-parity
    * class). The type-count frame is a 1-row aggregate broadcast into
    * the final projection. Scale: everything downstream of the pair
    * count is vocabulary-bounded, never corpus-bounded. */
  def kneserNeyBigram(
      df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame = {
    val c = adjacentPairs(df, id, text).groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val fw = c.groupBy(col("w1"))
      .agg(sum(col("cnt")).as("c1"), count(lit(1)).as("n1fw"))
    val bw = c.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val b = c.agg(count(lit(1)).as("n_types"))
    c.join(fw, Seq("w1")).join(bw, Seq("w2")).crossJoin(broadcast(b))
      .withColumn("p_cont", round(col("n1bw") / col("n_types"), 9))
      .withColumn("p_kn", round(
        greatest(col("cnt") - lit(discount), lit(0.0)) / col("c1")
          + lit(discount) * col("n1fw") / col("c1") * col("p_cont"), 6))
      .select(col("w1"), col("w2"), col("cnt"), col("p_kn"))
  }

  /** The Gopher quality-rule battery (Rae et al. 2021, appendix A —
    * public heuristics): per-document pass/fail for each named rule plus
    * the conjunction. Rules and defaults follow the paper: word count in
    * [minWords, maxWords]; mean word length in [3, 10]; symbol-to-word
    * ratio ('#' or '...') <= 0.1; <= 90% of lines starting with a
    * bullet; <= 30% of lines ending in an ellipsis; >= 80% of words
    * containing an alphabetic character; at least 2 distinct members of
    * the 8-word stop list present.
    *
    * Every ratio gate is an integer cross-multiplication (e.g. the 80%
    * alpha rule is `5*n_alpha >= 4*n_words`), so there is no float
    * boundary for an oracle to disagree on. Fully row-local — one
    * projection of HOF folds and regex counts, no explode, no shuffle
    * (plan-guarded). */
  def gopherRules(
      df: DataFrame, id: Column, text: Column,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val words = filter(split(trim(text), "\\s+"), w => w =!= "")
    val lines = split(text, "\n")
    val nWords = size(words)
    val nChars = aggregate(words, lit(0),
      (acc, x) => acc + length(x))
    val nSym = size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
    val nLines = size(lines)
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
    val nEll = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]")))
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStopPresent = stops.map(sw =>
      when(lower(text).rlike("\\b" + sw + "\\b"), 1).otherwise(0))
      .reduce(_ + _)
    val rules = Seq(
      "r_word_count" -> (nWords >= minWords && nWords <= maxWords),
      "r_word_len" -> (nChars >= nWords * 3 && nChars <= nWords * 10),
      "r_symbol" -> (nSym * 10 <= nWords),
      "r_bullet" -> (nBullet * 10 <= nLines * 9),
      "r_ellipsis" -> (nEll * 10 <= nLines * 3),
      "r_alpha" -> (nAlpha * 5 >= nWords * 4),
      "r_stop" -> (nStopPresent >= 2))
    val out = df.select(
      id.as("doc_id") +: nWords.as("n_words") +:
        rules.map { case (n, c) => when(c, 1).otherwise(0).as(n) }: _*)
    out.withColumn("passes",
      rules.map { case (n, _) => col(n) }.reduce(_ * _))
  }

  /** Perplexity-band filtering (the CCNet/ccnet-style quality filter,
    * public technique): score every document by its mean bigram negative
    * log-likelihood under the corpus LM ([[bigramLm]] trained on `lmDf` —
    * pass a reference corpus for held-out scoring, or the same frame for
    * self-scoring) and keep documents under `keepBelow`. Repetitive /
    * formulaic text scores low NLL, gibberish high; the band is the
    * filter.
    *
    * Determinism: per-pair NLL is rounded at 9 and summed as DECIMAL
    * (order-independent); the mean divides once at the end. Docs with
    * fewer than 2 tokens have no bigrams and are not scored. The LM join
    * is an equi join on the pair — data-dependent cardinality, so no
    * forced broadcast (AQE decides). */
  def perplexityFilter(
      df: DataFrame, id: Column, text: Column,
      lmDf: DataFrame, lmId: Column, lmText: Column,
      keepBelow: Double): DataFrame = {
    val lm = bigramLm(lmDf, lmId, lmText)
      .select(col("w1"), col("w2"),
        round(-log(col("p_cond")), 9).cast("decimal(12,9)").as("__nll"))
    val pairs = adjacentPairs(df, id, text)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
    pairs.join(lm, Seq("w1", "w2"), "inner")
      .groupBy(col("doc_id"))
      .agg(sum(col("__nll")).as("__sum"), count(lit(1)).as("n_pairs"))
      .withColumn("avg_nll", round(col("__sum").cast("double") / col("n_pairs"), 6))
      .withColumn("keep", col("avg_nll") <= keepBelow)
      .select(col("doc_id"), col("n_pairs"), col("avg_nll"), col("keep"))
  }

  /** CCNet perplexity bucketing (Wenzek et al. 2020): split every
    * language's documents into head/middle/tail terciles of LM
    * perplexity — the standard recipe for sampling fluent web text
    * (train mostly on the head, audit the tail).
    *
    * Tercile edges come from the DISTINCT-score cumulative, never a
    * corpus-wide sort: scores are round-6 NLLs, so the (lang, score)
    * frame is far smaller than the corpus; `bucket = (docs_below * 3)
    * div n_lang` puts every tie in one bucket and is an exact integer
    * expression both engines replay. Docs with < 2 tokens have no
    * bigrams and are not scored (inherited from [[perplexityFilter]]).
    *
    * Returns the per-(lang, band) rollup: doc counts + NLL range. */
  def ccnetBuckets(
      df: DataFrame, id: Column, text: Column, lang: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val scored = perplexityFilter(df, id, text, df, id, text,
      keepBelow = 1e9).select(col("doc_id"), col("avg_nll"))
    val withLang = df.select(id.as("doc_id"), lang.as("lang"))
      .join(scored, Seq("doc_id"))
    val vals = withLang.groupBy(col("lang"), col("avg_nll"))
      .agg(count(lit(1)).as("cnt"))
    val byLang = w.partitionBy(col("lang"))
    val buckets = vals
      .withColumn("__cumb", sum(col("cnt")).over(
        byLang.orderBy(col("avg_nll"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)) - col("cnt"))
      .withColumn("__n", sum(col("cnt")).over(byLang))
      .withColumn("bucket", expr("CAST((__cumb * 3) div __n AS INT)"))
    withLang
      .join(buckets.select(col("lang"), col("avg_nll"), col("bucket")),
        Seq("lang", "avg_nll"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_nll")).as("min_nll"), max(col("avg_nll")).as("max_nll"))
      .withColumn("band", when(col("bucket") === 0, "head")
        .when(col("bucket") === 1, "middle").otherwise("tail"))
  }

  /** Gopher-style repetition signals per document: the fraction of word
    * n-gram occurrences captured by the single most frequent n-gram
    * (`top{n}gram_frac`), and the fraction of occurrences whose gram
    * appears more than once (`dup{m}gram_frac`) — the standard cheap
    * repetition filters for training corpora (Rae et al. 2021, §A1.1).
    *
    * Relational on purpose: grams are EXPLODED to rows and counted in one
    * hash aggregate with map-side partials (same shape as the MinHash
    * signature build) — the array/HOF form re-evaluates the token array
    * per element once the optimizer collapses projections. Scales: two
    * shuffles keyed on (doc, gram) and doc.
    *
    * Documents with fewer than max(topN, dupN) tokens report zero
    * fractions (no full gram exists). */
  def repetitionMetrics(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      topN: Int = 2, dupN: Int = 3): org.apache.spark.sql.DataFrame = {
    def gramCounts(n: Int) = df
      .select(id.as("doc_id"), split(trim(text), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1))).as("__i"), col("__toks"))
      .select(col("doc_id"),
        array_join(slice(col("__toks"), col("__i"), lit(n)), " ").as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
    val top = gramCounts(topN).groupBy(col("doc_id"))
      .agg((max(col("cnt")).cast("double") / sum(col("cnt"))).as("__top_frac"))
    val dup = gramCounts(dupN).groupBy(col("doc_id"))
      .agg((sum(when(col("cnt") > 1, col("cnt")).otherwise(0)).cast("double")
        / sum(col("cnt"))).as("__dup_frac"))
    df.select(id.as("doc_id"))
      .join(top, Seq("doc_id"), "left").join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("__top_frac"), lit(0.0)), 6).as(s"top${topN}gram_frac"),
        round(coalesce(col("__dup_frac"), lit(0.0)), 6).as(s"dup${dupN}gram_frac"))
  }

  /** Winnowing fingerprints (Schleimer et al., MOSS): hash every char
    * k-gram, slide a window of `w` hashes, keep the minimum per window,
    * dedupe — a position-robust document signature for near-dup /
    * plagiarism-style matching. Emits one (doc_id, fp) row per selected
    * hash.
    *
    * Fully native: every k-gram is hashed in one pass (`hash="poly"` = the
    * O(1)-per-position Rabin–Karp rolling kernel; "md5" = the digest
    * kernel), window minima come from the O(n) monotonic-deque
    * `sliding_min`, and the dedupe is in-row — a row-local projection
    * with NO per-position rows, no doc-keyed shuffle and no WindowExec.
    * What leaves the row is the (small) fingerprint set itself. */
  def winnowFingerprints(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      k: Int, w: Int, hash: String = "md5"): org.apache.spark.sql.DataFrame = {
    require(hash == "md5" || hash == "poly", s"unknown kgram hash kernel: $hash")
    // fanned out: the whole fingerprint computation is row-local work
    // fused into the scan stage — single-task over one-row-group local
    // fixtures, no-op at real scale (A/B at sf0.1: x_winnow 1.7 -> 0.7 s)
    graft.Tables.fanOut(df.filter(length(text) >= k + w - 1))
      .select(id.cast("long").as("doc_id"),
        explode(array_distinct(call_function("sliding_min",
          call_function(s"kgram_${hash}_hashes", text, lit(k)), lit(w)))).as("fp"))
  }

  /** Per-source corpus card — the one-row-per-source report a dataset
    * release ships with (size, token budget, mean quality, language mix,
    * exact-dup rate). One projection over the corpus + one hash
    * aggregate; per-doc quality is summed as DECIMAL (exact,
    * aggregation-order-independent) before the single final division, so
    * the report is engine-replayable bit for bit. */
  def corpusCard(
      df: DataFrame, source: Column, text: Column, nChars: Column): DataFrame = {
    val scored = df.select(source.as("source"), nChars.as("n_chars"),
      tokenCountWs(text).cast("long").as("n_tok"),
      qualityScore(text).cast("decimal(10,6)").as("q"),
      langId(text).as("pred"),
      fingerprint(text).as("fp"))
    val n = count(lit(1))
    scored.groupBy(col("source")).agg(
      n.as("n_docs"),
      sum(col("n_tok")).as("total_tokens"),
      round(sum(col("n_chars")).cast("double") / n, 6).as("avg_chars"),
      round(sum(col("q")).cast("double") / n, 6).as("avg_quality"),
      round(sum(when(col("pred") === "en", 1L).otherwise(0L)) * 100.0 / n, 6)
        .as("pct_pred_en"),
      round((n - countDistinct(col("fp"))) * 100.0 / n, 6).as("dup_rate_pct"))
  }

  /** fastText-style hashed linear classifier INFERENCE (Joulin 2017
    * shape: bag of unigram+bigram features, averaged weights, sigmoid).
    * Weights are not learned here — they come from a deterministic hash
    * of the feature string (`md5int(f) % 2001 - 1000`, i.e. a fixed
    * model table any engine can reproduce), which exercises the exact
    * serving path a real exported model would take (hash → weight
    * lookup → mean → sigmoid) with an engine-replayable model.
    *
    * FULLY row-local: the feature bag, hashing and weight sum all fold
    * inside one projection (HOFs over the token array — no explode, no
    * shuffle, no weight-table join since the "table" is a pure function
    * of the feature). The weight sum is kept in exact integer millis so
    * only the final sigmoid touches floats.
    *
    * Returns (id, n_feats, w_sum, prob rounded to 6, label). */
  def hashedClassifierScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = split(trim(text), "\\s+")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => array_join(slice(toks, i, lit(2)), " ")))
      .otherwise(array().cast("array<string>"))
    val feats = concat(toks, bigrams)
    val wSum = aggregate(feats, lit(0L),
      (acc, f) => acc + (pmod(conv(substring(md5(f), 1, 8), 16, 10).cast("long"),
        lit(2001L)) - lit(1000L)))
    df.select(id.as("doc_id"),
        size(feats).cast("long").as("n_feats"), wSum.as("w_sum"))
      .withColumn("prob", round(
        lit(1.0) / (lit(1.0) +
          exp(-(col("w_sum").cast("double") / (lit(1000.0) * col("n_feats"))))), 6))
      .withColumn("label", col("w_sum") >= 0)
  }

  /** Sliding-window chunking for retrieval / training-sequence prep:
    * fixed `size`-word windows advancing by `stride` words (stride <
    * size ⇒ overlapping context windows, the standard RAG/packing
    * shape). Every word is covered; the final window is the only one
    * allowed to be shorter than `size`; a doc shorter than `size`
    * yields exactly one window. Window count per doc =
    * 1 + ceil(max(nWords - size, 0) / stride).
    *
    * Row-local explode (sequence → posexplode): chunk rows scale with
    * corpus words, never shuffle — at 100 TB this runs inside the scan
    * stage and feeds the embedding/packing stage directly.
    *
    * Returns (doc_id, cidx, start_w, n_w, chunk_md5). */
  def slidingChunks(
      df: DataFrame, id: Column, text: Column, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    val base = df.select(id.cast("long").as("doc_id"),
      split(trim(text), "\\s+").as("__toks"))
      .withColumn("__nw", org.apache.spark.sql.functions.size(col("__toks")))
      .withColumn("__nwin",
        (lit(1L) + (greatest(col("__nw") - size, lit(0)).cast("long") +
          lit(stride - 1L)) / lit(stride.toLong)).cast("int"))
    base.select(col("doc_id"), col("__toks"), col("__nw"),
        posexplode(sequence(lit(0), col("__nwin") - 1)).as(Seq("cidx", "__i")))
      .select(col("doc_id"), col("cidx"),
        (col("cidx") * stride).as("start_w"),
        least(lit(size), col("__nw") - col("cidx") * stride).as("n_w"),
        md5(array_join(slice(col("__toks"), col("cidx") * stride + 1, lit(size)), " "))
          .as("chunk_md5"))
  }

  /** Per-source token-distribution divergence from the corpus — the
    * domain-shift detector for training-mix design (which source is
    * linguistically unlike the rest; CCNet/DoReMi-adjacent diagnostics):
    * KL(P_source || P_corpus) in nats over the FULL corpus vocabulary
    * with Laplace smoothing (+0.5 per term, so terms absent from a
    * source still contribute), plus the single most divergent term per
    * source (argmax of the per-term KL contribution, term-desc
    * tiebreak).
    *
    * Scale: per-(source, term) counts are one hash agg; the smoothed
    * sum needs every (source, vocab-term) cell, built as source-list x
    * vocabulary — the product is vocab-bounded x a dozens-sized source
    * list (never corpus x corpus; neither side force-broadcast). Each
    * ln term rounds at 9 before the sum (libm-drift discipline), the
    * final KL at 6.
    *
    * Returns (source, n_tokens, vocab_size, kl_nats, top_term,
    * top_contrib). */
  def sourceKl(df: DataFrame, source: Column, text: Column): DataFrame = {
    val toks = df.select(source.as("src"),
        explode(split(trim(text), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val st = toks.groupBy(col("src"), col("term")).agg(count(lit(1)).as("c_st"))
    val t = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val s = st.groupBy(col("src")).agg(sum(col("c_st")).as("n_s"))
    val tot = t.agg(sum(col("c_t")).as("n"), count(lit(1)).as("v"))
    val cells = s.crossJoin(t).crossJoin(broadcast(tot))
      .join(st, Seq("src", "term"), "left")
      .withColumn("c_st", coalesce(col("c_st"), lit(0L)))
      .withColumn("p", (col("c_st") + 0.5) / (col("n_s") + col("v") * 0.5))
      .withColumn("q", (col("c_t") + 0.5) / (col("n") + col("v") * 0.5))
      .withColumn("contrib", round(col("p") * log(col("p") / col("q")), 9))
    cells.groupBy(col("src").as("source"))
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("v")).as("vocab_size"),
        round(sum(col("contrib")), 6).as("kl_nats"),
        max(struct(col("contrib"), col("term"))).as("__top"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        col("kl_nats"), col("__top.term").as("top_term"),
        col("__top.contrib").as("top_contrib"))
  }

  /** RefinedWeb-style line-wise corrections (Penedo et al. 2023 §3.2 /
    * App. G: drop nav/boilerplate LINES, then gate the DOCUMENT on how
    * much of it the line pass removed). A pseudo-line here is a fixed
    * non-overlapping `lineWords`-token window (this corpus has no
    * newlines — on real data split by '\n' upstream and feed lines
    * directly). A line is dropped when ANY rule fires:
    *
    *  - fragment:   fewer than `minWords` words (trailing crumbs,
    *                button labels);
    *  - nav-like:   contains NO function word at all ([[stopwords]]) —
    *                menus, tag lists and breadcrumbs are noun soups;
    *  - repetitive: distinct-word ratio below `distinctRatioPct`%
    *                (repeated-token runs, "next next next" pagination).
    *
    * The document survives (`doc_kept = 1`) when removed WORDS are at
    * most `maxRemovedPct`% of the document — past that the page was
    * mostly chrome and the remnant is not trustworthy content. Ratio
    * gates are exact integer cross-multiplications, so any engine
    * replays them bit-for-bit.
    *
    * Scale: fully row-local — one projection over the scan (transform /
    * filter / aggregate HOFs), NO explode, NO shuffle; at 100 TB this
    * runs inside the scan stage ahead of every pairwise operator.
    *
    * Returns (doc_id, n_lines, n_removed_lines, removed_word_frac,
    * doc_kept, kept_text). */
  def lineCorrections(
      df: DataFrame, id: Column, text: Column,
      lineWords: Int, minWords: Int,
      distinctRatioPct: Int, maxRemovedPct: Int): DataFrame = {
    require(lineWords > 0 && minWords > 0, "lineWords/minWords must be positive")
    require(distinctRatioPct >= 0 && distinctRatioPct <= 100, "distinctRatioPct in [0,100]")
    require(maxRemovedPct >= 0 && maxRemovedPct <= 100, "maxRemovedPct in [0,100]")
    val stopArr = array(stopwords.map(lit): _*)
    df.select(id.cast("long").as("doc_id"), split(trim(text), "\\s+").as("__toks"))
      .withColumn("__lines", transform(
        sequence(lit(0), floor((size(col("__toks")) - 1) / lit(lineWords)).cast("int")),
        i => slice(col("__toks"), i * lineWords + 1, lit(lineWords))))
      .withColumn("__kept", filter(col("__lines"), l =>
        !(size(l) < minWords ||
          !arrays_overlap(l, stopArr) ||
          size(array_distinct(l)) * 100 < size(l) * distinctRatioPct)))
      .withColumn("__nw", size(col("__toks")).cast("long"))
      .withColumn("__kw",
        aggregate(col("__kept"), lit(0L), (acc, l) => acc + size(l)))
      .select(
        col("doc_id"),
        size(col("__lines")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__kept"))).cast("long").as("n_removed_lines"),
        round((col("__nw") - col("__kw")) / col("__nw"), 6).as("removed_word_frac"),
        when((col("__nw") - col("__kw")) * 100 <= col("__nw") * maxRemovedPct, 1)
          .otherwise(0).as("doc_kept"),
        array_join(transform(col("__kept"), l => array_join(l, " ")), " ")
          .as("kept_text"))
  }

  /** HTML→text extraction with boilerplate stripping — the FIRST stage
    * of every web-crawl corpus pipeline (the trafilatura/jusText
    * posture, regex-shaped so the same ops run identically under Java
    * regex and RE2): a crawl document must become clean block text
    * BEFORE [[gopherRules]]/[[qualityScore]]/[[lineCorrections]] mean
    * anything.
    *
    * Pipeline (all row-local; shuffle-free; whole-stage codegen):
    *   1. drop `<script>`/`<style>` elements and `<!-- -->` comments
    *      (content and all);
    *   2. mark anchor spans (`<a …>`→\u0001, `</a>`→\u0002) so link
    *      density survives tag stripping;
    *   3. block segmentation: `<br>` and open/close of the block-level
    *      tags (p, div, h1-h6, li, ul, ol, tr, table, section, article,
    *      header, footer, nav, blockquote, pre) become newlines;
    *   4. strip every remaining tag; decode the six common entities
    *      (&amp;nbsp; &amp;lt; &amp;gt; &amp;quot; &amp;#39; — &amp;amp;
    *      LAST, the standard order);
    *   5. per block: word count and LINK-word count (words inside
    *      matched \u0001…\u0002 spans; a span left open by interleaved
    *      block tags counts as plain text — documented tolerance);
    *   6. boilerplate gate (jusText-style): keep a block iff it has at
    *      least `minWords` words AND link words are at most `maxLinkPct`
    *      percent of its words.
    *
    * Returns one row per doc: (doc_id, n_blocks, n_kept_blocks, n_words,
    * n_kept_words, n_link_words, text) where `text` is the kept blocks'
    * whitespace-normalized words, blocks joined by newlines. Blocks with
    * zero words are not counted. Source newlines are whitespace (only
    * TAG-derived newlines segment blocks — the HTML rendering model) and
    * a `<` not followed by a letter/`!`/`/` is literal text, never a tag
    * start (the HTML5 tokenizer rule — `2 < 3` survives extraction).
    * Extraction is total: malformed markup degrades, never fails. */
  def htmlExtract(
      df: DataFrame, id: Column, html: Column,
      minWords: Int = 3, maxLinkPct: Int = 50): DataFrame = {
    require(minWords >= 1, s"minWords must be positive, got $minWords")
    require(maxLinkPct >= 0 && maxLinkPct <= 100, s"maxLinkPct in [0,100]: $maxLinkPct")
    val oneLine = regexp_replace(html, "[\\r\\n\\t]", " ")
    val noScript = regexp_replace(oneLine, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val aOpen = regexp_replace(noComment, "(?i)<a\\b[^>]*>", "\u0001")
    val aClose = regexp_replace(aOpen, "(?i)</a>", "\u0002")
    val br = regexp_replace(aClose, "(?i)<br\\b[^>]*>", "\n")
    val seg = regexp_replace(br,
      "(?i)</?(p|div|h[1-6]|li|ul|ol|tr|table|section|article|header|footer|nav|blockquote|pre)\\b[^>]*>",
      "\n")
    val stripped = regexp_replace(seg, "(?s)</?[A-Za-z][^>]*>|<![^>]*>", " ")
    // entity decode AFTER stripping (decoded &lt;div&gt; must stay text,
    // not become a strippable tag); &amp; decodes last
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(stripped) { case (c, (ent, rep)) => regexp_replace(c, ent, rep) }
    def words(b: Column): Column =
      filter(split(regexp_replace(b, "[\u0001\u0002]", ""), "\\s+"),
        t => t =!= "")
    def linkWords(b: Column): Column =
      size(flatten(transform(
        regexp_extract_all(b, lit("\u0001[^\u0002]*\u0002"), lit(0)),
        sp => words(sp))))
    df.select(id.cast("long").as("doc_id"), decoded.as("__dec"))
      .withColumn("__blk", filter(
        transform(split(col("__dec"), "\n"),
          b => struct(words(b).as("w"), linkWords(b).as("lw"))),
        s => size(s.getField("w")) > 0))
      .withColumn("__kept", filter(col("__blk"), s =>
        size(s.getField("w")) >= minWords &&
          s.getField("lw") * 100 <= size(s.getField("w")) * maxLinkPct))
      .select(
        col("doc_id"),
        size(col("__blk")).as("n_blocks"),
        size(col("__kept")).as("n_kept_blocks"),
        aggregate(col("__blk"), lit(0L),
          (a, s) => a + size(s.getField("w")).cast("long")).as("n_words"),
        aggregate(col("__kept"), lit(0L),
          (a, s) => a + size(s.getField("w")).cast("long")).as("n_kept_words"),
        aggregate(col("__blk"), lit(0L),
          (a, s) => a + s.getField("lw").cast("long")).as("n_link_words"),
        array_join(transform(col("__kept"),
          s => array_join(s.getField("w"), " ")), "\n").as("text"))
  }

  /** PII categories scrubbed by [[piiRedact]], in application order:
    * (name, pattern, replacement token). Patterns avoid lookaround so the
    * same regex runs identically under Java regex and RE2. Order matters —
    * each category is counted/redacted on the text with all PREVIOUS
    * categories already replaced, so overlapping digit shapes (an email's
    * local part, a card run inside a longer number) are unambiguous. */
  private val piiCategories: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", "\\b\\d{16}\\b", "<CARD>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Luhn checksum validity of a fixed-width 16-digit string column:
    * from the rightmost digit, every second digit is doubled (minus 9
    * when the double exceeds 9) and the total must divide by 10. One
    * in-row HOF fold — no explode, no UDF. */
  def luhnValid16(m: Column): Column = {
    val total = aggregate(sequence(lit(0), lit(15)), lit(0), (acc, i) => {
      val dgt = m.substr(i + lit(1), lit(1)).cast("int")
      val dbl = dgt * 2
      acc + when(pmod(lit(15) - i, lit(2)) === 1,
        when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(dgt)
    })
    pmod(total, lit(10)) === 0
  }

  /** Code-vs-prose detection — the corpus-mixing gate every LLM data
    * pipeline runs to route documents into code/text streams (and to
    * keep markup out of "natural language" buckets). Five independent
    * row-local signals, each an integer cross-multiplication gate (no
    * float boundaries), with a 2-of-5 majority verdict:
    *
    *   - `s_symbol`:  code punctuation ({}();=<>[]) > 3% of chars
    *   - `s_semi`:    >= 20% of lines end with `;`, `{` or `}`
    *   - `s_indent`:  >= 30% of non-blank lines start with 2+ spaces/tab
    *   - `s_camel`:   >= 5% of words are camelCase/snake_case identifiers
    *   - `s_kw`:      >= 2 distinct code keywords present
    *
    * Pure `Column` expressions (regex + HOF folds) — shuffle-free,
    * codegen'd, a scan-side projection at 100 TB. */
  def codeDetect(df: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = split(text, "\n")
    val nonBlank = filter(lines, l => length(trim(l)) > 0)
    val words = filter(split(trim(text), "\\s+"), w => w =!= "")
    val nChars = length(text)
    val nSym = size(regexp_extract_all(text, lit("[{}();=<>\\[\\]]"), lit(0)))
    val nLines = size(nonBlank)
    val nSemiEnd = size(filter(nonBlank, l => l.rlike("[;{}]\\s*$")))
    val nIndent = size(filter(nonBlank, l => l.rlike("^(  |\\t)")))
    val nWords = size(words)
    val nIdent = size(filter(words,
      w => w.rlike("^[a-z]+([A-Z][A-Za-z0-9]*|_[a-z0-9_]+)$")))
    val kws = Seq("def", "class", "return", "import", "void", "public",
      "function", "var")
    val nKw = kws.map(k =>
      when(text.rlike("\\b" + k + "\\b"), 1).otherwise(0)).reduce(_ + _)
    val signals = Seq(
      "s_symbol" -> (nSym * 100 > nChars * 3),
      "s_semi" -> (nSemiEnd * 10 >= nLines * 2 && nLines > 0),
      "s_indent" -> (nIndent * 10 >= nLines * 3 && nLines > 0),
      "s_camel" -> (nIdent * 20 >= nWords && nWords > 0),
      "s_kw" -> (nKw >= 2))
    val out = df.select(
      id.as("doc_id") +: nChars.as("n_chars") +:
        signals.map { case (n, c) => when(c, 1).otherwise(0).as(n) }: _*)
    out.withColumn("is_code",
      when(signals.map { case (n, _) => col(n) }.reduce(_ + _) >= 2, 1)
        .otherwise(0))
  }

  /** PII detection + redaction report — the scrubbing pass every
    * training-data pipeline runs before tokenization (emails, credit
    * cards, SSNs, phone numbers, IPv4 addresses; the public CCNet/Dolma
    * cleanup set). Categories are applied SEQUENTIALLY per
    * [[piiCategories]]; card candidates are additionally Luhn-checked
    * ([[luhnValid16]]) so `n_card_valid <= n_card` separates real card
    * numbers from random 16-digit runs.
    *
    * Everything is a pure `Column` expression (regexp + HOF folds):
    * row-local, shuffle-free, whole-stage-codegen'd — at 100 TB this is
    * a scan-side projection with zero exchanges. */
  def piiRedact(df: DataFrame, id: Column, text: Column): DataFrame = {
    var cur = df.select(id.as("doc_id"), text.as("__t0"))
    piiCategories.zipWithIndex.foreach { case ((name, pat, repl), i) =>
      val t = col(s"__t$i")
      cur = cur
        .withColumn(s"n_$name",
          size(regexp_extract_all(t, lit(pat), lit(0))))
        .withColumn(s"__t${i + 1}", regexp_replace(t, pat, repl))
      if (name == "card")
        cur = cur.withColumn("n_card_valid",
          size(filter(regexp_extract_all(t, lit(pat), lit(0)),
            m => luhnValid16(m))))
    }
    val counts = piiCategories.map { case (n, _, _) => col(s"n_$n") }
    cur.select(
      col("doc_id") +: counts :+
        col("n_card_valid") :+
        counts.reduce(_ + _).as("n_pii") :+
        length(col("__t0")).as("orig_len") :+
        length(col(s"__t${piiCategories.size}")).as("redacted_len"): _*)
  }
}
