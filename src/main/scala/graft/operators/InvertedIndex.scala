package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inverted index (posting lists) over a text corpus — the retrieval-side
  * twin of the dedup/similarity operators: term -> document frequency,
  * collection frequency, and a bounded posting list.
  *
  * Scale shape: one explode of the corpus into (doc, term) pairs, then two
  * hash aggregates with map-side partials — the same posture as TF-IDF.
  * The posting list is CAPPED at `maxPostings` ids (lowest doc ids first,
  * deterministic): full postings for a stop-word-like term would be a
  * corpus-sized array in one row — the classic hot-key explosion — so the
  * bounded prefix plus the exact df/cf counts is the 100 TB-safe contract.
  * Callers needing full postings for a term range filter first and explode
  * the pairs frame instead.
  */
object InvertedIndex {

  /** (doc_id, term, tf) pairs — whitespace tokenization, blanks dropped. */
  def termPairs(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.cast("long").as("doc_id"),
        explode(split(trim(text), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The index: term -> df (documents containing it), cf (total
    * occurrences), and the first `maxPostings` doc ids ascending as a
    * comma-joined string (canonical scalar form — hash-comparable across
    * engines, no array columns in the output). */
  def build(df: DataFrame, id: Column, text: Column, maxPostings: Int): DataFrame =
    termPairs(df, id, text)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, maxPostings), ",")
          .as("postings"))

  /** Positional phrase search: documents containing `phrase` as adjacent
    * tokens, with occurrence counts. The token stream is pruned to the
    * phrase's terms BEFORE any join, then adjacency chains through
    * (doc, pos + i) equi self-joins — positional-postings intersection,
    * |postings of phrase terms| joined rows, never corpus-sized. */
  def phraseSearch(df: DataFrame, id: Column, text: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val toks = df.select(id.cast("long").as("doc_id"),
        posexplode(split(trim(text), "\\s+")).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase: _*))
    val head = toks.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("p0"))
    val matched = phrase.zipWithIndex.tail.foldLeft(head) { case (acc, (w, i)) =>
      val next = toks.filter(col("term") === w)
        .select(col("doc_id"), col("pos").as(s"p$i"))
      acc.join(next, Seq("doc_id")).filter(col(s"p$i") === col("p0") + i)
    }
    matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_occurrences"))
  }

  /** BM25 top-k retrieval for a fixed bag-of-words query (the standard
    * lexical ranking function; Robertson & Zaragoza 2009):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len_d/avgdl))
    *   idf(t)   = ln( (N − df + 0.5) / (df + 0.5) + 1 )   (always ≥ 0)
    *
    * Scale shape: the token stream is scanned ONCE for per-doc lengths
    * (a column expression — no explode) and once more for the tf of the
    * few query terms (`isin` prunes before the aggregate, so the tf
    * frame is |query| × matching docs, not corpus × vocabulary). N and
    * avgdl ride a 1-row broadcast (the scalar-subquery shape); df joins
    * on the query-term key. Scores are rounded at 6 with a doc-id
    * tiebreak so ranks are engine-stable. */
  def bm25TopK(
      df: DataFrame, id: Column, text: Column,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = df.select(id.cast("long").as("doc_id"),
      graft.functions.TextFunctions.tokenCountWs(text).cast("double").as("dl"),
      text.as("__text"))
    val stats = broadcast(docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")))
    val tf = docs
      .select(col("doc_id"), col("dl"),
        explode(split(trim(col("__text")), "\\s+")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(stats)
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))
    // top-k via sort+limit (TakeOrderedAndProject — no global shuffle of
    // the scored frame); the rank window then runs over k rows only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy(col("score").desc, col("doc_id").asc)
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w))
  }

  /** Heaps'-law vocabulary-growth fit — the [[zipfFit]] companion corpus
    * health check: V(N) ≈ K·N^β (β ~ 0.4-0.6 for natural text; β near 1
    * = unbounded novel vocabulary, near 0 = templated). Checkpoints are
    * the n/2^j doc-count prefixes of the doc_id order; for each, the
    * cumulative token count N(c) and distinct-term count V(c) (a term
    * counts from its FIRST doc rank — one min-aggregate, so prefixes
    * never re-scan), then closed-form OLS of ln V on ln N, the zipfFit
    * regression discipline (log terms round at 9).
    *
    * Scale shape: doc ranks are [[Windows.globalRunningSums]] of a
    * constant 1, whose grand total is the doc count n; the ≤ 6
    * checkpoints are computed from n on the driver and joined as a
    * literal frame, so prefix aggregation is two small fan-out joins —
    * never a running sort. Returns one row per checkpoint:
    * (checkpoint_docs, n_tokens, n_terms, beta, k_factor). */
  def heapsLaw(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tp = termPairs(df, id, text)
    val perDoc = tp.groupBy(col("doc_id")).agg(sum(col("tf")).as("ntok"))
    val (ranked, Seq(n)) =
      Windows.globalRunningSums(perDoc, "doc_id", Nil, Seq(lit(1L) -> "rank"))
    val spark = perDoc.sparkSession
    import spark.implicits._
    val cps = broadcast((0 to 5).map(j => n / (1L << j)).filter(_ >= 2).distinct.toDF("c"))
    val nC = ranked.crossJoin(cps).filter(col("rank") <= col("c"))
      .groupBy(col("c")).agg(sum(col("ntok")).as("ntoks"))
    // first-rank histogram (one row per distinct first rank — ≤ n docs)
    // keeps the vocabulary out of the checkpoint fan-out
    val frHist = tp.join(ranked.select(col("doc_id"), col("rank")), Seq("doc_id"))
      .groupBy(col("term")).agg(min(col("rank")).as("fr"))
      .groupBy(col("fr")).agg(count(lit(1)).as("nt"))
    val vC = frHist.crossJoin(cps).filter(col("fr") <= col("c"))
      .groupBy(col("c")).agg(sum(col("nt")).as("v"))
    val pts = graft.Mat(nC.join(vC, Seq("c"))
      .select(col("c"), col("ntoks"), col("v"),
        round(log(col("ntoks").cast("double")), 9).as("x"),
        round(log(col("v").cast("double")), 9).as("y")))
    val fit = pts.agg(count(lit(1)).cast("double").as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")) /
      (col("k") * col("sxx") - col("sx") * col("sx"))
    pts.crossJoin(broadcast(fit.select(
        round(slope, 6).as("beta"),
        round(exp((col("sy") - slope * col("sx")) / col("k")), 6).as("k_factor"))))
      .select(col("c").as("checkpoint_docs"), col("ntoks").as("n_tokens"),
        col("v").as("n_terms"), col("beta"), col("k_factor"))
  }

  /** Zipf power-law fit of the corpus frequency spectrum (corpus health
    * check: natural text fits alpha ~ 1, synthetic/templated corpora
    * deviate): closed-form OLS of ln(freq) on ln(rank) over the
    * vocabulary. Ranks ride [[Windows.globalRowNumber]]'s two-pass
    * machinery (no single-partition sort); the regression itself is ONE
    * aggregate of five sums — distributed exact least squares, no
    * iterative fitting. Log terms round at 9 (the iterative-algorithm
    * rounding discipline) so engine libm ulp differences can't seep
    * into the sums.
    *
    * Returns 1 row: (n_terms, alpha, intercept, r2). */
  def zipfFit(df: DataFrame, id: Column, text: Column): DataFrame = {
    val freq = termPairs(df, id, text)
      .groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .withColumn("neg_cnt", -col("cnt"))
    val ranked = Windows.globalRowNumber(freq, "neg_cnt", Seq(col("term")), "rank")
    val pts = ranked.select(
      round(log(col("rank").cast("double")), 9).as("x"),
      round(log(col("cnt").cast("double")), 9).as("y"))
    val sm = pts.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    sm.select(col("n").cast("long").as("n_terms"),
      round(-slope, 6).as("alpha"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")) *
             (col("n") * col("sxy") - col("sx") * col("sy"))) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }
}
