package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer application and sequence packing — the last relational steps
  * before a training corpus leaves the engine as fixed-length sequences.
  */
object Tokenize {

  /** Corpus-induced vocabulary: the `v` most frequent terms by collection
    * frequency (ties broken by term), ids 0..v-1 in (cf desc, term) order.
    * Top-v is sort+limit (TakeOrderedAndProject); the id window then runs
    * over v rows — vocabulary-sized, not corpus-sized. */
  def vocabTopN(df: DataFrame, id: Column, text: Column, v: Int): DataFrame = {
    val cf = InvertedIndex.termPairs(df, id, text)
      .groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val w = Window.partitionBy().orderBy(col("cf").desc, col("term").asc)
    cf.orderBy(col("cf").desc, col("term").asc).limit(v)
      .withColumn("tok_id", row_number().over(w).cast("long") - 1)
  }

  /** Encode each document as its token-id sequence under `vocab`
    * (out-of-vocabulary -> -1), comma-joined in position order (canonical
    * scalar output). The vocab side is bounded by construction -> AQE
    * broadcasts the join; the corpus side shuffles once on doc_id for the
    * ordered re-assembly. */
  def encodeWithVocab(df: DataFrame, id: Column, text: Column, vocab: DataFrame): DataFrame =
    df.select(id.cast("long").as("doc_id"),
        posexplode(split(trim(text), "\\s+")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .join(vocab.select(col("term"), col("tok_id")), Seq("term"), "left")
      .withColumn("tok_id", coalesce(col("tok_id"), lit(-1L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok_id")))),
          s => s.getField("tok_id")), ",").as("token_ids"))

  /** BPE vocabulary induction, `nMerges` merge steps (Sennrich et al.
    * 2016), fully deterministic and engine-replayable:
    *
    *  - a word is its space-joined symbol string (chars initially);
    *  - each step counts adjacent symbol pairs weighted by word
    *    frequency, picks the heaviest pair (weight desc, then pair
    *    lexicographic — a total order), and merges its non-overlapping
    *    occurrences left-to-right in every word;
    *  - the merge itself is a plain string replace — non-overlapping
    *    left-to-right in Spark and DuckDB alike, which is EXACTLY the
    *    BPE merge contract, so the whole trajectory replays in SQL with
    *    no UDFs. Symbols are joined with TWO spaces internally: with
    *    single spaces, consecutive occurrences ("a b a b") share the
    *    boundary space and the second would escape the replace; with
    *    double separators each match consumes one space from each side
    *    and the replacement restores them, so every occurrence merges.
    *
    * Scale shape per step: one explode of the distinct-word frame (not
    * the corpus — frequencies were aggregated once), one pair count with
    * map-side partials, a 1-row TakeOrdered winner broadcast back, one
    * projection. `nMerges` is a small constant by contract (real BPE
    * training runs the loop to 30-50k merges — at that point each step
    * is this same plan, so the shape holds; the lineage then needs a
    * materializer every few hundred steps).
    *
    * Returns (word, freq, seg) — each word's segmentation after all
    * merges. */
  def bpeMerges(
      df: DataFrame, id: Column, text: Column, nMerges: Int): DataFrame =
    bpeMerges(df, id, text, nMerges, matEvery = 0)

  /** `matEvery > 0` truncates the lineage every that-many merge steps
    * (localCheckpoint of the small vocab frame). Each step consumes the
    * previous frame TWICE (pair weights + the rewrite input), so an
    * unmaterialized run re-evaluates the tail 2^steps times — for deep
    * runs (real BPE training is hundreds of merges) `matEvery = 1` is
    * the right setting: one constant-shape job per step, plan depth and
    * recompute both bounded. `0` (never) is only for shallow demos. */
  def bpeMerges(
      df: DataFrame, id: Column, text: Column, nMerges: Int,
      matEvery: Int): DataFrame = {
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    var words = InvertedIndex.termPairs(df, id, text)
      .groupBy(col("term").as("word")).agg(sum(col("tf")).as("freq"))
      .withColumn("seg", concat_ws("  ", split(col("word"), "")))
    for (step <- 1 to nMerges) {
      val pairs = words
        .select(col("word"), col("freq"),
          posexplode(split(col("seg"), "  ")).as(Seq("pos", "sym")))
        .withColumn("nxt", lead(col("sym"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum(col("freq")).as("wgt"))
      val top = pairs.orderBy(col("wgt").desc, col("a").asc, col("b").asc).limit(1)
        .select(col("a"), col("b"))
      words = words.crossJoin(broadcast(top))
        .withColumn("seg", trim(expr(
          "replace(concat(' ', seg, ' '), concat(' ', a, '  ', b, ' '), concat(' ', a, b, ' '))")))
        .drop("a", "b")
      if (matEvery > 0 && step % matEvery == 0 && step < nMerges)
        words = graft.Mat(words) // cluster-durable via SPARK_GRAFT_MAT=persist
    }
    words.withColumn("seg", regexp_replace(col("seg"), " {2}", " "))
  }

  /** SentencePiece-style UNIGRAM LM tokenizer (Kudo 2018) — the other
    * major subword family next to [[bpeMerges]]. Vocabulary = all single
    * characters (segmentability guarantee) plus the `vocabSize` most
    * frequent multi-character substrings up to `maxPieceLen` (frequency
    * weighted by word frequency; ties broken by piece). Initial piece
    * log-probabilities are frequency-normalized over the selected vocab;
    * [[unigramVocab]] then runs `emIters` hard-EM rounds (Viterbi E-step,
    * Laplace-smoothed count M-step — +0.5 over the fixed vocab keeps every
    * piece defined and the segmentation total).
    *
    * Viterbi is a STATIC `maxWordLen`-step loop over prefix lengths: step
    * `p` extends the best path at positions `p-maxPieceLen..p-1` by the
    * connecting substring piece (an equi join against the broadcast
    * vocab), and the per-word winner is one deterministic
    * `max(struct(score, -j))` aggregate — highest rounded score, then the
    * longest last piece. Scores round at 9 every step, so both the
    * trajectory and the argmax replay exactly in any engine (the DuckDB
    * oracle is a generated CTE chain, one per prefix length, mirroring
    * x_bpe_deep).
    *
    * Scale: the corpus is touched ONCE (the word-frequency aggregate);
    * everything after — candidates, vocab, every DP step — is bounded by
    * the distinct-word frame and the vocabulary, never corpus rows. Words
    * longer than `maxWordLen` are excluded by contract (real tokenizers
    * route them to a byte-level fallback); the loop count is static so
    * the oracle's CTE chain matches at every scale factor. */
  private def unigramWords(
      df: DataFrame, id: Column, text: Column, maxWordLen: Int): DataFrame =
    InvertedIndex.termPairs(df, id, text)
      .groupBy(col("term").as("word")).agg(sum(col("tf")).as("freq"))
      .filter(length(col("word")) <= maxWordLen)

  /** Total word frequency per piece over every substring (up to
    * `maxPieceLen` chars) of the distinct-word frame; `piece(st, sub)`
    * turns the substring that starts at 1-based char `st` into its
    * vocabulary piece. */
  private def pieceFreqs(words: DataFrame, maxPieceLen: Int)(
      piece: (Column, Column) => Column): DataFrame =
    words.select(col("freq"), explode(flatten(
      transform(sequence(lit(1), length(col("word"))), st =>
        transform(
          sequence(lit(1), least(lit(maxPieceLen),
            length(col("word")) - st + 1)),
          ln => piece(st, col("word").substr(st, ln)))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("pfreq"))

  private def unigramInitVocab(
      words: DataFrame, maxPieceLen: Int, vocabSize: Int): DataFrame = {
    val subs = pieceFreqs(words, maxPieceLen)((_, sub) => sub)
    val singles = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("pfreq").desc, col("piece").asc).limit(vocabSize)
    val v = singles.unionByName(multi)
    val tot = v.agg(sum(col("pfreq")).as("vtot"))
    v.crossJoin(broadcast(tot))
      .select(col("piece"),
        round(log(col("pfreq") / col("vtot")), 9).as("logp"))
  }

  private def unigramViterbi(
      words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    // The WHOLE Viterbi DP runs in-row: words are <= maxWordLen chars and
    // the vocab travels as one broadcast map column, so the position
    // recurrence is a row-local HOF fold (the winnow-kernel posture) —
    // one shuffle-free projection per pass instead of maxWordLen
    // sequential jobs (a 16-step frame-per-position loop measured ~8 s of
    // pure scheduling overhead on a 31-word corpus; this shape is one
    // job). Same math as the per-frame formulation: scores round at 9
    // every step, winner = max by (score, -j) = highest score then the
    // longest connecting piece, so the generated CTE-chain oracle replays
    // it exactly.
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("logp"))))
        .as("__vmap"))
    val base = words.crossJoin(broadcast(vmap))
    val dpArr = aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0.0).as("s"), lit(0).as("j"))),
      (acc, p) => {
        val js = sequence(greatest(p - maxPieceLen, lit(0)), p - 1)
        val cands = transform(js, j => struct(
          round(element_at(acc, j + 1).getField("s")
            + element_at(col("__vmap"), col("word").substr(j + 1, p - j)), 9)
            .as("s"),
          (-j).as("negj"), j.as("j")))
        val valid = filter(cands, c => c.getField("s").isNotNull)
        val b = array_max(valid)
        concat(acc, array(struct(b.getField("s").as("s"),
          b.getField("j").as("j"))))
      })
    val withDp = base.withColumn("__dp", dpArr)
    // backtrack: walk j-pointers from the full-word position; bounded by
    // maxWordLen steps, all in-row
    val pieces = aggregate(
      sequence(lit(1), lit(maxWordLen)),
      struct(length(col("word")).as("pos"),
        array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val j = element_at(col("__dp"), pos + 1).getField("j")
        when(pos > 0, struct(j.as("pos"),
          concat(array(col("word").substr(j + 1, pos - j)),
            acc.getField("ps")).as("ps")))
          .otherwise(acc)
      })
    withDp
      .withColumn("__bt", pieces)
      .select(col("word"), col("freq"),
        element_at(col("__dp"), length(col("word")) + 1).getField("s")
          .as("score"),
        array_join(col("__bt").getField("ps"), " ").as("pieces"))
  }

  private def unigramMStep(segs: DataFrame, vocab: DataFrame): DataFrame = {
    val counts = segs
      .select(col("freq"), explode(split(col("pieces"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("uses"))
    val joined = vocab.select(col("piece"))
      .join(counts, Seq("piece"), "left")
      .withColumn("n_uses", coalesce(col("uses"), lit(0L)))
    val tot = joined.agg(sum(col("n_uses")).as("tot"),
      count(lit(1)).as("v"))
    joined.crossJoin(broadcast(tot))
      .select(col("piece"), col("n_uses"),
        round(log((col("n_uses") + lit(0.5))
          / (col("tot") + lit(0.5) * col("v"))), 9).as("logp"),
        round((col("n_uses") + lit(0.5))
          / (col("tot") + lit(0.5) * col("v")), 6).as("p"))
  }

  /** Per-word Viterbi segmentation under the frequency-seeded unigram
    * vocab (no EM): (word, freq, n_pieces, seg, score). */
  def unigramSegment(
      df: DataFrame, id: Column, text: Column,
      maxPieceLen: Int, vocabSize: Int, maxWordLen: Int = 16): DataFrame = {
    val words = unigramWords(df, id, text, maxWordLen)
    val v0 = graft.Mat(unigramInitVocab(words, maxPieceLen, vocabSize))
    unigramViterbi(words, v0, maxPieceLen, maxWordLen)
      .select(col("word"), col("freq"),
        size(split(col("pieces"), " ")).as("n_pieces"),
        col("pieces").as("seg"), col("score"))
  }

  /** The unigram vocabulary after `emIters` hard-EM rounds:
    * (piece, n_uses, p) — usage-count re-estimated piece probabilities,
    * Laplace-smoothed over the fixed vocab. */
  def unigramVocab(
      df: DataFrame, id: Column, text: Column,
      maxPieceLen: Int, vocabSize: Int, emIters: Int,
      maxWordLen: Int = 16): DataFrame = {
    val words = graft.Mat(unigramWords(df, id, text, maxWordLen))
    var v = graft.Mat(unigramInitVocab(words, maxPieceLen, vocabSize))
    var out: DataFrame = null
    for (_ <- 1 to emIters) {
      val segs = unigramViterbi(words, v, maxPieceLen, maxWordLen)
      out = graft.Mat(unigramMStep(segs, v))
      v = out
    }
    out.select(col("piece"), col("n_uses"), col("p"))
  }

  /** Tokenizer-application stats for the unigram family — the
    * [[bpeEncodeStats]] twin: train the unigram vocab (`emIters` hard-EM
    * rounds), Viterbi-encode the distinct-word frame under the final
    * probabilities, and report per-`group` fertility (tokens/word) and
    * chars/token. Corpus rows are never touched word-by-word: encoding
    * is one equi join of per-(group, word) occurrence counts against the
    * segmentation frame. Words longer than `maxWordLen` are outside the
    * tokenizer's contract and drop from the stats on both sides. */
  def unigramEncodeStats(
      df: DataFrame, id: Column, text: Column, group: Column,
      maxPieceLen: Int, vocabSize: Int, emIters: Int,
      maxWordLen: Int = 16): DataFrame = {
    val words = graft.Mat(unigramWords(df, id, text, maxWordLen))
    var v = graft.Mat(unigramInitVocab(words, maxPieceLen, vocabSize))
    for (_ <- 1 to emIters)
      v = graft.Mat(unigramMStep(unigramViterbi(words, v, maxPieceLen, maxWordLen), v))
    val enc = unigramViterbi(words, v, maxPieceLen, maxWordLen)
      .select(col("word"), size(split(col("pieces"), " ")).as("n_sym"))
    encodeStats(df, text, group, enc)
  }

  /** WordPiece tokenizer (Wu et al. 2016; the BERT family) — the third
    * subword family next to [[bpeMerges]] and [[unigramSegment]], with the
    * defining differences: continuation pieces are FORM-MARKED (`##`-
    * prefixed, so "ing" word-initially and "##ing" word-internally are
    * distinct vocabulary entries), and encoding is GREEDY longest-match-
    * first rather than merge-replay (BPE) or Viterbi (unigram).
    *
    * Vocabulary: every single character in both forms (segmentability
    * guarantee — greedy can never get stuck) plus the `vocabSize` most
    * frequent multi-character pieces up to `maxPieceLen`, frequency
    * weighted by word frequency, ties broken by piece.
    *
    * The greedy loop runs IN-ROW (the [[unigramViterbi]] posture): the
    * vocab travels as one broadcast map column and the position advance
    * is a `maxWordLen`-step HOF fold — at each step the descending-length
    * candidate list is probed against the map and the first hit is taken.
    * One shuffle-free projection over the distinct-word frame; the corpus
    * is touched only for word counts. Words longer than `maxWordLen` are
    * outside the contract (byte-fallback territory), as in the unigram
    * family.
    *
    * Returns (word, freq, n_pieces, wp_seg) — wp_seg space-joined marked
    * pieces, e.g. "un ##sett ##ling". */
  def wordPieceSegment(
      df: DataFrame, id: Column, text: Column,
      maxPieceLen: Int, vocabSize: Int, maxWordLen: Int = 16): DataFrame = {
    val words = unigramWords(df, id, text, maxWordLen)
    val v = graft.Mat(wordPieceVocab(words, maxPieceLen, vocabSize))
    val vmap = v.agg(
      map_from_entries(collect_list(struct(col("piece"), lit(1)))).as("__vmap"))
    val base = words.crossJoin(broadcast(vmap))
    val enc = aggregate(
      sequence(lit(1), lit(maxWordLen)),
      struct(lit(0).as("pos"), array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val rem = length(col("word")) - pos
        val lens = sequence(least(lit(maxPieceLen), rem), lit(1), lit(-1))
        val cands = transform(lens, ln =>
          when(pos === 0, col("word").substr(pos + 1, ln))
            .otherwise(concat(lit("##"), col("word").substr(pos + 1, ln))))
        // singles of both forms are always in the vocab, so the first
        // (= longest) hit exists whenever rem > 0
        val best = element_at(
          filter(cands, c => element_at(col("__vmap"), c).isNotNull), 1)
        when(rem > 0, struct(
          (pos + length(best) - when(pos > 0, lit(2)).otherwise(lit(0))).as("pos"),
          concat(acc.getField("ps"), array(best)).as("ps")))
          .otherwise(acc)
      })
    base.withColumn("__e", enc)
      .select(col("word"), col("freq"),
        size(col("__e").getField("ps")).as("n_pieces"),
        array_join(col("__e").getField("ps"), " ").as("wp_seg"))
  }

  /** WordPiece vocabulary over the distinct-word frame: all single
    * characters in both forms + top `vocabSize` multi-char pieces by
    * (frequency desc, piece). A "single" is marked-length 1 (initial) or
    * 3 (`##c` continuation). */
  private def wordPieceVocab(
      words: DataFrame, maxPieceLen: Int, vocabSize: Int): DataFrame = {
    val subs = pieceFreqs(words, maxPieceLen)((st, sub) =>
      when(st === 1, sub).otherwise(concat(lit("##"), sub)))
    val isSingle = length(col("piece")) === 1 ||
      (col("piece").startsWith("##") && length(col("piece")) === 3)
    val singles = subs.filter(isSingle)
    val multi = subs.filter(!isSingle)
      .orderBy(col("pfreq").desc, col("piece").asc).limit(vocabSize)
    singles.unionByName(multi).select(col("piece"), col("pfreq"))
  }

  /** Deterministic sequence packing: within each `group` (a source, a
    * shard), documents in `orderCol` order fill fixed-budget sequences of
    * `seqLen` tokens; a document lands in the sequence its RUNNING token
    * total (exclusive) falls into. One window over the group — the
    * relational approximation of greedy packing that any engine can
    * replay (no per-bin mutable state). Documents longer than `seqLen`
    * still get a bin (they'd be split downstream). */
  def seqPack(
      df: DataFrame, group: Column, orderCol: Column, nTokens: Column,
      seqLen: Int): DataFrame = {
    val w = Window.partitionBy(group).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(nTokens).over(w))
      .withColumn("seq_id", floor((col("__cum") - nTokens) / seqLen).cast("long"))
      .drop("__cum")
  }

  /** Tokenizer APPLICATION stats — the stage after [[bpeMerges]] learns
    * a vocabulary: encode the whole corpus under the learned merges and
    * report per-`group` (a language, a source) tokenizer economics:
    * word occurrences, BPE tokens, fertility (tokens per word — THE
    * tokenizer-quality number, e.g. Rust et al. 2021) and characters
    * per token (compression).
    *
    * Encoding never touches corpus rows word-by-word: each distinct
    * word's segmentation is already the `seg` column of the merge
    * output, so application is one equi join of per-(group, word)
    * occurrence counts against the vocabulary frame, then a group-sized
    * aggregate. The vocabulary side is distinct-word-sized but
    * data-dependent — the join is NOT force-broadcast (AQE decides);
    * Zipf-hot words are harmless because the occurrence side is already
    * aggregated to one row per (group, word).
    *
    * Returns (grp, n_words, n_tokens, fertility, chars_per_token). */
  def bpeEncodeStats(
      df: DataFrame, id: Column, text: Column, group: Column,
      nMerges: Int, matEvery: Int): DataFrame = {
    val enc = bpeMerges(df, id, text, nMerges, matEvery)
      .select(col("word"), size(split(col("seg"), " ")).as("n_sym"))
    encodeStats(df, text, group, enc)
  }

  /** Per-`group` fertility and chars/token of the encoded distinct-word
    * frame `enc(word, n_sym)`: one equi join of per-(group, word)
    * occurrence counts, then a group-sized aggregate. */
  private def encodeStats(
      df: DataFrame, text: Column, group: Column, enc: DataFrame): DataFrame = {
    val occ = df.select(group.as("grp"),
        explode(split(trim(text), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    occ.join(enc, occ("term") === enc("word"))
      .groupBy(col("grp"))
      .agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sym")).as("n_tokens"),
        sum(col("cnt") * length(col("word"))).as("n_chars"))
      .select(col("grp"),
        col("n_words"), col("n_tokens"),
        round(col("n_tokens") / col("n_words"), 6).as("fertility"),
        round(col("n_chars") / col("n_tokens"), 6).as("chars_per_token"))
  }
}
