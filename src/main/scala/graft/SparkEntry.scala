package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, TextFunctions, VectorFunctions}
import graft.operators.{Clustering, Curation, Dedup, Intervals, Joins, Multimodal, Routing, Similarity, Windows}
import graft.streaming.StreamOps

/** The query registry — see SURVEY.md §7.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md §2
  * (names carry the survey ids: s*, p*, j*, a*, w*, set*, f*, g*) or one of
  * the beyond-parity corpus operators (d* dedup, v* vectors, x* text,
  * m* multimodal, st* streaming-in-batch, iv* intervals). `oracleSql` holds
  * the DuckDB-equivalent SQL for the driver's correctness gate; every
  * query has one (`Q.oracle` is a required field).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q5-shaped: revenue per region through a 5-table join chain with
    * broadcast dims (region/nation/customer are configuration-sized).
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val o  = Tables.orders(spark, d)
    val c  = Tables.customer(spark, d)
    val n  = Tables.nation(spark, d)
    val r  = Tables.region(spark, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // ---------------------------------------------------------------- helpers

  private def li(s: SparkSession, d: String)  = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cst(s: SparkSession, d: String) = Tables.customer(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def prt(s: SparkSession, d: String) = Tables.part(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def doc(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)
  private def ev(s: SparkSession, d: String)  = Tables.events(s, d)

  /** The d_incremental_dedup split of `documents`: the new batch `newb`
    * (every 10th doc) and the standing corpus `corp`, with the batch's
    * content fingerprints `nfp(doc_id, fp)` and the corpus's distinct
    * `cfp(fp)` (TextFunctions.fingerprint). Starts with WITH. */
  private val batchFingerprintCtes: String =
    """WITH newb AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
              corp AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
              nfp AS (SELECT doc_id,
                        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                      FROM newb),
              cfp AS (SELECT DISTINCT
                        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                      FROM corp)"""

  /** The supplier co-supply graph: pairs (sa < sb) of suppliers on one
    * order, over the 1-in-20 order slice. */
  private def coSupplyPairs(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(pmod(col("l_orderkey"), lit(20)) === 0).as("a")
      .join(li(s, d).filter(pmod(col("l_orderkey"), lit(20)) === 0).as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("sa"), col("b.l_suppkey").as("sb"))

  /** [[coSupplyPairs]]' SQL twin: `e0(u, v)`, the distinct supplier
    * pairs (u < v) sharing an order of the 1-in-20 slice `li`. Starts
    * with WITH. */
  private val coSupplyEdgeCtes: String = """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
                          WHERE l_orderkey % 20 = 0),
              e0 AS MATERIALIZED (
                SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                       greatest(a.l_suppkey, b.l_suppkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_suppkey < b.l_suppkey)"""

  /** Over [[coSupplyEdgeCtes]], as Components' degree-oriented triangle
    * count builds them: degrees `deg(x, d)`, each edge oriented `o(s, t)`
    * from the lower (degree, id) end, the wedges `w` and each triangle
    * once as `tri(x, y, z)`. */
  private val coSupplyTriangleCtes: String = coSupplyEdgeCtes + """,
              deg AS MATERIALIZED (SELECT x, count(*)::BIGINT AS d
                FROM (SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0) z
                GROUP BY 1),
              o AS (SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
                           CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
                    FROM e0 JOIN deg du ON du.x = u JOIN deg dv ON dv.x = v),
              w AS (SELECT a.s AS x, a.t AS y, b.t AS z
                    FROM o a JOIN o b ON a.t = b.s),
              tri AS (SELECT x, y, z FROM w JOIN o ON o.s = w.x AND o.t = w.z)"""

  /** The SQL twin of Stats.funnel over `events` for view -> click ->
    * purchase: `s0(user_id, t_0)` (first view),
    * `s1(user_id, t_1)` (first click after it) and `s2(user_id, t_2)`
    * (first purchase after that click). */
  private val funnelStepCtes: String = """s0 AS (SELECT user_id, min(ts) AS t_0 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
              s1 AS (SELECT e.user_id, min(e.ts) AS t_1 FROM events e
                     JOIN s0 ON s0.user_id = e.user_id
                     WHERE e.event_type = 'click' AND e.ts > s0.t_0 GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts) AS t_2 FROM events e
                     JOIN s1 ON s1.user_id = e.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > s1.t_1 GROUP BY 1)"""

  /** The sparsified part co-occurrence graph: part pairs (u < v) sharing
    * an order, kept by a 4% md5 slice so graph algorithms see real
    * structure on the uniform synthetic data. Pair expansion is bounded
    * by the per-order part count, so the self-join is order-local. */
  private def partPairs(s: SparkSession, d: String): DataFrame = {
    val p = li(s, d).select(col("l_orderkey").as("o"),
      col("l_partkey").as("p")).distinct()
    p.as("x").join(p.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("u"), col("y.p").as("v")).distinct()
      .filter(pmod(graft.operators.Dedup.md5Int(
        concat(col("u").cast("string"), lit(":"), col("v").cast("string"))),
        lit(1000)) < 40)
  }

  /** Seed nodes for walks over [[partPairs]]: the part keys divisible by 997. */
  private def seedParts(s: SparkSession, d: String): DataFrame =
    li(s, d).select(col("l_partkey").as("node")).distinct()
      .filter(pmod(col("node"), lit(997)) === 0)

  /** One proposal per order (product set {status}, plan set `planCodes`)
    * through the consolidation state machine, flattened to scalars. */
  private def consolidateOrders(s: SparkSession, d: String, planCodes: Column): DataFrame = {
    val props = ord(s, d).select(
      concat(lit("G"), col("o_custkey")).as("group_id"),
      concat(lit("P"), col("o_orderkey")).as("proposal_id"),
      md5(col("o_orderpriority")).as("config_md5"),
      to_date(col("o_orderdate")).cast("string").as("eff_from"),
      when(col("o_orderstatus") === "O", lit(null).cast("string"))
        .otherwise(date_add(to_date(col("o_orderdate")), 30).cast("string")).as("eff_to"),
      array(col("o_orderstatus")).as("product_codes"),
      planCodes.as("plan_codes"))
    graft.domain.Consolidate.consolidate(props)
      .select(col("group_id"), col("consolidated_id"), col("config_md5"),
        col("eff_from"), col("eff_to"),
        array_join(col("product_codes"), ",").as("products"),
        array_join(col("plan_codes"), ",").as("plans"),
        col("n_merged"))
  }

  /** Signature-change versions of each customer's order priority. */
  private def orderPriorityVersions(s: SparkSession, d: String): DataFrame = {
    val obs = ord(s, d).select(
      concat(lit("G"), col("o_custkey")).as("key"),
      to_date(col("o_orderdate")).as("observed_at"),
      col("o_orderpriority").as("signature"))
    graft.domain.HierarchyVersioning.versionsFromObservations(
      obs, col("key"), col("observed_at"), col("signature"))
  }

  /** A 30-day coverage window per order, keyed by customer. */
  private def orderCoverage(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(col("o_custkey"), col("o_orderdate"),
      (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("o_end"))

  /** 30-day order intervals (o_orderkey, o_orderdate, o_end) of a
    * 1-in-`slice` order sample: the interval-join queries' left side. */
  private def orderIntervals(s: SparkSession, d: String, slice: Int): DataFrame =
    ord(s, d).filter(pmod(col("o_orderkey"), lit(slice)) === 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("o_end"))

  /** 7-day ship intervals (li_id, l_shipdate, l_end) of a 1-in-`slice`
    * lineitem sample: the interval-join queries' right side. */
  private def lineIntervals(s: SparkSession, d: String, slice: Int): DataFrame =
    li(s, d).filter(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(slice)) === 0)
      .select(concat_ws("-", col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"), col("l_partkey")).as("li_id"),
        col("l_shipdate"), (col("l_shipdate") + expr("INTERVAL 7 DAY")).as("l_end"))

  /** The SQL twins of [[orderIntervals]] `a(a_id, a_from, a_to)` and
    * [[lineIntervals]] `b(b_id, b_from, b_to)`. Starts with WITH. */
  private def intervalSideCtes(slice: Int): String =
    s"""WITH a AS (SELECT o_orderkey AS a_id, o_orderdate::DATE AS a_from,
       |         (o_orderdate + INTERVAL 30 DAY)::DATE AS a_to
       |  FROM orders WHERE o_orderkey % $slice = 0),
       |b AS (SELECT l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR
       |           || '-' || l_suppkey::VARCHAR || '-' || l_partkey::VARCHAR AS b_id,
       |         l_shipdate::DATE AS b_from,
       |         (l_shipdate + INTERVAL 7 DAY)::DATE AS b_to
       |  FROM lineitem WHERE (l_orderkey * 7 + l_linenumber) % $slice = 0)""".stripMargin

  /** s20_zonemap_prune's range probes `(label, lo, hi)` per zone-mapped
    * lineitem column (integral bounds: the oracle prints them as such). */
  private val zoneProbes: Seq[(String, Seq[(String, Double, Double)])] = Seq(
    "l_orderkey" -> Seq(("ok_narrow", 1000.0, 2000.0), ("ok_mid", 1.0, 100000.0),
      ("ok_all", 0.0, 1000000000.0)),
    "l_extendedprice" -> Seq(("pr_low", 0.0, 2000.0), ("pr_mid", 10000.0, 20000.0),
      ("pr_all", 0.0, 1000000000.0)))

  /** Maintenance.zoneMapPrune's SQL twin over [[zoneProbes]]: per column
    * the zone map `z<i>` of its 4096-orderkey files with one true-match
    * count per probe, then one report row per probe. */
  private val zoneMapOracle: String = {
    def num(x: Double) = x.toLong.toString
    val maps = zoneProbes.zipWithIndex.map { case ((c, preds), z) =>
      val matched = preds.zipWithIndex.map { case ((_, lo, hi), i) =>
        s"sum(CASE WHEN v >= ${num(lo)} AND v <= ${num(hi)} THEN 1 ELSE 0 END)::BIGINT AS m$i"
      }
      s"""z$z AS (SELECT file_id, min(v) AS mn, max(v) AS mx, count(*)::BIGINT AS n_rows,
         |    ${matched.mkString(",\n    ")}
         |  FROM (SELECT l_orderkey // 4096 AS file_id, $c::DOUBLE AS v FROM lineitem)
         |  GROUP BY 1)""".stripMargin
    }
    val rows = for {
      ((c, preds), z) <- zoneProbes.zipWithIndex
      ((label, lo, hi), i) <- preds.zipWithIndex
    } yield {
      val keep = s"mx >= ${num(lo)} AND mn <= ${num(hi)}"
      s"""SELECT '$c' AS zone_col, '$label' AS predicate, count(*)::BIGINT AS n_files,
         |  sum(CASE WHEN NOT ($keep) THEN 1 ELSE 0 END)::BIGINT AS n_pruned,
         |  sum(n_rows)::BIGINT AS rows_total,
         |  sum(CASE WHEN $keep THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned,
         |  sum(m$i)::BIGINT AS rows_matched,
         |  round(1.0 - sum(CASE WHEN $keep THEN n_rows ELSE 0 END)::DOUBLE
         |    / sum(n_rows), 6) AS skip_frac
         |FROM z$z""".stripMargin
    }
    "WITH " + maps.mkString(",\n") + "\n" + rows.mkString("\nUNION ALL\n")
  }

  /** The j16 typo generator over part(p_partkey, p_name): delete, swap or
    * substitute one character at a key-derived position; every 17th name
    * is reversed (unmatchable noise). */
  private def typoPartName: Column = {
    val name = col("p_name")
    val len = length(name)
    val pos = (pmod(col("p_partkey"), (len - 2).cast("long")) + 2).cast("int")
    val kind = pmod(col("p_partkey"), lit(3))
    val del = concat(name.substr(lit(1), pos - 1), name.substr(pos + 1, len))
    val swp = concat(name.substr(lit(1), pos - 1),
      name.substr(pos + 1, lit(1)), name.substr(pos, lit(1)),
      name.substr(pos + 2, len))
    val sub = concat(name.substr(lit(1), pos - 1), lit("x"),
      name.substr(pos + 1, len))
    when(pmod(col("p_partkey"), lit(17)) === 0, reverse(name))
      .when(kind === 0, del).when(kind === 1, swp)
      .otherwise(sub)
  }

  private[graft] type QFn = (SparkSession, String) => DataFrame
  private[graft] case class Q(name: String, fn: QFn, oracle: String)

  /** `qs`, if no two share a name: `queries` and `oracleSql` are maps,
    * where a second entry of a name would silently replace the first. */
  private[graft] def uniqueNames(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names defined twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Generated Poisson-bootstrap oracle: one uniform + one inverse-CDF
    * weight column per resample, 2B conditional sums, in-row sort of the
    * B means — mirrors `Stats.poissonBootstrapCi` expression for
    * expression (same md5 derivation, same double literals). */
  private def bootstrapCiOracle(b: Int): String = {
    val ladder = (u: String) =>
      s"""CASE WHEN $u < 0.36787944117144233 THEN 0
         |     WHEN $u < 0.7357588823428847 THEN 1
         |     WHEN $u < 0.9196986029286058 THEN 2
         |     WHEN $u < 0.9810118431238462 THEN 3
         |     WHEN $u < 0.9963401531726563 THEN 4
         |     WHEN $u < 0.9994058151824183 THEN 5 ELSE 6 END""".stripMargin
    val us = (0 until b).map(i =>
      s"('0x' || substr(md5(id || ':$i'), 1, 13))::BIGINT" +
        s" / 4503599627370496.0 AS u$i").mkString(", ")
    val ws = (0 until b).map(i => s"${ladder(s"u$i")} AS w$i").mkString(", ")
    val sums = (0 until b).map(i =>
      s"sum(w$i::DECIMAL(38,0) * x) AS swx$i, sum(w$i)::BIGINT AS sw$i")
      .mkString(", ")
    val ms = (0 until b).map(i => s"round(swx$i::DOUBLE / sw$i, 6)")
      .mkString(", ")
    s"""WITH base AS (SELECT (o_totalprice::DECIMAL(12,2) * 100)::BIGINT AS x,
       |                     o_orderkey::VARCHAR AS id FROM orders),
       |u AS (SELECT x, $us FROM base),
       |w AS (SELECT x, $ws FROM u),
       |a AS (SELECT count(*)::BIGINT AS n, sum(x::DECIMAL(38,0)) AS sx,
       |        $sums FROM w),
       |m AS (SELECT n, sx, list_sort([$ms]) AS ms FROM a)
       |SELECT n, round(sx::DOUBLE / n, 6) AS point_mean,
       |       ms[2] AS boot_lo, ms[${b - 1}] AS boot_hi,
       |       $b AS n_resamples FROM m""".stripMargin
  }

  /** The shared head of the generated tokenizer oracles: `toks` (the
    * whitespace split of `documents`), `uw` (word frequencies, words of
    * at most `wLen` chars) and `subs` (total frequency per piece over
    * every substring of up to `pLen` chars; `piece` turns the substring
    * SQL into the piece, as `Tokenize.pieceFreqs`' function does). */
  private def substringFreqCtes(pLen: Int, wLen: Int)(piece: String => String): String =
    s"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |uw AS MATERIALIZED (SELECT * FROM (
       |    SELECT term AS word, count(*)::BIGINT AS freq
       |    FROM toks WHERE term <> '' GROUP BY 1)
       |  WHERE length(word) <= $wLen),
       |subs AS (SELECT piece, sum(freq)::BIGINT AS pfreq FROM (
       |    SELECT freq, ${piece("substr(word, st, ln)")} AS piece FROM uw,
       |      LATERAL unnest(generate_series(1, length(word))) AS s(st),
       |      LATERAL unnest(generate_series(1,
       |        least($pLen, length(word) - st + 1))) AS l(ln))
       |  GROUP BY 1)""".stripMargin

  /** Generated unigram-LM oracle CTEs (the x_bpe_deep pattern applied to
    * Kudo-2018 Viterbi segmentation): head = word frequencies, substring
    * candidates, the frequency-seeded vocab `v0`; then one CTE per prefix
    * length replaying the DP step (extend best paths at positions
    * `p-maxPieceLen..p-1` by the connecting vocab piece, keep the
    * rounded-score / longest-piece winner per word). */
  private def unigramHeadCtes(pLen: Int, vSize: Int, wLen: Int): String =
    substringFreqCtes(pLen, wLen)(identity) +
      s""",
       |vsel AS MATERIALIZED (
       |  SELECT piece, pfreq FROM subs WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT * FROM (SELECT piece, pfreq FROM subs WHERE length(piece) > 1
       |                 ORDER BY pfreq DESC, piece LIMIT $vSize)),
       |v0 AS MATERIALIZED (SELECT piece, round(ln(pfreq / vtot), 9) AS logp
       |  FROM vsel CROSS JOIN
       |    (SELECT sum(pfreq)::BIGINT AS vtot FROM vsel) t)""".stripMargin

  private def unigramViterbiCtes(
      tag: String, vocabCte: String, pLen: Int, wLen: Int): String = {
    val base = s""",
      |${tag}0 AS (SELECT word, freq, 0 AS pos, 0.0 AS score, '' AS pieces
      |  FROM uw)""".stripMargin
    val steps = (1 to wLen).map { p =>
      val lo = math.max(0, p - pLen)
      val prev = (lo until p).map(j => s"SELECT * FROM $tag$j")
        .mkString(" UNION ALL ")
      s""",
         |$tag$p AS MATERIALIZED (
         |  SELECT word, freq, $p AS pos, score, pieces FROM (
         |    SELECT d.word, d.freq, round(d.score + v.logp, 9) AS score,
         |      CASE WHEN d.pieces = '' THEN v.piece
         |           ELSE d.pieces || ' ' || v.piece END AS pieces,
         |      row_number() OVER (PARTITION BY d.word
         |        ORDER BY round(d.score + v.logp, 9) DESC, d.pos ASC) AS rn
         |    FROM ($prev) d JOIN $vocabCte v
         |      ON v.piece = substr(d.word, d.pos + 1, $p - d.pos)
         |    WHERE length(d.word) >= $p) WHERE rn = 1)""".stripMargin
    }.mkString
    val all = (1 to wLen).map(p => s"SELECT * FROM $tag$p")
      .mkString(" UNION ALL ")
    val fin = s""",
      |${tag}fin AS MATERIALIZED (SELECT word, freq, score, pieces
      |  FROM ($all) WHERE pos = length(word))""".stripMargin
    base + steps + fin
  }

  private def unigramMStepCtes(k: Int, segTag: String): String =
    s""",
       |c$k AS (SELECT piece, sum(freq)::BIGINT AS uses FROM (
       |    SELECT freq, unnest(string_split(pieces, ' ')) AS piece
       |    FROM ${segTag}fin) GROUP BY 1),
       |j$k AS MATERIALIZED (SELECT v.piece, coalesce(c.uses, 0)::BIGINT AS n_uses
       |  FROM v${k - 1} v LEFT JOIN c$k c USING (piece)),
       |v$k AS MATERIALIZED (SELECT piece, n_uses,
       |    round(ln((n_uses + 0.5) / (tot + 0.5 * vv)), 9) AS logp,
       |    round((n_uses + 0.5) / (tot + 0.5 * vv), 6) AS p
       |  FROM j$k CROSS JOIN (SELECT sum(n_uses)::BIGINT AS tot,
       |    count(*)::BIGINT AS vv FROM j$k) t)""".stripMargin

  private def unigramSegmentOracle(
      pLen: Int, vSize: Int, wLen: Int): String =
    unigramHeadCtes(pLen, vSize, wLen) +
      unigramViterbiCtes("s1", "v0", pLen, wLen) +
      s"""
         |SELECT word, freq, len(string_split(pieces, ' '))::INT AS n_pieces,
         |  pieces AS seg, score FROM s1fin""".stripMargin

  private def unigramEmOracle(
      pLen: Int, vSize: Int, wLen: Int, emIters: Int): String = {
    val chains = (1 to emIters).map { k =>
      unigramViterbiCtes(s"s$k", s"v${k - 1}", pLen, wLen) +
        unigramMStepCtes(k, s"s$k")
    }.mkString
    unigramHeadCtes(pLen, vSize, wLen) + chains +
      s"\nSELECT piece, n_uses, p FROM v$emIters"
  }

  /** Generated WordPiece oracle: vocab (singles of both forms + top-K
    * multis), then one greedy longest-match CTE per position step —
    * active words extend by the longest vocab piece matching at `pos`
    * (at most one piece per length can match, so `rn = 1` by length desc
    * IS the greedy choice), finished words pass through. */
  private def wordPieceOracle(pLen: Int, vSize: Int, wLen: Int): String = {
    val head = substringFreqCtes(pLen, wLen)(sub =>
      s"CASE WHEN st = 1 THEN $sub ELSE '##' || $sub END") +
      s""",
         |wv AS MATERIALIZED (
         |  SELECT piece FROM subs
         |  WHERE length(piece) = 1 OR (starts_with(piece, '##') AND length(piece) = 3)
         |  UNION ALL
         |  SELECT piece FROM (
         |    SELECT piece, pfreq FROM subs
         |    WHERE NOT (length(piece) = 1
         |               OR (starts_with(piece, '##') AND length(piece) = 3))
         |    ORDER BY pfreq DESC, piece LIMIT $vSize)),
         |g0 AS (SELECT word, freq, 0 AS pos, '' AS pieces FROM uw)""".stripMargin
    val steps = (1 to wLen).map { i =>
      s""",
         |g$i AS MATERIALIZED (
         |  SELECT word, freq, pos, pieces FROM (
         |    SELECT d.word, d.freq,
         |           d.pos + length(v.piece)
         |             - CASE WHEN d.pos > 0 THEN 2 ELSE 0 END AS pos,
         |           CASE WHEN d.pieces = '' THEN v.piece
         |                ELSE d.pieces || ' ' || v.piece END AS pieces,
         |           row_number() OVER (PARTITION BY d.word
         |             ORDER BY length(v.piece) DESC, v.piece) AS rn
         |    FROM g${i - 1} d JOIN wv v
         |      ON d.pos < length(d.word)
         |     AND v.piece = CASE WHEN d.pos = 0
         |           THEN substr(d.word, d.pos + 1, length(v.piece))
         |           ELSE '##' || substr(d.word, d.pos + 1, length(v.piece) - 2) END
         |  ) WHERE rn = 1
         |  UNION ALL
         |  SELECT word, freq, pos, pieces FROM g${i - 1}
         |  WHERE pos >= length(word))""".stripMargin
    }.mkString
    s"""$head$steps
       |SELECT word, freq, len(string_split(pieces, ' '))::INT AS n_pieces,
       |  pieces AS wp_seg FROM g$wLen""".stripMargin
  }

  /** Generated N-step BPE oracle: the same per-step CTE triple the
    * hand-written 2-step x_bpe_merges oracle uses, chained `n` times —
    * the oracle replays the full merge trajectory. */
  private def bpeOracleSql(n: Int): String =
    s"${bpeOracleCtes(n)}\nSELECT word, freq, replace(seg, '  ', ' ') AS seg FROM w$n"

  /** The WITH-chain of [[bpeOracleSql]] alone (ending in `wN`), for
    * oracles that consume the learned vocabulary downstream. */
  private def bpeOracleCtes(n: Int): String = {
    val head =
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |wrd AS (SELECT term AS word, count(*)::BIGINT AS freq
        |        FROM toks WHERE term <> '' GROUP BY 1),
        |w0 AS MATERIALIZED (SELECT word, freq,
        |         array_to_string(string_split(word, ''), '  ') AS seg FROM wrd)""".stripMargin
    val steps = (1 to n).map { i =>
      s""",
         |p$i AS (SELECT sym AS a, nxt AS b, sum(freq) AS wgt FROM (
         |         SELECT word, freq, sym,
         |                lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |         FROM (SELECT word, freq,
         |                 unnest(string_split(seg, '  ')) AS sym,
         |                 generate_subscripts(string_split(seg, '  '), 1) AS pos
         |               FROM w${i - 1}))
         |       WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |t$i AS (SELECT a, b FROM p$i ORDER BY wgt DESC, a, b LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, freq,
         |         trim(replace(' ' || seg || ' ',
         |           ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')) AS seg
         |       FROM w${i - 1} CROSS JOIN t$i)""".stripMargin
    }.mkString
    s"$head$steps"
  }

  // ------------------------------------------------ shared oracle fragments
  //
  // CTE text that two or more oracles replay verbatim, and generators for
  // numbered iteration chains. Each fragment is a run of `name AS (...)`
  // CTEs with no trailing comma; callers join fragments with ",\n" and
  // supply the WITH (unless the fragment's doc says it starts with one)
  // and the readout.

  /** Flagship cert rows: per-order split count `cnt` and row rank `rn`
    * under the full (linenumber, suppkey, partkey) tiebreak, plus the
    * equal-share `base_pct` (DomainBench.synthCertificates). */
  private val certSplitCtes: String = """li AS (
                SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
                       count(*) OVER (PARTITION BY l_orderkey) AS cnt,
                       row_number() OVER (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_suppkey, l_partkey) AS rn
                FROM lineitem),
              c0 AS (SELECT *, floor(10000 / cnt) / 100.0 AS base_pct FROM li)"""

  /** `rows0`: one row per certificate split over `c0` ([[certSplitCtes]]):
    * cert and group ids, split_seq, then the `pre` columns, split_pct
    * (every 50th cert over-allocated by 1.0) and the schedule item, then
    * the `post` columns (DomainBench.synthCertificates). */
  private def certRowsCte(pre: String, post: String): String =
    """rows0 AS (
                SELECT l_orderkey AS cert_id,
                       'G' || (l_orderkey % 3079)::VARCHAR AS group_id,
                       l_linenumber AS split_seq,""" + pre + """
                       (CASE WHEN rn < cnt THEN base_pct
                             ELSE round(100.0 - base_pct * (cnt - 1), 2) END
                        + CASE WHEN l_orderkey % 50 = 0 THEN 1.0 ELSE 0.0 END)
                         AS split_pct,
                       '0001:P' || l_suppkey::VARCHAR || ':SCHED'
                         || (l_suppkey % 50)::VARCHAR AS item""" + post + """
                FROM c0)"""

  /** [[certRowsCte]]'s `post` columns for the cert's broker and schedule. */
  private val brokerCols: String = """,
                       'P' || l_suppkey::VARCHAR AS broker_id,
                       l_suppkey % 50 AS sched_k"""

  /** Hierarchy hash per (cert, split) and config hash per cert over
    * `rows0(cert_id, group_id, split_seq, split_pct, item)`, with the
    * split-sum non-conformance flag (Proposals.hierarchyHashes /
    * configHashes / flagNonConformant). */
  private val hierarchyConfigCtes: String = """hh AS (
                SELECT cert_id, group_id, split_seq, split_pct,
                       upper(sha256(group_id || '!' || split_pct::VARCHAR || '!' ||
                         string_agg(item, '|' ORDER BY item))) AS hierarchy_hash
                FROM rows0 GROUP BY 1, 2, 3, 4),
              cfg AS (
                SELECT cert_id, group_id,
                       upper(sha256(string_agg(
                         split_pct::VARCHAR || ':' || hierarchy_hash, '|'
                         ORDER BY split_pct::VARCHAR || ':' || hierarchy_hash)))
                         AS config_hash,
                       abs(sum(split_pct) - 100.0) > 0.001 AS nonconformant
                FROM hh GROUP BY 1, 2)"""

  /** Distinct word-trigram shingles `name(doc_id, s)` of every
    * `toks(doc_id, w)` row (Dedup.wordShingles at n = 3). */
  private def trigramShinglesCte(name: String): String = name + """ AS (SELECT doc_id,
                       unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                             for i in generate_series(1, len(w) - 2)])) AS s
                     FROM toks WHERE len(w) >= 3)"""

  /** Trigram shingles `sh` without those in more than 50 docs (the
    * `maxDf = Some(50)` cap), over [[trigramShinglesCte]] `sh0`. */
  private val cappedShinglesCtes: String = trigramShinglesCte("sh0") + """,
              sh AS (SELECT * FROM sh0
                     WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50))"""

  /** Dedup's shared-shingle core over `documents`: `toks`, the shingle
    * CTEs `shingles` (ending in `sh`), per-doc `sizes(doc_id, n_sh)` and
    * `pairs(id_a, id_b, n_common)` of docs sharing a shingle. */
  private def sharedShingleCtes(shingles: String): String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
              """ + shingles + """,
              sizes AS (SELECT doc_id, count(*)::INT AS n_sh FROM sh GROUP BY 1),
              pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_common
                        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)"""

  /** Exact shingle-Jaccard pairs at or above `threshold` over
    * [[sharedShingleCtes]]. */
  private def shingleJaccardOracle(shingles: String, threshold: String): String =
    sharedShingleCtes(shingles) + """
              SELECT id_a, id_b,
                     round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
              FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                         JOIN sizes sb ON sb.doc_id = id_b
              WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= """ + threshold

  /** Word 3-gram counts `c3(doc_id, gram, cnt)` per document over
    * `toks(doc_id, t)`, the whitespace split of `documents`
    * (TextFunctions.repetitionMetrics' duplicated-3-gram side). */
  private val trigramCountCtes: String = """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                       FROM documents),
              g3 AS (SELECT doc_id,
                       unnest([array_to_string(t[i:i+2], ' ')
                               for i in generate_series(1, len(t) - 2)]) AS gram
                     FROM toks WHERE len(t) >= 3),
              c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2)"""

  /** MinHash signatures of word-trigram shingles over `toks(doc_id, w)`:
    * 16 universal hashes, as Dedup.minHashLshPairs draws them. */
  private val minHashSigCtes: String = trigramShinglesCte("sh") + """,
              h AS (SELECT doc_id, i,
                      min((('0x' || substr(md5(s), 1, 8))::BIGINT * (1 + 2 * i) + (11 * i + 7))
                          % 4294967311) AS m
                    FROM sh, (SELECT unnest(generate_series(0, 15)) AS i)
                    GROUP BY 1, 2),
              sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM h GROUP BY 1)"""

  /** `s(doc_id, simhash)`: Dedup.simHashDocs' 32-bit fingerprint of each
    * document (per bit, the sign of the +-1 bit sum over its md5 token
    * hashes). Starts with WITH. */
  private val simHashCtes: String = {
    val sums = (0 until 32)
      .map(b => s"sum(((h >> $b) & 1) * 2 - 1)::BIGINT AS s$b").mkString(", ")
    val fp = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)").mkString(" | ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents),
            h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
            sums AS (SELECT doc_id, $sums FROM h GROUP BY 1),
            s AS (SELECT doc_id, ($fp)::BIGINT AS simhash FROM sums)"""
  }

  /** 4x4 LSH banding of [[minHashSigCtes]], the candidate pairs, and their
    * connected components `comp(node, component = min member)` by
    * recursive reachability (needs WITH RECURSIVE). */
  private val lshComponentCtes: String = """banded AS (SELECT doc_id,
                           b::VARCHAR || ',' || array_to_string(sig[b*4+1:b*4+4], ',') AS bucket
                         FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                       FROM banded a JOIN banded b
                         ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
              edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                        UNION SELECT id_b, id_a FROM cand),
              nodes AS (SELECT DISTINCT src AS node FROM edges),
              reach AS (SELECT node, node AS rch FROM nodes
                        UNION
                        SELECT reach.node, edges.dst
                        FROM reach JOIN edges ON reach.rch = edges.src),
              comp AS (SELECT node, min(rch) AS component FROM reach GROUP BY node)"""

  /** `qual(doc_id, quality)`: TextFunctions.qualityScore over `documents`. */
  private val qualityCtes: String = """b0 AS (SELECT doc_id, text,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::INT AS n_tok_ws,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop
              FROM documents),
              qual AS (SELECT doc_id,
                round(least(greatest(
                  least(n_tok_ws / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok_ws > 0 THEN n_stop / n_tok_ws::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN length(text) > 0 THEN n_punct / length(text)::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6) AS quality
              FROM b0)"""

  /** Deterministic seed centroids for IVF cells and k-means: the lowest
    * `id` of each `id % cells` residue class of `e(id, v)`, as CTE `name`. */
  private def seedCentroidsCte(name: String, id: String, cells: String): String =
    s"""$name AS (SELECT m.cell, e.v AS centroid
       |  FROM (SELECT $id % $cells AS cell, min($id) AS mvid
       |    FROM e GROUP BY 1) m
       |  JOIN e ON e.$id = m.mvid)""".stripMargin

  /** Nearest-centroid cell of every `e(id, v)` row against the centroid
    * CTE `cents` (rounded cosine desc, cell asc), as CTE `name`. */
  private def assignCellCte(name: String, id: String, cents: String): String =
    s"""$name AS (SELECT $id, v, cell FROM (
       |  SELECT e.$id, e.v, c.cell,
       |    row_number() OVER (PARTITION BY e.$id
       |      ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
       |        c.cell) AS rn
       |  FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin

  /** IVF cells as Similarity.ivfCosineTopK builds them: seed centroids
    * `cent` and the cell assignment `asg(id, v, cell)`. */
  private def ivfCellCtes(id: String, cells: String): String =
    seedCentroidsCte("cent", id, cells) + ",\n" + assignCellCte("asg", id, "cent")

  /** The v_ann_ivf index (16 cells over `e(vec_id, v)`) plus `probes`:
    * the 4 nearest cells of each query `vec_id < 20`. */
  private val ivfProbeCtes: String = ivfCellCtes("vec_id", "16") +
    """,
      |probes AS (SELECT vec_id AS query_id, v AS qv, cell FROM (
      |  SELECT e.vec_id, e.v, c.cell,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
      |        c.cell) AS rn
      |  FROM e CROSS JOIN cent c WHERE e.vec_id < 20) WHERE rn <= 4)""".stripMargin

  /** Over [[ivfProbeCtes]]: each query's top `k` corpus neighbors
    * (query_id, neighbor_id, cos, rank) inside its probed cells, as
    * Similarity.ivfCosineTopK ranks them. */
  private def ivfProbeTopK(k: Int): String =
    s"""SELECT p.query_id, a.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(p.qv, a.v), 6) AS cos,
       |  (row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
       |      a.vec_id))::INT AS rank
       |FROM asg a JOIN probes p USING (cell)
       |WHERE p.query_id <> a.vec_id
       |QUALIFY rank <= $k""".stripMargin

  /** Squared euclidean distance of the `dim`-long lists `a` and `b`,
    * summed in index order and rounded at 6 (Similarity's PQ kernels). */
  private def sqL2Sql(a: String, b: String, dim: Int): String =
    s"round(list_reduce(list_transform(range($dim), fi -> ($a[fi+1]-$b[fi+1])*($a[fi+1]-$b[fi+1])), (facc,fx) -> facc+fx), 6)"

  /** PQ codebook training over `sub(vec_id, j, s)` (8 subspaces of 8
    * dims), as Similarity's product quantizer trains it: seeds
    * `seed(j, cell, cen)` (lowest vec_id of each `vec_id % 16` class per
    * subspace), one Lloyd step (`a1`, `m1`) and the codebook
    * `cb(j, cell, cen)`. */
  private val pqCodebookCtes: String =
    s"""seed AS (SELECT m.j, m.cell, s.s AS cen
       |  FROM (SELECT j, vec_id % 16 AS cell, min(vec_id) AS mvid
       |        FROM sub GROUP BY 1, 2) m
       |  JOIN sub s ON s.vec_id = m.mvid AND s.j = m.j),
       |a1 AS (SELECT vec_id, j, s, cell FROM (
       |  SELECT sub.vec_id, sub.j, sub.s, seed.cell,
       |    row_number() OVER (PARTITION BY sub.vec_id, sub.j
       |      ORDER BY ${sqL2Sql("sub.s", "seed.cen", 8)} ASC, seed.cell) AS rn
       |  FROM sub JOIN seed ON sub.j = seed.j) WHERE rn = 1),
       |m1 AS (SELECT j, cell, i, round((sum(s[i + 1]::DECIMAL(27,6)))::DOUBLE / count(*), 6) AS mc
       |  FROM a1, range(8) r(i) GROUP BY 1, 2, 3),
       |cb AS (SELECT j, cell, list(mc ORDER BY i) AS cen FROM m1 GROUP BY 1, 2)""".stripMargin

  /** Generated Lloyd k-means oracle CTEs (Clustering.kMeansAssign, k = 8,
    * 64 dims): seeds `c0`, then per iteration the assignment `aI`, the
    * rounded per-dimension means `mI` and the centroids `cI`. Starts
    * with WITH `e`; ends in `c<iters>`. */
  private def kMeansCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s""",
         |${assignCellCte(s"a$i", "vec_id", s"c${i - 1}")},
         |m$i AS (SELECT cell, i, round(avg(v[i + 1]), 6) AS m
         |  FROM a$i, range(64) r(i) GROUP BY 1, 2),
         |c$i AS (SELECT cell, list(m ORDER BY i) AS centroid FROM m$i GROUP BY 1)""".stripMargin
    }.mkString
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      seedCentroidsCte("c0", "vec_id", "8") + steps
  }

  /** The LSH family's 8 x 64 md5-derived hyperplanes (seed 42; first 8
    * digest bytes as a signed long / Long.MaxValue) and the embeddings
    * `e(vec_id, v)`. Starts with WITH. */
  private val lshPlanesCtes: String = """WITH planes AS (
                SELECT p, d,
                       (('0x' || substr(md5('42:' || p::VARCHAR || ':' || d::VARCHAR), 1, 16))::UBIGINT::HUGEINT
                        - CASE WHEN ('0x' || substr(md5('42:' || p::VARCHAR || ':' || d::VARCHAR), 1, 16))::UBIGINT
                                    >= 9223372036854775808::UBIGINT
                               THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::DOUBLE
                       / 9223372036854775807 AS pval
                FROM (SELECT unnest(generate_series(0, 7)) AS p),
                     (SELECT unnest(generate_series(0, 63)) AS d)),
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"""

  /** [[lshPlanesCtes]] plus each vector's sign-bit bucket (dot products
    * rounded at 9 decimals before the sign). */
  private val lshBucketCtes: String = lshPlanesCtes + """,
              dots AS (SELECT e.vec_id, pl.p,
                              round(sum(e.v[pl.d + 1] * pl.pval), 9) AS dt
                       FROM e CROSS JOIN planes pl GROUP BY 1, 2),
              buckets AS (SELECT vec_id,
                                 sum(CASE WHEN dt >= 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
                          FROM dots GROUP BY 1)"""

  /** Generated NN-descent oracle CTEs (Similarity.nnDescentGraph, k = 3):
    * md5-seeded random init scored into `g0`, then per round the k-capped
    * bidirected adjacency `uR`, neighbor-of-neighbor candidates `cR`,
    * their scores `scR` and the top-k graph `gR`. Starts with WITH `e`;
    * ends in `g<rounds>`, materialized when `materializeLast`. */
  private def nnDescentCtes(rounds: Int, materializeLast: Boolean): String = {
    def topK(r: Int, mat: Boolean): String =
      s"""sc$r AS (SELECT c.vid, c.cand,
         |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |  FROM c$r c JOIN e a ON a.vid = c.vid
         |    JOIN e b ON b.vid = c.cand),
         |g$r AS ${if (mat) "MATERIALIZED " else ""}(SELECT vid, cand, cos, rn FROM (
         |  SELECT vid, cand, cos, row_number() OVER (
         |    PARTITION BY vid ORDER BY cos DESC, cand) AS rn
         |  FROM sc$r) z WHERE rn <= 3)""".stripMargin
    val init =
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM e),
        |c0 AS (SELECT DISTINCT vid, cand FROM (
        |  SELECT e.vid,
        |    ('0x' || substr(md5(e.vid::VARCHAR || '#nnd' || j::VARCHAR), 1, 8))::BIGINT
        |      % (SELECT n FROM nn) AS cand
        |  FROM e CROSS JOIN range(1, 4) t(j)) z
        |  WHERE cand <> vid),
        |""".stripMargin + topK(0, mat = true)
    val steps = (1 to rounds).map { r =>
      s""",
         |u$r AS (SELECT DISTINCT src, dst FROM (
         |  SELECT vid AS src, cand AS dst FROM g${r - 1}
         |  UNION ALL
         |  SELECT cand AS src, vid AS dst FROM (
         |    SELECT vid, cand, row_number() OVER (
         |      PARTITION BY cand ORDER BY cos DESC, vid) AS rr
         |    FROM g${r - 1}) z WHERE rr <= 3) w),
         |c$r AS (SELECT DISTINCT vid, cand FROM (
         |  SELECT x.src AS vid, y.dst AS cand FROM u$r x JOIN u$r y
         |    ON x.dst = y.src AND x.src <> y.dst
         |  UNION ALL SELECT vid, cand FROM g${r - 1}) w),
         |""".stripMargin + topK(r, mat = r < rounds || materializeLast)
    }.mkString
    init + steps
  }

  /** Generated greedy best-first walk (Similarity.greedySearchOverEdges)
    * over the digraph `ed(src, dst)` and vectors `e(vid, v)`: entry node
    * min(vid), queries `vid < 20`, then per hop the move to the
    * most-similar neighbor while it strictly improves. Ends in the
    * readout of hop `hops`. */
  private def greedyWalkOracle(hops: Int): String = {
    val steps = (1 to hops).map { h =>
      s""",
         |s$h AS MATERIALIZED (SELECT s.query_id, s.qv,
         |  CASE WHEN b.bsim > s.sim THEN b.bnode ELSE s.cur END AS cur,
         |  CASE WHEN b.bsim > s.sim THEN b.bsim ELSE s.sim END AS sim,
         |  s.moves + CASE WHEN b.bsim > s.sim THEN 1 ELSE 0 END AS moves
         |  FROM s${h - 1} s LEFT JOIN (
         |    SELECT query_id, bnode, bsim FROM (
         |      SELECT t.query_id, ev.vid AS bnode,
         |        round(list_cosine_similarity(t.qv, ev.v), 6) AS bsim,
         |        row_number() OVER (PARTITION BY t.query_id
         |          ORDER BY round(list_cosine_similarity(t.qv, ev.v), 6) DESC,
         |            ev.vid) AS rn
         |      FROM s${h - 1} t JOIN ed ON ed.src = t.cur
         |      JOIN e ev ON ev.vid = ed.dst) z WHERE rn = 1) b
         |  USING (query_id))""".stripMargin
    }.mkString
    """ent AS (SELECT min(vid) AS cur FROM e),
      |q AS (SELECT vid AS query_id, v AS qv FROM e WHERE vid < 20),
      |s0 AS MATERIALIZED (SELECT query_id, qv, cur,
      |    round(list_cosine_similarity(qv, ev.v), 6) AS sim, 0 AS moves
      |  FROM q CROSS JOIN ent JOIN e ev ON ev.vid = cur)""".stripMargin + steps +
      s"\nSELECT query_id, cur AS node_id, sim, moves FROM s$hops"
  }

  /** SQL twin of [[partPairs]]: order-local parts `p`, the md5-sliced
    * undirected edge list `b(u, v)` and its bidirected form
    * `<edges>(src, dst)`. Starts with WITH. */
  private def partGraphCtes(edges: String): String =
    s"""WITH p AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |b AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT DISTINCT least(x.p, y.p) AS u, greatest(x.p, y.p) AS v
       |    FROM p x JOIN p y ON x.o = y.o AND x.p < y.p) b0
       |  WHERE ('0x' || substring(md5(u::VARCHAR || ':' || v::VARCHAR),
       |    1, 8))::BIGINT % 1000 < 40),
       |$edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM b
       |  UNION ALL SELECT v, u FROM b)""".stripMargin

  /** Generated label-propagation CTEs over `e(src, dst)`
    * (Components.labelPropagation): `l0` labels each node by itself; each
    * round takes the most frequent neighbor label, min label on ties.
    * Ends in `l<iters>`. */
  private def lpaCtes(iters: Int): String =
    "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM e)" +
      (1 to iters).map { i =>
        s""",
           |l$i AS MATERIALIZED (SELECT node, lab FROM (
           |  SELECT e.src AS node, l.lab, count(*) AS c,
           |    row_number() OVER (PARTITION BY e.src
           |      ORDER BY count(*) DESC, l.lab) AS rn
           |  FROM e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2) q WHERE rn = 1)""".stripMargin
      }.mkString

  /** Generated k-core peeling CTEs over `e(src, dst)` (Components.kCore):
    * each synchronous round keeps the nodes with at least `k` neighbors
    * inside the previous round's set. Ends in `a<rounds>`. */
  private def kCoreCtes(k: Int, rounds: Int): String =
    "a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)" +
      (1 to rounds).map { i =>
        s""",
           |a$i AS MATERIALIZED (SELECT e.src AS node FROM e
           |  JOIN a${i - 1} s ON e.src = s.node JOIN a${i - 1} t ON e.dst = t.node
           |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
      }.mkString

  /** Generated multi-source BFS CTEs over `e(src, dst)`
    * (Components.bfsLevels) from the `l_partkey % 997 = 0` seeds: one
    * unit-weight relaxation per round. Ends in `d<rounds>`. */
  private def bfsCtes(rounds: Int): String =
    """d0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS node, 0 AS dist
      |  FROM lineitem WHERE l_partkey % 997 = 0)""".stripMargin +
      (1 to rounds).map { i =>
        s""",
           |d$i AS MATERIALIZED (SELECT node, min(dist)::INT AS dist FROM (
           |  SELECT node, dist FROM d${i - 1} UNION ALL
           |  SELECT e.dst, d.dist + 1 FROM e JOIN d${i - 1} d ON e.src = d.node) z
           |  GROUP BY 1)""".stripMargin
      }.mkString

  /** Generated PageRank iteration CTEs over `e(src, dst)`
    * (Components.pageRank, damping 0.85): node set `n`, out-degrees `od`,
    * uniform `r0`, then one round-9 rank CTE per iteration. Ends in
    * `r<iters>`. */
  private def pageRankCtes(iters: Int): String =
    """n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |od AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM n)""".stripMargin +
      (1 to iters).map { i =>
        s""",
           |r$i AS (SELECT n.node, round(0.15 + 0.85 * coalesce(s.in_sum, 0.0), 9) AS rank
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank / od.outdeg) AS in_sum
           |    FROM e JOIN r${i - 1} r ON r.node = e.src JOIN od ON od.src = e.src
           |    GROUP BY 1) s USING (node))""".stripMargin
      }.mkString

  /** Generated personalized-PageRank iteration CTEs
    * (Components.personalizedPageRank) over `ed(src, dst)`, out-degrees
    * `dg` and restart mass `bs(node, e)`, quantized with the explicit
    * floor(x*1e9+0.5)/1e9 of the operator. Ends in `r<iters>`. */
  private def pprCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT b2.node,
         |    floor((0.15 * b2.e + 0.85 * coalesce(c.insum, 0.0)) * 1e9 + 0.5) / 1e9 AS rank
         |  FROM bs b2 LEFT JOIN (
         |    SELECT ed.dst AS node,
         |      sum((floor(r.rank / dg.outdeg * 1e9 + 0.5) / 1e9)::DECIMAL(28,9))::DOUBLE AS insum
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.node
         |    JOIN dg ON dg.src = ed.src GROUP BY 1) c USING (node))""".stripMargin
    }.mkString(",\n")

  /** Relational replay of the consolidation state machine over one
    * proposal per order: islands of equal config per group (plus the
    * `extraBreak` predicate lines, each starting with a newline), sticky
    * null end dates. `propCols` ends the `props` projection; `readout`
    * ends the final SELECT from its products column on. */
  private def consolidateOracle(
      propCols: String, extraBreak: String, readout: String): String =
    s"""WITH props AS (
       |  SELECT 'G' || o_custkey::VARCHAR AS group_id,
       |    'P' || o_orderkey::VARCHAR AS proposal_id,
       |    md5(o_orderpriority) AS config_md5,
       |    o_orderdate::DATE::VARCHAR AS eff_from,
       |    CASE WHEN o_orderstatus = 'O' THEN NULL
       |      ELSE (o_orderdate::DATE + 30)::VARCHAR END AS eff_to,
       |    $propCols
       |  FROM orders),
       |s AS (
       |  SELECT *, CASE WHEN lag(config_md5) OVER w IS DISTINCT FROM config_md5$extraBreak
       |      THEN 1 ELSE 0 END AS brk
       |  FROM props
       |  WINDOW w AS (PARTITION BY group_id
       |    ORDER BY eff_from, config_md5, proposal_id)),
       |i AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY group_id
       |    ORDER BY eff_from, config_md5, proposal_id
       |    ROWS UNBOUNDED PRECEDING) AS island
       |  FROM s)
       |SELECT group_id,
       |  group_id || '-C' || island::VARCHAR AS consolidated_id,
       |  config_md5, min(eff_from) AS eff_from,
       |  CASE WHEN count(*) FILTER (WHERE eff_to IS NULL) > 0 THEN NULL
       |    ELSE max(eff_to) END AS eff_to,
       |""".stripMargin + readout

  /** Signature-change versions of each customer's order priority (the
    * SQL twin of [[orderPriorityVersions]], before the lead-closed end
    * dates): observations `obs`, change flags `f`, version numbers `v`
    * and per-version start dates `g`. */
  private val orderVersionCtes: String = """obs AS (
                SELECT DISTINCT 'G' || o_custkey::VARCHAR AS key,
                       o_orderdate::DATE AS observed_at,
                       o_orderpriority AS signature
                FROM orders),
              f AS (
                SELECT *, CASE WHEN lag(signature) OVER w IS NULL
                                 OR lag(signature) OVER w <> signature
                               THEN 1 ELSE 0 END AS chg
                FROM obs
                WINDOW w AS (PARTITION BY key ORDER BY observed_at, signature)),
              v AS (
                SELECT *, sum(chg) OVER (PARTITION BY key
                            ORDER BY observed_at, signature
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS version_seq
                FROM f),
              g AS (SELECT key, version_seq, signature, min(observed_at) AS eff_from
                    FROM v GROUP BY 1, 2, 3)"""

  /** Merged 30-day coverage islands per customer (Intervals): windows
    * `s(key, f, t)`, running max end `x` and island ids `y`. */
  private val coverageIslandCtes: String = """s AS (SELECT o_custkey AS key, o_orderdate AS f,
                                o_orderdate + INTERVAL 30 DAY AS t FROM orders),
              x AS (SELECT key, f, t,
                      max(t) OVER (PARTITION BY key ORDER BY f, t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
                    FROM s),
              y AS (SELECT key, f, t,
                      sum(CASE WHEN mx IS NULL OR f > mx THEN 1 ELSE 0 END)
                        OVER (PARTITION BY key ORDER BY f, t ROWS UNBOUNDED PRECEDING) AS isl
                    FROM x)"""

  /** The stopword-count language guess over `s_en`..`s_de`
    * (TextFunctions.langId): the argmax language, 'und' when none hit. */
  private val langArgmaxSql: String = """CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'und'
                     WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
                     WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
                     WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
                     WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
                     ELSE 'und' END"""

  /** `p(<label>, <guess>)`: [[langArgmaxSql]] for every document. */
  private def langGuessCte(label: String, guess: String): String =
    "p AS (SELECT " + label + ",\n" + langArgmaxSql + " AS " + guess + """
              FROM (SELECT lang,
                      len(regexp_extract_all(lower(text),
                        '\b(the|and|of|is|was|that|with)\b')) AS s_en,
                      len(regexp_extract_all(lower(text),
                        '\b(el|la|los|las|es|que|con|para)\b')) AS s_es,
                      len(regexp_extract_all(lower(text),
                        '\b(le|la|les|est|que|avec|pour|dans)\b')) AS s_fr,
                      len(regexp_extract_all(lower(text),
                        '\b(der|die|das|ist|und|mit|nicht)\b')) AS s_de
                    FROM documents))"""

  /** `toks(doc_id, <word>, pos)`: every whitespace token of `documents`
    * with its 1-based position (posexplode). */
  private def posToksCte(word: String): String = """toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS """ + word + """,
                generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
              FROM documents)"""

  /** Adjacent word pairs `p(doc_id, pos, w, w2)` (TextFunctions'
    * `adjacentPairs`) and their corpus counts `c(w1, w2, cnt)`. */
  private val bigramCountCtes: String = posToksCte("w") + """,
              p AS (SELECT doc_id, pos, w,
                      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                    FROM toks WHERE w <> ''),
              c AS (SELECT w AS w1, w2, count(*)::BIGINT AS cnt
                    FROM p WHERE w2 IS NOT NULL GROUP BY 1, 2)"""

  /** Per-doc adjacent word pairs `pairs(doc_id, w1, w2)` and the corpus
    * bigram LM's negative log-likelihood `lm(w1, w2, nll)` as exact
    * DECIMAL (TextFunctions.perplexityFilter). */
  private val bigramNllCtes: String = posToksCte("w") + """,
              p AS (SELECT doc_id, w AS w1,
                      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                    FROM toks WHERE w <> ''),
              pairs AS (SELECT doc_id, w1, w2 FROM p WHERE w2 IS NOT NULL),
              c AS (SELECT w1, w2, count(*)::BIGINT AS cnt FROM pairs GROUP BY 1, 2),
              lm AS (SELECT w1, w2,
                       round(-ln(round(cnt / (sum(cnt) OVER (PARTITION BY w1)), 6)), 9)
                         ::DECIMAL(12,9) AS nll
                     FROM c)"""

  /** `sc(<score>, y)`: TextFunctions.qualityScore as a predictor of
    * `lang = 'en'`; `scoreAs` casts and names the score column. */
  private def enQualityCtes(scoreAs: String): String = """b AS (SELECT lang,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::INT AS n_tok_ws,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop,
                length(text) AS n_ch
              FROM documents),
              sc AS (SELECT round(least(greatest(
                  least(n_tok_ws / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok_ws > 0 THEN n_stop / n_tok_ws::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN n_ch > 0 THEN n_punct / n_ch::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6)""" + scoreAs + """,
                (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y
              FROM b)"""

  /** SQL twin of [[typoPartName]]: `base` derives the edit position and
    * kind; `dirty` selects `cols` then the typo'd name as `alias`. */
  private def typoPartCtes(cols: String, alias: String): String =
    s"""base AS (SELECT p_partkey, p_name,
       |    (p_partkey % (length(p_name) - 2) + 2)::INT AS pos,
       |    p_partkey % 3 AS kind FROM part),
       |dirty AS (SELECT ${cols}CASE
       |    WHEN p_partkey % 17 = 0 THEN reverse(p_name)
       |    WHEN kind = 0 THEN substr(p_name, 1, pos - 1)
       |      || substr(p_name, pos + 1, length(p_name))
       |    WHEN kind = 1 THEN substr(p_name, 1, pos - 1)
       |      || substr(p_name, pos + 1, 1) || substr(p_name, pos, 1)
       |      || substr(p_name, pos + 2, length(p_name))
       |    ELSE substr(p_name, 1, pos - 1) || 'x'
       |      || substr(p_name, pos + 1, length(p_name)) END AS $alias
       |  FROM base)""".stripMargin

  /** Repo root for committed fixtures: the working directory (run from
    * the checkout's root), or `SPARK_GRAFT_REPO_DIR`. Note: the value is
    * baked into the rendered oracle SQL, so the Spark side and the oracle
    * engine must see the repo at the SAME path. */
  private val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))

  /** Full-lineage DuckDB replica of the flagship GL (hashing -> routing ->
    * proposals -> versioned hierarchies -> 8-stage calc -> GL) — shared by
    * `domain_e2e_gl` and the incremental-maintenance twin
    * `g_incremental_gl`, whose batch-identity contract is exactly "equals
    * this from-scratch result". */
  private val domainGlOracleSql: String = "WITH " + certSplitCtes + ",\n" +
    certRowsCte("\nl_shipdate::DATE AS eff_date,", brokerCols) + ",\n" + hierarchyConfigCtes + """,
              certdates AS (SELECT l_orderkey AS cert_id, min(l_shipdate::DATE) AS eff_date
                            FROM lineitem GROUP BY 1),
              props0 AS (
                SELECT c.group_id, c.config_hash, min(d.eff_date) AS eff_from
                FROM cfg c JOIN certdates d USING (cert_id)
                WHERE NOT c.nonconformant GROUP BY 1, 2),
              props1 AS (
                SELECT *, 'PROP-' || group_id || '-' ||
                       row_number() OVER (PARTITION BY group_id
                         ORDER BY eff_from, config_hash)::VARCHAR AS proposal_id
                FROM props0),
              props AS (
                SELECT *, lead(eff_from) OVER (PARTITION BY group_id
                         ORDER BY eff_from, proposal_id) - 1 AS eff_to
                FROM props1),
              rep AS (
                SELECT group_id, config_hash, min(cert_id) AS cert_id
                FROM cfg WHERE NOT nonconformant GROUP BY 1, 2),
              splits AS (
                SELECT p.proposal_id, round(h.split_pct * 100)::BIGINT AS pct_c,
                       ('0x' || substr(sha256(h.group_id || '#' || h.split_seq::VARCHAR),
                         1, 15))::BIGINT AS hierarchy_id
                FROM props p
                JOIN rep r ON p.group_id = r.group_id AND p.config_hash = r.config_hash
                JOIN hh h ON h.cert_id = r.cert_id),
              sig AS (
                SELECT group_id || '#' || split_seq::VARCHAR AS bkey,
                       eff_date AS observed_at,
                       string_agg(item, '|' ORDER BY item) AS signature
                FROM rows0 GROUP BY 1, 2),
              vf AS (
                SELECT *, CASE WHEN lag(signature) OVER w IS NULL
                                 OR lag(signature) OVER w <> signature
                               THEN 1 ELSE 0 END AS chg
                FROM sig
                WINDOW w AS (PARTITION BY bkey ORDER BY observed_at, signature)),
              vs AS (
                SELECT *, sum(chg) OVER (PARTITION BY bkey
                            ORDER BY observed_at, signature
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS version_seq
                FROM vf),
              vg AS (SELECT bkey, version_seq, signature, min(observed_at) AS eff_from
                     FROM vs GROUP BY 1, 2, 3),
              vers AS (
                SELECT ('0x' || substr(sha256(bkey), 1, 15))::BIGINT AS hierarchy_id,
                       ('0x' || substr(sha256(bkey || '#' || version_seq::VARCHAR),
                         1, 15))::BIGINT AS version_id,
                       signature, eff_from,
                       coalesce(lead(eff_from) OVER (PARTITION BY bkey
                                  ORDER BY eff_from, version_seq) - 1,
                                DATE '2099-01-01') AS eff_to
                FROM vg),
              vp AS (
                SELECT version_id, split_part(itm, ':', 2) AS broker_id,
                       50 + (substr(split_part(itm, ':', 3), 6)::BIGINT % 10) * 5 AS rate_m10
                FROM (SELECT version_id, unnest(string_split(signature, '|')) AS itm
                      FROM vers)),
              prem AS (
                SELECT o_orderkey AS premium_id,
                       'G' || (o_orderkey % 3079)::VARCHAR AS group_id,
                       round(o_totalprice * 100)::BIGINT AS amount_c,
                       o_orderdate::DATE + 400 AS txn_date
                FROM orders
                WHERE o_totalprice > 0
                  AND o_orderkey IN (SELECT l_orderkey FROM lineitem)),
              wp AS (
                SELECT pr.premium_id, pr.amount_c, pr.txn_date, p.proposal_id
                FROM prem pr JOIN props p ON p.group_id = pr.group_id
                  AND pr.txn_date >= p.eff_from
                  AND (p.eff_to IS NULL OR pr.txn_date <= p.eff_to)),
              ws AS (
                SELECT w.premium_id, w.txn_date,
                       (w.amount_c * s.pct_c + 5000) // 10000 AS sp_c,
                       s.hierarchy_id
                FROM wp w JOIN splits s USING (proposal_id)),
              wv AS (
                SELECT w.premium_id, w.sp_c, v.version_id
                FROM ws w JOIN vers v ON v.hierarchy_id = w.hierarchy_id
                  AND w.txn_date >= v.eff_from AND w.txn_date <= v.eff_to),
              gl AS (
                SELECT w.premium_id, p.broker_id,
                       (w.sp_c * p.rate_m10 + 500) // 1000 AS comm_c
                FROM wv w JOIN vp p USING (version_id))
              SELECT premium_id, broker_id, 'Original' AS entry_type,
                     comm_c / 100.0 AS amount
              FROM gl WHERE comm_c <> 0"""

  /** Generated Markov-attribution oracle iteration CTEs: one CTE per
    * fixed-point step, replaying the driver-side absorption solve
    * bit-for-bit (explicit floor(x*1e9+0.5)/1e9 quantization — the same
    * IEEE multiply/floor/divide the operator uses, so no engine-rounding
    * implementation boundary exists). `vt` must hold (rc, from_s, to_s, p)
    * for every removal variant x transition cell. */
  private def markovIterCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""p$k AS MATERIALIZED (SELECT vt.rc, vt.from_s AS st,
         |  floor(sum(vt.p * CASE WHEN vt.to_s = 'CONV' THEN 1.0
         |                        WHEN vt.to_s = 'NULL' THEN 0.0
         |                        WHEN vt.to_s = vt.rc THEN 0.0
         |                        ELSE coalesce(pv.val, 0.0) END) * 1e9 + 0.5) / 1e9 AS val
         |  FROM vt LEFT JOIN p${k - 1} pv ON pv.rc = vt.rc AND pv.st = vt.to_s
         |  GROUP BY 1, 2)""".stripMargin
    }
    steps.mkString(",\n", ",\n", "")
  }

  // -------------------------------------------------------------- the queries

  /** DuckDB replay of the full curation funnel over a `documents`
    * relation (doc_id, text, lang, source), ending in the per-doc stage
    * flags `fin2` - shared by docs_e2e_curation and docs_html_funnel (an
    * HTML-extraction CTE standing in for `documents`) through
    * [[curationFunnelOracle]], and by d_curation_log's per-doc verdicts.
    * Body only: callers prepend "WITH RECURSIVE" and any CTEs of their
    * own. */
  private val curationFunnelCtes: String = """              corpus0 AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
              b0 AS (SELECT doc_id, source, lang, text,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::INT AS n_tok_ws,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop,
                len(regexp_extract_all(lower(text), '\b(the|and|of|is|was|that|with)\b')) AS s_en,
                len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|que|con|para)\b')) AS s_es,
                len(regexp_extract_all(lower(text), '\b(le|la|les|est|que|avec|pour|dans)\b')) AS s_fr,
                len(regexp_extract_all(lower(text), '\b(der|die|das|ist|und|mit|nicht)\b')) AS s_de
              FROM corpus0),
              flags AS (SELECT doc_id, source, lang, text, n_tok_ws,
                round(least(greatest(
                  least(n_tok_ws / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok_ws > 0 THEN n_stop / n_tok_ws::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN length(text) > 0 THEN n_punct / length(text)::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6) AS quality,
                """ + langArgmaxSql + """ AS pred_lang
              FROM b0),
              fl2 AS (SELECT *, quality >= 0.5 AS pass_q,
                        (quality >= 0.5 AND pred_lang = lang) AS pass_l
                      FROM flags),
              s2 AS (SELECT * FROM fl2 WHERE pass_l),
              fps AS (SELECT doc_id,
                        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                      FROM s2),
              ek AS (SELECT f.doc_id FROM fps f
                     JOIN (SELECT fp, min(doc_id) AS k FROM fps GROUP BY 1) m
                       ON f.fp = m.fp AND f.doc_id = m.k),
              s3 AS (SELECT s2.* FROM s2 JOIN ek USING (doc_id)),
              toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM s3),
""" + minHashSigCtes + ",\n" + lshComponentCtes + """,
              keepn AS (SELECT component, node AS keep_id FROM (
                          SELECT c.component, c.node,
                                 row_number() OVER (PARTITION BY c.component
                                   ORDER BY f.quality DESC, c.node ASC) AS rn
                          FROM comp c JOIN fl2 f ON f.doc_id = c.node) WHERE rn = 1),
              neard AS (SELECT c.node AS doc_id
                        FROM comp c JOIN keepn k USING (component)
                        WHERE c.node <> k.keep_id),
              s4 AS (SELECT * FROM s3
                     WHERE doc_id NOT IN (SELECT doc_id FROM neard)),
              t4 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w4 FROM s4),
              g4 AS (SELECT doc_id,
                       unnest(list_distinct([array_to_string(w4[i:i+4], ' ')
                                             for i in generate_series(1, len(w4) - 4)])) AS g
                     FROM t4 WHERE len(w4) >= 5),
              tp AS (SELECT string_split_regex(trim(text), '\s+') AS wp
                     FROM documents WHERE doc_id % 97 = 0),
              probe AS (SELECT DISTINCT unnest([array_to_string(wp[i:i+4], ' ')
                                               for i in generate_series(1, len(wp) - 4)]) AS g
                        FROM tp WHERE len(wp) >= 5),
              contam AS (SELECT DISTINCT doc_id FROM g4
                         WHERE g IN (SELECT g FROM probe)),
              fin AS (SELECT f.*,
                        (f.doc_id IN (SELECT doc_id FROM ek)) AS s3ok0
                      FROM fl2 f),
              fin2 AS (SELECT *,
                         s3ok0 AS s3ok,
                         (s3ok0 AND doc_id NOT IN (SELECT doc_id FROM neard)) AS s4ok,
                         (s3ok0 AND doc_id NOT IN (SELECT doc_id FROM neard)
                          AND doc_id NOT IN (SELECT doc_id FROM contam)) AS s5ok
                       FROM fin)"""

  /** The funnel's per-(source, lang) stage counts and retention. */
  private val curationFunnelOracle: String = curationFunnelCtes + """
              SELECT source, lang, count(*)::BIGINT AS n_docs,
                sum(pass_q::INT)::BIGINT AS n_quality,
                sum(pass_l::INT)::BIGINT AS n_lang,
                sum(s3ok::INT)::BIGINT AS n_exact,
                sum(s4ok::INT)::BIGINT AS n_near,
                sum(s5ok::INT)::BIGINT AS n_kept,
                sum(CASE WHEN s5ok THEN n_tok_ws ELSE 0 END)::BIGINT AS tokens_kept,
                round(sum(s5ok::INT) / count(*), 6) AS retention
              FROM fin2 GROUP BY 1, 2"""

  /** DuckDB replay of [[graft.functions.TextFunctions.htmlExtract]] over
    * the committed fixtures/html docs — the same regex pipeline, CTE for
    * Column op (newline collapse, script/style/comment strip, \x01/\x02
    * anchor markers, block tags to newlines, HTML5 tag strip, entity
    * decode, per-block word + link-word gate). Ends in `hx(doc_id,
    * n_blocks, n_kept_blocks, n_words, n_kept_words, n_link_words,
    * text)`; callers prepend "WITH " and append their readout. @ROOT@ is
    * substituted with the repo root (plain string, no interpolation —
    * keeps the regex backslashes single). */
  private val htmlExtractOracle: String = """raw AS (
                SELECT regexp_extract(filename, 'doc_(\d+)\.html', 1)::BIGINT AS doc_id,
                       content
                FROM read_text('@ROOT@/fixtures/html/*.html')),
              hst AS (SELECT doc_id,
                replace(replace(replace(replace(replace(replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              regexp_replace(
                                regexp_replace(
                                  regexp_replace(content, '[\r\n\t]', ' ', 'g'),
                                  '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                                '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                              '(?s)<!--.*?-->', ' ', 'g'),
                            '(?i)<a\b[^>]*>', e'\x01', 'g'),
                          '(?i)</a>', e'\x02', 'g'),
                        '(?i)<br\b[^>]*>', e'\n', 'g'),
                      '(?i)</?(p|div|h[1-6]|li|ul|ol|tr|table|section|article|header|footer|nav|blockquote|pre)\b[^>]*>', e'\n', 'g'),
                    '(?s)</?[A-Za-z][^>]*>|<![^>]*>', ' ', 'g'),
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&#39;', ''''), '&amp;', '&') AS dec
                FROM raw),
              hblk AS (SELECT doc_id,
                         unnest(string_split(dec, chr(10))) AS b,
                         generate_subscripts(string_split(dec, chr(10)), 1) AS bi
                       FROM hst),
              hm AS (SELECT doc_id, bi,
                       list_filter(string_split_regex(
                         regexp_replace(b, '[\x01\x02]', '', 'g'), '\s+'),
                         t -> t <> '') AS w,
                       len(flatten(list_transform(
                         regexp_extract_all(b, '\x01[^\x02]*\x02'),
                         sp -> list_filter(string_split_regex(
                           regexp_replace(sp, '[\x01\x02]', '', 'g'), '\s+'),
                           t -> t <> '')))) AS lw
                     FROM hblk),
              hnz AS (SELECT doc_id, bi, len(w)::BIGINT AS nw, lw::BIGINT AS lw, w
                      FROM hm WHERE len(w) > 0),
              hk AS (SELECT *, (nw >= 3 AND lw * 100 <= nw * 50) AS keep FROM hnz),
              hagg AS (SELECT doc_id,
                         count(*)::INT AS n_blocks,
                         sum(CASE WHEN keep THEN 1 ELSE 0 END)::INT AS n_kept_blocks,
                         sum(nw)::BIGINT AS n_words,
                         sum(CASE WHEN keep THEN nw ELSE 0 END)::BIGINT AS n_kept_words,
                         sum(lw)::BIGINT AS n_link_words,
                         coalesce(string_agg(CASE WHEN keep THEN array_to_string(w, ' ') END,
                           chr(10) ORDER BY bi), '') AS text
                       FROM hk GROUP BY doc_id),
              hx AS (SELECT r.doc_id,
                       coalesce(a.n_blocks, 0) AS n_blocks,
                       coalesce(a.n_kept_blocks, 0) AS n_kept_blocks,
                       coalesce(a.n_words, 0) AS n_words,
                       coalesce(a.n_kept_words, 0) AS n_kept_words,
                       coalesce(a.n_link_words, 0) AS n_link_words,
                       coalesce(a.text, '') AS text
                     FROM raw r LEFT JOIN hagg a USING (doc_id))"""

  private lazy val defs: Seq[Q] = uniqueNames(Seq(

    // ===== S: scans / casts / gates / sinks (SURVEY §2.1) =====

    Q("s1_csv_ingest", (s, d) => {
      // REAL CSV ingest path (S1+S4+P3): a committed dirty CSV fixture
      // (fixtures/s1_cert.csv — empty fields, padded whitespace, quoted
      // commas, invalid dates/numbers, inactive rows) through the
      // all-string scan -> typed try_cast pass -> active-only filter.
      // The oracle is a plain read of fixtures/s1_cert_typed.parquet: a
      // committed expected-result twin produced by a THIRD implementation
      // of the same pipeline (pure python csv+typing, regen via
      // tools/gen_s1_fixture.py — independent of both Spark and the
      // oracle engine). Recomputing the typed pass in oracle SQL failed
      // hash-only for three driver rounds on bytes that pass locally:
      // the divergence lived in the oracle engine's own recomputation
      // (version-sensitive cast/sniffer semantics), so the oracle now
      // carries no engine-sensitive computation at all. Spark's CSV
      // tokenization is additionally pinned cell-for-cell against the
      // python-written raw twin by IngestSpec.
      // premium and split_pct are surfaced as double: decimals stay
      // exercised inside the typed pass, while the dumped columns use
      // the same widely-green type as every other money output.
      graft.domain.Ingest.activeOnly(graft.domain.Ingest.typedPass(
        graft.domain.Ingest.readRawCsv(s, s"$repoRoot/fixtures/s1_cert.csv"),
        graft.domain.Ingest.certificateSpec))
        .withColumn("premium", col("premium").cast("double"))
        .withColumn("split_pct", col("split_pct").cast("double"))
    },
      s"SELECT * FROM read_parquet('$repoRoot/fixtures/s1_cert_typed.parquet')"),

    Q("s2_header_gate", (s, d) => {
      // S2 archive-ingest gate (`scripts/ingest-raw-data.ts:1-676`): route
      // committed fixture CSVs by filename prefix, validate headers
      // case-insensitively against the expected-column map, and emit the
      // dry-run plan — which file loads where, what's missing/extra, and
      // why a file quarantines. Header reads are per-file metadata (one
      // line via the Hadoop FS API), exactly like the reference's
      // driver-side readCsvHeaders; only actual loads are distributed.
      // Each file then loads through ingestFiles: n_rows is the data rows
      // it loaded, NULL for a quarantined file. The oracle is a VALUES
      // literal of the expected plan — the fixtures are committed, so the
      // result is a constant.
      import s.implicits._
      val files = Seq("CertificateInfo_drift.csv", "CertificateInfo_ok.csv",
        "Premiums_2024.csv", "Readme.csv").map(f => s"$repoRoot/fixtures/s2/$f")
      val rows = files.map(f =>
        graft.domain.Ingest.ingestFiles(s, Seq(f))._1.values.headOption.map(_.count().toInt))
      graft.domain.Ingest.ingestPlan(s, files).zip(rows)
        .map { case (a, n) => (a.file, a.table.orNull, a.nColumns, n,
          if (a.missing.isEmpty) null else a.missing.mkString(","),
          if (a.extra.isEmpty) null else a.extra.mkString(","),
          a.reason.orNull) }
        .toDF("file", "target_table", "n_columns", "n_rows", "missing", "extra", "reason")
    },
      """SELECT * FROM (VALUES
              ('CertificateInfo_drift.csv', 'raw_certificate_info', 13, NULL::INTEGER,
               'Product,PlanCode', NULL::VARCHAR, 'missing columns: Product, PlanCode'),
              ('CertificateInfo_ok.csv', 'raw_certificate_info', 16, 2,
               NULL, 'Bonus', NULL),
              ('Premiums_2024.csv', 'raw_premiums', 3, 1, NULL, NULL, NULL),
              ('Readme.csv', NULL, 0, NULL, NULL, NULL, 'no routing prefix matches'))
              t(file, target_table, n_columns, n_rows, missing, extra, reason)"""),

    Q("s4_typed_cast", (s, d) =>
      li(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("int").as("qty_int"),
        Cleaning.cleanStr(col("l_returnflag")).as("flag"),
        round(col("l_extendedprice"), 2).as("price")),
      """SELECT l_orderkey, l_linenumber, floor(l_quantity)::INT AS qty_int,
              NULLIF(TRIM(l_returnflag), '') AS flag, round(l_extendedprice, 2) AS price
              FROM lineitem"""),

    Q("s5_conformance_gate", (s, d) => {
      val e = ev(s, d).withColumn("props_c",
        when(col("event_type") === "error", lit(null)).otherwise(col("props")))
      val (_, bad) = Routing.conformanceGate(e, Seq("props_c", "user_id"))
      bad.select(col("event_id"), col("reason_props_c"), col("reason_user_id"))
    },
      """SELECT event_id,
              (CASE WHEN event_type='error' THEN NULL ELSE props END) IS NULL AS reason_props_c,
              user_id IS NULL AS reason_user_id
              FROM events
              WHERE (CASE WHEN event_type='error' THEN NULL ELSE props END) IS NULL
                 OR user_id IS NULL"""),

    Q("s8_export_upsert", (s, d) =>
      cst(s, d).join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""),

    Q("s8b_export_targets", (s, d) => {
      // the reference's production export surface as data: all 38 dbo
      // target tables (sql/export/*.sql) with their idempotence keys and
      // FK gates — export parity is per-table config riding ONE
      // insert-if-not-exists anti-join (ExportSpec drives each table's
      // round-trip through upsertCandidates)
      import s.implicits._
      graft.domain.Export.targets
        .map(t => (t.table, t.keyCols.mkString(","), t.keyCols.size,
          t.fkDim.map(_._1).orNull))
        .toDF("target_table", "key_cols", "n_keys", "fk_dim")
        .withColumn("n_keys", col("n_keys").cast("int"))
    },
      """SELECT * FROM (VALUES
              ('BrokerAppointments', 'BrokerId,StateCode', 2, 'Brokers'),
              ('BrokerBankingInfos', 'BrokerId', 1, 'Brokers'),
              ('BrokerEOInsurances', 'BrokerId', 1, 'Brokers'),
              ('BrokerLicenses', 'BrokerId,LicenseNumber', 2, 'Brokers'),
              ('BrokerTraceabilities', 'Id', 1, 'Brokers'),
              ('Brokers', 'Id', 1, NULL),
              ('CommissionAssignmentRecipients', 'Id', 1, NULL),
              ('CommissionAssignmentVersions', 'Id', 1, NULL),
              ('CommissionRuns', 'Id', 1, NULL),
              ('CommissionTraceabilityReports', 'Id', 1, NULL),
              ('EmployerGroups', 'Id', 1, NULL),
              ('FeeScheduleItems', 'Id', 1, NULL),
              ('FeeScheduleVersions', 'Id', 1, NULL),
              ('FeeSchedules', 'Id', 1, NULL),
              ('GLJournalEntries', 'Id', 1, NULL),
              ('Hierarchies', 'Id', 1, NULL),
              ('HierarchyParticipantProductRates', 'Id', 1, NULL),
              ('HierarchyParticipants', 'Id', 1, NULL),
              ('HierarchySplits', 'Id', 1, NULL),
              ('HierarchyVersions', 'Id', 1, NULL),
              ('Plans', 'Id', 1, NULL),
              ('Policies', 'Id', 1, NULL),
              ('PolicyHierarchyAssignments', 'PolicyId,HierarchyId,WritingBrokerId', 3, 'Policies'),
              ('PremiumSplitParticipants', 'Id', 1, NULL),
              ('PremiumSplitVersions', 'Id', 1, NULL),
              ('PremiumTransactions', 'certificateId,premiumAmount,transactionDate', 3, NULL),
              ('ProductCodes', 'Id', 1, NULL),
              ('Products', 'ProductCode', 1, NULL),
              ('ProposalProducts', 'ProposalId,ProductCode', 2, 'Proposals'),
              ('Proposals', 'Id', 1, 'Brokers'),
              ('ScheduleRateTiers', 'Id', 1, NULL),
              ('ScheduleRates', 'Id', 1, NULL),
              ('ScheduleVersions', 'Id', 1, NULL),
              ('Schedules', 'Id', 1, NULL),
              ('SpecialScheduleRates', 'ScheduleRateId,Year', 2, NULL),
              ('SplitDistributions', 'Id', 1, NULL),
              ('StateRuleStates', 'Id', 1, NULL),
              ('StateRules', 'Id', 1, NULL))
              t(target_table, key_cols, n_keys, fk_dim)"""),

    // ===== P: projections / predicates (SURVEY §2.2) =====

    Q("p2_status_decode", (s, d) =>
      ord(s, d).select(
        when(col("o_orderstatus") === "O", "OPEN")
          .when(col("o_orderstatus") === "F", "FILLED")
          .when(col("o_orderstatus") === "P", "PARTIAL")
          .otherwise("UNKNOWN").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n")),
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
              WHEN 'P' THEN 'PARTIAL' ELSE 'UNKNOWN' END AS status, count(*) AS n
              FROM orders GROUP BY 1"""),

    Q("p4_regex_filter", (s, d) =>
      doc(s, d).filter(col("text").rlike("join\\s+\\w+\\s+merge"))
        .select(col("doc_id"), col("n_chars")),
      """SELECT doc_id, n_chars FROM documents
              WHERE regexp_matches(text, 'join\s+\w+\s+merge')"""),

    Q("p5_exclusion_filter", (s, d) => {
      val excl = prt(s, d).filter(col("p_size") >= 49).select(col("p_partkey"))
      li(s, d).join(broadcast(excl), col("l_partkey") === col("p_partkey"), "left_anti")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
    },
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
              FROM lineitem
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l_partkey AND p.p_size >= 49)
              GROUP BY 1"""),

    Q("p6_coalesce_chain", (s, d) =>
      cst(s, d).select(col("c_custkey"),
        coalesce(nullif(trim(col("c_mktsegment")), lit("HOUSEHOLD")),
          nullif(upper(col("c_name")), lit("")), lit("FALLBACK")).as("seg")),
      """SELECT c_custkey,
              COALESCE(NULLIF(TRIM(c_mktsegment), 'HOUSEHOLD'),
                       NULLIF(UPPER(c_name), ''), 'FALLBACK') AS seg
              FROM customer"""),

    Q("p7_date_rules", (s, d) =>
      ord(s, d).select(col("o_orderkey"),
        when(col("o_orderstatus") === "P", add_months(col("o_orderdate"), 24))
          .otherwise(to_date(col("o_orderdate"))).as("corrected")),
      """SELECT o_orderkey,
              CASE WHEN o_orderstatus = 'P' THEN (o_orderdate + INTERVAL 24 MONTH)::DATE
                   ELSE o_orderdate::DATE END AS corrected
              FROM orders"""),

    Q("p8_sentinel_norm", (s, d) => {
      val raw = when(col("c_custkey") % 7 === 0, lit("")).otherwise(col("c_custkey").cast("string"))
      cst(s, d).select(col("c_custkey"),
        Cleaning.canonicalGroupId(Cleaning.dtcSentinel(raw)).as("group_id"))
    },
      """SELECT c_custkey,
              'G' || (CASE WHEN c_custkey % 7 = 0 THEN '00000' ELSE c_custkey::VARCHAR END) AS group_id
              FROM customer"""),

    // ===== J: joins (SURVEY §2.3) =====

    // Money sums run in DECIMAL: double summation is order-dependent and a
    // last-ulp difference can flip a round(x, 2) at a .005 boundary
    // (observed at sf0.01). Decimal keeps both engines exact.
    Q("j1_join_large", (s, d) =>
      li(s, d).join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount").cast("decimal(6,4)"))), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust")),
      """SELECT o_orderpriority,
              round(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(6,4))), 2)::DOUBLE AS revenue,
              count(*) AS n, count(DISTINCT o_custkey) AS n_cust
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1"""),

    Q("j2_broadcast_dim", (s, d) =>
      cst(s, d)
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(12,2)")), 2).cast("double").as("acct")),
      """SELECT r_name, count(*) AS n_cust,
              round(sum(c_acctbal::DECIMAL(12,2)), 2)::DOUBLE AS acct
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey GROUP BY 1"""),

    Q("j3_asof_range_join", (s, d) => {
      val o = ord(s, d)
      val wv = Window.partitionBy(col("dk")).orderBy(col("f"), col("ver"))
      val dim = o.select(col("o_custkey").as("dk"), col("o_orderkey").as("ver"),
          col("o_orderdate").as("f"))
        .withColumn("t", lead(col("f"), 1).over(wv))
      val fact = li(s, d)
        .join(o.select(col("o_orderkey"), col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey").as("fk"),
          col("l_shipdate").as("ts"))
      Joins.asOfJoin(fact, dim, col("fk") === col("dk"), col("ts"), col("f"), col("t"),
          strictUpper = true)
        .select(col("l_orderkey"), col("l_linenumber"), col("ver").as("version_key"))
    },
      """WITH dim AS (
                SELECT o_custkey AS k, o_orderkey AS ver, o_orderdate AS f,
                       lead(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey) AS t
                FROM orders),
              fact AS (
                SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS k, l.l_shipdate AS ts
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
              SELECT f.l_orderkey, f.l_linenumber, d.ver AS version_key
              FROM fact f JOIN dim d
                ON f.k = d.k AND f.ts >= d.f AND (d.t IS NULL OR f.ts < d.t)"""),

    Q("j3b_asof_native", (s, d) => {
      // Native sort-merge as-of exec (plans/AsOfJoinExec via the injected
      // strategy): each order resolves to the customer's strictly-previous
      // order. Self as-of on one scan; the time key folds the order date
      // and key into one long so (key, time) is unique -> deterministic.
      // The composed built-in form of the same semantics is j3 + a rank-1
      // window; this plans two exchanges, two sorts, one merge — no
      // fact x versions fan-out, no second shuffle (AsOfJoinSpec asserts
      // the plan shape and the equivalence).
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        (datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date")).cast("long") * 1048576L
          + col("o_orderkey")).as("t"))
      val dim = o.select(col("o_custkey").as("c"), col("t").as("rt"),
        col("o_orderkey").as("prev_orderkey"))
      graft.operators.AsOfNative.asOfJoin(
          o, dim, Seq("o_custkey" -> "c"), "t", "rt", "left_outer", strict = true)
        .select(col("o_orderkey"), col("prev_orderkey"))
    },
      """WITH o AS (
                SELECT o_orderkey, o_custkey,
                       datediff('day', DATE '1990-01-01', o_orderdate::DATE)::BIGINT * 1048576
                         + o_orderkey AS t
                FROM orders),
              j AS (
                SELECT f.o_orderkey, d.o_orderkey AS prev_orderkey,
                       row_number() OVER (PARTITION BY f.o_orderkey ORDER BY d.t DESC) AS rn
                FROM o f JOIN o d ON f.o_custkey = d.o_custkey AND d.t < f.t)
              SELECT f.o_orderkey, j.prev_orderkey
              FROM o f LEFT JOIN (SELECT o_orderkey, prev_orderkey FROM j WHERE rn = 1) j
                USING (o_orderkey)"""),

    Q("j5_band_join", (s, d) => {
      val bands = {
        import s.implicits._
        Seq((1, 10, "S"), (11, 20, "M"), (21, 35, "L"), (36, 50, "XL")).toDF("lo", "hi", "band")
      }
      Joins.bandJoin(prt(s, d), bands, None, col("p_size"), col("lo"), col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("p_retailprice").cast("decimal(12,2)")).cast("double") / count(lit(1)), 4)
            .as("avg_price"))
    },
      """SELECT b.band, count(*) AS n,
              round(sum(p_retailprice::DECIMAL(12,2))::DOUBLE / count(*), 4) AS avg_price
              FROM part p JOIN (VALUES (1,10,'S'),(11,20,'M'),(21,35,'L'),(36,50,'XL'))
                AS b(lo, hi, band) ON p.p_size BETWEEN b.lo AND b.hi
              GROUP BY 1"""),

    Q("j6_wildcard_lookup", (s, d) => {
      val rules = {
        import s.implicits._
        Seq(
          ("Brand#1", "STANDARD", 5.0, 1), ("Brand#2", "PROMO", 4.5, 2),
          ("Brand#1", "*", 3.0, 3), ("Brand#3", "*", 2.5, 4),
          ("*", "ECONOMY", 2.0, 5), ("*", "SMALL", 1.5, 6),
          ("*", "*", 1.0, 7),
        ).toDF("r_brand", "r_class", "rate", "rule_id")
      }
      val fact = prt(s, d).select(col("p_partkey"), col("p_brand"), col("p_type"))
      Joins.wildcardLookup(fact, rules,
          keyCols = Seq("p_brand" -> "r_brand", "p_type" -> "r_class"),
          priority = Seq(Set("r_brand", "r_class"), Set("r_brand"), Set("r_class"), Set.empty),
          payload = Seq("rate", "rule_id"))
        .select(col("p_partkey"), col("rate"), col("rule_id"))
    },
      """WITH r AS (SELECT * FROM (VALUES
                ('Brand#1','STANDARD',5.0,1),('Brand#2','PROMO',4.5,2),
                ('Brand#1','*',3.0,3),('Brand#3','*',2.5,4),
                ('*','ECONOMY',2.0,5),('*','SMALL',1.5,6),
                ('*','*',1.0,7)) AS t(r_brand, r_class, rate, rule_id))
              SELECT p.p_partkey,
                COALESCE(e.rate, b.rate, c.rate, g.rate)::DOUBLE AS rate,
                COALESCE(e.rule_id, b.rule_id, c.rule_id, g.rule_id) AS rule_id
              FROM part p
              LEFT JOIN r e ON e.r_brand = p.p_brand AND e.r_class = p.p_type
              LEFT JOIN r b ON b.r_brand = p.p_brand AND b.r_class = '*'
              LEFT JOIN r c ON c.r_brand = '*' AND c.r_class = p.p_type
              LEFT JOIN r g ON g.r_brand = '*' AND g.r_class = '*'"""),

    Q("j7_nearest_match", (s, d) => {
      val pivot = to_timestamp(lit("1995-06-15")).cast("long")
      Joins.nearestMatchJoin(
          cst(s, d).select(col("c_custkey")), ord(s, d),
          col("c_custkey") === col("o_custkey"),
          factIdCols = Seq(col("c_custkey")),
          distance = col("o_orderdate").cast("timestamp").cast("long") - pivot,
          tiebreak = Seq(col("o_orderkey")))
        .select(col("c_custkey"), col("o_orderkey").as("nearest_order"))
    },
      """SELECT c_custkey, o_orderkey AS nearest_order
              FROM customer JOIN orders ON c_custkey = o_custkey
              QUALIFY row_number() OVER (PARTITION BY c_custkey
                ORDER BY abs(epoch(o_orderdate) - epoch(TIMESTAMP '1995-06-15')), o_orderkey) = 1"""),

    Q("j8_semi_join", (s, d) =>
      ord(s, d).join(li(s, d).filter(col("l_quantity") >= 45),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_totalprice FROM orders o
              WHERE EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)"""),

    Q("j9_anti_join", (s, d) =>
      cst(s, d).join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal")),
      """SELECT c_custkey, c_acctbal FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""),

    Q("j10_top1_per_group", (s, d) =>
      Joins.top1PerGroup(ord(s, d),
          part = Seq(col("o_custkey")),
          order = Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey").as("latest_order"),
          col("o_orderdate").as("latest_date")),
      """SELECT o_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date
              FROM orders
              QUALIFY row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) = 1"""),

    Q("j4_fanout_join", (s, d) =>
      // 1:N explosion join (J4, run-calculation.sql stages 3/5): each part
      // fans out to its lineitems; per-part rollup proves the multiplicity
      prt(s, d).join(li(s, d), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 2).as("total_qty")),
      """SELECT p_partkey, count(*) AS n_lines, round(sum(l_quantity), 2) AS total_qty
              FROM part JOIN lineitem ON p_partkey = l_partkey GROUP BY 1"""),

    Q("j11_lateral_count", (s, d) => {
      // CROSS APPLY participant-count (J11, 08-hierarchy-splits.sql:313-317)
      // decorrelated: groupBy-count + join back
      val counts = li(s, d).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
      ord(s, d).join(counts, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("n_lines"), lit(0L)).as("n_lines"))
    },
      """SELECT o_orderkey,
              coalesce((SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey), 0) AS n_lines
              FROM orders o"""),

    Q("j12_transferee_anti", (s, d) => {
      // transferee-exclusion shape (J12, README.md:311-335): customers in
      // segment BUILDING are "reassigned"; exclude those that also appear
      // as an earner (here: have an order in 1995) via left-anti self-join
      val c = cst(s, d)
      val reassigned = c.filter(col("c_mktsegment") === "BUILDING")
      val earners = ord(s, d).filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey")).distinct()
      reassigned.join(earners, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      """SELECT c_custkey, c_name FROM customer c
              WHERE c_mktsegment = 'BUILDING'
                AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND year(o.o_orderdate) = 1995)"""),

    Q("j13_salted_join", (s, d) => {
      // skew-salted join must be result-identical to the plain join —
      // the oracle IS the plain join
      val joined = graft.operators.Skew.saltedJoin(
        li(s, d), ord(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        "l_orderkey", salt = 8,
        leftSaltSource = col("l_linenumber"))
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
    },
      """SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity), 2) AS qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1"""),

    Q("j15_record_linkage", (s, d) => {
      // blocked Fellegi-Sunter linkage: a 1-in-5 "inquiry" slice against a
      // deterministically perturbed registry twin (some names suffixed,
      // some segments wiped). Nation blocks; name/area/segment weights.
      // Twins with perturbed names fall below threshold - the classic
      // missed-match tradeoff of agreement-weight linkage, on purpose.
      // (fields: lowercased name, acctbal thousand-band, market segment)
      val base = cst(s, d)
      val aSide = base.filter(pmod(col("c_custkey"), lit(5)) === 0).select(
        col("c_custkey").as("rid"), col("c_nationkey").as("blk"),
        lower(col("c_name")).as("name"),
        floor(col("c_acctbal") / 1000).cast("int").as("band"),
        col("c_mktsegment").as("seg"))
      val bSide = base.select(
        col("c_custkey").as("rid"), col("c_nationkey").as("blk"),
        when(pmod(col("c_custkey"), lit(11)) === 0,
          concat(lower(col("c_name")), lit(" jr")))
          .otherwise(lower(col("c_name"))).as("name"),
        floor(col("c_acctbal") / 1000).cast("int").as("band"),
        when(pmod(col("c_custkey"), lit(7)) === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg"))
      Joins.linkagePairs(aSide, bSide, "blk", "rid",
        Seq(("name", 4.0, -2.0), ("band", 2.0, -1.0), ("seg", 1.5, -1.0)),
        threshold = 4.0)
    },
      """WITH a AS (SELECT c_custkey AS id_a, c_nationkey AS blk,
                       lower(c_name) AS name, floor(c_acctbal / 1000)::INT AS band,
                       c_mktsegment AS seg
                FROM customer WHERE c_custkey % 5 = 0),
              b AS (SELECT c_custkey AS id_b, c_nationkey AS blk,
                       CASE WHEN c_custkey % 11 = 0 THEN lower(c_name) || ' jr'
                            ELSE lower(c_name) END AS name,
                       floor(c_acctbal / 1000)::INT AS band,
                       CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN'
                            ELSE c_mktsegment END AS seg
                FROM customer),
              p AS (SELECT id_a, id_b,
                      ((CASE WHEN a.name = b.name THEN 1 ELSE 0 END)
                       + (CASE WHEN a.band = b.band THEN 1 ELSE 0 END)
                       + (CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END))::INT AS n_agree,
                      round((CASE WHEN a.name IS NULL OR b.name IS NULL THEN 0.0
                                  WHEN a.name = b.name THEN 4.0 ELSE -2.0 END)
                          + (CASE WHEN a.band IS NULL OR b.band IS NULL THEN 0.0
                                  WHEN a.band = b.band THEN 2.0 ELSE -1.0 END)
                          + (CASE WHEN a.seg IS NULL OR b.seg IS NULL THEN 0.0
                                  WHEN a.seg = b.seg THEN 1.5 ELSE -1.0 END), 6) AS score
                    FROM a JOIN b USING (blk))
              SELECT * FROM p WHERE score >= 4.0"""),

    Q("j16_fuzzy_join", (s, d) => {
      // Levenshtein fuzzy lookup: a deterministically-typo'd twin of the
      // part catalog (delete/swap/substitute one char at a key-derived
      // position; every 17th row reversed = unmatchable noise) resolved
      // back to the clean name vocabulary at edit distance <= 2. The
      // operator's scale posture is the point: corpus rows are touched by
      // ONE distinct-aggregate; matching runs on vocabulary-sized frames
      // over an equi length-bucket join (lossless: lev >= |len diff|)
      val p = prt(s, d).select(col("p_partkey"), col("p_name"))
      val dirty = p.select(typoPartName.as("dirty_name"))
      Joins.fuzzyLookup(dirty, col("dirty_name"),
        prt(s, d), col("p_name"), maxDist = 2)
    },
      "WITH " + typoPartCtes("", "dirty_name") + """,
              dn AS (SELECT dirty_name, count(*)::BIGINT AS n_rows
                     FROM dirty GROUP BY 1),
              vn AS (SELECT DISTINCT p_name AS match_cand FROM part),
              cand AS (SELECT dirty_name, match_cand,
                         levenshtein(dirty_name, match_cand)::INT AS dist
                       FROM dn, vn
                       WHERE abs(length(dirty_name) - length(match_cand)) <= 2),
              c2 AS (SELECT * FROM cand WHERE dist <= 2),
              best AS (SELECT dirty_name, min(dist) AS bd FROM c2 GROUP BY 1),
              m AS (SELECT c.dirty_name, min(c.match_cand) AS match_name,
                           min(c.dist)::INT AS best_dist
                    FROM c2 c JOIN best b
                      ON c.dirty_name = b.dirty_name AND c.dist = b.bd
                    GROUP BY 1)
              SELECT dn.dirty_name, m.match_name, m.best_dist, dn.n_rows
              FROM dn LEFT JOIN m USING (dirty_name)"""),

    Q("g_entity_resolution", (s, d) => {
      // fuzzy entity resolution across two source systems: the clean
      // part catalog (system A) and its deterministically typo'd twin
      // (system B, the j16 generator) clustered at edit distance <= 2 —
      // distinct-name matching on an equi length-bucket join, transitive
      // closure via large-star/small-star components, one rollup row per
      // entity (reversed every-17th names stay singleton noise entities)
      val p = prt(s, d).select(col("p_partkey"), col("p_name"))
      val dirty = p.select((col("p_partkey") * 2 + 1).as("rid"), typoPartName.as("nm"))
      val recs = p.select((col("p_partkey") * 2).as("rid"), col("p_name").as("nm"))
        .unionByName(dirty)
      Joins.fuzzyEntities(recs, col("rid"), col("nm"), maxDist = 2)
    },
      "WITH RECURSIVE " + typoPartCtes("p_partkey * 2 + 1 AS rid, ", "nm") + """,
              recs AS (SELECT p_partkey * 2 AS rid, p_name AS nm FROM part
                       UNION ALL SELECT rid, nm FROM dirty),
              names AS MATERIALIZED (SELECT nm, min(rid) AS nid,
                       count(*)::BIGINT AS n_recs FROM recs GROUP BY 1),
              la AS (SELECT nm, nid, unnest(generate_series(
                       greatest(length(nm) - 2, 1), length(nm) + 2)) AS lb
                     FROM names),
              prs AS (SELECT a.nid AS id_a, b.nid AS id_b
                      FROM la a JOIN names b
                        ON a.lb = length(b.nm) AND a.nid < b.nid
                      WHERE levenshtein(a.nm, b.nm) <= 2),
              edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                        UNION SELECT id_b, id_a FROM prs),
              nodes AS (SELECT DISTINCT src AS node FROM edges),
              reach AS (SELECT node, node AS rch FROM nodes
                        UNION SELECT reach.node, edges.dst
                        FROM reach JOIN edges ON reach.rch = edges.src),
              comp AS (SELECT node, min(rch) AS component FROM reach GROUP BY 1),
              ent AS (SELECT n.nm, n.nid, n.n_recs,
                        coalesce(c.component, n.nid) AS entity
                      FROM names n LEFT JOIN comp c ON n.nid = c.node)
              SELECT entity,
                min(CASE WHEN nid = entity THEN nm END) AS canonical_name,
                count(*)::BIGINT AS n_names, sum(n_recs)::BIGINT AS n_records
              FROM ent GROUP BY 1"""),

    Q("j14_bloom_semi", (s, d) =>
      // bloom-prefiltered semi join must be result-identical to the plain
      // semi join (the exact join removes the bloom's false positives) —
      // the oracle IS the plain semi join; the bloom's job is to cut the
      // fact side's shuffle volume before the exact join
      graft.operators.Joins.bloomSemiJoin(
        ord(s, d), li(s, d).filter(col("l_quantity") >= 49),
        "o_orderkey", "l_orderkey", expectedItems = 100000L)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("total_price")),
      """SELECT o_orderkey, o_totalprice::DOUBLE AS total_price FROM orders
              WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                   WHERE l_quantity >= 49)"""),

    // ===== A: aggregations (SURVEY §2.4) =====

    Q("a6_rate_rep", (s, d) =>
      // rate-representative agg (A6, run-calculation.sql:265-273):
      // MIN(positive value) per composite key
      li(s, d).filter(col("l_discount") > 0)
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(min(col("l_discount")).as("min_disc"),
          max(col("l_discount")).as("max_disc")),
      """SELECT l_orderkey, l_suppkey, min(l_discount) AS min_disc,
              max(l_discount) AS max_disc
              FROM lineitem WHERE l_discount > 0 GROUP BY 1, 2"""),

    Q("a1_agg", (s, d) =>
      li(s, d).groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2).cast("double").as("sum_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders")),
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice::DECIMAL(12,2)), 2)::DOUBLE AS sum_price,
              round(avg(l_quantity), 4) AS avg_qty,
              count(*) AS n, count(DISTINCT l_orderkey) AS n_orders
              FROM lineitem GROUP BY 1, 2"""),

    Q("a2_conditional_agg", (s, d) =>
      ord(s, d).groupBy(col("o_orderpriority"))
        .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_filled"),
          max(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("max_open_price")),
      """SELECT o_orderpriority,
              sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_filled,
              max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS max_open_price
              FROM orders GROUP BY 1"""),

    Q("a3_string_agg_ordered", (s, d) =>
      sup(s, d).join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(concat_ws(",", sort_array(collect_list(col("s_name")))).as("suppliers"),
          count(lit(1)).as("n")),
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
              count(*) AS n
              FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1"""),

    Q("a4_having", (s, d) =>
      ord(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 12),
      """SELECT o_custkey, count(*) AS n FROM orders
              GROUP BY 1 HAVING count(*) >= 12"""),

    Q("a5_rollup_traceability", (s, d) =>
      li(s, d).groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) + col("l_tax").cast("decimal(6,4)")) *
              (lit(1) - col("l_discount").cast("decimal(6,4)"))), 2)
            .cast("double").as("charge"),
          count(lit(1)).as("n_lines"),
          countDistinct(col("l_suppkey")).as("n_supp")),
      """SELECT l_orderkey,
              round(sum(l_extendedprice::DECIMAL(12,2) * (1 + l_tax::DECIMAL(6,4))
                        * (1 - l_discount::DECIMAL(6,4))), 2)::DOUBLE AS charge,
              count(*) AS n_lines, count(DISTINCT l_suppkey) AS n_supp
              FROM lineitem GROUP BY 1"""),

    Q("a8_entropy_routing", (s, d) =>
      Routing.entropyRouting(
        Routing.entropyMetrics(doc(s, d), col("source"), col("lang"))),
      """WITH c AS (SELECT source AS grp, lang AS cfg, count(*)::BIGINT AS cnt
                         FROM documents GROUP BY 1, 2),
              m AS (SELECT grp, sum(cnt)::BIGINT AS n_members, count(*)::BIGINT AS n_configs,
                           max(cnt) AS max_cluster FROM c GROUP BY 1),
              e AS (SELECT c.grp,
                           round(-sum((cnt::DOUBLE / m.n_members) * log2(cnt::DOUBLE / m.n_members)), 6) AS entropy
                    FROM c JOIN m USING (grp) GROUP BY c.grp, m.n_members)
              SELECT m.grp, m.n_members, m.n_configs, m.max_cluster, e.entropy,
                     round(m.n_configs::DOUBLE / m.n_members, 6) AS unique_ratio,
                     round(m.max_cluster * 100.0 / m.n_members, 2) AS dominant_pct,
                     (m.n_members >= 2 AND
                      (round(m.n_configs::DOUBLE / m.n_members, 6) > 0.5
                       OR e.entropy > 2.0
                       OR round(m.max_cluster * 100.0 / m.n_members, 2) < 50.0)) AS route_pha
              FROM m JOIN e USING (grp)"""),

    Q("f_percentile", (s, d) =>
      // exact percentiles (linear interpolation): quartile fractions are
      // exact powers of two, so the interpolated values match DuckDB's
      // quantile_cont bit-for-bit after round(4)
      li(s, d).groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75_price")),
      """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
              round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
              round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
              FROM lineitem GROUP BY 1"""),

    Q("g_profile", (s, d) =>
      // one-pass column profiler (nulls / distinct / min / max per column)
      // in exact-distinct mode so the whole report is oracle-checkable
      graft.domain.Audit.profile(nat(s, d), exactDistinct = true)
        .withColumnRenamed("approx_distinct", "n_distinct"),
      """SELECT 'n_nationkey' AS "column", 'int' AS type,
                     sum((n_nationkey IS NULL)::INT)::BIGINT AS n_nulls,
                     count(DISTINCT n_nationkey) AS n_distinct,
                     min(n_nationkey)::VARCHAR AS min, max(n_nationkey)::VARCHAR AS max
              FROM nation
              UNION ALL
              SELECT 'n_name', 'string', sum((n_name IS NULL)::INT)::BIGINT,
                     count(DISTINCT n_name), min(n_name), max(n_name) FROM nation
              UNION ALL
              SELECT 'n_regionkey', 'int', sum((n_regionkey IS NULL)::INT)::BIGINT,
                     count(DISTINCT n_regionkey),
                     min(n_regionkey)::VARCHAR, max(n_regionkey)::VARCHAR FROM nation"""),

    Q("a12_rollup", (s, d) =>
      // rollup subtotals + grouping id (beyond the reference's UNION ALL
      // "summary" stacks, SURVEY §2.4 note)
      li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("int").as("gid"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("n")),
      """SELECT l_returnflag, l_linestatus,
              GROUPING(l_returnflag, l_linestatus)::INT AS gid, count(*) AS n
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    Q("a21_cube", (s, d) =>
      // full CUBE: every subtotal combination + grouping id, decimal money
      li(s, d).cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(14,2)")), 2)
            .cast("double").as("total"),
          grouping_id().cast("int").as("gid"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("n"), col("total")),
      """SELECT l_returnflag, l_linestatus,
              GROUPING(l_returnflag, l_linestatus)::INT AS gid, count(*) AS n,
              round(sum(l_extendedprice::DECIMAL(14,2)), 2)::DOUBLE AS total
              FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    Q("f_array_agg", (s, d) =>
      // canonical scalar form (sorted, comma-joined): raw array columns
      // are unhashable in the driver's row comparator
      li(s, d).groupBy(col("l_orderkey"))
        .agg(array_join(array_sort(collect_set(col("l_returnflag"))), ",").as("flags"),
          countDistinct(col("l_returnflag")).as("n_flags")),
      """SELECT l_orderkey,
              array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags,
              count(DISTINCT l_returnflag) AS n_flags
              FROM lineitem GROUP BY 1"""),

    Q("a13_countmin", (s, d) => {
      // deterministic count-min sketch (md5-derived hashes, no RNG):
      // build = one hash agg whose partial aggregation IS sketch merging;
      // estimate = min over hash rows, an upper bound on the true count.
      // The oracle rebuilds the identical grid in SQL, so even the
      // approximate estimates hash-match exactly
      val o = ord(s, d)
      val sk = graft.operators.Sketches.countMinSketch(o, col("o_custkey"), 4, 256)
      val keys = o.filter(col("o_custkey") < 500)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("true_cnt"))
      graft.operators.Sketches.countMinEstimate(sk, keys, col("o_custkey"), 4, 256)
        .select(col("o_custkey"), col("true_cnt"), col("cm_estimate"),
          (col("cm_estimate") >= col("true_cnt")).as("no_undercount"))
    },
      """WITH rws AS (SELECT unnest(generate_series(0, 3)) AS r),
              cells AS (SELECT r,
                          ('0x' || substr(md5(r::VARCHAR || ':' || o_custkey::VARCHAR), 1, 8))::BIGINT
                            % 256 AS c,
                          count(*) AS cnt
                        FROM orders CROSS JOIN rws GROUP BY 1, 2),
              keys AS (SELECT o_custkey, count(*) AS true_cnt FROM orders
                       WHERE o_custkey < 500 GROUP BY 1),
              fan AS (SELECT k.o_custkey, k.true_cnt, r.r,
                        ('0x' || substr(md5(r.r::VARCHAR || ':' || k.o_custkey::VARCHAR), 1, 8))::BIGINT
                          % 256 AS c
                      FROM keys k CROSS JOIN rws r)
              SELECT f.o_custkey, f.true_cnt::BIGINT AS true_cnt,
                     min(coalesce(cells.cnt, 0))::BIGINT AS cm_estimate,
                     min(coalesce(cells.cnt, 0)) >= f.true_cnt AS no_undercount
              FROM fan f LEFT JOIN cells ON cells.r = f.r AND cells.c = f.c
              GROUP BY f.o_custkey, f.true_cnt"""),

    // ===== W: windows (SURVEY §2.5) =====

    Q("w4_lead_close", (s, d) =>
      Windows.leadClose(ord(s, d), Seq(col("o_custkey")),
          Seq(col("o_orderdate"), col("o_orderkey")), "o_orderdate", "valid_to")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").as("valid_from"), col("valid_to")),
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
              lead(o_orderdate) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) - INTERVAL 1 DAY AS valid_to
              FROM orders"""),

    Q("w5_pct_of_total", (s, d) =>
      Windows.pctOfTotal(
        cst(s, d).groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")), "n", "pct"),
      """SELECT c_mktsegment, count(*) AS n,
              round(count(*) * 100.0 / sum(count(*)) OVER (), 2) AS pct
              FROM customer GROUP BY 1"""),

    Q("w6_seq_label", (s, d) =>
      Windows.seqLabel(ord(s, d),
          part = Seq(col("o_custkey")),
          order = Seq(col("o_orderdate"), col("o_orderkey")),
          prefix = concat(lit("CUST-"), col("o_custkey")),
          dateCol = col("o_orderdate"), outName = "label")
        .select(col("o_custkey"), col("o_orderkey"), col("label")),
      """SELECT o_custkey, o_orderkey,
              'CUST-' || o_custkey::VARCHAR || ' - ' || strftime(o_orderdate, '%Y-%m-%d')
                || ' - ' || (row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey))::VARCHAR AS label
              FROM orders"""),

    Q("w8_forward_fill", (s, d) =>
      // LOCF forward fill (the time-series staple Spark spells
      // last(col, ignoreNulls) OVER): every event carries the user's
      // most recent purchase value so far — null until the first
      // purchase. One per-user window, skew bounded by a user's events
      ev(s, d)
        .withColumn("__pv",
          when(col("event_type") === "purchase", round(col("value"), 6)))
        .withColumn("last_purchase_value",
          last(col("__pv"), ignoreNulls = true).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("ts"))
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("last_purchase_value")),
      """SELECT event_id, user_id, event_type,
                last_value(CASE WHEN event_type = 'purchase'
                                THEN round(value, 6) END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS last_purchase_value
              FROM events"""),

    Q("w7_rank_family", (s, d) => {
      // the full SQL ranking family in one pass: rank/dense_rank/
      // percent_rank/cume_dist over a TIES-bearing order (month — tie
      // values are rank-stable by definition), ntile over a total order
      // (tile assignment of tied rows is order-dependent, so the order
      // must be total for cross-engine determinism)
      val wTies = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(month(col("o_orderdate")))
      val wTotal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(month(col("o_orderdate")), col("o_orderkey"))
      ord(s, d).select(col("o_custkey"), col("o_orderkey"),
        rank().over(wTies).as("rnk"),
        dense_rank().over(wTies).as("drnk"),
        round(percent_rank().over(wTies), 6).as("prnk"),
        round(cume_dist().over(wTies), 6).as("cd"),
        ntile(4).over(wTotal).as("tile"))
    },
      """SELECT o_custkey, o_orderkey,
                (rank() OVER w1)::INT AS rnk,
                (dense_rank() OVER w1)::INT AS drnk,
                round(percent_rank() OVER w1, 6) AS prnk,
                round(cume_dist() OVER w1, 6) AS cd,
                (ntile(4) OVER w2)::INT AS tile
              FROM orders
              WINDOW w1 AS (PARTITION BY o_custkey ORDER BY month(o_orderdate)),
                     w2 AS (PARTITION BY o_custkey
                            ORDER BY month(o_orderdate), o_orderkey)"""),

    // ===== sorts / limits / set ops (SURVEY §2.6, §2.7) =====

    Q("s9_zorder_stats", (s, d) =>
      // Morton-interleave (part, supp) keys and report per-z-bucket
      // min/max on BOTH dimensions — the file-skipping statistics a
      // z-ordered layout gives a reader's predicate pushdown
      graft.operators.Layout.zBucketStats(li(s, d),
        col("l_partkey"), col("l_suppkey"), bits = 16, bucketShift = 20),
      """WITH z AS (SELECT l_partkey AS a, l_suppkey AS b,
                list_sum([(((a >> i) & 1) << (2 * i))
                          + (((b >> i) & 1) << (2 * i + 1))
                          for i in generate_series(0, 15)])::BIGINT AS zv
              FROM lineitem)
              SELECT (zv >> 20)::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
                     min(a)::BIGINT AS min_a, max(a)::BIGINT AS max_a,
                     min(b)::BIGINT AS min_b, max(b)::BIGINT AS max_b
              FROM z GROUP BY 1"""),

    Q("s10_bucket_join", (s, d) => {
      // Bucketed-layout co-location (the Spark answer to the reference's
      // nonclustered indexes, sql/01-raw-tables.sql:49,114-118): both
      // facts are written bucketBy+sortBy on the join key ONCE, so the
      // join AND the same-key aggregation that follows plan with ZERO
      // shuffle exchanges (asserted by BucketingSpec + PlanQualitySpec).
      // At 100 TB this is the difference between re-shuffling both facts
      // on every query and a local zip of co-located buckets.
      import graft.operators.Bucketing
      Bucketing.writeBucketed(
        li(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        "s10_li", "l_orderkey", 8, sortCols = Seq("l_orderkey"))
      Bucketing.writeBucketed(
        ord(s, d).select(col("o_orderkey"), col("o_totalprice")),
        "s10_ord", "o_orderkey", 8, sortCols = Seq("o_orderkey"))
      s.table("s10_li").join(s.table("s10_ord"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2)
            .cast("double").as("line_total"),
          max(col("o_totalprice")).as("order_total"))
    },
      """SELECT l_orderkey, count(*) AS n_lines,
              round(sum(l_extendedprice::DECIMAL(12,2)), 2)::DOUBLE AS line_total,
              max(o_totalprice) AS order_total
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1"""),

    Q("s11_gen_source", (s, d) => {
      // Custom DataSource V2 (graft.sources.GenSource): a computed corpus
      // table whose scan NARROWS ITS GENERATION RANGE from pushed doc_id
      // predicates (pushdown into the generator, not a post-filter) and
      // computes only the pruned columns. The score predicate is not
      // pushable and stays a Spark-side residual. The oracle replays the
      // md5 row derivation in SQL over the same pushed id range.
      s.read.format("graft.sources.GenSource")
        .option("n", 20000).option("slices", 8).load()
        .filter(col("doc_id") >= 1000 && col("doc_id") < 9000 &&
          col("score") < 0.75)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("sum_tokens"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
    },
      """WITH g AS (SELECT md5('gen-' || i::VARCHAR) AS h
                FROM generate_series(1000, 8999) t(i)),
              d AS (SELECT ('0x' || substr(h, 1, 8))::BIGINT AS a,
                           ('0x' || substr(h, 9, 8))::BIGINT AS b,
                           ('0x' || substr(h, 17, 8))::BIGINT AS c FROM g),
              e AS (SELECT ['web','books','code','wiki'][(a % 4)::INT + 1] AS source,
                           ['en','de','fr','es','pt'][(b % 5)::INT + 1] AS lang,
                           50 + (c % 951) AS tokens,
                           a / 4294967296.0 AS score FROM d)
              SELECT source, lang, count(*) AS n_docs,
                     sum(tokens)::BIGINT AS sum_tokens,
                     min(score) AS min_score, max(score) AS max_score
              FROM e WHERE score < 0.75 GROUP BY 1, 2"""),

    Q("s6_topk", (s, d) =>
      prt(s, d).orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .limit(10).select(col("p_partkey"), col("p_name"), col("p_retailprice")),
      """SELECT p_partkey, p_name, p_retailprice FROM part
              ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10"""),

    Q("set1_union_dedup", (s, d) =>
      cst(s, d).select(col("c_nationkey").as("nationkey"))
        .union(sup(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct(),
      """SELECT c_nationkey AS nationkey FROM customer
              UNION SELECT s_nationkey FROM supplier"""),

    Q("set2_audit_counts", (s, d) => {
      val o = ord(s, d); val l = li(s, d); val c = cst(s, d)
      val m1 = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("orders_without_lines").as("metric"), col("n"))
      val m2 = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("customers_without_orders").as("metric"), col("n"))
      val m3 = l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("lines_without_orders").as("metric"), col("n"))
      m1.unionByName(m2).unionByName(m3)
    },
      """SELECT 'orders_without_lines' AS metric, count(*) AS n FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
              UNION ALL
              SELECT 'customers_without_orders', count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
              UNION ALL
              SELECT 'lines_without_orders', count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"""),

    Q("set3_intersect", (s, d) => {
      val o = ord(s, d)
      o.filter(year(col("o_orderdate")) === 1994).select(col("o_custkey"))
        .intersect(o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey")))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
              INTERSECT
              SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995"""),

    // ===== F: scalar function families (SURVEY §2.8) =====

    Q("f_scalar_strings", (s, d) =>
      prt(s, d).select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 12)).as("uname"),
        length(col("p_name")).as("nlen"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        concat_ws(":", col("p_brand"), col("p_type")).as("bt")),
      """SELECT p_partkey, upper(substr(p_name, 1, 12)) AS uname,
              length(p_name)::INT AS nlen, replace(p_name, ' ', '_') AS snake,
              p_brand || ':' || p_type AS bt FROM part"""),

    Q("f_dates", (s, d) =>
      ord(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        add_months(col("o_orderdate"), 3).as("plus3m"),
        date_add(col("o_orderdate"), 30).as("plus30d"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym")),
      """SELECT o_orderkey, year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
              (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus3m,
              (o_orderdate + INTERVAL 30 DAY)::DATE AS plus30d,
              date_diff('day', DATE '1995-01-01', o_orderdate)::INT AS days_since,
              strftime(o_orderdate, '%Y-%m') AS ym
              FROM orders"""),

    Q("f_hash", (s, d) =>
      cst(s, d).select(col("c_custkey"),
        md5(col("c_name")).as("h_md5"),
        sha2(concat_ws("|", col("c_custkey"), col("c_name")), 256).as("h_sha"),
        upper(sha2(concat_ws("|", col("c_custkey"), col("c_name")), 256)).as("h_sha_up")),
      """SELECT c_custkey, md5(c_name) AS h_md5,
              sha256(c_custkey::VARCHAR || '|' || c_name) AS h_sha,
              upper(sha256(c_custkey::VARCHAR || '|' || c_name)) AS h_sha_up
              FROM customer"""),

    Q("f_json", (s, d) =>
      ev(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"),
        get_json_object(col("props"), "$.k").isNotNull.as("has_k")),
      """SELECT event_id, json_extract_string(props, '$.k')::INT AS k_val,
              json_extract_string(props, '$.k') IS NOT NULL AS has_k
              FROM events"""),

    Q("f_split_explode", (s, d) =>
      // STRING_SPLIT + explode (§2.8): corpus word frequencies
      doc(s, d).select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100),
      """SELECT word, count(*) AS n FROM (
                SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
              GROUP BY 1 HAVING count(*) >= 100"""),

    Q("f_pivot", (s, d) =>
      // pivot: linestatus columns per returnflag (reference fakes this
      // with wide YearN columns, sql/01-raw-tables.sql:219-237)
      li(s, d).groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .withColumnRenamed("F", "n_f").withColumnRenamed("O", "n_o")
        .na.fill(0L, Seq("n_f", "n_o")),
      """SELECT l_returnflag,
              sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
              sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_o
              FROM lineitem GROUP BY 1"""),

    Q("f_unpivot", (s, d) =>
      // unpivot/stack: measures to rows (inverse of the YearN pivot)
      li(s, d).selectExpr("l_orderkey", "l_linenumber",
        "stack(3, 'qty', l_quantity, 'price', l_extendedprice, 'disc', l_discount)" +
          " as (measure, value)"),
      """SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS value FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'disc', l_discount FROM lineitem"""),

    Q("a11_topk_aggregator", (s, d) => {
      // typed bounded-buffer top-k per group (O(k) state, map-side merge)
      // vs the QUALIFY window oracle — results must be identical
      val topk = udaf(graft.sql.TopKAggregator(3))
      ord(s, d).groupBy(col("o_custkey"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).as("rank"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
    },
      """SELECT o_custkey, (row_number() OVER w)::INT AS rank, o_orderkey, o_totalprice
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
              QUALIFY row_number() OVER w <= 3"""),

    Q("a10_approx_distinct", (s, d) =>
      // HLL sketch — the approximate path for COUNT(DISTINCT) at scale.
      // Sketch values differ per engine, so the hashable output is the
      // exact count plus a within-5%-of-exact bound on the sketch (the
      // oracle asserts the bound holds; observed error ~2.7%)
      li(s, d).groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("within_5pct")),
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
              true AS within_5pct
              FROM lineitem GROUP BY 1"""),

    Q("a17_approx_quantile", (s, d) =>
      // approx_percentile (GK sketch) — the scale path for quantiles.
      // Sketch picks differ per engine, so the hashable output is the
      // exact quantile plus a rank-error bound check: the approx value's
      // true rank must sit within eps*N of the target rank
      // (accuracy=1000 -> eps=0.001; rank tolerance padded +1 for the
      // discrete boundary)
      {
        val base = li(s, d).select(col("l_returnflag"), col("l_extendedprice"))
        val approx = base.groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("apx"),
            count(lit(1)).as("n"))
        // true rank of the approx value = how many rows sort at or below it
        val ranked = base.join(approx, Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L)).as("rank_apx"),
            first(col("n")).as("n"))
        ranked.select(col("l_returnflag"), col("n"),
          (abs(col("rank_apx") - col("n") * 0.5) <= col("n") * 0.001 + 1)
            .as("rank_within_eps"))
      },
      """SELECT l_returnflag, count(*)::BIGINT AS n, true AS rank_within_eps
              FROM lineitem GROUP BY 1"""),

    // ===== G: proposal-builder-shaped composites (SURVEY §2.10) =====

    Q("g_config_hash", (s, d) => {
      // content-addressed config hash: canonical sorted item list -> SHA-256
      // (uppercase hex like the reference, proposal-builder.ts:1973)
      val item = concat_ws(":", col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"))
      ord(s, d).select(col("o_custkey"), item.as("item"))
        .groupBy(col("o_custkey"))
        .agg(upper(sha2(concat_ws("|", sort_array(collect_list(col("item")))), 256)).as("cfg_hash"),
          count(lit(1)).as("n_items"))
    },
      """WITH i AS (SELECT o_custkey,
                o_orderkey::VARCHAR || ':' || o_orderstatus || ':'
                  || round(o_totalprice * 100)::BIGINT::VARCHAR AS item
              FROM orders)
              SELECT o_custkey, upper(sha256(string_agg(item, '|' ORDER BY item))) AS cfg_hash,
                     count(*) AS n_items
              FROM i GROUP BY 1"""),

    Q("g_keymap_explode", (s, d) =>
      ord(s, d).groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate"))).as("y0"), max(year(col("o_orderdate"))).as("y1"))
        .select(col("o_custkey"), explode(sequence(col("y0"), col("y1"))).as("yr")),
      """WITH g AS (SELECT o_custkey, min(year(o_orderdate)) AS y0,
                                max(year(o_orderdate)) AS y1 FROM orders GROUP BY 1)
              SELECT o_custkey, unnest(generate_series(y0, y1))::INT AS yr FROM g"""),

    Q("g_overlap_fix", (s, d) => {
      // the overlap-repair state machine (proposal-builder.ts:1503-1700) on
      // proposals derived from orders: 90-day ranges per customer guarantee
      // real overlaps; single-pair product/plan arrays make the -CONT
      // emission lead()-expressible for the oracle
      val props = ord(s, d).select(
        concat(lit("G"), col("o_custkey")).as("group_id"),
        concat(lit("P"), col("o_orderkey")).as("proposal_id"),
        to_date(col("o_orderdate")).as("eff_from"),
        date_add(to_date(col("o_orderdate")), 90).as("eff_to"),
        array(col("o_orderpriority")).as("product_codes"),
        array(col("o_orderstatus")).as("plan_codes"))
      graft.domain.OverlapFix.fix(props)
        .select(col("group_id"), col("proposal_id"), col("eff_from"), col("eff_to"),
          array_join(col("product_codes"), ",").as("products"),
          array_join(col("plan_codes"), ",").as("plans"),
          col("is_continuation"))
    },
      """WITH props AS (
                SELECT 'G' || o_custkey::VARCHAR AS group_id,
                       'P' || o_orderkey::VARCHAR AS proposal_id,
                       o_orderdate::DATE AS eff_from, o_orderdate::DATE + 90 AS eff_to,
                       o_orderpriority AS prod, o_orderstatus AS plan
                FROM orders),
              x AS (
                SELECT *, lead(eff_from) OVER w AS nxt_from,
                          lead(prod) OVER w AS nxt_prod,
                          lead(plan) OVER w AS nxt_plan
                FROM props
                WINDOW w AS (PARTITION BY group_id ORDER BY eff_from, proposal_id))
              SELECT group_id, proposal_id, eff_from::VARCHAR AS eff_from,
                     (CASE WHEN nxt_from IS NOT NULL AND eff_to >= nxt_from
                           THEN nxt_from - 1 ELSE eff_to END)::VARCHAR AS eff_to,
                     prod AS products, plan AS plans, false AS is_continuation
              FROM x
              UNION ALL
              SELECT group_id, proposal_id || '-CONT', nxt_from::VARCHAR, eff_to::VARCHAR,
                     prod, plan, true
              FROM x
              WHERE nxt_from IS NOT NULL AND eff_to >= nxt_from
                AND (prod <> nxt_prod OR plan <> nxt_plan)"""),

    Q("g_consolidate_islands", (s, d) => {
      // the consolidation state machine (consolidate-proposals.ts:130-245)
      // under a conflict-free restriction (wildcard plans never conflict):
      // runs of identical config per group = gaps-and-islands, with the
      // sticky-null end date and product-set union rules fully exercised
      consolidateOrders(s, d, array(lit("*")))
    },
      consolidateOracle("o_orderstatus AS prod", "",
        """array_to_string(list_sort(list(DISTINCT prod)), ',') AS products,
          |'*' AS plans,
          |count(*)::INT AS n_merged
          |FROM i GROUP BY group_id, island, config_md5""".stripMargin)),

    Q("g_consolidate_conflicts", (s, d) => {
      // rule 3 (plan conflict) exercised for real: two-element CONCRETE
      // plan sets {status, priority}. Within a same-config run, a row
      // whose status differs partially overlaps the accumulated set
      // (inter = {priority} != union) -> conflict -> close. Islands
      // therefore break on (config, status) change, which the oracle
      // replicates relationally.
      consolidateOrders(s, d, array(col("o_orderstatus"), col("o_orderpriority")))
    },
      consolidateOracle("o_orderstatus AS st, o_orderpriority AS pri",
        "\nOR lag(st) OVER w IS DISTINCT FROM st",
        """st AS products,
          |array_to_string(list_sort([st, pri]), ',') AS plans,
          |count(*)::INT AS n_merged
          |FROM i GROUP BY group_id, island, config_md5, st, pri""".stripMargin)),

    Q("g_hierarchy_versions", (s, d) => {
      // temporal hierarchy versioning (07-deprecated-hierarchies.sql):
      // signature-change islands per key with lead-closed ranges and the
      // 2099 open-end sentinel on the latest version
      orderPriorityVersions(s, d)
        .select(col("key"), col("version_seq"), col("signature"),
          col("eff_from").cast("date").as("eff_from"),
          col("eff_to").cast("date").as("eff_to"))
    },
      "WITH " + orderVersionCtes + """
              SELECT key, version_seq, signature, eff_from,
                     coalesce(lead(eff_from) OVER (PARTITION BY key
                                ORDER BY eff_from, version_seq) - 1,
                              DATE '2099-01-01') AS eff_to
              FROM g"""),

    Q("g_policy_waterfall", (s, d) => {
      // the 4-tier policy->proposal waterfall (09-policies.sql:128-180):
      // exact > plan-wildcard > product-wildcard > year-adjacent, with
      // |year distance| + proposal id tiebreaks
      val o = ord(s, d)
      val pol = o.filter(pmod(col("o_orderkey"), lit(7)) === 1).select(
        col("o_orderkey").as("policy_id"),
        concat(lit("G"), pmod(col("o_custkey"), lit(500))).as("group_id"),
        col("o_orderpriority").as("product_code"),
        col("o_orderstatus").as("plan_code"),
        to_date(col("o_orderdate")).as("eff_date"))
      val km = o.filter(pmod(col("o_orderkey"), lit(7)) === 0).select(
        concat(lit("PR"), col("o_orderkey")).as("proposal_id"),
        concat(lit("G"), pmod(col("o_custkey"), lit(500))).as("group_id"),
        year(col("o_orderdate")).as("yr"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit("*"))
          .otherwise(col("o_orderpriority")).as("product_code"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit("*"))
          .otherwise(col("o_orderstatus")).as("plan_code"))
      graft.domain.Policies.resolveProposals(pol, km)
        .select(col("policy_id"), col("resolved_proposal_id"), col("match_tier"))
    },
      """WITH pol AS (
                SELECT o_orderkey AS policy_id,
                       'G' || (o_custkey % 500)::VARCHAR AS group_id,
                       o_orderpriority AS product_code, o_orderstatus AS plan_code,
                       year(o_orderdate::DATE) AS pol_yr
                FROM orders WHERE o_orderkey % 7 = 1),
              km AS (
                SELECT 'PR' || o_orderkey::VARCHAR AS proposal_id,
                       'G' || (o_custkey % 500)::VARCHAR AS group_id,
                       year(o_orderdate::DATE) AS yr,
                       CASE WHEN o_orderkey % 3 = 0 THEN '*'
                            ELSE o_orderpriority END AS product_code,
                       CASE WHEN o_orderkey % 5 = 0 THEN '*'
                            ELSE o_orderstatus END AS plan_code
                FROM orders WHERE o_orderkey % 7 = 0),
              cand AS (
                SELECT p.policy_id, k.proposal_id,
                       CASE WHEN k.yr = p.pol_yr AND k.product_code = p.product_code
                                 AND k.plan_code = p.plan_code THEN 1
                            WHEN k.yr = p.pol_yr AND k.product_code = p.product_code
                                 AND k.plan_code = '*' THEN 2
                            WHEN k.yr = p.pol_yr AND k.product_code = '*' THEN 3
                            WHEN k.product_code = p.product_code
                                 AND k.plan_code = p.plan_code THEN 4 END AS tier,
                       abs(k.yr - p.pol_yr) AS yd
                FROM pol p LEFT JOIN km k ON k.group_id = p.group_id),
              r AS (SELECT *, row_number() OVER (PARTITION BY policy_id
                      ORDER BY tier ASC NULLS LAST,
                               CASE WHEN tier IS NOT NULL THEN yd END ASC NULLS LAST,
                               proposal_id ASC NULLS LAST) AS rn
                    FROM cand)
              SELECT policy_id,
                     CASE WHEN tier IS NOT NULL THEN proposal_id END AS resolved_proposal_id,
                     tier AS match_tier
              FROM r WHERE rn = 1"""),

    Q("g_products_transform", (s, d) =>
      // products core transform (03): certificate-shaped rows from part
      graft.domain.CoreTransforms.products(prt(s, d).select(
        col("p_brand").as("product_category"), col("p_type").as("product_code"),
        split(col("p_name"), " ").getItem(0).as("state"),
        col("p_partkey").cast("string").as("group_id"))),
      """WITH c AS (SELECT NULLIF(trim(p_brand), '') AS product_category,
                                NULLIF(trim(p_type), '') AS product_code,
                                NULLIF(trim(split_part(p_name, ' ', 1)), '') AS state,
                                NULLIF(trim(p_partkey::VARCHAR), '') AS group_id
                         FROM part),
              f AS (SELECT * FROM c
                    WHERE product_category IS NOT NULL AND product_code IS NOT NULL)
              SELECT product_category, product_code,
                     count(DISTINCT group_id) AS groups_count,
                     coalesce(array_to_string(
                       list_sort(list(DISTINCT state) FILTER (WHERE state IS NOT NULL)),
                       ','), '') AS allowed_states,
                     product_category || ' - ' || product_code AS description,
                     'Active' AS status,
                     row_number() OVER (ORDER BY product_category, product_code) AS id
              FROM f GROUP BY 1, 2"""),

    Q("g_banking_infos", (s, d) => {
      // broker banking extraction (12): all-3-fields gate, 'P'-strip
      // try_cast broker ids (1-in-13 malformed), 9/17-char truncations,
      // account-type decode, name assembly, individual-beats-org anti
      // join (suppliers deliberately collide with customer ids)
      val ind = cst(s, d).select(
        when(pmod(col("c_custkey"), lit(13)) === 0,
          concat(lit("P"), col("c_custkey"), lit("X")))
          .otherwise(concat(lit("P"), col("c_custkey"))).as("PartyUniqueId"),
        when(pmod(col("c_custkey"), lit(7)) === 0, lit(" "))
          .otherwise(concat(lit("06"), col("c_custkey"), lit("9999999")))
          .as("BankRoutingNumber"),
        concat(lit("AC-"), col("c_custkey"), lit("-"), col("c_nationkey"),
          lit("-LONG-SUFFIX")).as("AccountNumber"),
        when(pmod(col("c_custkey"), lit(3)) === 0, lit("CHK"))
          .otherwise(col("c_mktsegment")).as("AccountType"),
        split(col("c_name"), "#").getItem(0).as("IndividualFirstName"),
        when(pmod(col("c_custkey"), lit(5)) === 0, lit(null).cast("string"))
          .otherwise(col("c_custkey").cast("string")).as("IndividualLastName"))
      val org = sup(s, d).select(
        concat(lit("P"), col("s_suppkey")).as("PartyUniqueId"),
        concat(lit("11"), col("s_suppkey"), lit("0000000")).as("BankRoutingNumber"),
        when(pmod(col("s_suppkey"), lit(4)) === 0, lit(""))
          .otherwise(concat(lit("ORG-"), col("s_suppkey"), lit("-ACCOUNT-NUM-LONG")))
          .as("AccountNumber"),
        lit("Corporate").as("AccountType"),
        col("s_name").as("OrganizationName"))
      graft.domain.CoreTransforms.bankingInfos(ind, org)
    },
      """WITH ind_src AS (SELECT
                CASE WHEN c_custkey % 13 = 0 THEN 'P' || c_custkey::VARCHAR || 'X'
                     ELSE 'P' || c_custkey::VARCHAR END AS pid,
                CASE WHEN c_custkey % 7 = 0 THEN ' '
                     ELSE '06' || c_custkey::VARCHAR || '9999999' END AS routing,
                'AC-' || c_custkey::VARCHAR || '-' || c_nationkey::VARCHAR
                  || '-LONG-SUFFIX' AS acct,
                CASE WHEN c_custkey % 3 = 0 THEN 'CHK' ELSE c_mktsegment END AS atype,
                split_part(c_name, '#', 1) AS fname,
                CASE WHEN c_custkey % 5 = 0 THEN NULL
                     ELSE c_custkey::VARCHAR END AS lname
              FROM customer),
              ind AS (SELECT
                TRY_CAST(replace(trim(pid), 'P', '') AS BIGINT) AS broker_id,
                substr(trim(routing), 1, 9) AS routing_number,
                substr(trim(acct), 1, 17) AS account_number,
                CASE WHEN upper(trim(atype)) LIKE 'C%' THEN 'Checking'
                     ELSE 'Savings' END AS account_type,
                trim(coalesce(fname, '')
                  || CASE WHEN fname IS NOT NULL AND lname IS NOT NULL
                          THEN ' ' ELSE '' END
                  || coalesce(lname, '')) AS nm,
                'Source: raw_individual - ETL import' AS notes
              FROM ind_src
              WHERE nullif(trim(routing), '') IS NOT NULL
                AND nullif(trim(acct), '') IS NOT NULL
                AND nullif(trim(atype), '') IS NOT NULL
                AND nullif(trim(pid), '') IS NOT NULL
                AND TRY_CAST(replace(trim(pid), 'P', '') AS BIGINT) IS NOT NULL),
              org_src AS (SELECT
                'P' || s_suppkey::VARCHAR AS pid,
                '11' || s_suppkey::VARCHAR || '0000000' AS routing,
                CASE WHEN s_suppkey % 4 = 0 THEN ''
                     ELSE 'ORG-' || s_suppkey::VARCHAR || '-ACCOUNT-NUM-LONG' END AS acct,
                'Corporate' AS atype, s_name AS oname
              FROM supplier),
              org AS (SELECT
                TRY_CAST(replace(trim(pid), 'P', '') AS BIGINT) AS broker_id,
                substr(trim(routing), 1, 9) AS routing_number,
                substr(trim(acct), 1, 17) AS account_number,
                CASE WHEN upper(trim(atype)) LIKE 'C%' THEN 'Checking'
                     ELSE 'Savings' END AS account_type,
                substr(trim(oname), 1, 255) AS nm,
                'Source: raw_org1 - ETL import' AS notes
              FROM org_src
              WHERE nullif(trim(routing), '') IS NOT NULL
                AND nullif(trim(acct), '') IS NOT NULL
                AND nullif(trim(atype), '') IS NOT NULL
                AND nullif(trim(pid), '') IS NOT NULL
                AND TRY_CAST(replace(trim(pid), 'P', '') AS BIGINT) IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM ind i
                                WHERE i.broker_id =
                                  TRY_CAST(replace(trim(pid), 'P', '') AS BIGINT))),
              unioned AS (SELECT * FROM ind UNION ALL SELECT * FROM org)
              SELECT broker_id, 1 AS payment_preference, 'Unknown' AS bank_name,
                     routing_number, account_number, account_type,
                     nm AS account_holder_name, nm AS payee_name, notes
              FROM unioned"""),

    Q("g_transferee_capture", (s, d) => {
      // assignment capture + transferee fix (proposal-builder.ts:642-662,
      // README.md:311-335): latest split->paid reassignment per broker;
      // assignments onto an active earner are dropped (double-pay guard).
      // 1-in-22 rows pay an earner ('P...'), 1-in-11 an external ('R...')
      val certs = li(s, d).select(
        col("l_orderkey").as("cert_id"),
        col("l_linenumber").as("split_seq"),
        concat(lit("P"), col("l_suppkey")).as("broker_id"),
        when(pmod(col("l_partkey"), lit(22)) === 0,
          concat(lit("P"), pmod(col("l_suppkey"), lit(100)) + 1))
          .when(pmod(col("l_partkey"), lit(11)) === 0,
            concat(lit("R"), pmod(col("l_partkey"), lit(97))))
          .otherwise(concat(lit("P"), col("l_suppkey"))).as("paid_broker_id"),
        to_date(col("l_shipdate")).as("eff_date"))
      graft.domain.TransfereeFix.assignments(certs)
        .select(col("broker_id"), col("recipient_id"),
          col("assigned_pct"), col("eff_from"))
    },
      """WITH c AS (
                SELECT l_orderkey AS cert_id, l_linenumber AS split_seq,
                       'P' || l_suppkey::VARCHAR AS broker_id,
                       CASE WHEN l_partkey % 22 = 0
                              THEN 'P' || (l_suppkey % 100 + 1)::VARCHAR
                            WHEN l_partkey % 11 = 0
                              THEN 'R' || (l_partkey % 97)::VARCHAR
                            ELSE 'P' || l_suppkey::VARCHAR END AS paid_broker_id,
                       l_shipdate::DATE AS eff_date
                FROM lineitem),
              cap AS (
                SELECT *, row_number() OVER (PARTITION BY broker_id
                            ORDER BY eff_date DESC, cert_id DESC, split_seq DESC) AS rn
                FROM c WHERE paid_broker_id IS NOT NULL
                  AND broker_id <> paid_broker_id),
              a AS (SELECT broker_id, paid_broker_id AS recipient_id,
                           100.0::DOUBLE AS assigned_pct, eff_date AS eff_from
                    FROM cap WHERE rn = 1)
              SELECT * FROM a
              WHERE recipient_id NOT IN (SELECT DISTINCT broker_id FROM c)"""),

    Q("g_pha_entities", (s, d) => {
      // PHA path (proposal-builder.ts:1189-1279): fresh per-certificate
      // hierarchies for routed (non-conformant) certs, natural-key ids.
      // 1-in-10 whole-order slice: this exercises the operator, not the
      // synth throughput (the e2e query already pays the full windows)
      val certs = graft.DomainBench.synthCertificatesFrom(
        li(s, d).filter(pmod(col("l_orderkey"), lit(10)) === 0))
      val hh = graft.domain.Proposals.hierarchyHashes(certs)
      val cfg = graft.domain.Proposals.routeGroups(
        graft.domain.Proposals.flagNonConformant(
          graft.domain.Proposals.configHashes(hh)),
        maxUniqueRatio = 1.0, maxEntropy = 99.0, minDominantPct = 0.0)
      graft.domain.Pha.phaEntities(cfg, hh)
    },
      """WITH li AS (
                SELECT l_orderkey, l_linenumber, l_suppkey,
                       count(*) OVER (PARTITION BY l_orderkey) AS cnt,
                       row_number() OVER (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_suppkey, l_partkey) AS rn
                FROM lineitem WHERE l_orderkey % 10 = 0),
              c0 AS (SELECT *, floor(10000 / cnt) / 100.0 AS base_pct FROM li),
""" + certRowsCte("", brokerCols) + """,
              hh AS (
                SELECT cert_id, group_id, split_seq, split_pct
                FROM rows0 GROUP BY 1, 2, 3, 4),
              cfg AS (
                SELECT cert_id, abs(sum(split_pct) - 100.0) > 0.001 AS nonconformant
                FROM hh GROUP BY 1),
              pha AS (SELECT cert_id FROM cfg WHERE nonconformant)
              SELECT r.cert_id, r.split_seq, r.split_pct,
                     'PHA-' || r.cert_id::VARCHAR || '-' || r.split_seq::VARCHAR
                       AS pha_hierarchy_id,
                     'PHA-' || r.cert_id::VARCHAR || '-' || r.split_seq::VARCHAR || '-V1'
                       AS version_id,
                     1 AS tier_level, r.broker_id,
                     'SCHED' || r.sched_k::VARCHAR AS schedule_code
              FROM rows0 r JOIN pha USING (cert_id)"""),

    Q("g_state_cascade", (s, d) => {
      // state-rule cascade (proposal-builder.ts:1308-1459): versions x
      // states -> rules; x products -> splits; x participants ->
      // distributions at the equal 100/count DECIMAL(5,2) percentage
      val o = ord(s, d)
      val vid = concat(lit("V"), pmod(col("o_custkey"), lit(10))).as("version_id")
      val v = o.select(vid).distinct()
      val st = o.select(vid, col("o_orderpriority").as("state")).distinct()
      val pr = o.select(vid, col("o_orderstatus").as("product_code")).distinct()
      val pa = o.select(vid,
        concat(lit("B"), pmod(col("o_orderkey"), lit(7))).as("broker_id")).distinct()
      // domain stays DECIMAL(5,2) (reference semantics); the QUERY contract
      // emits DOUBLE — decimal final columns are a driver-gate hash hazard
      // (this query was green only because no value had a trailing zero;
      // a 4-participant split -> 25.00 would flip it; see a23)
      graft.domain.Pha.stateRuleCascade(v, st, pr, pa)
        .withColumn("distribution_pct", col("distribution_pct").cast("double"))
    },
      """WITH base AS (
                SELECT 'V' || (o_custkey % 10)::VARCHAR AS version_id,
                       o_orderpriority AS state, o_orderstatus AS product_code,
                       'B' || (o_orderkey % 7)::VARCHAR AS broker_id
                FROM orders),
              st AS (SELECT DISTINCT version_id, state FROM base),
              pr AS (SELECT DISTINCT version_id, product_code FROM base),
              pa AS (SELECT DISTINCT version_id, broker_id FROM base),
              x AS (SELECT s.version_id, s.state,
                           s.version_id || '-' || s.state AS rule_id,
                           p.product_code,
                           s.version_id || '-' || s.state || '-' || p.product_code
                             AS split_id,
                           b.broker_id
                    FROM st s JOIN pr p USING (version_id)
                              JOIN pa b USING (version_id))
              SELECT version_id, state, rule_id, product_code, split_id, broker_id,
                     count(*) OVER (PARTITION BY split_id) AS n_participants,
                     round(100.0 / count(*) OVER (PARTITION BY split_id), 2)::DECIMAL(5,2)::DOUBLE
                       AS distribution_pct
              FROM x"""),

    Q("g_readiness_report", (s, d) => {
      // named production-readiness verification (sql/verify/
      // verify-production-readiness.sql + verify-pha-cleanup.sql:115-216 +
      // verify-commission-requirements.sql:134-178): every named check as
      // a severity-graded count over deterministic synthetic entities
      // derived from orders/customer, plus the final READY/NOT_READY
      // assessment row. Each check is an independent anti-join/filter +
      // 1-row agg — parallel scan+aggs, nothing row-sized on the driver.
      import graft.domain.{ProductionReadiness => PR}
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = cst(s, d).select(col("c_custkey"), col("c_name"))
      val groups = c.select(concat(lit("G"), col("c_custkey")).as("group_id"),
        when(pmod(col("c_custkey"), lit(37)) === 0,
          concat(lit("Group G"), col("c_custkey")))
          .otherwise(concat(lit("Grp "), col("c_name"))).as("name"))
      val props = o.filter(pmod(col("o_orderkey"), lit(3)) === 0).select(
        concat(lit("P"), col("o_orderkey")).as("proposal_id"),
        when(pmod(col("o_orderkey"), lit(97)) === 0,
          concat(lit("GX"), col("o_orderkey")))
          .otherwise(concat(lit("G"), col("o_custkey"))).as("group_id"),
        when(pmod(col("o_orderkey"), lit(41)) === 0, 1).otherwise(2).as("status"),
        when(pmod(col("o_orderkey"), lit(53)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("B"), pmod(col("o_orderkey"), lit(100))))
          .as("broker_party_id"),
        col("o_orderkey"), col("o_custkey"))
      val sv = props.filter(pmod(col("o_orderkey"), lit(11)) =!= 0).select(
        concat(lit("SV"), col("o_orderkey")).as("split_id"), col("proposal_id"),
        when(pmod(col("o_orderkey"), lit(43)) === 0, 0).otherwise(1).as("status"),
        col("o_orderkey"), col("o_custkey"))
      val sp = sv.filter(pmod(col("o_orderkey"), lit(7)) === 0).select(
        col("split_id"),
        when(pmod(col("o_orderkey"), lit(89)) === 0,
          concat(lit("HX"), col("o_orderkey")))
          .otherwise(concat(lit("H"), pmod(col("o_custkey"), lit(75)) * 2 + 2))
          .as("hierarchy_id"))
      val hier = c.filter(pmod(col("c_custkey"), lit(2)) === 0).select(
        concat(lit("H"), col("c_custkey")).as("hierarchy_id"),
        when(pmod(col("c_custkey"), lit(58)) === 0, 0).otherwise(1).as("status"),
        col("c_custkey"))
      val hv = hier.filter(pmod(col("c_custkey"), lit(13)) =!= 0).select(
        concat(lit("HV"), col("c_custkey")).as("version_id"), col("hierarchy_id"),
        when(pmod(col("c_custkey"), lit(31)) === 0, 2).otherwise(1).as("status"),
        col("c_custkey"))
      val hp = hv.filter(pmod(col("c_custkey"), lit(17)) =!= 0).select(
        col("version_id"),
        when(pmod(col("c_custkey"), lit(19)) === 0,
          concat(lit("BX"), col("c_custkey")))
          .otherwise(concat(lit("B"), pmod(col("c_custkey"), lit(100))))
          .as("entity_id"))
      val brokers = c.filter(col("c_custkey") <= 100)
        .select(concat(lit("B"), col("c_custkey") - 1).as("broker_id"))
      val pol = o.select(concat(lit("PL"), col("o_orderkey")).as("policy_id"),
        when(pmod(col("o_orderkey"), lit(23)) === 0, lit("G00000"))
          .otherwise(concat(lit("G"), col("o_custkey"))).as("group_id"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("P"), col("o_orderkey"))).as("proposal_id"),
        col("o_orderkey"))
      val pha = pol
        .filter(col("group_id") === "G00000" || col("proposal_id").isNull)
        .select(col("policy_id"),
          when(pmod(col("o_orderkey"), lit(101)) === 0, lit("H2"))
            .otherwise(lit(null).cast("string")).as("hierarchy_id"))
        .unionByName(pol
          .filter(pmod(col("o_orderkey"), lit(499)) === 0 &&
            col("proposal_id").isNotNull && col("group_id") =!= "G00000")
          .select(col("policy_id"), lit(null).cast("string").as("hierarchy_id")))
      val checks = PR.statusChecks(hier, props, sv, hv) ++
        PR.fkChecks(sp, hier, hp, brokers, props, groups) ++
        PR.completenessChecks(props, sv, hier, hv, hp) ++
        PR.qualityChecks(groups, props) ++
        PR.phaChecks(pol, pha) ++
        PR.presenceChecks(Seq("brokers" -> brokers, "groups" -> groups,
          "proposals" -> props, "hierarchies" -> hier, "split_versions" -> sv,
          "hierarchy_versions" -> hv, "policies" -> pol))
      val rep = PR.report(checks)
      rep.unionByName(PR.assessment(rep))
    },
      """WITH c AS (SELECT c_custkey, c_name FROM customer),
              o AS (SELECT o_orderkey, o_custkey FROM orders),
              grp AS (SELECT 'G' || c_custkey::VARCHAR AS group_id,
                        CASE WHEN c_custkey % 37 = 0 THEN 'Group G' || c_custkey::VARCHAR
                             ELSE 'Grp ' || c_name END AS name FROM c),
              props AS (SELECT 'P' || o_orderkey::VARCHAR AS proposal_id,
                          CASE WHEN o_orderkey % 97 = 0 THEN 'GX' || o_orderkey::VARCHAR
                               ELSE 'G' || o_custkey::VARCHAR END AS group_id,
                          CASE WHEN o_orderkey % 41 = 0 THEN 1 ELSE 2 END AS status,
                          CASE WHEN o_orderkey % 53 = 0 THEN NULL
                               ELSE 'B' || (o_orderkey % 100)::VARCHAR END AS broker_party_id,
                          o_orderkey, o_custkey
                        FROM o WHERE o_orderkey % 3 = 0),
              sv AS (SELECT 'SV' || o_orderkey::VARCHAR AS split_id, proposal_id,
                       CASE WHEN o_orderkey % 43 = 0 THEN 0 ELSE 1 END AS status,
                       o_orderkey, o_custkey
                     FROM props WHERE o_orderkey % 11 <> 0),
              sp AS (SELECT split_id,
                       CASE WHEN o_orderkey % 89 = 0 THEN 'HX' || o_orderkey::VARCHAR
                            ELSE 'H' || ((o_custkey % 75) * 2 + 2)::VARCHAR END AS hierarchy_id
                     FROM sv WHERE o_orderkey % 7 = 0),
              hier AS (SELECT 'H' || c_custkey::VARCHAR AS hierarchy_id,
                         CASE WHEN c_custkey % 58 = 0 THEN 0 ELSE 1 END AS status, c_custkey
                       FROM c WHERE c_custkey % 2 = 0),
              hv AS (SELECT 'HV' || c_custkey::VARCHAR AS version_id, hierarchy_id,
                       CASE WHEN c_custkey % 31 = 0 THEN 2 ELSE 1 END AS status, c_custkey
                     FROM hier WHERE c_custkey % 13 <> 0),
              hp AS (SELECT version_id,
                       CASE WHEN c_custkey % 19 = 0 THEN 'BX' || c_custkey::VARCHAR
                            ELSE 'B' || (c_custkey % 100)::VARCHAR END AS entity_id
                     FROM hv WHERE c_custkey % 17 <> 0),
              brokers AS (SELECT 'B' || (c_custkey - 1)::VARCHAR AS broker_id
                          FROM c WHERE c_custkey <= 100),
              pol AS (SELECT 'PL' || o_orderkey::VARCHAR AS policy_id,
                        CASE WHEN o_orderkey % 23 = 0 THEN 'G00000'
                             ELSE 'G' || o_custkey::VARCHAR END AS group_id,
                        CASE WHEN o_orderkey % 5 = 0 THEN NULL
                             ELSE 'P' || o_orderkey::VARCHAR END AS proposal_id,
                        o_orderkey FROM o),
              pha AS (SELECT policy_id,
                        CASE WHEN o_orderkey % 101 = 0 THEN 'H2' ELSE NULL END AS hierarchy_id
                      FROM pol WHERE group_id = 'G00000' OR proposal_id IS NULL
                      UNION ALL
                      SELECT policy_id, NULL FROM pol
                      WHERE o_orderkey % 499 = 0 AND proposal_id IS NOT NULL
                        AND group_id <> 'G00000'),
              n AS (SELECT
                (SELECT count(*) FROM hier WHERE status <> 1) AS hier_na,
                (SELECT count(*) FROM props WHERE status <> 2) AS prop_na,
                (SELECT count(*) FROM sv WHERE status <> 1) AS sv_na,
                (SELECT count(*) FROM hv WHERE status <> 1) AS hv_na,
                (SELECT count(*) FROM sp WHERE hierarchy_id IS NOT NULL AND hierarchy_id <> ''
                   AND NOT EXISTS (SELECT 1 FROM hier h WHERE h.hierarchy_id = sp.hierarchy_id)) AS fk_sp,
                (SELECT count(*) FROM hp WHERE NOT EXISTS
                   (SELECT 1 FROM brokers b WHERE b.broker_id = hp.entity_id)) AS fk_hp,
                (SELECT count(*) FROM props WHERE group_id IS NOT NULL AND group_id <> ''
                   AND NOT EXISTS (SELECT 1 FROM grp g WHERE g.group_id = props.group_id)) AS fk_pg,
                (SELECT count(*) FROM props WHERE NOT EXISTS
                   (SELECT 1 FROM sv WHERE sv.proposal_id = props.proposal_id)) AS comp_ps,
                (SELECT count(*) FROM hier WHERE NOT EXISTS
                   (SELECT 1 FROM hv WHERE hv.hierarchy_id = hier.hierarchy_id)) AS comp_hv,
                (SELECT count(*) FROM hier WHERE NOT EXISTS
                   (SELECT 1 FROM hv JOIN hp USING (version_id)
                    WHERE hv.hierarchy_id = hier.hierarchy_id)) AS comp_hp,
                (SELECT count(*) FROM grp WHERE (name LIKE 'Group G%'
                   OR regexp_matches(name, '^Group [0-9]')) AND group_id <> 'G00000') AS q_gn,
                (SELECT count(*) FROM props
                   WHERE broker_party_id IS NULL OR broker_party_id = '') AS q_nb,
                (SELECT count(*) FROM (SELECT DISTINCT policy_id FROM pha) dp
                   WHERE EXISTS (SELECT 1 FROM pol WHERE pol.policy_id = dp.policy_id
                     AND proposal_id IS NOT NULL AND group_id <> 'G00000')) AS pha_v,
                abs((SELECT count(*) FROM pol WHERE group_id = 'G00000' OR proposal_id IS NULL)
                  - (SELECT count(DISTINCT policy_id) FROM pha)) AS pha_sz,
                (SELECT count(*) FROM pha WHERE hierarchy_id IS NOT NULL) AS pha_h,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM brokers) AS e_br,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM grp) AS e_gr,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM props) AS e_pr,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM hier) AS e_hi,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM sv) AS e_sv,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM hv) AS e_hv,
                (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM pol) AS e_po)
              SELECT suite, "check", n_failing::BIGINT AS n_failing, severity FROM (
                SELECT 'status' AS suite, 'hierarchies_not_active' AS "check", hier_na AS n_failing,
                       CASE WHEN hier_na > 0 THEN 'FAIL' ELSE 'PASS' END AS severity FROM n
                UNION ALL SELECT 'status', 'proposals_not_approved', prop_na,
                       CASE WHEN prop_na > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'status', 'split_versions_not_active', sv_na,
                       CASE WHEN sv_na > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'status', 'hierarchy_versions_not_active', hv_na,
                       CASE WHEN hv_na > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'fk', 'split_participants_invalid_hierarchy', fk_sp,
                       CASE WHEN fk_sp > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'fk', 'hierarchy_participants_invalid_broker', fk_hp,
                       CASE WHEN fk_hp > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'fk', 'proposals_invalid_group', fk_pg,
                       CASE WHEN fk_pg > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'completeness', 'proposals_without_splits', comp_ps,
                       CASE WHEN comp_ps > 0 THEN 'WARNING' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'completeness', 'hierarchies_without_versions', comp_hv,
                       CASE WHEN comp_hv > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'completeness', 'hierarchies_without_participants', comp_hp,
                       CASE WHEN comp_hp > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'quality', 'groups_generic_names', q_gn,
                       CASE WHEN q_gn > 100 THEN 'WARNING'
                            WHEN q_gn > 0 THEN 'INFO' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'quality', 'proposals_null_broker_party', q_nb,
                       CASE WHEN q_nb > 1000 THEN 'WARNING'
                            WHEN q_nb > 0 THEN 'INFO' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'pha', 'pha_nondtc_with_proposal', pha_v,
                       CASE WHEN pha_v > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'pha', 'pha_size_mismatch', pha_sz,
                       CASE WHEN pha_sz > 0 THEN 'WARNING' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'pha', 'pha_with_hierarchy', pha_h,
                       CASE WHEN pha_h > 0 THEN 'INFO' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'brokers_empty', e_br,
                       CASE WHEN e_br > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'groups_empty', e_gr,
                       CASE WHEN e_gr > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'proposals_empty', e_pr,
                       CASE WHEN e_pr > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'hierarchies_empty', e_hi,
                       CASE WHEN e_hi > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'split_versions_empty', e_sv,
                       CASE WHEN e_sv > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'hierarchy_versions_empty', e_hv,
                       CASE WHEN e_hv > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'presence', 'policies_empty', e_po,
                       CASE WHEN e_po > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'assessment', 'critical_issues',
                       (CASE WHEN hier_na > 0 THEN 1 ELSE 0 END
                        + CASE WHEN prop_na > 0 THEN 1 ELSE 0 END
                        + CASE WHEN sv_na > 0 THEN 1 ELSE 0 END
                        + CASE WHEN comp_ps > 0 THEN 1 ELSE 0 END
                        + CASE WHEN comp_hv > 0 THEN 1 ELSE 0 END
                        + CASE WHEN comp_hp > 0 THEN 1 ELSE 0 END),
                       CASE WHEN (CASE WHEN hier_na > 0 THEN 1 ELSE 0 END
                        + CASE WHEN prop_na > 0 THEN 1 ELSE 0 END
                        + CASE WHEN sv_na > 0 THEN 1 ELSE 0 END
                        + CASE WHEN comp_ps > 0 THEN 1 ELSE 0 END
                        + CASE WHEN comp_hv > 0 THEN 1 ELSE 0 END
                        + CASE WHEN comp_hp > 0 THEN 1 ELSE 0 END) = 0
                       THEN 'READY' ELSE 'NOT_READY' END FROM n) r"""),

    Q("g_chain_health", (s, d) => {
      // chain-health verification (sql/utils/verify-chain-health.sql):
      // table-count floors, broken links along the policy→PHA→hierarchy→
      // version→participant→schedule→rate chain, and exhaustive
      // commission-calculation readiness (the reference spot-checks 5
      // random chain rows; the count of rate-less chain rows is the
      // deterministic, stronger form). Synthetic entities from
      // orders/customer, same style as g_readiness_report.
      import graft.domain.{ProductionReadiness => PR}
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val c = cst(s, d).select(col("c_custkey"))
      val pol = o.select(concat(lit("PL"), col("o_orderkey")).as("policy_id"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("P"), col("o_orderkey"))).as("proposal_id"),
        col("o_orderstatus").as("product_code"),
        col("o_totalprice").cast("double").as("premium"),
        col("o_orderkey"), col("o_custkey"))
      val pha = pol.filter(pmod(col("o_orderkey"), lit(5)) === 0 ||
          pmod(col("o_orderkey"), lit(23)) === 0)
        .select(col("policy_id"),
          when(pmod(col("o_orderkey"), lit(97)) === 0,
            concat(lit("HX"), col("o_orderkey")))
            .otherwise(concat(lit("H"), pmod(col("o_custkey"), lit(75)) * 2 + 2))
            .as("hierarchy_id"))
      val hier = c.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select(concat(lit("H"), col("c_custkey")).as("hierarchy_id"), col("c_custkey"))
      val hv = hier.filter(pmod(col("c_custkey"), lit(13)) =!= 0)
        .select(concat(lit("HV"), col("c_custkey")).as("version_id"),
          col("hierarchy_id"), col("c_custkey"))
      val hp = hv.filter(pmod(col("c_custkey"), lit(17)) =!= 0)
        .select(col("version_id"),
          concat(lit("S"), pmod(col("c_custkey"), lit(40)) + 1).as("schedule_id"),
          when(pmod(col("c_custkey"), lit(3)) === 0, lit(2.5))
            .otherwise(lit(null).cast("double")).as("commission_rate"),
          col("c_custkey"))
      val sched = c.filter(col("c_custkey") <= 40)
        .select(concat(lit("S"), col("c_custkey")).as("schedule_id"), col("c_custkey"))
      val schedV = sched.filter(pmod(col("c_custkey"), lit(9)) =!= 0)
        .select(concat(lit("SCV"), col("c_custkey")).as("sched_version_id"),
          col("schedule_id"), col("c_custkey"))
      val rates = schedV.select(col("sched_version_id"), lit("O").as("product_code"),
          lit(5.0).as("rate"), col("c_custkey"))
        .unionByName(schedV.filter(pmod(col("c_custkey"), lit(5)) =!= 0)
          .select(col("sched_version_id"), lit("F").as("product_code"),
            lit(4.0).as("rate"), col("c_custkey")))
      PR.report(
        PR.countThresholdChecks(Seq(("policies", pol, 10L), ("pha", pha, 10L),
          ("hierarchies", hier, 10L), ("hierarchy_participants", hp, 10L),
          ("schedule_rates", rates, 10L))) ++
        PR.chainIntegrityChecks(pha, hier, hv, hp, sched, schedV, rates) :+
        PR.rateReadinessCheck(pol, pha, hier, hv, hp, schedV, rates))
    },
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
              c AS (SELECT c_custkey FROM customer),
              pol AS (SELECT 'PL' || o_orderkey::VARCHAR AS policy_id,
                        CASE WHEN o_orderkey % 5 = 0 THEN NULL
                             ELSE 'P' || o_orderkey::VARCHAR END AS proposal_id,
                        o_orderstatus AS product_code, o_totalprice::DOUBLE AS premium,
                        o_orderkey, o_custkey FROM o),
              pha AS (SELECT policy_id,
                        CASE WHEN o_orderkey % 97 = 0 THEN 'HX' || o_orderkey::VARCHAR
                             ELSE 'H' || ((o_custkey % 75) * 2 + 2)::VARCHAR END AS hierarchy_id
                      FROM pol WHERE o_orderkey % 5 = 0 OR o_orderkey % 23 = 0),
              hier AS (SELECT 'H' || c_custkey::VARCHAR AS hierarchy_id, c_custkey
                       FROM c WHERE c_custkey % 2 = 0),
              hv AS (SELECT 'HV' || c_custkey::VARCHAR AS version_id, hierarchy_id, c_custkey
                     FROM hier WHERE c_custkey % 13 <> 0),
              hp AS (SELECT version_id, 'S' || ((c_custkey % 40) + 1)::VARCHAR AS schedule_id,
                       CASE WHEN c_custkey % 3 = 0 THEN 2.5 ELSE NULL END AS commission_rate,
                       c_custkey FROM hv WHERE c_custkey % 17 <> 0),
              sched AS (SELECT 'S' || c_custkey::VARCHAR AS schedule_id, c_custkey
                        FROM c WHERE c_custkey <= 40),
              schedv AS (SELECT 'SCV' || c_custkey::VARCHAR AS sched_version_id, schedule_id,
                           c_custkey FROM sched WHERE c_custkey % 9 <> 0),
              rates AS (SELECT sched_version_id, 'O' AS product_code, 5.0 AS rate, c_custkey
                        FROM schedv
                        UNION ALL
                        SELECT sched_version_id, 'F', 4.0, c_custkey
                        FROM schedv WHERE c_custkey % 5 <> 0),
              chain AS (SELECT p.product_code, hp.commission_rate, hp.schedule_id
                        FROM pol p
                        JOIN pha ON pha.policy_id = p.policy_id AND pha.hierarchy_id IS NOT NULL
                        JOIN hier h ON h.hierarchy_id = pha.hierarchy_id
                        JOIN hv ON hv.hierarchy_id = h.hierarchy_id
                        JOIN hp ON hp.version_id = hv.version_id
                        WHERE p.proposal_id IS NOT NULL AND p.premium > 0),
              n AS (SELECT
                (SELECT CASE WHEN count(*) > 10 THEN 0 ELSE 1 END FROM pol) AS t_pol,
                (SELECT CASE WHEN count(*) > 10 THEN 0 ELSE 1 END FROM pha) AS t_pha,
                (SELECT CASE WHEN count(*) > 10 THEN 0 ELSE 1 END FROM hier) AS t_hier,
                (SELECT CASE WHEN count(*) > 10 THEN 0 ELSE 1 END FROM hp) AS t_hp,
                (SELECT CASE WHEN count(*) > 10 THEN 0 ELSE 1 END FROM rates) AS t_rates,
                (SELECT count(*) FROM pha WHERE hierarchy_id IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM hier WHERE hier.hierarchy_id = pha.hierarchy_id)) AS bl_h,
                (SELECT count(*) FROM hv WHERE NOT EXISTS
                   (SELECT 1 FROM hp WHERE hp.version_id = hv.version_id)) AS bl_p,
                (SELECT count(*) FROM (SELECT DISTINCT schedule_id FROM hp) rs
                   WHERE EXISTS (SELECT 1 FROM sched WHERE sched.schedule_id = rs.schedule_id)
                     AND NOT EXISTS (SELECT 1 FROM schedv JOIN rates USING (sched_version_id)
                       WHERE schedv.schedule_id = rs.schedule_id)) AS bl_r,
                (SELECT count(*) FROM chain
                   LEFT JOIN schedv ON schedv.schedule_id = chain.schedule_id
                   LEFT JOIN rates ON rates.sched_version_id = schedv.sched_version_id
                     AND rates.product_code = chain.product_code
                   WHERE rates.rate IS NULL AND chain.commission_rate IS NULL) AS nr)
              SELECT suite, "check", n_failing::BIGINT AS n_failing, severity FROM (
                SELECT 'chain' AS suite, 'policies_below_min' AS "check", t_pol AS n_failing,
                       CASE WHEN t_pol > 0 THEN 'FAIL' ELSE 'PASS' END AS severity FROM n
                UNION ALL SELECT 'chain', 'pha_below_min', t_pha,
                       CASE WHEN t_pha > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'hierarchies_below_min', t_hier,
                       CASE WHEN t_hier > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'hierarchy_participants_below_min', t_hp,
                       CASE WHEN t_hp > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'schedule_rates_below_min', t_rates,
                       CASE WHEN t_rates > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'pha_broken_hierarchy', bl_h,
                       CASE WHEN bl_h > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'versions_without_participants', bl_p,
                       CASE WHEN bl_p > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'referenced_schedules_without_rates', bl_r,
                       CASE WHEN bl_r > 0 THEN 'FAIL' ELSE 'PASS' END FROM n
                UNION ALL SELECT 'chain', 'chain_rows_without_rate', nr,
                       CASE WHEN nr > 0 THEN 'FAIL' ELSE 'PASS' END FROM n) r"""),

    Q("g_post_premium_tx", (s, d) => {
      // 10-premium-transactions with the certificate-premium fallback
      // (sql/transforms/10-premium-transactions.sql:56-88): certs with no
      // premium rows get a synthetic transaction one month after the
      // effective date; natural-key txn ids, union + anti-join. Final
      // amount is DOUBLE (decimal final columns are a gate hazard).
      val certs = ord(s, d).select(col("o_orderkey").as("cert_id"),
        concat(lit("G"), pmod(col("o_custkey"), lit(100))).as("group_id"),
        col("o_totalprice").cast("decimal(18,2)").as("premium"),
        to_date(col("o_orderdate")).as("eff_date"))
      val prem = li(s, d)
        .filter(col("l_linenumber") <= 2 && pmod(col("l_orderkey"), lit(3)) =!= 0)
        .select(col("l_orderkey").as("cert_id"),
          col("l_linenumber").cast("string").as("premium_id"),
          concat(lit("G"), pmod(col("l_orderkey"), lit(100))).as("group_id"),
          col("l_extendedprice").cast("decimal(18,2)").as("amount"),
          to_date(col("l_shipdate")).as("txn_date"))
      graft.domain.PostTransforms.premiumTransactions(prem, certs)
        .withColumn("amount", col("amount").cast("double"))
    },
      """WITH certs AS (SELECT o_orderkey AS cert_id,
                       'G' || (o_custkey % 100)::VARCHAR AS group_id,
                       o_totalprice::DECIMAL(18,2) AS premium, o_orderdate::DATE AS eff_date
                FROM orders),
              prem AS (SELECT l_orderkey AS cert_id, l_linenumber::VARCHAR AS premium_id,
                       'G' || (l_orderkey % 100)::VARCHAR AS group_id,
                       l_extendedprice::DECIMAL(18,2) AS amount, l_shipdate::DATE AS txn_date
                FROM lineitem WHERE l_linenumber <= 2 AND l_orderkey % 3 <> 0)
              SELECT 'PT-' || cert_id::VARCHAR || '-' || premium_id AS txn_id, cert_id,
                     group_id, amount::DOUBLE AS amount, txn_date, 'PREMIUM' AS source
              FROM prem
              UNION ALL
              SELECT 'PT-' || cert_id::VARCHAR || '-CERT', cert_id, group_id,
                     premium::DOUBLE, (eff_date + INTERVAL 1 MONTH)::DATE, 'CERT_FALLBACK'
              FROM certs WHERE premium IS NOT NULL AND premium > 0
                AND NOT EXISTS (SELECT 1 FROM prem WHERE prem.cert_id = certs.cert_id)"""),

    Q("g_post_latest_assign", (s, d) => {
      // 12-commission-assignments (sql/transforms/12-commission-assignments
      // .sql:50-53): latest assignment per broker (W2 rn=1 with a total
      // tiebreak) + recipient-existence semi join (J8)
      val assigns = ord(s, d).select(
        concat(lit("A"), col("o_orderkey")).as("assignment_id"),
        concat(lit("B"), pmod(col("o_custkey"), lit(200))).as("broker_id"),
        concat(lit("R"), pmod(col("o_orderkey"), lit(150))).as("recipient_id"),
        to_date(col("o_orderdate")).as("eff_from"))
      val brokers = cst(s, d).filter(col("c_custkey") <= 100)
        .select(concat(lit("R"), col("c_custkey")).as("broker_ext_id"))
      graft.domain.PostTransforms.latestAssignments(assigns, brokers)
    },
      """WITH a AS (SELECT 'A' || o_orderkey::VARCHAR AS assignment_id,
                       'B' || (o_custkey % 200)::VARCHAR AS broker_id,
                       'R' || (o_orderkey % 150)::VARCHAR AS recipient_id,
                       o_orderdate::DATE AS eff_from FROM orders),
              top1 AS (SELECT * FROM a
                       QUALIFY row_number() OVER (PARTITION BY broker_id
                         ORDER BY eff_from DESC, assignment_id DESC) = 1)
              SELECT recipient_id, assignment_id, broker_id, eff_from FROM top1
              WHERE EXISTS (SELECT 1 FROM customer
                            WHERE c_custkey <= 100
                              AND 'R' || c_custkey::VARCHAR = top1.recipient_id)"""),

    Q("g_conformance_report", (s, d) => {
      // 08-analyze-conformance (sql/transforms/08-analyze-conformance.sql):
      // per-group cert counts, conformant percentage (conditional aggs,
      // :138-141), sanitized plan codes (:37-43 null-ish -> '*'), sorted
      // distinct matched-plan debug string (:83, A3). pct emitted DOUBLE.
      val configs = ord(s, d).select(
        concat(lit("G"), pmod(col("o_custkey"), lit(50))).as("group_id"),
        (pmod(col("o_orderkey"), lit(7)) === 0).as("nonconformant"))
      val certs = ord(s, d).select(
        concat(lit("G"), pmod(col("o_custkey"), lit(50))).as("group_id"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, lit(" N/A "))
          .when(pmod(col("o_orderkey"), lit(13)) === 0, lit(""))
          .otherwise(concat(lit("PL"), pmod(col("o_orderkey"), lit(5))))
          .as("plan_code"))
      graft.domain.PostTransforms.conformanceReport(configs, certs)
        .withColumn("conformant_pct", col("conformant_pct").cast("double"))
    },
      """WITH cfg AS (SELECT 'G' || (o_custkey % 50)::VARCHAR AS group_id,
                       (o_orderkey % 7 = 0) AS nonconformant FROM orders),
              cert AS (SELECT 'G' || (o_custkey % 50)::VARCHAR AS group_id,
                       CASE WHEN o_orderkey % 11 = 0 THEN ' N/A '
                            WHEN o_orderkey % 13 = 0 THEN ''
                            ELSE 'PL' || (o_orderkey % 5)::VARCHAR END AS plan_code
                       FROM orders),
              plans AS (SELECT group_id,
                          string_agg(DISTINCT CASE
                            WHEN NULLIF(upper(trim(plan_code)), '') IS NULL
                              OR upper(trim(plan_code)) IN ('NULL', 'N/A') THEN '*'
                            ELSE trim(plan_code) END, ','
                            ORDER BY CASE
                            WHEN NULLIF(upper(trim(plan_code)), '') IS NULL
                              OR upper(trim(plan_code)) IN ('NULL', 'N/A') THEN '*'
                            ELSE trim(plan_code) END) AS plan_codes
                        FROM cert GROUP BY 1),
              g AS (SELECT group_id, count(*)::BIGINT AS n_certs,
                      sum(CASE WHEN nonconformant THEN 0 ELSE 1 END)::BIGINT AS n_conformant,
                      sum(CASE WHEN nonconformant THEN 1 ELSE 0 END)::BIGINT AS n_nonconformant
                    FROM cfg GROUP BY 1)
              SELECT g.group_id, n_certs, n_conformant, n_nonconformant,
                     round(n_conformant * 100.0 / n_certs, 2)::DECIMAL(5,2)::DOUBLE
                       AS conformant_pct,
                     plans.plan_codes
              FROM g LEFT JOIN plans ON plans.group_id = g.group_id"""),

    Q("g_licenses_flags", (s, d) =>
      // 12-licenses (sql/transforms/12-licenses.sql Status CASE +
      // sql/01-raw-tables.sql:163-178): status decode and boolean
      // coercion of the mixed 'Y'/'true'/'1' residence-license column
      graft.domain.CoreTransforms.parseLicenseFlags(ord(s, d).select(
        concat(lit("L"), col("o_orderkey")).as("license_id"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit(" Active "))
          .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("inactive"))
          .otherwise(lit("Pending")).as("status"),
        when(pmod(col("o_orderkey"), lit(4)) === 0, lit("Y"))
          .when(pmod(col("o_orderkey"), lit(4)) === 1, lit("true"))
          .when(pmod(col("o_orderkey"), lit(4)) === 2, lit("1"))
          .otherwise(lit("N")).as("IsResidenceLicense")))
        .select(col("license_id"), col("status_code"), col("is_residence")),
      """WITH lic AS (SELECT 'L' || o_orderkey::VARCHAR AS license_id,
                       CASE WHEN o_orderkey % 3 = 0 THEN ' Active '
                            WHEN o_orderkey % 3 = 1 THEN 'inactive'
                            ELSE 'Pending' END AS status,
                       CASE WHEN o_orderkey % 4 = 0 THEN 'Y'
                            WHEN o_orderkey % 4 = 1 THEN 'true'
                            WHEN o_orderkey % 4 = 2 THEN '1'
                            ELSE 'N' END AS res FROM orders)
              SELECT license_id,
                     CASE WHEN upper(trim(status)) = 'ACTIVE' THEN 'A'
                          WHEN upper(trim(status)) = 'INACTIVE' THEN 'I'
                          ELSE 'U' END AS status_code,
                     upper(trim(res)) IN ('Y', 'TRUE', '1') AS is_residence
              FROM lic"""),

    Q("g_eo_insurances", (s, d) =>
      // 13-eo-insurances (sql/transforms/13-eo-insurances.sql): literal
      // 'NULL'/'N/A' strings as null, padded ids trimmed, try_cast typed
      // dates/amounts. coverage emitted DOUBLE.
      graft.domain.CoreTransforms.eoInsurances(ord(s, d).select(
        when(pmod(col("o_orderkey"), lit(17)) === 0, lit("NULL"))
          .otherwise(concat(lit(" P"), pmod(col("o_custkey"), lit(500)), lit(" ")))
          .as("PartyUniqueId"),
        when(pmod(col("o_orderkey"), lit(13)) === 0, lit("N/A"))
          .otherwise(concat(lit("Carrier-"), pmod(col("o_orderkey"), lit(7))))
          .as("CarrierName"),
        concat(lit("POL"), col("o_orderkey")).as("PolicyId"),
        when(pmod(col("o_orderkey"), lit(19)) === 0, lit("not-a-date"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("FromDate"),
        date_format(add_months(col("o_orderdate"), 12), "yyyy-MM-dd").as("ToDate"),
        when(pmod(col("o_orderkey"), lit(23)) === 0, lit(""))
          .otherwise(col("o_totalprice").cast("decimal(12,2)").cast("string"))
          .as("CoverageAmount")))
        .withColumn("coverage_amount", col("coverage_amount").cast("double")),
      """WITH raw AS (SELECT
                CASE WHEN o_orderkey % 17 = 0 THEN 'NULL'
                     ELSE ' P' || (o_custkey % 500)::VARCHAR || ' ' END AS party,
                CASE WHEN o_orderkey % 13 = 0 THEN 'N/A'
                     ELSE 'Carrier-' || (o_orderkey % 7)::VARCHAR END AS carrier,
                'POL' || o_orderkey::VARCHAR AS policy_id,
                CASE WHEN o_orderkey % 19 = 0 THEN 'not-a-date'
                     ELSE strftime(o_orderdate, '%Y-%m-%d') END AS from_d,
                strftime((o_orderdate + INTERVAL 12 MONTH)::DATE, '%Y-%m-%d') AS to_d,
                CASE WHEN o_orderkey % 23 = 0 THEN ''
                     ELSE o_totalprice::DECIMAL(12,2)::VARCHAR END AS cov
                FROM orders),
              cl AS (SELECT
                CASE WHEN NULLIF(upper(trim(party)), '') IS NULL
                     OR upper(trim(party)) IN ('NULL', 'N/A') THEN NULL
                     ELSE trim(party) END AS broker_ext_id,
                CASE WHEN NULLIF(upper(trim(carrier)), '') IS NULL
                     OR upper(trim(carrier)) IN ('NULL', 'N/A') THEN NULL
                     ELSE trim(carrier) END AS carrier,
                trim(policy_id) AS policy_id,
                TRY_CAST(from_d AS DATE) AS from_date,
                TRY_CAST(to_d AS DATE) AS to_date,
                TRY_CAST(NULLIF(trim(cov), '') AS DECIMAL(18,2)) AS coverage
                FROM raw)
              SELECT broker_ext_id, carrier, policy_id, from_date, to_date,
                     coverage::DOUBLE AS coverage_amount FROM cl"""),

    Q("g_fees_transform", (s, d) =>
      // 11-fees (sql/transforms/11-fees.sql): MM/DD/YYYY parsing (~:222),
      // six-way fee-method canonicalization with OTHER_FEE fallback
      // (:125-190), natural-key fee ids (:109-113 — the reference's
      // ROW_NUMBER surrogate as a deterministic key, W1). amount DOUBLE.
      graft.domain.CoreTransforms.fees(ord(s, d).select(
        concat(lit("PRD"), pmod(col("o_orderkey"), lit(30))).as("PRDNUM"),
        col("o_orderpriority").as("PRODUCTCAT"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, lit("MONTHLY"))
          .otherwise(lit("ANNUAL")).as("FREQ"),
        col("o_totalprice").cast("decimal(14,4)").cast("string").as("FormattedAmount"),
        lit("FLAT").as("AMTKIND"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("DATESTART"),
        when(pmod(col("o_orderkey"), lit(29)) === 0, lit("13/45/2020"))
          .otherwise(date_format(add_months(col("o_orderdate"), 6), "MM/dd/yyyy"))
          .as("DATEEND"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(" pctprem "))
          .when(pmod(col("o_orderkey"), lit(7)) === 1, lit("PEPM"))
          .when(pmod(col("o_orderkey"), lit(7)) === 2, lit("pmpm"))
          .when(pmod(col("o_orderkey"), lit(7)) === 3, lit("FLAT"))
          .when(pmod(col("o_orderkey"), lit(7)) === 4, lit("PctClaim"))
          .when(pmod(col("o_orderkey"), lit(7)) === 5, lit("annual"))
          .otherwise(lit("mystery")).as("FEECALCMETHOD"),
        col("o_orderstatus").as("FEETYPE"),
        concat(lit("P"), pmod(col("o_custkey"), lit(999))).as("PartyUniqueId")))
        .withColumn("amount", col("amount").cast("double")),
      """WITH raw AS (SELECT o_orderkey, o_custkey, o_orderpriority, o_orderstatus,
                       o_totalprice, o_orderdate,
                       CASE WHEN o_orderkey % 7 = 0 THEN ' pctprem '
                            WHEN o_orderkey % 7 = 1 THEN 'PEPM'
                            WHEN o_orderkey % 7 = 2 THEN 'pmpm'
                            WHEN o_orderkey % 7 = 3 THEN 'FLAT'
                            WHEN o_orderkey % 7 = 4 THEN 'PctClaim'
                            WHEN o_orderkey % 7 = 5 THEN 'annual'
                            ELSE 'mystery' END AS method FROM orders),
              f AS (SELECT
                'PRD' || (o_orderkey % 30)::VARCHAR AS product_num,
                o_orderpriority AS product_cat,
                CASE WHEN o_orderkey % 2 = 0 THEN 'MONTHLY' ELSE 'ANNUAL' END AS frequency,
                o_totalprice::DECIMAL(14,4)::VARCHAR::DECIMAL(18,4) AS amount,
                'FLAT' AS amount_kind,
                strftime(o_orderdate, '%m/%d/%Y') AS ds,
                CASE WHEN o_orderkey % 29 = 0 THEN '13/45/2020'
                     ELSE strftime((o_orderdate + INTERVAL 6 MONTH)::DATE, '%m/%d/%Y')
                END AS de,
                CASE WHEN upper(trim(method)) = 'PCTPREM' THEN 'PERCENT_OF_PREMIUM'
                     WHEN upper(trim(method)) = 'PEPM' THEN 'PER_EMPLOYEE_PER_MONTH'
                     WHEN upper(trim(method)) = 'PMPM' THEN 'PER_MEMBER_PER_MONTH'
                     WHEN upper(trim(method)) = 'FLAT' THEN 'FLAT_FEE'
                     WHEN upper(trim(method)) = 'PCTCLAIM' THEN 'PERCENT_OF_CLAIMS'
                     WHEN upper(trim(method)) = 'ANNUAL' THEN 'ANNUAL_FEE'
                     ELSE 'OTHER_FEE' END AS fee_method,
                o_orderstatus AS fee_type,
                'P' || (o_custkey % 999)::VARCHAR AS recipient_ext_id
                FROM raw)
              SELECT product_num, product_cat, frequency, amount::DOUBLE AS amount,
                     amount_kind,
                     try_strptime(ds, '%m/%d/%Y')::DATE AS date_start,
                     try_strptime(de, '%m/%d/%Y')::DATE AS date_end,
                     fee_method, fee_type, recipient_ext_id,
                     'FEE-' || product_num || '-' || fee_method || '-'
                       || strftime(try_strptime(ds, '%m/%d/%Y'), '%Y%m%d') AS fee_id
              FROM f"""),

    Q("g_build_proposals", (s, d) => {
      // buildProposals (proposal-builder.ts:886-1011): one proposal per
      // (group, config_hash) over the conformant population, date range
      // spanning member certs, natural-key PROP-{group}-{n} ids ordered
      // by first effective date (W1/W3 — key-derived ids + ranked
      // ordering). Arrays sorted in the CONTRACT so the dump is
      // deterministic (collect order is not).
      val base = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), to_date(col("o_orderdate")).as("od"))
      val certs = base.select(col("o_orderkey").as("cert_id"),
        concat(lit("G"), pmod(col("o_custkey"), lit(80))).as("group_id"),
        col("od").as("eff_date"), col("o_orderstatus").as("product_code"),
        concat(lit("PL"), pmod(col("o_orderkey"), lit(4))).as("plan_code"))
      val routed = base.select(col("o_orderkey").as("cert_id"),
        concat(lit("G"), pmod(col("o_custkey"), lit(80))).as("group_id"),
        concat(lit("CFG"), pmod(col("o_custkey"), lit(5))).as("config_hash"),
        (pmod(col("o_orderkey"), lit(13)) === 0).as("route_pha"))
      graft.domain.Proposals.buildProposals(routed, certs)
        .select(col("proposal_id"), col("group_id"), col("config_hash"),
          col("eff_from"), col("max_eff_date"), col("n_certs"),
          array_join(array_sort(col("product_codes")), ",").as("product_codes"),
          array_join(array_sort(col("plan_codes")), ",").as("plan_codes"))
    },
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       o_orderdate::DATE AS od FROM orders),
              certs AS (SELECT o_orderkey AS cert_id,
                       'G' || (o_custkey % 80)::VARCHAR AS group_id, od AS eff_date,
                       o_orderstatus AS product_code,
                       'PL' || (o_orderkey % 4)::VARCHAR AS plan_code FROM base),
              routed AS (SELECT o_orderkey AS cert_id,
                       'G' || (o_custkey % 80)::VARCHAR AS group_id,
                       'CFG' || (o_custkey % 5)::VARCHAR AS config_hash,
                       (o_orderkey % 13 = 0) AS route_pha FROM base),
              cd AS (SELECT cert_id, min(eff_date) AS eff_date,
                       list_distinct(list(product_code)) AS prods,
                       list_distinct(list(plan_code)) AS plans
                     FROM certs GROUP BY 1),
              grouped AS (SELECT r.group_id, r.config_hash,
                       min(cd.eff_date) AS eff_from, max(cd.eff_date) AS max_eff_date,
                       count(DISTINCT r.cert_id)::BIGINT AS n_certs,
                       list_sort(list_distinct(flatten(list(cd.prods)))) AS product_codes,
                       list_sort(list_distinct(flatten(list(cd.plans)))) AS plan_codes
                     FROM routed r JOIN cd ON cd.cert_id = r.cert_id
                     WHERE NOT r.route_pha GROUP BY 1, 2)
              SELECT 'PROP-' || group_id || '-'
                       || (row_number() OVER (PARTITION BY group_id
                           ORDER BY eff_from, config_hash))::VARCHAR AS proposal_id,
                     group_id, config_hash, eff_from, max_eff_date, n_certs,
                     array_to_string(product_codes, ',') AS product_codes,
                     array_to_string(plan_codes, ',') AS plan_codes
              FROM grouped"""),

    Q("g_brokers_transform", (s, d) => {
      // 01-brokers (sql/transforms/01-brokers.sql:39-44,151-191): roster
      // union with first-roster-wins dedup, status decode, and
      // placeholder rows for certificate-referenced brokers absent from
      // both rosters; external P-prefixed id <-> internal numeric id
      val c = cst(s, d)
      val ind = c.filter(pmod(col("c_custkey"), lit(3)) =!= 0).select(
        concat(lit(" P"), col("c_custkey")).as("PartyUniqueId"),
        col("c_name").as("Name"),
        when(pmod(col("c_custkey"), lit(5)) === 0, lit(" Active"))
          .when(pmod(col("c_custkey"), lit(5)) === 1, lit("Terminated"))
          .when(pmod(col("c_custkey"), lit(5)) === 2, lit("Terminated Residuals"))
          .otherwise(lit("Retired")).as("CurrentStatus"))
      val org = c.filter(pmod(col("c_custkey"), lit(4)) === 0).select(
        concat(lit("P"), col("c_custkey")).as("PartyUniqueId"),
        concat(lit("Org "), col("c_name")).as("Name"),
        lit("Active").as("CurrentStatus"))
      val certIds = ord(s, d)
        .select(concat(lit("P"), pmod(col("o_orderkey"), lit(2500))).as("broker_id"))
      graft.domain.CoreTransforms.brokers(ind, org, certIds)
    },
      """WITH ind AS (SELECT NULLIF(trim(' P' || c_custkey::VARCHAR), '') AS broker_ext_id,
                       NULLIF(trim(c_name), '') AS name,
                       CASE WHEN c_custkey % 5 = 0 THEN 'ACTIVE'
                            WHEN c_custkey % 5 = 1 THEN 'TERMINATED'
                            WHEN c_custkey % 5 = 2 THEN 'TERMINATED_RESIDUALS'
                            ELSE 'UNKNOWN' END AS status,
                       'INDIVIDUAL' AS broker_type
                FROM customer WHERE c_custkey % 3 <> 0),
              org AS (SELECT 'P' || c_custkey::VARCHAR, 'Org ' || trim(c_name),
                       'ACTIVE', 'ORGANIZATION'
                FROM customer WHERE c_custkey % 4 = 0),
              roster AS (SELECT * FROM (SELECT * FROM ind UNION ALL SELECT * FROM org)
                         QUALIFY row_number() OVER (PARTITION BY broker_ext_id
                           ORDER BY broker_type) = 1),
              cert AS (SELECT DISTINCT 'P' || (o_orderkey % 2500)::VARCHAR AS broker_ext_id
                       FROM orders),
              ph AS (SELECT c.broker_ext_id, 'Placeholder ' || c.broker_ext_id AS name,
                       'PLACEHOLDER' AS status, 'PLACEHOLDER' AS broker_type
                     FROM cert c WHERE NOT EXISTS
                       (SELECT 1 FROM roster r WHERE r.broker_ext_id = c.broker_ext_id))
              SELECT *, TRY_CAST(regexp_replace(broker_ext_id, '^P', '') AS BIGINT) AS broker_id
              FROM (SELECT * FROM roster UNION ALL SELECT * FROM ph) u"""),

    Q("g_broker_name_backfill", (s, d) => {
      // 06z (sql/transforms/06z-update-proposal-broker-names.sql:17-31):
      // post-proposal broker-name backfill — null/blank/'Broker {id}'
      // placeholder names take the roster name when non-blank; the rest
      // keep their value and twin the script's still-missing report
      val o = ord(s, d)
      val props = o.select(
        concat(lit("PR-"), col("o_orderkey")).as("proposal_id"),
        when(pmod(col("o_orderkey"), lit(23)) === 0, lit(null).cast("long"))
          .otherwise(pmod(col("o_custkey"), lit(2000))).as("broker_id"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null).cast("string"))
          .when(pmod(col("o_orderkey"), lit(5)) === 1, lit("  "))
          .when(pmod(col("o_orderkey"), lit(5)) === 2,
            concat(lit("Broker "), pmod(col("o_custkey"), lit(2000))))
          .otherwise(concat(lit("Kept "), col("o_orderkey"))).as("broker_name"))
      val roster = cst(s, d).filter(pmod(col("c_custkey"), lit(3)) =!= 0)
        .select(col("c_custkey").as("broker_id"),
          when(pmod(col("c_custkey"), lit(7)) === 0, lit("  "))
            .otherwise(concat(lit(" "), col("c_name"), lit(" "))).as("name"))
      graft.domain.CoreTransforms.backfillBrokerNames(props, roster)
    },
      """WITH props AS (SELECT 'PR-' || o_orderkey::VARCHAR AS proposal_id,
                       CASE WHEN o_orderkey % 23 = 0 THEN NULL
                            ELSE o_custkey % 2000 END::BIGINT AS broker_id,
                       CASE WHEN o_orderkey % 5 = 0 THEN NULL
                            WHEN o_orderkey % 5 = 1 THEN '  '
                            WHEN o_orderkey % 5 = 2
                              THEN 'Broker ' || (o_custkey % 2000)::VARCHAR
                            ELSE 'Kept ' || o_orderkey::VARCHAR END AS broker_name
                     FROM orders),
              roster AS (SELECT c_custkey::BIGINT AS broker_id,
                       NULLIF(trim(CASE WHEN c_custkey % 7 = 0 THEN '  '
                                        ELSE ' ' || c_name || ' ' END), '') AS bname
                     FROM customer WHERE c_custkey % 3 <> 0),
              j AS (SELECT p.*, r.bname,
                      (p.broker_id IS NOT NULL AND
                        (p.broker_name IS NULL OR trim(p.broker_name) = ''
                         OR p.broker_name = 'Broker ' || p.broker_id::VARCHAR)
                        AND r.bname IS NOT NULL) AS fixed
                    FROM props p LEFT JOIN roster r USING (broker_id)),
              fin AS (SELECT proposal_id, broker_id,
                        CASE WHEN fixed THEN bname ELSE broker_name END AS broker_name,
                        fixed AS was_backfilled
                      FROM j)
              SELECT proposal_id, broker_id, broker_name, was_backfilled,
                     (broker_id IS NOT NULL AND
                       (broker_name IS NULL OR trim(broker_name) = ''
                        OR broker_name = 'Broker ' || broker_id::VARCHAR))
                       AS still_missing
              FROM fin"""),

    Q("g_groups_transform", (s, d) => {
      // 02-groups (sql/transforms/02-groups.sql:31-33,107-121): per-group
      // best-non-empty conditional aggregates, perf > premium > cert
      // fallback chains, canonical G-prefixed id, DTC '00000' sentinel
      // for null raw ids
      val o = ord(s, d)
      val certGroups = o.select(
        when(pmod(col("o_orderkey"), lit(31)) === 0, lit(null).cast("string"))
          .otherwise(pmod(col("o_custkey"), lit(300)).cast("string")).as("group_id_raw"),
        when(pmod(col("o_orderkey"), lit(17)) === 0, lit(""))
          .otherwise(concat(lit("CertName "), pmod(col("o_custkey"), lit(300)))).as("name"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, lit("TX")).otherwise(lit("CA")).as("state"))
      val premiumGroups = o.filter(pmod(col("o_orderkey"), lit(2)) === 0).select(
        pmod(col("o_custkey"), lit(300)).cast("string").as("group_id_raw"),
        concat(lit("PremName "), pmod(col("o_custkey"), lit(300))).as("name"))
      val perfGroups = cst(s, d).filter(col("c_custkey") <= 150).select(
        pmod(col("c_custkey"), lit(300)).cast("string").as("group_id_raw"),
        concat(lit("PerfName "), col("c_custkey")).as("name"),
        lit("NY").as("state"), col("c_custkey").as("group_size"))
      graft.domain.CoreTransforms.groups(certGroups, premiumGroups, perfGroups)
    },
      """WITH cg0 AS (SELECT
                       CASE WHEN o_orderkey % 31 = 0 THEN NULL
                            ELSE (o_custkey % 300)::VARCHAR END AS group_id_raw,
                       CASE WHEN o_orderkey % 17 = 0 THEN ''
                            ELSE 'CertName ' || (o_custkey % 300)::VARCHAR END AS name,
                       CASE WHEN o_orderkey % 2 = 0 THEN 'TX' ELSE 'CA' END AS state
                FROM orders),
              cg AS (SELECT group_id_raw, max(NULLIF(trim(name), '')) AS cert_name,
                       max(NULLIF(trim(state), '')) AS cert_state FROM cg0 GROUP BY 1),
              pg AS (SELECT (o_custkey % 300)::VARCHAR AS group_id_raw,
                       max(NULLIF(trim('PremName ' || (o_custkey % 300)::VARCHAR), ''))
                         AS prem_name
                     FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
              fg AS (SELECT (c_custkey % 300)::VARCHAR AS group_id_raw,
                       max(NULLIF(trim('PerfName ' || c_custkey::VARCHAR), '')) AS perf_name,
                       max(NULLIF(trim('NY'), '')) AS perf_state,
                       max(c_custkey) AS group_size
                     FROM customer WHERE c_custkey <= 150 GROUP BY 1),
              j AS (SELECT coalesce(cg.group_id_raw, pg.group_id_raw, fg.group_id_raw)
                         AS group_id_raw,
                       cert_name, cert_state, prem_name, perf_name, perf_state, group_size
                    FROM cg FULL JOIN pg ON pg.group_id_raw = cg.group_id_raw
                    FULL JOIN fg ON fg.group_id_raw =
                      coalesce(cg.group_id_raw, pg.group_id_raw))
              SELECT CASE WHEN regexp_matches(
                         CASE WHEN NULLIF(trim(coalesce(group_id_raw, '')), '') IS NULL
                              THEN '00000' ELSE trim(group_id_raw) END, '^G')
                       THEN CASE WHEN NULLIF(trim(coalesce(group_id_raw, '')), '') IS NULL
                              THEN '00000' ELSE trim(group_id_raw) END
                       ELSE 'G' || CASE WHEN NULLIF(trim(coalesce(group_id_raw, '')), '') IS NULL
                              THEN '00000' ELSE trim(group_id_raw) END END AS group_id,
                     coalesce(perf_name, prem_name, cert_name) AS name,
                     coalesce(perf_state, cert_state) AS state,
                     group_size
              FROM j"""),

    Q("g_nonconformant_cases", (s, d) =>
      // identifyNonConformantCases (proposal-builder.ts:740-779): total
      // split percent off 100 beyond tolerance routes the certificate to
      // the per-certificate PHA path
      graft.domain.Proposals.flagNonConformant(li(s, d)
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("cert_id"),
          concat(lit("G"), pmod(col("l_orderkey"), lit(40))).as("group_id"),
          when(pmod(col("l_orderkey"), lit(9)) === 0, lit(99.5))
            .when(pmod(col("l_orderkey"), lit(7)) === 0, lit(100.0005))
            .otherwise(lit(100.0)).as("total_split_pct"))),
      """SELECT l_orderkey AS cert_id,
              'G' || (l_orderkey % 40)::VARCHAR AS group_id,
              CASE WHEN l_orderkey % 9 = 0 THEN 99.5
                   WHEN l_orderkey % 7 = 0 THEN 100.0005
                   ELSE 100.0 END AS total_split_pct,
              abs(CASE WHEN l_orderkey % 9 = 0 THEN 99.5
                       WHEN l_orderkey % 7 = 0 THEN 100.0005
                       ELSE 100.0 END - 100.0) > 0.001 AS nonconformant
              FROM lineitem WHERE l_linenumber = 1"""),

    Q("g_hierarchy_dedup", (s, d) =>
      // getOrCreateHierarchy (proposal-builder.ts:1861-1954): first-seen
      // content hash creates the hierarchy; deterministic representative
      // is the lowest (cert_id, split_seq)
      // split_seq folds in the partkey because the synthetic lineitem is
      // NOT unique on (orderkey, linenumber) — the representative pick
      // must be a total order for a deterministic contract
      graft.domain.Proposals.dedupHierarchies(li(s, d).select(
        concat(lit("HH"), pmod(col("l_partkey"), lit(97))).as("hierarchy_hash"),
        col("l_orderkey").as("cert_id"),
        (col("l_partkey") * 10 + col("l_linenumber")).as("split_seq"),
        concat(lit("G"), pmod(pmod(col("l_partkey"), lit(97)), lit(20))).as("group_id"),
        lit(50.0).as("split_pct"),
        concat(lit("T"), pmod(col("l_partkey"), lit(3))).as("tiers"))),
      """SELECT hierarchy_hash, group_id, split_pct, tiers FROM (
                SELECT 'HH' || (l_partkey % 97)::VARCHAR AS hierarchy_hash,
                       l_orderkey AS cert_id, l_partkey * 10 + l_linenumber AS split_seq,
                       'G' || ((l_partkey % 97) % 20)::VARCHAR AS group_id,
                       50.0 AS split_pct, 'T' || (l_partkey % 3)::VARCHAR AS tiers
                FROM lineitem
                QUALIFY row_number() OVER (PARTITION BY hierarchy_hash
                  ORDER BY cert_id, split_seq) = 1) t"""),

    // ===== domain: the commissions pipeline end-to-end (vs BASELINE.md) =====

    Q("domain_e2e_gl", (s, d) =>
      // full inference + 8-stage calc on reference-shaped synth inputs,
      // hash-checked end to end against a DuckDB replica of the whole
      // lineage (hashing -> routing -> proposals -> splits -> calc -> GL).
      // Decimal roundings are replicated in exact integer cents (half-up);
      // amount is cast to double for a stable cross-engine hash.
      graft.DomainBench.glPipeline(s, d)
        .select(col("premium_id"), col("broker_id"), col("entry_type"),
          col("amount").cast("double").as("amount")),
      domainGlOracleSql),

    Q("g_incremental_gl", (s, d) => {
      // BATCH incremental maintenance of the flagship GL: premiums split
      // into a 'yesterday' base ledger (premium_id % 7 != 0, materialized
      // once) and a 'today' delta batch; the delta runs the full 8-stage
      // calc over ONLY its premiums against the shared reference frames,
      // then upserts into the ledger by the GL natural key. The oracle is
      // the from-scratch full-corpus GL — the maintained ledger must
      // equal what one batch over all premiums produces, which is the
      // whole point of the identity (the base is never rescanned)
      val in0 = graft.DomainBench.glInputs(s, d)
      // glInputs keeps splits/participants/certificates lazy (the
      // flagship consumes each once); here BOTH the base and the delta
      // calc consume them, so materialize the shared reference frames
      // once instead of recomputing their lineages per run.
      // versions/participants were left lazy through r13 on the theory
      // that their posexplode decode beats a checkpoint round-trip; the
      // r14 stage profile showed the hierarchy-entities build is one of
      // the two heaviest phases of the whole lineage and it ran TWICE
      // here (once inside the base-ledger Mat, once in the delta run's
      // final action). Interleaved A/B at sf0.1 in a calibration-clean
      // window (min-of-3 each): Mat'd 17.2/17.9/21.5 s vs lazy
      // 27.7/27.8/26.3 s.
      val in = in0.copy(
        certificates = graft.Mat(in0.certificates),
        splits = graft.Mat(in0.splits),
        hierarchyVersions = graft.Mat(in0.hierarchyVersions),
        participants = graft.Mat(in0.participants))
      val base = in.copy(premiums =
        in.premiums.filter(pmod(col("premium_id"), lit(7)) =!= 0))
      val delta = in.copy(premiums =
        in.premiums.filter(pmod(col("premium_id"), lit(7)) === 0))
      val ledger = graft.Mat(
        graft.domain.Calc.glEntries(graft.domain.Calc.run(base)))
      val deltaGl = graft.domain.Calc.glEntries(graft.domain.Calc.run(delta))
      val fresh = graft.domain.Export.upsertCandidates(deltaGl, ledger,
        Seq("premium_id", "broker_id", "entry_type"))
      ledger.unionByName(fresh)
        .select(col("premium_id"), col("broker_id"), col("entry_type"),
          col("amount").cast("double").as("amount"))
    },
      domainGlOracleSql),

    Q("g_shadow_compare", (s, d) => {
      // Shadow-compare report (docs/TESTING-GUIDE.md:220-252): the
      // reference validates its SQL and TypeScript builders by comparing
      // per-entity staging counts within a ±5% tolerance. The engine's
      // twin compares its two REAL implementation variants of the
      // proposal build — the two-phase hierarchy->config hash aggregation
      // vs the fused one-pass build (DomainBench's default) — through to
      // built proposals, adding row-level natural-key reconciliation on
      // top of the reference's count-only tolerance. The oracle computes
      // each entity once (SQL has a single formulation) and asserts the
      // all-zero verdict: any divergence between the variants shows up as
      // nonzero a_only/b_only/mismatched counts and turns the row red.
      import graft.domain.Proposals
      import graft.operators.ShadowCompare
      val certs = graft.Mat(graft.DomainBench.synthCertificates(s, d))
      val hhA = Proposals.hierarchyHashes(certs)
      val cfgA = Proposals.flagNonConformant(Proposals.configHashes(hhA))
        .withColumn("route_pha", col("nonconformant"))
      val propsA = Proposals.buildProposals(cfgA, certs)
      val fused = graft.Mat(Proposals.fusedHashes(certs))
      val hhB = Proposals.fusedSplitRows(fused)
      val cfgB = Proposals.flagNonConformant(fused.select(col("cert_id"),
          col("group_id"), col("config_hash"), col("total_split_pct"),
          col("n_splits")))
        .withColumn("route_pha", col("nonconformant"))
      val propsB = Proposals.buildProposals(cfgB, certs)
      def hhCols(df: DataFrame) = df.select(col("cert_id"), col("split_seq"),
        col("group_id"), col("split_pct"), col("hierarchy_hash"))
      def cfgCols(df: DataFrame) = df.select(col("cert_id"), col("group_id"),
        col("config_hash"), col("n_splits"))
      def propCols(df: DataFrame) = df.select(col("group_id"),
        col("proposal_id"), col("config_hash"), col("eff_from"), col("n_certs"))
      ShadowCompare.report(Seq(
        ShadowCompare.Entity("split_hashes", hhCols(hhA), hhCols(hhB),
          Seq("cert_id", "split_seq"),
          Seq("group_id", "split_pct", "hierarchy_hash")),
        ShadowCompare.Entity("configs", cfgCols(cfgA), cfgCols(cfgB),
          Seq("cert_id"), Seq("group_id", "config_hash", "n_splits")),
        ShadowCompare.Entity("proposals", propCols(propsA), propCols(propsB),
          Seq("group_id", "proposal_id"),
          Seq("config_hash", "eff_from", "n_certs"))))
    },
      "WITH " + certSplitCtes + ",\n" + certRowsCte("", "") + ",\n" +
        hierarchyConfigCtes + """,
              props0 AS (
                SELECT group_id, config_hash
                FROM cfg WHERE NOT nonconformant GROUP BY 1, 2),
              n AS (SELECT (SELECT count(*) FROM hh) AS hh_n,
                           (SELECT count(*) FROM cfg) AS cfg_n,
                           (SELECT count(*) FROM props0) AS props_n)
              SELECT 'split_hashes' AS entity, hh_n AS a_count, hh_n AS b_count,
                     0::BIGINT AS a_only_keys, 0::BIGINT AS b_only_keys,
                     0::BIGINT AS mismatched_keys, 0::BIGINT AS diff,
                     0.0::DOUBLE AS pct_diff, true AS within_tol,
                     true AS identical FROM n
              UNION ALL
              SELECT 'configs', cfg_n, cfg_n, 0::BIGINT, 0::BIGINT, 0::BIGINT,
                     0::BIGINT, 0.0::DOUBLE, true, true FROM n
              UNION ALL
              SELECT 'proposals', props_n, props_n, 0::BIGINT, 0::BIGINT,
                     0::BIGINT, 0::BIGINT, 0.0::DOUBLE, true, true FROM n"""),

    // ===== D: dedup (beyond-parity corpus ops) =====

    Q("d_exact_dedup", (s, d) =>
      Dedup.exactDedup(doc(s, d), col("doc_id"), col("text"))
        .select(col("doc_id"), col("fingerprint"), col("dup_rank"), col("is_duplicate")),
      """WITH f AS (SELECT doc_id,
                md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
              FROM documents)
              SELECT doc_id, fingerprint,
                     row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id)::INT AS dup_rank,
                     row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1 AS is_duplicate
              FROM f"""),

    Q("d_ngram_jaccard", (s, d) =>
      // df-capped: shingles in more than 50 docs are dropped before the
      // self-join (hot blocking keys grow candidate sets quadratically);
      // the oracle applies the identical cap
      Dedup.ngramJaccardPairs(doc(s, d), col("doc_id"), col("text"),
        n = 3, threshold = 0.1, maxDf = Some(50)),
      shingleJaccardOracle(cappedShinglesCtes, "0.1")),

    Q("d_prefix_jaccard", (s, d) =>
      // prefix-filtered similarity join: the oracle is the PLAIN exact
      // shared-any-shingle formulation — identical results prove the
      // rarest-token-prefix pruning is semantics-preserving (unlike the
      // df cap in d_ngram_jaccard, which changes the measure)
      // TRIGRAM shingles: the prefix filter's fan-out is governed by
      // blocking-shingle selectivity — on a small-vocab corpus bigrams
      // are so shared that half-doc prefixes candidate most of the
      // corpus (measured 5.5M candidate pairs at sf0.1 vs 193K here)
      Dedup.prefixJaccardPairs(doc(s, d), col("doc_id"), col("text"),
        n = 3, threshold = 0.6),
      shingleJaccardOracle(trigramShinglesCte("sh"), "0.6")),

    Q("d_minhash_lsh", (s, d) =>
      Dedup.minHashLshPairs(doc(s, d), col("doc_id"), col("text"),
        shingleWords = 3, numHashes = 16, bands = 4),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
""" + minHashSigCtes + """,
              banded AS (SELECT doc_id, sig,
                           b::VARCHAR || ',' || array_to_string(sig[b*4+1:b*4+4], ',') AS bucket
                         FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.sig AS sa, b.sig AS sb
                       FROM banded a JOIN banded b
                         ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
              SELECT id_a, id_b,
                     round(len(list_filter(generate_series(1, 16), i -> sa[i] = sb[i])) / 16.0, 6)
                       AS est_jaccard
              FROM cand"""),

    Q("x_dedup_eval", (s, d) =>
      // estimator-quality harness: MinHash-LSH candidates (16 hashes,
      // 4 bands) flagged at est >= 0.5 scored against the EXACT
      // shingle-Jaccard ground truth at 0.5 (uncapped — exhaustive for
      // t > 0 since qualifying pairs share a shingle). One full outer
      // join on the pair key + a one-row confusion aggregate. Above
      // maxTruthDocs documents the WHOLE eval runs on an enforced
      // deterministic hash slice (k = ceil(n/maxTruthDocs), reported as
      // slice_k) — the truth join stays bounded at any corpus scale
      Dedup.lshQualityEval(doc(s, d), col("doc_id"), col("text"),
        shingleWords = 3, numHashes = 16, bands = 4, threshold = 0.5,
        maxTruthDocs = 400L),
      """WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
              kk AS (SELECT greatest(1, ceil(n / 400.0))::BIGINT AS k FROM nn),
              docs AS (SELECT d.* FROM documents d, kk
                       WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '#lsheval'),
                              1, 8))::BIGINT % kk.k = 0),
              toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM docs),
""" + trigramShinglesCte("sh") + """,
              sizes AS (SELECT doc_id, count(*)::INT AS n_sh FROM sh GROUP BY 1),
              prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                        count(*)::BIGINT AS n_common
                      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
              exact AS (SELECT id_a, id_b
                        FROM prs JOIN sizes sa ON sa.doc_id = id_a
                                 JOIN sizes sb ON sb.doc_id = id_b
                        WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6)
                              >= 0.5),
              h AS (SELECT doc_id, i,
                      min((('0x' || substr(md5(s), 1, 8))::BIGINT * (1 + 2 * i)
                           + (11 * i + 7)) % 4294967311) AS m
                    FROM sh, (SELECT unnest(generate_series(0, 15)) AS i)
                    GROUP BY 1, 2),
              sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM h GROUP BY 1),
              banded AS (SELECT doc_id, sig,
                           b::VARCHAR || ',' || array_to_string(sig[b*4+1:b*4+4], ',')
                             AS bucket
                         FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.sig AS sa, b.sig AS sb
                       FROM banded a JOIN banded b
                         ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
              est AS (SELECT id_a, id_b,
                        round(len(list_filter(generate_series(1, 16),
                                              i -> sa[i] = sb[i])) / 16.0, 6) AS est
                      FROM cand),
              flag AS (SELECT id_a, id_b FROM est WHERE est >= 0.5),
              fj AS (SELECT coalesce(f.one, 0)::BIGINT AS f,
                            coalesce(e.one, 0)::BIGINT AS e
                     FROM (SELECT id_a, id_b, 1 AS one FROM flag) f
                     FULL JOIN (SELECT id_a, id_b, 1 AS one FROM exact) e
                     USING (id_a, id_b)),
              conf AS (SELECT sum(f)::BIGINT AS n_flagged, sum(e)::BIGINT AS n_true,
                              sum(f * e)::BIGINT AS tp
                       FROM fj)
              SELECT (SELECT count(*) FROM docs)::BIGINT AS n_docs_scored,
                (SELECT k FROM kk) AS slice_k,
                (SELECT count(*) FROM est)::BIGINT AS n_candidates,
                n_flagged, n_true, tp,
                (n_flagged - tp)::BIGINT AS fp, (n_true - tp)::BIGINT AS fn,
                (CASE WHEN n_flagged > 0 THEN round(tp / n_flagged::DOUBLE, 6)
                      END) AS precision,
                (CASE WHEN n_true > 0 THEN round(tp / n_true::DOUBLE, 6)
                      END) AS recall
              FROM conf"""),

    Q("d_simhash", (s, d) =>
      Dedup.simHashDocs(doc(s, d), col("doc_id"), col("text"), 32),
      simHashCtes + """
            SELECT doc_id, simhash FROM s"""),

    Q("d_containment", (s, d) =>
      // asymmetric containment |A∩B|/|A| >= 0.8 — near-subset detection
      // symmetric Jaccard dilutes away; df-capped like d_ngram_jaccard
      Dedup.containmentPairs(doc(s, d), col("doc_id"), col("text"),
        n = 3, threshold = 0.8, maxDf = Some(50)),
      sharedShingleCtes(cappedShinglesCtes) + """,
              ws AS (SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
                     FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                                JOIN sizes sb ON sb.doc_id = id_b)
              SELECT id_a AS id_small, id_b AS id_large,
                     round(n_common / n_a, 6) AS containment
              FROM ws WHERE round(n_common / n_a, 6) >= 0.8
              UNION ALL
              SELECT id_b AS id_small, id_a AS id_large,
                     round(n_common / n_b, 6) AS containment
              FROM ws WHERE round(n_common / n_b, 6) >= 0.8"""),

    Q("d_simhash_pairs", (s, d) =>
      // band-blocked Hamming near-dups over the simhash fingerprints:
      // 4 bands x 8 bits, pairs within Hamming distance 3 (pigeonhole:
      // any such pair agrees on >= 1 band, so blocking loses nothing)
      Dedup.simHashPairs(doc(s, d), col("doc_id"), col("text"),
        bits = 32, bands = 4, maxHamming = 3),
      simHashCtes + """,
            banded AS (SELECT doc_id, simhash, band,
                         (simhash >> (band * 8)) & 255 AS bv
                       FROM s, (SELECT unnest(generate_series(0, 3)) AS band)),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.simhash AS sa, b.simhash AS sb
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""),

    Q("d_embedding_neardup", (s, d) =>
      // IVF-cell blocked (the 100 TB default): deterministic centroids,
      // exact cosine only inside cells — the oracle replicates the same
      // assignment, so the blocked result is still hash-checked
      Dedup.embeddingNearDupPairs(emb(s, d), col("vec_id"), col("embedding"),
        threshold = 0.35, nlist = 16),
      """WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
""" + ivfCellCtes("vid", "16") + """
              SELECT a.vid AS id_a, b.vid AS id_b,
                     round(list_cosine_similarity(a.v, b.v), 6) AS cos
              FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid < b.vid
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35"""),

    Q("d_triangles", (s, d) =>
      // per-vertex triangle counts over the supplier co-supply graph
      // (suppliers sharing an order, 1-in-20 order slice): degree-ordered
      // orientation -> wedge join -> one equi closing join
      graft.operators.Components.triangleCounts(
        coSupplyPairs(s, d),
        col("sa"), col("sb")),
      coSupplyTriangleCtes + """
              SELECT vertex, count(*)::BIGINT AS n_tri
              FROM (SELECT unnest([x, y, z]) AS vertex FROM tri)
              GROUP BY 1"""),

    Q("d_components", (s, d) => {
      // pairs -> clusters: large-star/small-star contraction over the
      // near-dup pair graph (O(log n) rounds); component = smallest
      // member id, node==component marks the canonical survivor. The
      // oracle computes the same components via a recursive CTE over the
      // identical pair list
      val pairs = Dedup.embeddingNearDupPairs(
        emb(s, d), col("vec_id"), col("embedding"), threshold = 0.35, nlist = 16)
      graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node"), col("component"),
          (col("node") === col("component")).as("is_canonical"))
    },
      """WITH RECURSIVE
              e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
""" + ivfCellCtes("vid", "16") + """,
              prs AS (SELECT a.vid AS id_a, b.vid AS id_b
                      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid < b.vid
                      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
              edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                        UNION SELECT id_b, id_a FROM prs),
              nodes AS (SELECT DISTINCT src AS node FROM edges),
              reach AS (SELECT node, node AS rch FROM nodes
                        UNION
                        SELECT reach.node, edges.dst
                        FROM reach JOIN edges ON reach.rch = edges.src)
              SELECT node, min(rch) AS component,
                     node = min(rch) AS is_canonical
              FROM reach GROUP BY node"""),

    Q("d_cluster_canonical", (s, d) => {
      // the END-TO-END near-dup dedup decision: MinHash-LSH candidate
      // pairs -> connected components -> keep the BEST-QUALITY member per
      // cluster (quality desc, id asc tiebreak) instead of the arbitrary
      // min-id — the curation policy an LLM corpus pipeline actually
      // ships. Only clustered docs appear (singletons keep themselves)
      val pairs = Dedup.minHashLshPairs(doc(s, d), col("doc_id"), col("text"),
        shingleWords = 3, numHashes = 16, bands = 4)
      val comp = graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      val q = doc(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val members = comp.join(q, comp("node") === q("doc_id"))
      val keep = Joins.top1PerGroup(members, Seq(col("component")),
          Seq(col("quality").desc, col("doc_id").asc))
        .select(col("component"), col("doc_id").as("keep_id"),
          col("quality").as("keep_quality"))
      members.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .join(keep, Seq("component"))
    },
      """WITH RECURSIVE
              toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                       FROM documents),
""" + minHashSigCtes + ",\n" + lshComponentCtes + ",\n" + qualityCtes + """,
              mem AS (SELECT c.component, c.node, q.quality
                      FROM comp c JOIN qual q ON q.doc_id = c.node),
              keep AS (SELECT component, node AS keep_id, quality AS keep_quality FROM (
                         SELECT component, node, quality,
                                row_number() OVER (PARTITION BY component
                                  ORDER BY quality DESC, node ASC) AS rn
                         FROM mem) WHERE rn = 1)
              SELECT m.component, count(*) AS n_members, k.keep_id, k.keep_quality
              FROM mem m JOIN keep k USING (component)
              GROUP BY 1, 3, 4"""),

    Q("d_stratified_sample", (s, d) => {
      // deterministic hash-stratified sampling for training-mix
      // construction: the kept set is a pure function of doc_id, so the
      // sample is reproducible across runs/engines (rate granularity
      // 1/10000); per-language rates come from a config-sized frame
      import s.implicits._
      val rates = Seq(("en", 0.5), ("es", 0.25), ("fr", 0.1), ("de", 1.0))
        .toDF("stratum", "rate")
      graft.operators.Sampling.stratifiedSample(
        doc(s, d), col("lang"), col("doc_id"), rates)
        .select(col("doc_id"), col("lang"))
    },
      """WITH r AS (SELECT * FROM (VALUES ('en', 0.5), ('es', 0.25),
                           ('fr', 0.1), ('de', 1.0)) AS t(stratum, rate))
              SELECT d.doc_id, d.lang
              FROM documents d JOIN r ON d.lang = r.stratum
              WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
                    < floor(rate * 10000)::BIGINT"""),

    Q("d_weighted_sample", (s, d) =>
      // quality-weighted deterministic downsampling: longer docs survive
      // at a higher rate; the kept set is a pure function of doc_id
      graft.operators.Sampling.weightedSample(doc(s, d), col("doc_id"),
          least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)))
        .select(col("doc_id"),
          round(least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)), 6).as("weight")),
      """SELECT doc_id, round(least(n_chars / 2000.0, 1.0), 6) AS weight
              FROM documents
              WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000
                    < floor(least(n_chars / 2000.0, 1.0) * 10000)::BIGINT"""),

    Q("d_dsir_resample", (s, d) =>
      // targeted data selection: importance-resample the raw pool toward
      // the src0 distribution (hashed-unigram log-likelihood ratio +
      // deterministic Gumbel top-k). DECIMAL log-ratio sums keep the
      // score order-independent; the oracle replays the whole lineage.
      graft.operators.Sampling.dsirResample(doc(s, d), col("doc_id"),
        col("text"), col("source") === "src0"),
      """WITH tk AS (SELECT doc_id, source = 'src0' AS t,
                ('0x' || substr(md5(w), 1, 8))::BIGINT % 64 AS b
              FROM (SELECT doc_id, source,
                      unnest(string_split_regex(trim(text), '\s+')) AS w
                    FROM documents) WHERE w <> ''),
              tgt AS (SELECT b, count(*)::BIGINT AS ct FROM tk WHERE t GROUP BY 1),
              bg  AS (SELECT b, count(*)::BIGINT AS cb FROM tk WHERE NOT t GROUP BY 1),
              tot AS (SELECT (SELECT sum(ct) FROM tgt) AS tt,
                             (SELECT sum(cb) FROM bg) AS tb),
              r AS (SELECT bg.b,
                      round(ln((coalesce(ct, 0) + 1) / (tt + 64))
                            - ln((cb + 1) / (tb + 64)), 9)::DECIMAL(18,9) AS r
                    FROM bg LEFT JOIN tgt USING (b), tot),
              sc AS (SELECT doc_id, sum(c * r) AS score
                     FROM (SELECT doc_id, b, count(*)::BIGINT AS c
                           FROM tk WHERE NOT t GROUP BY 1, 2) rc
                     JOIN r USING (b) GROUP BY 1),
              ky AS (SELECT doc_id, round(score, 6)::DOUBLE AS log_w,
                       round(score + round(-ln(-ln(
                         (('0x' || substr(md5(doc_id::VARCHAR || '#dsir'), 1, 8))::BIGINT
                          % 1000000 + 0.5) / 1000000.0)), 9)::DECIMAL(18,9), 6)::DOUBLE
                         AS gumbel_key
                     FROM sc)
              SELECT doc_id, log_w, gumbel_key FROM ky
              ORDER BY gumbel_key DESC, doc_id LIMIT 100"""),

    Q("d_split_assign", (s, d) =>
      // leakage-free train/val/test: the label hangs off the SOURCE's hash
      // bucket, so a source domain can never straddle a split boundary
      graft.operators.Sampling.splitAssign(doc(s, d), col("source"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("source"), col("split")).agg(count(lit(1)).as("n_docs")),
      """WITH b AS (SELECT source,
                ('0x' || substr(md5(source), 1, 8))::BIGINT % 10000 AS bkt
              FROM documents)
              SELECT source,
                CASE WHEN bkt < 8000 THEN 'train'
                     WHEN bkt < 9000 THEN 'val'
                     ELSE 'test' END AS split,
                count(*)::BIGINT AS n_docs
              FROM b GROUP BY source, 2"""),

    // ===== V: vector similarity =====

    Q("v_cosine_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceCosineTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", "vec_id", "embedding", k = 5)
    },
      """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20),
              c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, c.v), 6) AS cos,
                     (row_number() OVER (PARTITION BY q.vec_id
                        ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id))::INT AS rank
              FROM q, c WHERE q.vec_id <> c.vec_id
              QUALIFY rank <= 5"""),

    Q("v_maxsim", (s, d) => {
      // late-interaction retrieval: vectors chunked 4-per-doc; the 5
      // query docs (vec_id < 20) score every corpus doc by summed
      // per-token max cosine, top-3 each
      val e = emb(s, d)
      Similarity.maxSimTopK(
        e.filter(col("vec_id") < 20).select(
          floor(col("vec_id") / 4).cast("long").as("qdoc"),
          col("vec_id").as("qtok"), col("embedding")),
        e.select(floor(col("vec_id") / 4).cast("long").as("cdoc"), col("embedding")),
        "qdoc", "qtok", "embedding", "cdoc", "embedding", k = 3)
    },
      """WITH q AS (SELECT vec_id // 4 AS qdoc, vec_id AS qtok,
                       embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 20),
              c AS (SELECT vec_id // 4 AS cdoc, embedding::DOUBLE[] AS cv
                    FROM embeddings),
              m AS (SELECT qdoc, qtok, cdoc,
                      max(round(list_cosine_similarity(qv, cv), 6))::DECIMAL(10,6) AS mx
                    FROM q, c WHERE cdoc <> qdoc GROUP BY 1, 2, 3),
              s AS (SELECT qdoc, cdoc, sum(mx) AS score FROM m GROUP BY 1, 2)
              SELECT qdoc AS query_doc, cdoc AS doc_id, score::DOUBLE AS maxsim,
                     (row_number() OVER (PARTITION BY qdoc
                        ORDER BY score DESC, cdoc))::INT AS rank
              FROM s QUALIFY rank <= 3"""),

    Q("v_embedding_drift", (s, d) =>
      // embedding-space drift monitor between the stream's two halves
      // (did the encoder / data distribution move?): per-dimension
      // centroid deltas via ONE aggregate with dim DECIMAL sum columns
      // (the powerIteration posture — no explode), then centroid
      // cosine, centroid L2 distance, and mean-norm delta. Output is
      // one scalar row; halves split by vec_id parity
      {
        val e = emb(s, d).select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"),
          pmod(col("vec_id"), lit(2)).as("half"))
        val dim = 64
        def sums(h: Int) = (0 until dim).map(dd =>
          sum(when(col("half") === h,
            round(get(col("v"), lit(dd)), 9).cast("decimal(28,9)")))
            .cast("double").as(s"s${h}_$dd"))
        val aggs = sums(0) ++ sums(1) ++ Seq(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"))
        val r = e.agg(aggs.head, aggs.tail: _*)
        val c0 = (0 until dim).map(dd => col(s"s0_$dd") / col("n0"))
        val c1 = (0 until dim).map(dd => col(s"s1_$dd") / col("n1"))
        val dot = c0.zip(c1).map { case (a, b) => a * b }.reduce(_ + _)
        val n0sq = c0.map(a => a * a).reduce(_ + _)
        val n1sq = c1.map(a => a * a).reduce(_ + _)
        val l2sq = c0.zip(c1).map { case (a, b) => (a - b) * (a - b) }
          .reduce(_ + _)
        r.select(col("n0"), col("n1"),
          round(dot / (sqrt(n0sq) * sqrt(n1sq)), 6).as("centroid_cos"),
          round(sqrt(l2sq), 6).as("centroid_l2"))
      },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                                vec_id % 2 AS half FROM embeddings),
              cells AS (SELECT half, i AS d,
                          sum(round(v[i + 1], 9)::DECIMAL(28,9))::DOUBLE AS s,
                          count(*)::BIGINT AS n
                        FROM e, range(64) r(i) GROUP BY 1, 2),
              c AS (SELECT d, max(CASE WHEN half = 0 THEN s / n END) AS c0,
                           max(CASE WHEN half = 1 THEN s / n END) AS c1
                    FROM cells GROUP BY 1),
              t AS (SELECT sum(c0 * c1) AS dot, sum(c0 * c0) AS n0sq,
                           sum(c1 * c1) AS n1sq,
                           sum((c0 - c1) * (c0 - c1)) AS l2sq
                    FROM c),
              nn AS (SELECT sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
                            sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
                     FROM (SELECT DISTINCT vec_id, half FROM e))
              SELECT nn.n0, nn.n1,
                     round(t.dot / (sqrt(t.n0sq) * sqrt(t.n1sq)), 6) AS centroid_cos,
                     round(sqrt(t.l2sq), 6) AS centroid_l2
              FROM t CROSS JOIN nn"""),

    Q("v_norm", (s, d) =>
      // native l2_norm expression (fused loop); sequential accumulation
      // matches DuckDB's list comprehension fold
      emb(s, d).select(col("vec_id"),
        round(call_function("l2_norm",
          VectorFunctions.toDoubleArray(col("embedding"))), 6).as("norm")),
      """SELECT vec_id,
              round(sqrt(list_sum([x * x for x in embedding::DOUBLE[]])), 6) AS norm
              FROM embeddings"""),

    Q("v_quantize_int8", (s, d) =>
      // per-vector int8 scalar quantization (4x embedding-store
      // compression): codes, reconstruction error, and the quantization
      // params — min/scale are materialized as columns BEFORE the
      // transform lambdas so they're computed once per vector
      emb(s, d)
        .select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")).as("v"))
        .withColumn("vmin", array_min(col("v")))
        .withColumn("vscale", (array_max(col("v")) - array_min(col("v"))) / 255.0)
        .withColumn("codes",
          VectorFunctions.quantizeInt8(col("v"), col("vmin"), col("vscale")))
        .withColumn("recon",
          VectorFunctions.dequantizeInt8(col("codes"), col("vmin"), col("vscale")))
        .select(col("vec_id"),
          round(col("vmin"), 6).as("qmin"),
          round(col("vscale"), 9).as("qscale"),
          col("codes").getItem(0).as("c0"), col("codes").getItem(1).as("c1"),
          col("codes").getItem(2).as("c2"), col("codes").getItem(3).as("c3"),
          round(VectorFunctions.meanAbsError(col("v"), col("recon")), 6).as("mae")),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              b AS (SELECT vec_id, v, list_min(v) AS vmin,
                           (list_max(v) - list_min(v)) / 255.0 AS sc FROM e),
              q AS (SELECT vec_id, v, vmin, sc,
                      CASE WHEN sc = 0 THEN [0 for x in v]
                           ELSE [round((x - vmin) / sc)::INT for x in v] END AS codes
                    FROM b),
              r AS (SELECT vec_id, vmin, sc, v, codes,
                      [vmin + codes[i] * sc
                       for i in generate_series(1, len(codes))] AS recon
                    FROM q)
              SELECT vec_id, round(vmin, 6) AS qmin, round(sc, 9) AS qscale,
                     codes[1] AS c0, codes[2] AS c1, codes[3] AS c2, codes[4] AS c3,
                     round(list_sum([abs(v[i] - recon[i])
                                     for i in generate_series(1, len(v))]) / len(v), 6) AS mae
              FROM r"""),

    Q("v_ann_lsh", (s, d) => {
      val e = emb(s, d)
      Similarity.lshCosineTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, dim = 64, nPlanes = 8)
    },
      // full replica: the md5-derived hyperplanes are recomputed inside
      // DuckDB (same seed:plane:dim strings, first 8 digest bytes as a
      // signed big-endian long / Long.MaxValue); dot products are rounded
      // at 9 decimals before the sign on both sides, so bucket ids match
      // bit-for-bit despite different accumulation orders
      lshBucketCtes + """,
              q AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id)
                    WHERE e.vec_id < 20),
              c AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id))
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, c.v), 6) AS cos,
                     (row_number() OVER (PARTITION BY q.vec_id
                        ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                                 c.vec_id))::INT AS rank
              FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
              QUALIFY rank <= 5"""),

    Q("v_ann_multiprobe", (s, d) => {
      val e = emb(s, d)
      Similarity.lshMultiProbeTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, dim = 64, nPlanes = 8)
    },
      // the v_ann_lsh replica plus Hamming-1 probe expansion on the query
      // side (xor over generate_series) and pair dedupe before ranking
      lshBucketCtes + """,
              qb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id)
                     WHERE e.vec_id < 20),
              probes AS (SELECT vec_id, v, bucket FROM qb
                         UNION ALL
                         SELECT qb.vec_id, qb.v, xor(qb.bucket, 1::BIGINT << f.p) AS bucket
                         FROM qb, (SELECT unnest(generate_series(0, 7)) AS p) f),
              c AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id)),
              pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                               round(list_cosine_similarity(q.v, c.v), 6) AS cos
                        FROM probes q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
              SELECT query_id, neighbor_id, cos,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id))::INT AS rank
              FROM pairs QUALIFY rank <= 5"""),

    Q("v_ann_ivf", (s, d) => {
      val e = emb(s, d)
      Similarity.ivfCosineTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
    },
      // full replica: deterministic centroids (lowest vec_id per id-residue
      // class), rounded-similarity cell assignment and probe ranking
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
""" + ivfProbeCtes + "\n" + ivfProbeTopK(5)),

    Q("v_ann_recall", (s, d) => {
      // ANN recall@k harness: IVF candidates (same dials as v_ann_ivf)
      // scored against the exact brute-force top-5 per query — the
      // nlist/nprobe tuning readout. Truth side runs on a query SAMPLE
      // (the standard recall protocol); recall_ppm is exact integer math
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 20)
      val ann = Similarity.ivfCosineTopK(
        q, e, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      Similarity.annRecallEval(ann, q, e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
""" + ivfProbeCtes + """,
              ivf AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                             (row_number() OVER (PARTITION BY p.query_id
                                ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
                                         a.vec_id))::INT AS rank
                      FROM asg a JOIN probes p USING (cell)
                      WHERE p.query_id <> a.vec_id
                      QUALIFY rank <= 5),
              truth AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                               (row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                                           e.vec_id))::INT AS rank
                        FROM (SELECT * FROM e WHERE vec_id < 20) q
                        JOIN e ON e.vec_id <> q.vec_id
                        QUALIFY rank <= 5)
              SELECT t.query_id, count(*)::BIGINT AS n_truth,
                     count(i.neighbor_id)::BIGINT AS n_hits,
                     (count(i.neighbor_id) * 1000000 // count(*))::BIGINT
                       AS recall_ppm
              FROM truth t LEFT JOIN ivf i
                ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
              GROUP BY t.query_id"""),

    Q("v_kmeans", (s, d) => {
      // deterministic Lloyd's k-means on the embeddings (k=8, 2
      // iterations): RNG-free seeds (lowest id per residue class),
      // rounded-cosine assignment with cell tiebreak, element-wise mean
      // centroids rounded at 6 decimals — every iteration is
      // engine-replicable, so the full iterative algorithm sits behind
      // the hash gate, not just a one-shot projection
      Clustering.kMeansAssign(emb(s, d), col("vec_id"), col("embedding"),
        k = 8, iters = 2)
    },
      kMeansCtes(2) + """
              SELECT vec_id AS point_id, cell AS cluster, cos FROM (
                SELECT e.vec_id, c.cell,
                       round(list_cosine_similarity(e.v, c.centroid), 6) AS cos,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                  c.cell) AS rn
                FROM e CROSS JOIN c2 c) WHERE rn = 1"""),

    Q("v_random_proj", (s, d) => {
      // Johnson-Lindenstrauss random projection 64 -> 8 dims with the
      // same md5-derived deterministic hyperplanes as the LSH family —
      // values instead of sign bits; one scalar column per output dim
      val e = emb(s, d).select(col("vec_id"),
        VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      val projs = VectorFunctions.randomProjection(col("v"), dim = 64, nOut = 8)
      e.select(col("vec_id") +: projs.zipWithIndex.map {
        case (p, i) => p.as(s"p$i")
      }: _*)
    },
      lshPlanesCtes + """,
              dots AS (SELECT e.vec_id, pl.p, round(sum(e.v[pl.d + 1] * pl.pval), 6) AS dt
                       FROM e CROSS JOIN planes pl GROUP BY 1, 2)
              SELECT vec_id,
                     max(CASE WHEN p = 0 THEN dt END) AS p0,
                     max(CASE WHEN p = 1 THEN dt END) AS p1,
                     max(CASE WHEN p = 2 THEN dt END) AS p2,
                     max(CASE WHEN p = 3 THEN dt END) AS p3,
                     max(CASE WHEN p = 4 THEN dt END) AS p4,
                     max(CASE WHEN p = 5 THEN dt END) AS p5,
                     max(CASE WHEN p = 6 THEN dt END) AS p6,
                     max(CASE WHEN p = 7 THEN dt END) AS p7
              FROM dots GROUP BY vec_id"""),

    Q("d_cluster_sample", (s, d) => {
      // diversity-balanced subset: k-means cells (1 Lloyd iteration) then
      // a deterministic 10-per-cluster hash sample — operator composition
      val assigned = Clustering.kMeansAssign(emb(s, d), col("vec_id"), col("embedding"),
        k = 8, iters = 1)
      graft.operators.Sampling.groupSample(
        assigned.select(col("point_id"), col("cluster")),
        Seq(col("cluster")), col("point_id"), k = 10)
    },
      kMeansCtes(1) + """,
              fin AS (SELECT vec_id AS point_id, cell AS cluster FROM (
                        SELECT e.vec_id, c.cell,
                               row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                          c.cell) AS rn
                        FROM e CROSS JOIN c1 c) WHERE rn = 1)
              SELECT point_id, cluster FROM (
                SELECT point_id, cluster,
                       row_number() OVER (PARTITION BY cluster
                         ORDER BY ('0x' || substr(md5(point_id::VARCHAR), 1, 8))::BIGINT % 10000,
                                  point_id) AS rnk
                FROM fin) WHERE rnk <= 10"""),

    Q("v_standardize", (s, d) => {
      // per-dimension standardization (embedding whitening prep): corpus
      // mean/stddev per dim from ONE aggregate pass over scalar columns,
      // broadcast back; emitted for the first 4 dims
      val e = emb(s, d).select(col("vec_id") +:
        (0 until 4).map(i =>
          element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
      val statCols = (0 until 4).flatMap(i => Seq(
        avg(col(s"x$i")).as(s"m$i"), stddev_samp(col(s"x$i")).as(s"s$i")))
      val stats = broadcast(e.agg(statCols.head, statCols.tail: _*))
      e.crossJoin(stats).select(col("vec_id") +:
        (0 until 4).map(i =>
          round((col(s"x$i") - col(s"m$i")) / col(s"s$i"), 4).as(s"z$i")): _*)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              s AS (SELECT avg(v[1]) AS m0, stddev_samp(v[1]) AS s0,
                           avg(v[2]) AS m1, stddev_samp(v[2]) AS s1,
                           avg(v[3]) AS m2, stddev_samp(v[3]) AS s2,
                           avg(v[4]) AS m3, stddev_samp(v[4]) AS s3 FROM e)
              SELECT vec_id,
                     round((v[1] - m0) / s0, 4) AS z0,
                     round((v[2] - m1) / s1, 4) AS z1,
                     round((v[3] - m2) / s2, 4) AS z2,
                     round((v[4] - m3) / s3, 4) AS z3
              FROM e CROSS JOIN s"""),

    // ===== X: text analysis =====

    Q("x_posting_lists", (s, d) =>
      // inverted index: term -> df, cf, bounded posting list (first 15
      // doc ids ascending, comma-joined — scalar output, and the cap is
      // the hot-term safety contract at corpus scale)
      graft.operators.InvertedIndex.build(doc(s, d), col("doc_id"), col("text"),
        maxPostings = 15),
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
              tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                     FROM toks WHERE term <> '' GROUP BY 1, 2)
              SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
                     array_to_string((list_sort(list(doc_id)))[1:15], ',') AS postings
              FROM tf GROUP BY term"""),

    Q("x_bigram_lm", (s, d) =>
      // corpus bigram LM: ordered-pair counts + P(w2|w1); adjacency from
      // one lead window over exploded positions (no self-join)
      TextFunctions.bigramLm(doc(s, d), col("doc_id"), col("text")),
      "WITH " + bigramCountCtes + """
              SELECT w1, w2, cnt,
                     round(cnt / (sum(cnt) OVER (PARTITION BY w1)), 6) AS p_cond
              FROM c"""),

    Q("x_ngram_novelty", (s, d) => {
      // per-doc novelty: the fraction of a doc's distinct trigrams that
      // appear in NO other document — high novelty = original content,
      // near-zero = assembled from corpus-common phrases. One explode +
      // two hash aggregates (df over shingles, then per-doc mean).
      val sh = Dedup.wordShingles(doc(s, d), col("doc_id"), col("text"), 3)
      val dfq = sh.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
      sh.join(dfq, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty",
          round(col("n_unique").cast("double") / col("n_shingles"), 6))
    },
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
""" + trigramShinglesCte("sh") + """,
              dfq AS (SELECT s, count(*)::BIGINT AS df FROM sh GROUP BY 1)
              SELECT doc_id, count(*)::BIGINT AS n_shingles,
                     sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
                     round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*), 6)
                       AS novelty
              FROM sh JOIN dfq USING (s) GROUP BY 1"""),

    Q("x_perplexity_filter", (s, d) =>
      // CCNet-shaped perplexity-band filter: mean bigram NLL under the
      // corpus's own LM (DECIMAL-exact sums), keep the low-perplexity band
      TextFunctions.perplexityFilter(doc(s, d), col("doc_id"), col("text"),
        doc(s, d), col("doc_id"), col("text"), keepBelow = 3.2),
      "WITH " + bigramNllCtes + """
              SELECT doc_id, count(*)::BIGINT AS n_pairs,
                     round(sum(nll)::DOUBLE / count(*), 6) AS avg_nll,
                     round(sum(nll)::DOUBLE / count(*), 6) <= 3.2 AS keep
              FROM pairs JOIN lm USING (w1, w2)
              GROUP BY 1"""),

    Q("x_ccnet_bucket", (s, d) =>
      // CCNet head/middle/tail perplexity terciles per language (Wenzek
      // 2020): per-doc mean bigram NLL under the corpus LM, tercile
      // edges from the distinct-score cumulative (ties share a bucket,
      // integer div — no corpus-wide sort), per-(lang, band) rollup
      TextFunctions.ccnetBuckets(doc(s, d), col("doc_id"), col("text"),
        col("lang")),
      "WITH " + bigramNllCtes + """,
              sc0 AS (SELECT doc_id,
                        round(sum(nll)::DOUBLE / count(*), 6) AS avg_nll
                      FROM pairs JOIN lm USING (w1, w2) GROUP BY 1),
              sc AS (SELECT d.lang, sc0.doc_id, sc0.avg_nll
                     FROM sc0 JOIN documents d USING (doc_id)),
              vals AS (SELECT lang, avg_nll, count(*)::BIGINT AS cnt
                       FROM sc GROUP BY 1, 2),
              b AS (SELECT lang, avg_nll,
                      (sum(cnt) OVER (PARTITION BY lang ORDER BY avg_nll)
                        - cnt) AS cumb,
                      sum(cnt) OVER (PARTITION BY lang) AS n
                    FROM vals),
              bb AS (SELECT lang, avg_nll, ((cumb * 3) // n)::INT AS bucket
                     FROM b)
              SELECT lang, bucket, count(*)::BIGINT AS n_docs,
                     min(avg_nll) AS min_nll, max(avg_nll) AS max_nll,
                     CASE WHEN bucket = 0 THEN 'head'
                          WHEN bucket = 1 THEN 'middle'
                          ELSE 'tail' END AS band
              FROM (SELECT sc.lang, bb.bucket, sc.avg_nll FROM sc JOIN bb
                    ON sc.lang = bb.lang AND sc.avg_nll = bb.avg_nll) t
              GROUP BY 1, 2"""),

    Q("d_temperature_mix", (s, d) =>
      // temperature-scaled source mixing (alpha=0.7, expected total 300):
      // per-source rates from count^alpha, deterministic hash-bucket keep
      graft.operators.Sampling.temperatureMix(
        doc(s, d).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), alpha = 0.7, targetRows = 300),
      """WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1),
              r AS (SELECT source,
                      least(1.0, round(300.0 * pow(n, 0.7)
                        / (SELECT sum(pow(n, 0.7)) FROM c) / n, 6)) AS rate
                    FROM c)
              SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
              WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
                    < floor(rate * 10000)::BIGINT"""),

    Q("d_budget_waterfill", (s, d) => {
      // training-mix budget allocation: per-domain token supplies, a
      // budget of half the corpus, sqrt(supply) weights (temperature
      // alpha=0.5), supply caps, and 3 waterfill redistribution rounds.
      // The budget constant is one metadata-sized driver read of the
      // supply aggregate (config derivation, like the k-means centroids)
      val sup = doc(s, d).groupBy(col("source").as("domain"))
        .agg(sum(graft.functions.TextFunctions.tokenCountWs(col("text"))
          .cast("long")).as("supply"))
      val budget = sup.agg(sum(col("supply")).as("t")).head.getLong(0) / 2
      graft.operators.Sampling.budgetWaterfill(sup, budget, rounds = 3)
    },
      """WITH tok AS (SELECT source AS domain,
                (CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS nt
              FROM documents),
              s0 AS (SELECT domain, sum(nt)::BIGINT AS supply FROM tok GROUP BY 1),
              b AS (SELECT (sum(supply) // 2)::BIGINT AS budget FROM s0),
              p0 AS (SELECT domain, supply,
                       floor(sqrt(supply::DOUBLE) * 1000000)::BIGINT AS w,
                       0::BIGINT AS alloc FROM s0),
              t1 AS (SELECT sum(CASE WHEN alloc < supply THEN w ELSE 0 END)::BIGINT AS wsum,
                            (SELECT budget FROM b) - sum(alloc)::BIGINT AS rem FROM p0),
              p1 AS (SELECT domain, supply, w,
                       alloc + (CASE WHEN alloc < supply AND t.wsum > 0 AND t.rem > 0
                         THEN least(supply - alloc, floor(t.rem::DOUBLE * w / t.wsum)::BIGINT)
                         ELSE 0 END) AS alloc
                     FROM p0 CROSS JOIN t1 t),
              t2 AS (SELECT sum(CASE WHEN alloc < supply THEN w ELSE 0 END)::BIGINT AS wsum,
                            (SELECT budget FROM b) - sum(alloc)::BIGINT AS rem FROM p1),
              p2 AS (SELECT domain, supply, w,
                       alloc + (CASE WHEN alloc < supply AND t.wsum > 0 AND t.rem > 0
                         THEN least(supply - alloc, floor(t.rem::DOUBLE * w / t.wsum)::BIGINT)
                         ELSE 0 END) AS alloc
                     FROM p1 CROSS JOIN t2 t),
              t3 AS (SELECT sum(CASE WHEN alloc < supply THEN w ELSE 0 END)::BIGINT AS wsum,
                            (SELECT budget FROM b) - sum(alloc)::BIGINT AS rem FROM p2),
              p3 AS (SELECT domain, supply, w,
                       alloc + (CASE WHEN alloc < supply AND t.wsum > 0 AND t.rem > 0
                         THEN least(supply - alloc, floor(t.rem::DOUBLE * w / t.wsum)::BIGINT)
                         ELSE 0 END) AS alloc
                     FROM p2 CROSS JOIN t3 t)
              SELECT domain, supply, alloc,
                     round(alloc * 100.0 / supply, 6) AS utilization_pct,
                     round(alloc * 100.0 / (SELECT budget FROM b), 6) AS budget_share_pct
              FROM p3"""),

    Q("x_bm25", (s, d) =>
      // BM25 top-20 for a fixed bag-of-words query: token stream scanned
      // once for lengths (column expr, no explode) and once for the tf of
      // the 3 query terms (isin prunes before the aggregate)
      graft.operators.InvertedIndex.bm25TopK(doc(s, d), col("doc_id"), col("text"),
        Seq("spark", "join", "table"), k = 20),
      """WITH docs AS (SELECT doc_id,
                (CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::DOUBLE AS dl,
                text FROM documents),
              stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM docs),
              toks AS (SELECT doc_id, dl,
                unnest(string_split_regex(trim(text), '\s+')) AS term FROM docs),
              tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM toks
                     WHERE term IN ('spark', 'join', 'table') GROUP BY 1, 2, 3),
              dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                         * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
                     FROM tf JOIN dfq USING (term) CROSS JOIN stats GROUP BY 1)
              SELECT doc_id, score, rank FROM (
                SELECT *, (row_number() OVER (ORDER BY score DESC, doc_id))::INT AS rank
                FROM sc) WHERE rank <= 20"""),

    Q("d_pagerank", (s, d) => {
      // simplified PageRank, 3 iterations, over the customer<->supplier
      // trade graph (supplier ids offset into their own range); each
      // iteration rounds at 9 decimals so the trajectory replays
      // identically in the oracle — the k-means playbook on a graph
      val e = li(s, d).join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000L).as("p"))
      val edges = e.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(e.select(col("p").as("src"), col("c").as("dst")))
      graft.operators.Components.pageRank(edges, "src", "dst", iters = 3)
    },
      """WITH b AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 10000000 AS p
                         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              e AS (SELECT c AS src, p AS dst FROM b
                    UNION SELECT p AS src, c AS dst FROM b),
""" + pageRankCtes(3) + """
              SELECT node, rank FROM r3"""),

    Q("d_redirect_loops", (s, d) => {
      // redirect-loop detection: a synthetic URL redirect map (1,800
      // non-canonical variants each pointing at their canonical page;
      // 200 canonical pages permuted among themselves by an affine map —
      // the misconfigured-canonicalization case) peeled by synchronous
      // Kahn rounds. Variants peel in round 1 (nothing points at them),
      // the canonical permutation never peels — the residual IS the loop
      // set, exactly, because every node redirects to exactly one target
      // (functional graph). 3 rounds: the certifying empty round + margin
      val u = ord(s, d)
        .select(pmod(col("o_orderkey"), lit(2000)).as("u")).distinct()
      val edges = u.withColumn("v",
        when(pmod(col("u"), lit(10)) === 0,
          expr("((u div 10) * 3 + 7) % 200 * 10")) // u >= 0: % == pmod
          .otherwise(col("u") - pmod(col("u"), lit(10))))
      graft.operators.Components.kahnCycleCore(edges, "u", "v", rounds = 3)
    },
      """WITH uu AS (SELECT DISTINCT o_orderkey % 2000 AS u FROM orders),
              e0 AS (SELECT u AS src,
                       CASE WHEN u % 10 = 0
                            THEN ((u // 10) * 3 + 7) % 200 * 10
                            ELSE u - (u % 10) END AS dst
                     FROM uu),
              e AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
              n0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              p1 AS (SELECT node FROM n0 WHERE node NOT IN
                       (SELECT dst FROM e WHERE src IN (SELECT node FROM n0)
                                            AND dst IN (SELECT node FROM n0))),
              l1 AS (SELECT node FROM n0 EXCEPT SELECT node FROM p1),
              p2 AS (SELECT node FROM l1 WHERE node NOT IN
                       (SELECT dst FROM e WHERE src IN (SELECT node FROM l1)
                                            AND dst IN (SELECT node FROM l1))),
              l2 AS (SELECT node FROM l1 EXCEPT SELECT node FROM p2),
              p3 AS (SELECT node FROM l2 WHERE node NOT IN
                       (SELECT dst FROM e WHERE src IN (SELECT node FROM l2)
                                            AND dst IN (SELECT node FROM l2))),
              l3 AS (SELECT node FROM l2 EXCEPT SELECT node FROM p3),
              conv AS (SELECT (SELECT count(*) FROM l2) =
                              (SELECT count(*) FROM l3) AS c)
              SELECT node, 1::INT AS peel_round, false AS is_cycle_core,
                     (SELECT c FROM conv) AS converged FROM p1
              UNION ALL
              SELECT node, 2::INT, false, (SELECT c FROM conv) FROM p2
              UNION ALL
              SELECT node, 3::INT, false, (SELECT c FROM conv) FROM p3
              UNION ALL
              SELECT node, 0::INT, true, (SELECT c FROM conv) FROM l3"""),

    Q("d_kcore", (s, d) => {
      // k-core decomposition (k=3) by fixed-round synchronous peeling
      // over a sparsified part co-occurrence graph (parts in the same
      // order, edges kept by a 4% md5 slice so peeling actually
      // cascades on the uniform synthetic data). 10 rounds covers the
      // measured fixpoint depth (7/5/7 at the three SFs) with margin;
      // `converged` asserts the peel bottomed out rather than trusting
      // the budget
      graft.operators.Components.kCore(partPairs(s, d), "u", "v", k = 3, rounds = 10)
    },
      partGraphCtes("e") + ",\n" + kCoreCtes(k = 3, rounds = 10) + """,
              core AS (SELECT e.src AS node, count(*)::INT AS core_deg FROM e
                JOIN a10 s ON e.src = s.node JOIN a10 t ON e.dst = t.node
                GROUP BY 1),
              conv AS (SELECT CASE WHEN (SELECT count(*) FROM a9)
                  = (SELECT count(*) FROM a10) THEN 1 ELSE 0 END AS converged)
              SELECT node, core_deg, converged FROM core CROSS JOIN conv"""),

    Q("d_hits", (s, d) => {
      // HITS hubs/authorities (Kleinberg), 3 iterations over the
      // directed customer->supplier trade graph (customers can only be
      // hubs, suppliers only authorities — the bipartite sanity case).
      // Scores stay round-9 doubles summed as exact DECIMAL so the
      // trajectory replays engine-for-engine
      val e = li(s, d).join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000L).as("p"))
      graft.operators.Components.hits(e, "c", "p", iters = 3)
    },
      """WITH b AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
                         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              n AS (SELECT src AS node FROM b UNION SELECT dst FROM b),
              s0 AS (SELECT node, 1.0::DOUBLE AS hub, 1.0::DOUBLE AS auth FROM n),
              ar1 AS (SELECT e.dst AS node,
                        (sum(s.hub::DECIMAL(28,9)))::DOUBLE AS auth
                      FROM b e JOIN s0 s ON s.node = e.src GROUP BY 1),
              a1p AS (SELECT n.node, coalesce(ar1.auth, 0.0) AS auth
                      FROM n LEFT JOIN ar1 USING (node)),
              a1 AS (SELECT node, round(auth / (SELECT
                       (sum(auth::DECIMAL(28,9)))::DOUBLE FROM a1p), 9) AS auth
                     FROM a1p),
              hr1 AS (SELECT e.src AS node,
                        (sum(a.auth::DECIMAL(28,9)))::DOUBLE AS hub
                      FROM b e JOIN a1 a ON a.node = e.dst GROUP BY 1),
              h1p AS (SELECT n.node, coalesce(hr1.hub, 0.0) AS hub
                      FROM n LEFT JOIN hr1 USING (node)),
              h1 AS (SELECT node, round(hub / (SELECT
                       (sum(hub::DECIMAL(28,9)))::DOUBLE FROM h1p), 9) AS hub
                     FROM h1p),
              ar2 AS (SELECT e.dst AS node,
                        (sum(s.hub::DECIMAL(28,9)))::DOUBLE AS auth
                      FROM b e JOIN h1 s ON s.node = e.src GROUP BY 1),
              a2p AS (SELECT n.node, coalesce(ar2.auth, 0.0) AS auth
                      FROM n LEFT JOIN ar2 USING (node)),
              a2 AS (SELECT node, round(auth / (SELECT
                       (sum(auth::DECIMAL(28,9)))::DOUBLE FROM a2p), 9) AS auth
                     FROM a2p),
              hr2 AS (SELECT e.src AS node,
                        (sum(a.auth::DECIMAL(28,9)))::DOUBLE AS hub
                      FROM b e JOIN a2 a ON a.node = e.dst GROUP BY 1),
              h2p AS (SELECT n.node, coalesce(hr2.hub, 0.0) AS hub
                      FROM n LEFT JOIN hr2 USING (node)),
              h2 AS (SELECT node, round(hub / (SELECT
                       (sum(hub::DECIMAL(28,9)))::DOUBLE FROM h2p), 9) AS hub
                     FROM h2p),
              ar3 AS (SELECT e.dst AS node,
                        (sum(s.hub::DECIMAL(28,9)))::DOUBLE AS auth
                      FROM b e JOIN h2 s ON s.node = e.src GROUP BY 1),
              a3p AS (SELECT n.node, coalesce(ar3.auth, 0.0) AS auth
                      FROM n LEFT JOIN ar3 USING (node)),
              a3 AS (SELECT node, round(auth / (SELECT
                       (sum(auth::DECIMAL(28,9)))::DOUBLE FROM a3p), 9) AS auth
                     FROM a3p),
              hr3 AS (SELECT e.src AS node,
                        (sum(a.auth::DECIMAL(28,9)))::DOUBLE AS hub
                      FROM b e JOIN a3 a ON a.node = e.dst GROUP BY 1),
              h3p AS (SELECT n.node, coalesce(hr3.hub, 0.0) AS hub
                      FROM n LEFT JOIN hr3 USING (node)),
              h3 AS (SELECT node, round(hub / (SELECT
                       (sum(hub::DECIMAL(28,9)))::DOUBLE FROM h3p), 9) AS hub
                     FROM h3p)
              SELECT h3.node, h3.hub, a3.auth
              FROM h3 JOIN a3 USING (node)"""),

    Q("x_textrank_keywords", (s, d) => {
      // TextRank keyword extraction (Mihalcea & Tarau 2004): undirected
      // word co-occurrence graph over adjacent content words (lowercase
      // alpha, len >= 4), 4 damped PageRank iterations (each rounded at
      // 9 decimals so the trajectory replays), top-20 by rank with a
      // lexicographic tiebreak. Nodes ride the 60-bit md5 key (the
      // hierKey pattern) so the iteration shuffles longs, not strings;
      // the oracle routes through the SAME mapping. Top-k is
      // TakeOrderedAndProject (distributed heads), never a global sort.
      import org.apache.spark.sql.expressions.Window
      // fanned out: the posexplode + regex token filter runs inside the
      // (single-task) scan stage before the first window shuffle
      val toks = Tables.fanOut(doc(s, d))
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w0")))
        .select(col("doc_id"), col("pos"), lower(col("w0")).as("w"))
        .filter(col("w").rlike("^[a-z]{4,}$"))
      val adj = toks.withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .filter(col("w2").isNotNull && col("w") =!= col("w2"))
      val e0 = adj.select(col("w").as("a"), col("w2").as("b"))
      val eu = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
        .distinct()
      def wid(c: Column) = conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val pr = graft.operators.Components.pageRank(
        eu.select(wid(col("a")).as("src"), wid(col("b")).as("dst")),
        "src", "dst", iters = 4)
      val words = eu.select(col("a").as("word")).distinct()
        .withColumn("__wid", wid(col("word")))
      val top = pr.join(words, pr("node") === words("__wid"))
        .select(col("word"), col("rank"))
        .orderBy(col("rank").desc, col("word")).limit(20)
      top.withColumn("rk", row_number().over(
        Window.orderBy(col("rank").desc, col("word"))).cast("int"))
    },
      "WITH " + posToksCte("w0") + """,
              cw AS (SELECT doc_id, pos, lower(w0) AS w FROM toks
                     WHERE regexp_matches(lower(w0), '^[a-z]{4,}$')),
              adj AS (SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                      FROM cw),
              e0 AS (SELECT w AS a, w2 AS b FROM adj
                     WHERE w2 IS NOT NULL AND w <> w2),
              eu AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
              ids AS (SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS wid
                      FROM (SELECT DISTINCT a AS w FROM eu)),
              e AS (SELECT ia.wid AS src, ib.wid AS dst
                    FROM eu JOIN ids ia ON eu.a = ia.w JOIN ids ib ON eu.b = ib.w),
""" + pageRankCtes(4) + """
              SELECT word, rank, rk FROM (
                SELECT ids.w AS word, r4.rank,
                       row_number() OVER (ORDER BY r4.rank DESC, ids.w)::INT AS rk
                FROM r4 JOIN ids ON ids.wid = r4.node) t
              WHERE rk <= 20"""),

    Q("x_tokenize_vocab", (s, d) => {
      // corpus-induced top-50 vocab (cf desc, term tiebreak), then each
      // doc encoded as its token-id sequence (OOV -> -1), comma-joined
      val docs = doc(s, d)
      graft.operators.Tokenize.encodeWithVocab(docs, col("doc_id"), col("text"),
        graft.operators.Tokenize.vocabTopN(docs, col("doc_id"), col("text"), v = 50))
    },
      "WITH " + posToksCte("term") + """,
              t AS (SELECT * FROM toks WHERE term <> ''),
              cf AS (SELECT term, count(*)::BIGINT AS cf FROM t GROUP BY 1),
              vocab AS (SELECT term,
                          (row_number() OVER (ORDER BY cf DESC, term) - 1)::BIGINT AS tok_id
                        FROM cf ORDER BY cf DESC, term LIMIT 50),
              enc AS (SELECT t.doc_id, t.pos, coalesce(v.tok_id, -1) AS tok_id
                      FROM t LEFT JOIN vocab v USING (term))
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     array_to_string(list(tok_id ORDER BY pos), ',') AS token_ids
              FROM enc GROUP BY 1"""),

    Q("x_vocab_coverage", (s, d) => {
      // tokenizer-design coverage curve: what fraction of the corpus
      // token stream the top-k vocabulary covers, at k = 100/1000/10000.
      // Token ranking rides the two-pass scalable global rank (quantile
      // buckets + per-bucket window — no single-partition sort), and
      // coverage at each k is ONE conditional hash aggregate; no global
      // cumulative sum is ever materialized. At 100 TB the vocab frame
      // is corpus-vocabulary-sized (millions), far below the token
      // stream, and every stage map-side combines.
      val toks = doc(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .withColumn("neg_cnt", -col("cnt"))
      val ranked = graft.operators.Windows.globalRowNumber(
        freq, "neg_cnt", Seq(col("term")), "rank")
      val ks = Seq(100, 1000, 10000)
      val agg0 = ranked.agg(
        sum(col("cnt")).as("total"),
        ks.map(k => sum(when(col("rank") <= k, col("cnt")).otherwise(0L)).as(s"c$k")): _*)
      agg0.select(explode(array(ks.map(k => struct(
          lit(k).as("k"),
          col(s"c$k").as("covered_tokens"),
          round(col(s"c$k") * 100.0 / col("total"), 6).as("coverage_pct"))): _*)).as("r"))
        .select(col("r.k").as("k"), col("r.covered_tokens").as("covered_tokens"),
          col("r.coverage_pct").as("coverage_pct"))
    },
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
                            FROM documents),
              t AS (SELECT term FROM toks WHERE term <> ''),
              f AS (SELECT term, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
              r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM f),
              tot AS (SELECT sum(cnt)::BIGINT AS total FROM f)
              SELECT k, sum(CASE WHEN rank <= k THEN cnt ELSE 0 END)::BIGINT AS covered_tokens,
                     round(sum(CASE WHEN rank <= k THEN cnt ELSE 0 END) * 100.0
                           / (SELECT total FROM tot), 6) AS coverage_pct
              FROM r CROSS JOIN (VALUES (100), (1000), (10000)) v(k)
              GROUP BY 1"""),

    Q("x_zipf_slope", (s, d) =>
      // Zipf power-law fit of the corpus frequency spectrum (corpus
      // health check): distributed exact OLS of ln(freq) on ln(rank) —
      // ranks via the two-pass scalable global rank, regression via ONE
      // aggregate of five sums; log terms round at 9 against libm drift
      graft.operators.InvertedIndex.zipfFit(doc(s, d), col("doc_id"), col("text")),
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
                            FROM documents),
              f AS (SELECT term, count(*)::BIGINT AS cnt FROM toks
                    WHERE term <> '' GROUP BY 1),
              r AS (SELECT cnt,
                      row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM f),
              p AS (SELECT round(ln(rank), 9) AS x, round(ln(cnt), 9) AS y FROM r),
              s AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                           sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
                    FROM p)
              SELECT n::BIGINT AS n_terms,
                round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6) AS alpha,
                round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                  AS intercept,
                round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
                      ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
              FROM s"""),

    Q("x_bpe_merges", (s, d) =>
      // BPE vocabulary induction, 2 merge steps: heaviest adjacent symbol
      // pair (weight desc, pair lexicographic) merged left-to-right in
      // every word via plain string replace — the oracle replays the
      // whole trajectory (both iterations) in SQL
      graft.operators.Tokenize.bpeMerges(doc(s, d), col("doc_id"), col("text"),
        nMerges = 2),
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
              wrd AS (SELECT term AS word, count(*)::BIGINT AS freq
                      FROM toks WHERE term <> '' GROUP BY 1),
              w0 AS (SELECT word, freq,
                       array_to_string(string_split(word, ''), '  ') AS seg FROM wrd),
              p1 AS (SELECT sym AS a, nxt AS b, sum(freq) AS wgt FROM (
                       SELECT word, freq, sym,
                              lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
                       FROM (SELECT word, freq,
                               unnest(string_split(seg, '  ')) AS sym,
                               generate_subscripts(string_split(seg, '  '), 1) AS pos
                             FROM w0))
                     WHERE nxt IS NOT NULL GROUP BY 1, 2),
              t1 AS (SELECT a, b FROM p1 ORDER BY wgt DESC, a, b LIMIT 1),
              w1 AS (SELECT word, freq,
                       trim(replace(' ' || seg || ' ',
                         ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')) AS seg
                     FROM w0 CROSS JOIN t1),
              p2 AS (SELECT sym AS a, nxt AS b, sum(freq) AS wgt FROM (
                       SELECT word, freq, sym,
                              lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
                       FROM (SELECT word, freq,
                               unnest(string_split(seg, '  ')) AS sym,
                               generate_subscripts(string_split(seg, '  '), 1) AS pos
                             FROM w1))
                     WHERE nxt IS NOT NULL GROUP BY 1, 2),
              t2 AS (SELECT a, b FROM p2 ORDER BY wgt DESC, a, b LIMIT 1),
              w2 AS (SELECT word, freq,
                       trim(replace(' ' || seg || ' ',
                         ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')) AS seg
                     FROM w1 CROSS JOIN t2)
              SELECT word, freq, replace(seg, '  ', ' ') AS seg FROM w2"""),

    Q("x_bpe_deep", (s, d) =>
      // deep BPE run (12 merges, one materialized constant-shape job per
      // step — each step reads the previous frame twice, so without the
      // truncation the tail re-evaluates 2^steps times); the oracle
      // replays all 12 iterations via a generated CTE chain
      graft.operators.Tokenize.bpeMerges(doc(s, d), col("doc_id"), col("text"),
        nMerges = 12, matEvery = 1),
      bpeOracleSql(12)),

    Q("x_bpe_encode", (s, d) =>
      // tokenizer APPLICATION: encode the corpus under 8 learned merges
      // and report per-language tokenizer economics (fertility =
      // tokens/word, chars/token). Encoding is one equi join of
      // per-(lang, word) occurrence counts against the vocabulary frame
      // — corpus rows are never touched word-by-word; the oracle replays
      // the full 8-merge trajectory then the same join+agg
      graft.operators.Tokenize.bpeEncodeStats(doc(s, d), col("doc_id"),
        col("text"), col("lang"), nMerges = 8, matEvery = 1)
        .withColumnRenamed("grp", "lang"),
      s"""${bpeOracleCtes(8)},
              enc AS (SELECT word, len(string_split(seg, '  '))::INT AS n_sym
                      FROM w8),
              occ AS (SELECT lang, term, count(*)::BIGINT AS cnt FROM (
                        SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS term
                        FROM documents)
                      WHERE term <> '' GROUP BY 1, 2)
              SELECT lang,
                sum(cnt)::BIGINT AS n_words,
                sum(cnt * n_sym)::BIGINT AS n_tokens,
                round(sum(cnt * n_sym) / sum(cnt)::DOUBLE, 6) AS fertility,
                round(sum(cnt * length(word)) / sum(cnt * n_sym)::DOUBLE, 6)
                  AS chars_per_token
              FROM occ JOIN enc ON occ.term = enc.word GROUP BY 1"""),

    Q("x_unigram_segment", (s, d) =>
      // SentencePiece-style unigram tokenizer, Viterbi half: per-word
      // best segmentation under the frequency-seeded piece vocab. The
      // corpus is touched once (word counts); the DP is a static
      // 16-step loop over vocabulary-sized frames. Oracle = generated
      // CTE chain replaying every DP step (the x_bpe_deep pattern)
      graft.operators.Tokenize.unigramSegment(doc(s, d), col("doc_id"), col("text"),
        maxPieceLen = 3, vocabSize = 40),
      unigramSegmentOracle(3, 40, 16)),

    Q("x_wordpiece", (s, d) =>
      // WordPiece (Wu et al. 2016) — the third subword family: form-marked
      // continuation pieces (##) and GREEDY longest-match encoding. The
      // greedy loop runs in-row against a broadcast vocab map (one
      // shuffle-free projection over the distinct-word frame); oracle =
      // generated greedy-step CTE chain
      graft.operators.Tokenize.wordPieceSegment(doc(s, d), col("doc_id"), col("text"),
        maxPieceLen = 3, vocabSize = 40),
      wordPieceOracle(3, 40, 16)),

    Q("x_unigram_em", (s, d) =>
      // the EM half: two hard-EM rounds (Viterbi E-step, Laplace-smoothed
      // count M-step) re-estimating the unigram piece probabilities —
      // the Kudo-2018 training loop next to BPE's merge loop. Oracle
      // replays both full Viterbi chains plus both M-steps
      graft.operators.Tokenize.unigramVocab(doc(s, d), col("doc_id"), col("text"),
        maxPieceLen = 3, vocabSize = 40, emIters = 2),
      unigramEmOracle(3, 40, 16, 2)),

    Q("x_unigram_encode", (s, d) =>
      // tokenizer ECONOMICS under the EM-trained unigram vocab: per-lang
      // fertility + chars/token — the x_bpe_encode twin for the other
      // subword family. Encoding = one equi join of per-(lang, word)
      // counts against the Viterbi segmentation frame
      graft.operators.Tokenize.unigramEncodeStats(
        doc(s, d), col("doc_id"), col("text"), col("lang"),
        maxPieceLen = 3, vocabSize = 40, emIters = 1),
      unigramHeadCtes(3, 40, 16) +
        unigramViterbiCtes("s1", "v0", 3, 16) + unigramMStepCtes(1, "s1") +
        unigramViterbiCtes("s2", "v1", 3, 16) +
        """,
          |occ AS (SELECT lang AS grp, term, count(*)::BIGINT AS cnt FROM (
          |    SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS term
          |    FROM documents) t WHERE term <> '' GROUP BY 1, 2),
          |enc AS (SELECT word, len(string_split(pieces, ' '))::INT AS n_sym
          |  FROM s2fin),
          |g AS (SELECT grp, sum(cnt)::BIGINT AS n_words,
          |    sum(cnt * n_sym)::BIGINT AS n_tokens,
          |    sum(cnt * length(word))::BIGINT AS n_chars
          |  FROM occ JOIN enc ON occ.term = enc.word GROUP BY 1)
          |SELECT grp, n_words, n_tokens,
          |  round(n_tokens / n_words, 6) AS fertility,
          |  round(n_chars / n_tokens, 6) AS chars_per_token FROM g""".stripMargin),

    Q("x_seq_pack", (s, d) =>
      // deterministic sequence packing: per source, docs in id order fill
      // 2048-token sequences by running total — one window, no per-bin
      // state, replayable in any engine
      graft.operators.Tokenize.seqPack(
        doc(s, d).select(col("doc_id"), col("source"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), seqLen = 2048),
      """WITH d AS (SELECT doc_id, source,
                (CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tok
              FROM documents)
              SELECT doc_id, source, n_tok,
                     floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok) / 2048)::BIGINT AS seq_id
              FROM d"""),

    Q("a20_decayed_sum", (s, d) =>
      // recency-weighted per-user activity: half-life 7 days against the
      // newest event; weights are exact powers of two (shift, not pow)
      graft.operators.Stats.decayedSum(ev(s, d), col("user_id"),
        col("value"), col("ts"), halfLifeDays = 7),
      """WITH r AS (SELECT max(ts::DATE) AS ref FROM events),
              w AS (SELECT user_id AS key, value,
                      date_diff('day', ts::DATE, ref) // 7 AS k
                    FROM events, r)
              SELECT key,
                     sum(round(value * (1.0 / (1::BIGINT << k)), 6)::DECIMAL(18,6))
                       ::DOUBLE AS decayed_value,
                     count(*)::BIGINT AS n_events
              FROM w GROUP BY 1"""),

    Q("a18_incremental_agg", (s, d) => {
      // incremental rollup maintenance: base slice (orders % 10 != 0)
      // aggregated yesterday + today's delta (% 10 = 0), merged — the
      // oracle recomputes the rollup from scratch over ALL orders, so a
      // green hash PROVES incremental == full recompute
      def slice(pred: Column) = ord(s, d).filter(pred)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(14,2)")).as("total"),
          count(lit(1)).as("n_orders"))
      val merged = graft.operators.Stats.mergeAggState(
        Seq(slice(pmod(col("o_orderkey"), lit(10)) =!= 0),
          slice(pmod(col("o_orderkey"), lit(10)) === 0)),
        keys = Seq("o_custkey"), measures = Seq("total", "n_orders"))
      merged.select(col("o_custkey"), col("total").cast("double").as("total"),
        col("n_orders"))
    },
      """SELECT o_custkey,
                     sum(o_totalprice::DECIMAL(14,2))::DOUBLE AS total,
                     count(*)::BIGINT AS n_orders
              FROM orders GROUP BY 1"""),

    Q("a16_skew_report", (s, d) =>
      // the pre-join skew diagnostic: hot-key share/cumulative-share/
      // ratio-to-mean over the event stream's type key
      graft.operators.Skew.keySkewReport(ev(s, d), col("event_type"), topK = 20),
      """WITH c AS (SELECT event_type::VARCHAR AS key, count(*)::BIGINT AS cnt
                         FROM events GROUP BY 1),
              t AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS nkeys FROM c),
              top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 20)
              SELECT row_number() OVER (ORDER BY cnt DESC, key)::INT AS rank,
                     key, cnt,
                     round(cnt * 100.0 / total, 6) AS share_pct,
                     round(sum(cnt) OVER (ORDER BY cnt DESC, key
                             ROWS UNBOUNDED PRECEDING) * 100.0 / total, 6)
                       AS cum_share_pct,
                     round(cnt::DOUBLE * nkeys / total, 6) AS ratio_to_avg
              FROM top, t"""),

    Q("a14_histogram", (s, d) =>
      // fixed-width histogram with edge clamping: portable floor of a
      // linear map, one hash aggregate
      graft.operators.Stats.histogram(li(s, d), col("l_extendedprice"),
        lo = 0.0, hi = 60000.0, bins = 20),
      """WITH b AS (SELECT
                least(greatest(floor(l_extendedprice / 3000), 0), 19)::BIGINT AS bin,
                l_extendedprice AS v
              FROM lineitem WHERE l_extendedprice IS NOT NULL)
              SELECT bin, count(*)::BIGINT AS n,
                     round(min(v), 6) AS vmin, round(max(v), 6) AS vmax
              FROM b GROUP BY 1"""),

    Q("x_phrase_search", (s, d) =>
      // positional phrase search "join table": token stream pruned to the
      // phrase terms before the (doc, pos+i) adjacency joins
      graft.operators.InvertedIndex.phraseSearch(doc(s, d),
        col("doc_id"), col("text"), Seq("join", "table")),
      "WITH " + posToksCte("term") + """,
              a AS (SELECT doc_id, pos FROM toks WHERE term = 'join'),
              b AS (SELECT doc_id, pos FROM toks WHERE term = 'table')
              SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
              FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              GROUP BY 1"""),

    Q("a17_equidepth", (s, d) =>
      // equi-DEPTH histogram (complement of a14's equi-width): ntile-
      // equivalent bins over a TOTAL order (value, unique id), computed
      // via the scalable two-pass global rank (range-partition + offset
      // merge) — NO single-partition Window.orderBy sort. The oracle
      // is DuckDB's ntile over the same order
      Windows.equiDepthBin(
        ev(s, d).select(col("event_id"), col("value")),
        8, "value", Seq(col("event_id")), "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("vmin"),
          round(max(col("value")), 6).as("vmax")),
      """WITH c AS (SELECT value,
                (ntile(8) OVER (ORDER BY value, event_id))::INT AS bucket FROM events)
              SELECT bucket, count(*)::BIGINT AS n,
                     round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
              FROM c GROUP BY 1"""),

    Q("a18_corr_panel", (s, d) =>
      // Pearson correlation panel in one aggregate pass
      li(s, d).agg(
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("c_price_qty"),
        round(corr(col("l_discount"), col("l_tax")), 6).as("c_disc_tax"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6).as("c_price_disc"),
        count(lit(1)).as("n")),
      """SELECT round(corr(l_extendedprice, l_quantity), 6) AS c_price_qty,
                     round(corr(l_discount, l_tax), 6) AS c_disc_tax,
                     round(corr(l_extendedprice, l_discount), 6) AS c_price_disc,
                     count(*)::BIGINT AS n
              FROM lineitem"""),

    Q("a19_retention", (s, d) => {
      // weekly cohort retention: users bucketed by first-seen week, then
      // distinct active users per (cohort, activity) week pair — two hash
      // aggregates + one user-keyed equi join
      val e = ev(s, d).select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.select(col("user_id"), col("wk")).distinct()
        .join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), col("wk").as("activity_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      """WITH e AS (SELECT user_id, date_trunc('week', ts)::DATE AS wk FROM events),
              cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
              act AS (SELECT DISTINCT user_id, wk FROM e)
              SELECT c.cohort_wk, a.wk AS activity_wk,
                     count(DISTINCT a.user_id)::BIGINT AS n_users
              FROM act a JOIN cohort c USING (user_id)
              GROUP BY 1, 2"""),

    Q("a16_funnel", (s, d) =>
      // ordered view -> click -> purchase funnel per user: earliest stage
      // times with the previous-stage-first constraint; stage = progress
      graft.operators.Stats.funnel(
        ev(s, d).select(col("user_id"), col("ts"), col("event_type")),
        col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase")),
      """WITH u AS (SELECT DISTINCT user_id FROM events),
              """ + funnelStepCtes + """
              SELECT u.user_id, s0.t_0, s1.t_1, s2.t_2,
                     (CASE WHEN s2.t_2 IS NOT NULL THEN 3
                           WHEN s1.t_1 IS NOT NULL THEN 2
                           WHEN s0.t_0 IS NOT NULL THEN 1 ELSE 0 END)::INT AS stage
              FROM u LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
                     LEFT JOIN s2 USING (user_id)"""),

    Q("events_e2e_engagement", (s, d) =>
      // events-side composite FLAGSHIP: sessionize (30-min gap) +
      // ordered funnel (view->click->purchase) + week-1 retention +
      // DECIMAL-exact monetization, reported per acquisition-cohort
      // week. Every stage joins on user_id (partitioning reused); the
      // final aggregate is cohort-week-sized
      graft.operators.Engagement.cohortEngagement(ev(s, d), col("user_id"),
        col("ts"), col("event_type"), col("value"), gapSeconds = 1800L,
        funnelStages = Seq("view", "click", "purchase")),
      """WITH e AS (SELECT user_id, ts, event_type, value FROM events),
              g AS (SELECT user_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                           THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              ns AS (SELECT user_id, sum(brk)::BIGINT AS n_sessions FROM g GROUP BY 1),
              uc AS (SELECT user_id,
                       date_trunc('week', min(ts::DATE))::DATE AS cohort_week
                     FROM e GROUP BY 1),
              aw AS (SELECT DISTINCT user_id,
                       date_trunc('week', ts::DATE)::DATE AS wk FROM e),
              w1 AS (SELECT DISTINCT uc.user_id, 1 AS r
                     FROM uc JOIN aw USING (user_id)
                     WHERE aw.wk = uc.cohort_week + 7),
              s0 AS (SELECT user_id, min(ts) AS t_0 FROM e
                     WHERE event_type = 'view' GROUP BY 1),
              s1 AS (SELECT e.user_id, min(e.ts) AS t_1 FROM e
                     JOIN s0 ON s0.user_id = e.user_id
                     WHERE e.event_type = 'click' AND e.ts > s0.t_0 GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts) AS t_2 FROM e
                     JOIN s1 ON s1.user_id = e.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > s1.t_1 GROUP BY 1),
              fs AS (SELECT uc.user_id,
                       (CASE WHEN s2.t_2 IS NOT NULL THEN 3
                             WHEN s1.t_1 IS NOT NULL THEN 2
                             WHEN s0.t_0 IS NOT NULL THEN 1 ELSE 0 END)::INT AS stage
                     FROM uc LEFT JOIN s0 USING (user_id)
                             LEFT JOIN s1 USING (user_id)
                             LEFT JOIN s2 USING (user_id)),
              pv AS (SELECT user_id, sum(round(value, 6)::DECIMAL(18,6)) AS pval
                     FROM e WHERE event_type = 'purchase' GROUP BY 1),
              rep AS (SELECT uc.cohort_week, count(*)::BIGINT AS n_users,
                        sum(coalesce(ns.n_sessions, 0))::BIGINT AS n_sessions,
                        sum(CASE WHEN fs.stage >= 3 THEN 1 ELSE 0 END)::BIGINT
                          AS n_converted,
                        sum(CASE WHEN w1.r IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                          AS wk1_retained,
                        sum(CASE WHEN fs.stage >= 3
                                 THEN coalesce(pv.pval, 0::DECIMAL(18,6))
                                 ELSE 0::DECIMAL(18,6) END) AS val_dec
                      FROM uc LEFT JOIN ns USING (user_id)
                              LEFT JOIN fs USING (user_id)
                              LEFT JOIN w1 USING (user_id)
                              LEFT JOIN pv USING (user_id)
                      GROUP BY 1)
              SELECT cohort_week, n_users, n_sessions,
                round(n_sessions / n_users::DOUBLE, 6) AS sessions_per_user,
                n_converted,
                round(n_converted * 100.0 / n_users, 6) AS conv_pct,
                wk1_retained,
                round(wk1_retained * 100.0 / n_users, 6) AS wk1_retention_pct,
                val_dec::DOUBLE AS conv_value
              FROM rep"""),

    Q("a15_zscore", (s, d) =>
      // per-type z-score outliers on the event stream: group stats from
      // one aggregate joined back (no corpus-sized window partitions)
      graft.operators.Stats.zScoreOutliers(
        ev(s, d).select(col("event_id"), col("event_type"), col("value")),
        col("event_type"), col("event_id"), col("value"), threshold = 3.0),
      """WITH s AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
                         FROM events GROUP BY 1),
              z AS (SELECT e.event_id, e.event_type, e.value,
                      CASE WHEN s.sd IS NULL OR s.sd = 0 THEN 0.0
                           ELSE round((e.value - s.m) / s.sd, 4) END AS z
                    FROM events e JOIN s USING (event_type))
              SELECT event_id, event_type, value, z, abs(z) > 3.0 AS is_outlier
              FROM z"""),

    Q("x_lang_id", (s, d) =>
      doc(s, d).select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"),
        (TextFunctions.langId(col("text")) === col("lang")).as("agrees")),
      """WITH sc AS (SELECT doc_id, lang,
                len(regexp_extract_all(lower(text), '\b(the|and|of|is|was|that|with)\b')) AS s_en,
                len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|que|con|para)\b')) AS s_es,
                len(regexp_extract_all(lower(text), '\b(le|la|les|est|que|avec|pour|dans)\b')) AS s_fr,
                len(regexp_extract_all(lower(text), '\b(der|die|das|ist|und|mit|nicht)\b')) AS s_de
              FROM documents),
              p AS (SELECT doc_id, lang,
                """ + langArgmaxSql + """ AS pred_lang
              FROM sc)
              SELECT doc_id, pred_lang, pred_lang = lang AS agrees FROM p"""),

    Q("x_source_kl", (s, d) =>
      // per-source token-distribution KL divergence vs the whole corpus
      // (domain-shift diagnostics for training-mix design), Laplace
      // +0.5 smoothing over the FULL vocabulary; the smoothed grid is
      // source-list x vocabulary (vocab-bounded, never corpus x corpus);
      // per-term ln contributions round at 9, the KL at 6; the most
      // divergent term per source via deterministic struct-max argmax
      TextFunctions.sourceKl(doc(s, d), col("source"), col("text")),
      """WITH tk AS (SELECT src, term FROM (
                       SELECT source AS src,
                         unnest(string_split_regex(trim(text), '\s+')) AS term
                       FROM documents) WHERE term <> ''),
              st AS (SELECT src, term, count(*)::BIGINT AS c_st FROM tk GROUP BY 1, 2),
              t AS (SELECT term, sum(c_st)::BIGINT AS c_t FROM st GROUP BY 1),
              s AS (SELECT src, sum(c_st)::BIGINT AS n_s FROM st GROUP BY 1),
              tot AS (SELECT sum(c_t)::BIGINT AS n, count(*)::BIGINT AS v FROM t),
              cells AS (SELECT s.src, t.term, s.n_s, t.c_t, tot.n, tot.v,
                          coalesce(st.c_st, 0)::BIGINT AS c_st
                        FROM s CROSS JOIN t CROSS JOIN tot
                        LEFT JOIN st ON st.src = s.src AND st.term = t.term),
              k AS (SELECT src, n_s, v, term,
                      round(((c_st + 0.5) / (n_s + 0.5 * v)) *
                            ln(((c_st + 0.5) / (n_s + 0.5 * v)) /
                               ((c_t + 0.5) / (n + 0.5 * v))), 9) AS contrib
                    FROM cells),
              agg AS (SELECT src, any_value(n_s) AS n_tokens,
                        any_value(v) AS vocab_size,
                        round(sum(contrib), 6) AS kl_nats
                      FROM k GROUP BY 1),
              top AS (SELECT src, term AS top_term, contrib AS top_contrib
                      FROM (SELECT src, term, contrib,
                              row_number() OVER (PARTITION BY src
                                ORDER BY contrib DESC, term DESC) AS rn
                            FROM k) WHERE rn = 1)
              SELECT agg.src AS source, n_tokens, vocab_size, kl_nats,
                     top_term, top_contrib
              FROM agg JOIN top ON agg.src = top.src"""),

    Q("a32_cumulative_reach", (s, d) =>
      // growth dashboard: DAU + new users + EXACT cumulative distinct
      // reach per day — cumulative distinct computed as the running sum
      // of FIRST-SEEN counts over the scalable two-pass global running
      // sum (never count(DISTINCT) OVER, which is quadratic AND
      // single-partition)
      graft.operators.Stats.cumulativeReach(ev(s, d), col("user_id"), col("ts")),
      """WITH e AS (SELECT user_id AS u, ts::DATE AS day FROM events),
              fs AS (SELECT u, min(day) AS fd FROM e GROUP BY 1),
              nn AS (SELECT fd AS day, count(*)::BIGINT AS n_new FROM fs GROUP BY 1),
              da AS (SELECT day, count(DISTINCT u)::BIGINT AS dau FROM e GROUP BY 1),
              j AS (SELECT da.day, da.dau, coalesce(nn.n_new, 0)::BIGINT AS n_new
                    FROM da LEFT JOIN nn ON da.day = nn.day)
              SELECT day, dau, n_new,
                sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT
                  AS cum_users,
                round(n_new / dau::DOUBLE, 6) AS pct_new
              FROM j"""),

    Q("a39_skyline", (s, d) => {
      // 2-D Pareto frontier of the corpus: the longest document available
      // at each quality level, strict dominance — bucketed two-pass
      // suffix max, no global sort (the oracle uses the plain
      // global-window form; the bucketing is provably result-invariant)
      val q = doc(s, d).select(
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"),
        graft.functions.TextFunctions.tokenCountWs(col("text")).as("t"))
      graft.operators.Stats.skyline2d(q, col("q"), col("t"))
        .select(col("x").as("quality"), col("max_y").cast("int").as("max_tokens"),
          col("n_pts"))
    },
      """WITH b AS (SELECT
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::INT AS n_tok_ws,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop,
                length(text) AS n_chars
              FROM documents),
              q AS (SELECT round(least(greatest(
                  least(n_tok_ws / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok_ws > 0 THEN n_stop / n_tok_ws::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6) AS quality,
                n_tok_ws FROM b),
              p AS (SELECT quality, max(n_tok_ws)::INT AS max_tokens,
                      count(*)::BIGINT AS n_pts FROM q GROUP BY 1),
              s AS (SELECT *, max(max_tokens) OVER (ORDER BY quality DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS suf
                    FROM p)
              SELECT quality, max_tokens, n_pts FROM s
              WHERE suf IS NULL OR max_tokens > suf"""),

    Q("a40_kaplan_meier", (s, d) =>
      // Kaplan-Meier survival curve for time-to-first-purchase (right-
      // censored at the corpus's last day): the corpus collapses to one
      // row per user, then one per DISTINCT day-duration (calendar-
      // bounded); both running sums ride the bucketed two-pass; the
      // survival product is an integer fixed-point log-sum (round-9
      // quantized before accumulation), exponentiated once at the end
      graft.operators.Stats.kaplanMeier(ev(s, d), col("user_id"),
        col("ts"), col("event_type"), convType = "purchase"),
      """WITH e AS (SELECT user_id AS u, ts::DATE AS day, event_type AS et FROM events),
              sp AS (SELECT u, min(day) AS birth,
                       min(CASE WHEN et = 'purchase' THEN day END) AS conv
                     FROM e GROUP BY 1),
              mx AS (SELECT max(day) AS mday FROM e),
              d AS (SELECT date_diff('day', birth, coalesce(conv, mday))::BIGINT AS dur,
                      (CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS ev
                    FROM sp CROSS JOIN mx),
              g AS (SELECT dur, sum(ev)::BIGINT AS n_events,
                      sum(1 - ev)::BIGINT AS n_censored FROM d GROUP BY 1),
              t AS (SELECT count(*)::BIGINT AS n FROM d),
              r AS (SELECT g.*, (t.n - sum(n_events + n_censored)
                        OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
                      + n_events + n_censored)::BIGINT AS n_risk
                    FROM g CROSS JOIN t),
              sx AS (SELECT *, CASE WHEN n_events < n_risk THEN
                       CAST(round(ln((n_risk - n_events) / n_risk::DOUBLE) * 1e9, 0) AS BIGINT)
                       ELSE -1000000000000000000 END AS fx FROM r)
              SELECT dur AS dur_days, n_risk, n_events, n_censored,
                round(exp(sum(fx) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)::DOUBLE / 1e9), 6) AS surv
              FROM sx"""),

    Q("a41_markov_attribution", (s, d) =>
      // data-driven (removal-effect) attribution: per-user journeys up
      // to first purchase -> first-order transition matrix (state-space-
      // sized) -> absorption solve iterated ON THE DRIVER over the
      // metadata-sized matrix with floor-quantized (1e-9) steps; each
      // channel credited by its conversion-probability removal effect
      graft.operators.Stats.markovAttribution(ev(s, d), col("user_id"),
        col("ts"), col("event_type"), col("value"),
        channels = Seq("click", "view", "signup", "error"),
        convType = "purchase"),
      """WITH e AS (SELECT user_id AS u, ts AS t, event_type AS et, value AS v FROM events),
              fc AS (SELECT u, min(t) AS cus FROM e WHERE et = 'purchase' GROUP BY 1),
              j AS MATERIALIZED (SELECT e.u, e.t, e.et, (fc.cus IS NOT NULL) AS cv
                    FROM e LEFT JOIN fc ON e.u = fc.u
                    WHERE e.et IN ('click','view','signup','error')
                      AND (fc.cus IS NULL OR e.t < fc.cus)),
              tr1 AS (SELECT et AS from_s,
                        coalesce(lead(et) OVER (PARTITION BY u ORDER BY t),
                          CASE WHEN cv THEN 'CONV' ELSE 'NULL' END) AS to_s FROM j),
              rn AS (SELECT et, row_number() OVER (PARTITION BY u ORDER BY t) AS rn FROM j),
              tr2 AS (SELECT 'START' AS from_s, et AS to_s FROM rn WHERE rn = 1),
              au AS (SELECT u, max(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END) AS cv
                     FROM e GROUP BY 1),
              ju AS (SELECT DISTINCT u FROM j),
              tr3 AS (SELECT 'START' AS from_s,
                        CASE WHEN au.cv = 1 THEN 'CONV' ELSE 'NULL' END AS to_s
                      FROM au LEFT JOIN ju ON au.u = ju.u WHERE ju.u IS NULL),
              tr AS (SELECT * FROM tr1 UNION ALL SELECT * FROM tr2 UNION ALL SELECT * FROM tr3),
              cnt AS (SELECT from_s, to_s, count(*)::BIGINT AS n FROM tr GROUP BY 1, 2),
              tt AS (SELECT from_s, sum(n)::BIGINT AS t FROM cnt GROUP BY 1),
              tm AS MATERIALIZED (SELECT cnt.from_s, cnt.to_s, round(cnt.n / tt.t::DOUBLE, 6) AS p
                     FROM cnt JOIN tt ON cnt.from_s = tt.from_s),
              vr AS (SELECT rc FROM (VALUES ('__base__'),('click'),('view'),('signup'),('error')) AS x(rc)),
              vt AS MATERIALIZED (SELECT vr.rc, tm.from_s, tm.to_s, tm.p FROM vr CROSS JOIN tm),
              p0 AS MATERIALIZED (SELECT DISTINCT rc, from_s AS st, 0.0 AS val FROM vt)""" +
        markovIterCtes(25) + """,
              pb AS (SELECT val AS pbv FROM p25 WHERE rc = '__base__' AND st = 'START'),
              re AS (SELECT rc AS channel, val AS p_removed,
                       floor(greatest(1 - val / pb.pbv, 0) * 1e6 + 0.5) / 1e6 AS removal_effect
                     FROM p25 CROSS JOIN pb WHERE rc <> '__base__' AND st = 'START'),
              rv AS (SELECT coalesce(sum(round(e.v, 6)::DECIMAL(18,6)), 0)::DOUBLE AS rev
                     FROM e JOIN fc ON e.u = fc.u AND e.t = fc.cus WHERE e.et = 'purchase'),
              sr AS (SELECT sum(removal_effect) AS sre FROM re)
              SELECT re.channel, re.p_removed, re.removal_effect,
                CASE WHEN sr.sre > 0
                     THEN floor(rv.rev * re.removal_effect / sr.sre * 1e6 + 0.5) / 1e6
                     ELSE 0.0 END AS attributed_rev
              FROM re CROSS JOIN rv CROSS JOIN sr"""),

    Q("a42_ab_test", (s, d) =>
      // A/B readout with CUPED: arms = user-id parity, metric = per-user
      // purchase revenue in the corpus's second half, covariate = same
      // metric in the first half. One user-keyed agg + ONE conditional
      // aggregate row; micro-unit longs / DECIMAL squares keep every sum
      // exact, and the t/df/theta chain is pure IEEE +-*/sqrt that the
      // oracle mirrors tree-for-tree
      graft.operators.Stats.abTestCuped(ev(s, d), col("user_id"),
        col("ts"), col("event_type"), col("value"),
        convType = "purchase", armOf = u => pmod(u, lit(2))),
      """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us, event_type AS et, value AS v FROM events),
              mid AS (SELECT CAST(floor((min(us) + max(us)) / 2) AS BIGINT) AS mid FROM b),
              pu AS (SELECT u,
                       coalesce(sum(CASE WHEN et = 'purchase' AND us >= mid.mid
                         THEN CAST(round(v * 1e6, 0) AS BIGINT) END), 0)::BIGINT AS y,
                       coalesce(sum(CASE WHEN et = 'purchase' AND us < mid.mid
                         THEN CAST(round(v * 1e6, 0) AS BIGINT) END), 0)::BIGINT AS x
                     FROM b CROSS JOIN mid GROUP BY 1),
              pa AS (SELECT u % 2 AS arm, y, x FROM pu),
              s0 AS (SELECT
                  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
                  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
                  sum(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS sy_a,
                  sum(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS sy_b,
                  sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sx_a,
                  sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sx_b,
                  sum(CASE WHEN arm = 0 THEN y::HUGEINT * y ELSE 0 END) AS syy_a,
                  sum(CASE WHEN arm = 1 THEN y::HUGEINT * y ELSE 0 END) AS syy_b,
                  sum(CASE WHEN arm = 0 THEN x::HUGEINT * x ELSE 0 END) AS sxx_a,
                  sum(CASE WHEN arm = 1 THEN x::HUGEINT * x ELSE 0 END) AS sxx_b,
                  sum(CASE WHEN arm = 0 THEN x::HUGEINT * y ELSE 0 END) AS sxy_a,
                  sum(CASE WHEN arm = 1 THEN x::HUGEINT * y ELSE 0 END) AS sxy_b
                FROM pa),
              w1 AS (SELECT n_a, n_b,
                  n_a::DOUBLE + n_b::DOUBLE AS n,
                  n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                  sy_a::DOUBLE AS sya, sy_b::DOUBLE AS syb,
                  sx_a::DOUBLE AS sxa, sx_b::DOUBLE AS sxb,
                  syy_a::DOUBLE AS syya, syy_b::DOUBLE AS syyb,
                  sxx_a::DOUBLE AS sxxa, sxx_b::DOUBLE AS sxxb,
                  sxy_a::DOUBLE AS sxya, sxy_b::DOUBLE AS sxyb
                FROM s0),
              w2 AS (SELECT *,
                  sya / na AS my_a, syb / nb AS my_b,
                  sxa / na AS mx_a, sxb / nb AS mx_b,
                  (sxa + sxb) / n AS mx,
                  (syya - sya * sya / na) / (na - 1) AS vy_a,
                  (syyb - syb * syb / nb) / (nb - 1) AS vy_b,
                  (sxxa - sxa * sxa / na) / (na - 1) AS vx_a,
                  (sxxb - sxb * sxb / nb) / (nb - 1) AS vx_b,
                  (sxya - sxa * sya / na) / (na - 1) AS cv_a,
                  (sxyb - sxb * syb / nb) / (nb - 1) AS cv_b
                FROM w1),
              w3 AS (SELECT *,
                  vy_a / na + vy_b / nb AS se2,
                  n * (sxxa + sxxb) - (sxa + sxb) * (sxa + sxb) AS th_den
                FROM w2),
              w4 AS (SELECT *,
                  (my_a - my_b) / sqrt(se2) AS t_raw,
                  se2 * se2 / (vy_a / na * (vy_a / na) / (na - 1)
                    + vy_b / nb * (vy_b / nb) / (nb - 1)) AS df_raw,
                  CASE WHEN th_den > 0
                    THEN (n * (sxya + sxyb) - (sxa + sxb) * (sya + syb)) / th_den
                    ELSE 0.0 END AS theta
                FROM w3),
              w5 AS (SELECT *,
                  my_a - theta * (mx_a - mx) AS am_a,
                  my_b - theta * (mx_b - mx) AS am_b,
                  vy_a - 2.0 * theta * cv_a + theta * theta * vx_a AS av_a,
                  vy_b - 2.0 * theta * cv_b + theta * theta * vx_b AS av_b
                FROM w4),
              w6 AS (SELECT *, av_a / na + av_b / nb AS ase2 FROM w5)
              SELECT n_a, n_b,
                round(my_a / 1e6, 6) AS mean_a,
                round(my_b / 1e6, 6) AS mean_b,
                round((my_a - my_b) / 1e6, 6) AS diff,
                round(t_raw, 6) AS t_stat,
                round(df_raw, 6) AS df,
                round(theta, 6) AS theta,
                round((am_a - am_b) / 1e6, 6) AS adj_diff,
                round((am_a - am_b) / sqrt(ase2), 6) AS adj_t_stat,
                round(1.0 - (av_a + av_b) / (vy_a + vy_b), 6) AS var_reduction
              FROM w6"""),

    Q("a38_incremental_join", (s, d) =>
      // incremental JOIN maintenance (the join sibling of a18's
      // aggregate-state merge): a materialized orders |x| lineitem
      // result is maintained under a delta batch via the join-delta
      // identity  new = old UNION (delta_A |x| B)  — the base is NEVER
      // rescanned against the full join. The oracle computes the FULL
      // join from scratch, so the identity itself is what's verified.
      // Delta = orders with o_orderkey % 10 = 0 (a tenth of the table)
      {
        val o = ord(s, d)
        val l = li(s, d)
        val base  = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
        val delta = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        def joined(oo: org.apache.spark.sql.DataFrame) =
          oo.join(l, col("o_orderkey") === col("l_orderkey"))
            .select(col("o_orderstatus"), col("l_returnflag"),
              col("l_extendedprice"))
        // "old" materialized state + the delta increment, then one
        // compacting aggregate (the consumer-facing rollup)
        graft.Mat(joined(base)).unionByName(joined(delta))
          .groupBy(col("o_orderstatus"), col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice").cast("decimal(14,2)")), 2)
              .cast("double").as("revenue"))
      },
      """SELECT o_orderstatus, l_returnflag, count(*)::BIGINT AS n,
                     round(sum(l_extendedprice::DECIMAL(14,2)), 2)::DOUBLE AS revenue
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              GROUP BY 1, 2"""),

    Q("a35_grouping_sets", (s, d) => {
      // explicit GROUPING SETS — the arbitrary-set sibling of a12
      // rollup / a21 cube: ((rf, ls), (rf), ()) with grouping_id so
      // consumers can tell a real NULL from a superaggregate row. One
      // EXPAND pass, same as rollup/cube
      val l = li(s, d)
      l.createOrReplaceTempView("graft_a35_lineitem")
      s.sql("""SELECT l_returnflag AS rf, l_linestatus AS ls,
                      CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
                      count(*) AS n,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
               FROM graft_a35_lineitem
               GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                       (l_returnflag), ())""")
    },
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
                     grouping_id(l_returnflag, l_linestatus)::INT AS gid,
                     count(*)::BIGINT AS n,
                     sum(l_quantity::DECIMAL(12,2))::DOUBLE AS qty
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                      (l_returnflag), ())"""),

    Q("a36_gap_fill", (s, d) =>
      // dense calendar spine + gap fill: every day between min and max
      // appears, zero-filled where the stream is silent — the
      // time-series prerequisite (a window over a gappy series is
      // silently wrong). The spine is sequence(min, max) exploded from
      // a ONE-ROW aggregate (spine length is range-bounded, not
      // row-bounded), left-joined to the daily aggregate
      {
        val daily = ev(s, d).select(to_date(col("ts")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n"))
        val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n_events"),
            when(col("n").isNull, 1).otherwise(0).as("is_gap"))
      },
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS n
                             FROM events GROUP BY 1),
              bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
              spine AS (SELECT unnest(generate_series(lo, hi,
                                 INTERVAL 1 DAY))::DATE AS day FROM bounds)
              SELECT spine.day, coalesce(daily.n, 0)::BIGINT AS n_events,
                     (CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END)::INT AS is_gap
              FROM spine LEFT JOIN daily ON spine.day = daily.day"""),

    Q("a37_conversion_lag", (s, d) =>
      // time-to-convert distribution: per converting user the minutes
      // from first view to first subsequent purchase (the funnel's own
      // ordered t_0 -> t_2 contract), then EXACT lower-median / p90 via
      // the integer half-count contracts (cum*2 >= n, cum*10 >= n*9)
      // over a per-minute-value count frame — no quantile_cont libm
      {
        val f = graft.operators.Stats.funnel(
          ev(s, d).select(col("user_id"), col("ts"), col("event_type")),
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"))
        val lags = f.filter(col("t_2").isNotNull)
          .select((floor((unix_micros(col("t_2")) - unix_micros(col("t_0")))
            / 60000000L)).cast("long").as("lag_min"))
        val per = lags.groupBy(col("lag_min")).agg(count(lit(1)).as("c"))
        val (cum, Seq(n)) = graft.operators.Windows.globalRunningSums(
          per, "lag_min", Nil, Seq(col("c") -> "cum"))
        cum.agg(
            min(when(col("cum") * 2 >= n, col("lag_min"))).as("median_lag_min"),
            min(when(col("cum") * 10 >= n * 9, col("lag_min"))).as("p90_lag_min"))
          // no conversions: NULL, as the oracle's sum over no rows
          .select(typedLit(Option(n).filter(_ > 0)).as("n_converted"),
            col("median_lag_min"), col("p90_lag_min"))
      },
      "WITH " + funnelStepCtes + """,
              lag AS (SELECT ((epoch_us(s2.t_2) - epoch_us(s0.t_0)) // 60000000)
                        ::BIGINT AS lag_min
                      FROM s2 JOIN s0 USING (user_id)),
              per AS (SELECT lag_min, count(*)::BIGINT AS c FROM lag GROUP BY 1),
              cum AS (SELECT lag_min, sum(c) OVER (ORDER BY lag_min) AS cum,
                             sum(c) OVER () AS n FROM per),
              med AS (SELECT min(lag_min) AS m FROM cum WHERE cum * 2 >= n),
              p90 AS (SELECT min(lag_min) AS p FROM cum WHERE cum * 10 >= n * 9),
              t AS (SELECT sum(c)::BIGINT AS n FROM per)
              SELECT t.n AS n_converted, med.m AS median_lag_min,
                     p90.p AS p90_lag_min
              FROM t CROSS JOIN med CROSS JOIN p90"""),

    Q("a34_markov_transitions", (s, d) =>
      // first-order Markov transition matrix of per-user event sequences
      // (clickstream analysis): one lead window per user timeline, one
      // pair-count hash agg, probabilities row-normalized against the
      // state-space-sized per-from totals
      graft.operators.Stats.transitionMatrix(ev(s, d), col("user_id"),
        col("ts"), col("event_type")),
      """WITH pr AS (SELECT event_type AS from_type,
                       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                         AS to_type
                     FROM events),
              c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM pr
                    WHERE to_type IS NOT NULL GROUP BY 1, 2),
              t AS (SELECT from_type, sum(n)::BIGINT AS tt FROM c GROUP BY 1)
              SELECT c.from_type, c.to_type, c.n,
                     round(c.n / t.tt::DOUBLE, 6) AS p
              FROM c JOIN t USING (from_type)"""),

    Q("x_shard_balance", (s, d) =>
      // deterministic corpus sharding (pmod(md5(doc_id), 16) — stable
      // across runs/engines, no RNG) + shard balance report; one hash
      // agg + a one-row total broadcast; balance ratio is exact long
      // cross-products through one double division
      graft.operators.Sampling.shardBalance(doc(s, d), col("doc_id"),
        col("text"), nShards = 16),
      """WITH b AS (SELECT
                ('0x' || substr(md5(doc_id::VARCHAR || '#shard'), 1, 8))::BIGINT
                  % 16 AS shard,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS nt,
                length(text)::BIGINT AS nc
              FROM documents),
              per AS (SELECT shard, count(*)::BIGINT AS n_docs,
                        sum(nt)::BIGINT AS n_tokens, sum(nc)::BIGINT AS n_chars
                      FROM b GROUP BY 1),
              t AS (SELECT sum(n_tokens)::BIGINT AS t_tok,
                           count(*)::BIGINT AS n_shards FROM per)
              SELECT shard, n_docs, n_tokens, n_chars,
                round((n_tokens * n_shards) / t_tok::DOUBLE, 6) AS balance
              FROM per CROSS JOIN t"""),

    Q("v_power_iteration", (s, d) =>
      // top principal direction of the embedding cloud by 2-step power
      // iteration — w = X^T (X v) as two corpus passes per step (per-row
      // dot vs broadcast v, then a dim-keyed DECIMAL aggregate), never
      // the d x d Gram matrix; the d-dim vector travels via the driver
      // between steps (metadata-sized, the k-means-centroid posture).
      // Dots round at 9, components at 6 per step — the oracle replays
      // the full trajectory
      graft.operators.Similarity.powerIteration(emb(s, d), col("vec_id"),
        col("embedding"), dim = 64, iters = 2),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              s1 AS (SELECT vec_id, round(sum(v[i + 1] * 0.125), 9) AS s
                     FROM e, range(64) r(i) GROUP BY vec_id),
              w1 AS (SELECT i AS d,
                       sum(round(s1.s * e.v[i + 1], 9)::DECIMAL(28,9))::DOUBLE AS wd
                     FROM e JOIN s1 USING (vec_id), range(64) r(i) GROUP BY 1),
              n1 AS (SELECT sqrt(sum(wd * wd)) AS nrm FROM w1),
              u1 AS (SELECT d, round(wd / nrm, 6) AS vd FROM w1 CROSS JOIN n1),
              s2 AS (SELECT vec_id, round(sum(e.v[u1.d + 1] * u1.vd), 9) AS s
                     FROM e CROSS JOIN u1 GROUP BY vec_id),
              w2 AS (SELECT i AS d,
                       sum(round(s2.s * e.v[i + 1], 9)::DECIMAL(28,9))::DOUBLE AS wd
                     FROM e JOIN s2 USING (vec_id), range(64) r(i) GROUP BY 1),
              n2 AS (SELECT sqrt(sum(wd * wd)) AS nrm FROM w2),
              u2 AS (SELECT d, round(wd / nrm, 6) AS vd FROM w2 CROSS JOIN n2)
              SELECT (SELECT count(*) FROM e)::BIGINT AS n_vectors,
                64 AS dim,
                round((SELECT nrm FROM n2), 6) AS eigenvalue,
                (SELECT d FROM u2 ORDER BY abs(vd) DESC, d LIMIT 1)::INT AS top_dim,
                (SELECT vd FROM u2 WHERE d = 0) AS v0,
                (SELECT vd FROM u2 WHERE d = 1) AS v1,
                (SELECT vd FROM u2 WHERE d = 2) AS v2,
                (SELECT vd FROM u2 WHERE d = 3) AS v3"""),

    Q("x_langid_eval", (s, d) =>
      // language-ID EVALUATION against the labeled corpus: the
      // (label, prediction) confusion matrix with per-cell recall share
      // — the model-quality harness for the x_lang_id heuristic (same
      // family as x_dedup_eval for LSH). Two hash aggs, state-space
      // sized output
      {
        val p = doc(s, d).select(col("lang"),
          TextFunctions.langId(col("text")).as("pred"))
        val cells = p.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        val tot = cells.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
        cells.join(tot, Seq("lang"))
          .select(col("lang"), col("pred"), col("n"),
            round(col("n") / col("__t"), 6).as("share"),
            when(col("lang") === col("pred"), 1).otherwise(0).as("is_correct"))
      },
      "WITH " + langGuessCte("lang", "pred") + """,
              cells AS (SELECT lang, pred, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
              t AS (SELECT lang, sum(n)::BIGINT AS tt FROM cells GROUP BY 1)
              SELECT cells.lang, pred, n,
                     round(n / t.tt::DOUBLE, 6) AS share,
                     (CASE WHEN cells.lang = pred THEN 1 ELSE 0 END)::INT AS is_correct
              FROM cells JOIN t USING (lang)"""),

    Q("x_corpus_card", (s, d) =>
      // the per-source dataset-release report: size, token budget, mean
      // quality (DECIMAL-exact sum), predicted-English share, exact-dup
      // rate — one projection + one hash aggregate over the corpus
      TextFunctions.corpusCard(doc(s, d), col("source"), col("text"), col("n_chars")),
      """WITH b AS (SELECT source, n_chars, lower(text) AS lt, text,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tok,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop,
                md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
              FROM documents),
              q AS (SELECT source, n_chars, n_tok, fp,
                round(least(greatest(
                  least(n_tok / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok > 0 THEN n_stop / n_tok::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN length(text) > 0 THEN n_punct / length(text)::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6)::DECIMAL(10,6) AS qv,
                (""" + langArgmaxSql + """) AS pred
              FROM (SELECT *,
                      len(regexp_extract_all(lt, '\b(the|and|of|is|was|that|with)\b')) AS s_en,
                      len(regexp_extract_all(lt, '\b(el|la|los|las|es|que|con|para)\b')) AS s_es,
                      len(regexp_extract_all(lt, '\b(le|la|les|est|que|avec|pour|dans)\b')) AS s_fr,
                      len(regexp_extract_all(lt, '\b(der|die|das|ist|und|mit|nicht)\b')) AS s_de
                    FROM b))
              SELECT source, count(*)::BIGINT AS n_docs,
                     sum(n_tok)::BIGINT AS total_tokens,
                     round(sum(n_chars)::DOUBLE / count(*), 6) AS avg_chars,
                     round(sum(qv)::DOUBLE / count(*), 6) AS avg_quality,
                     round(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) * 100.0 / count(*), 6)
                       AS pct_pred_en,
                     round((count(*) - count(DISTINCT fp)) * 100.0 / count(*), 6)
                       AS dup_rate_pct
              FROM q GROUP BY 1"""),

    Q("x_winnow", (s, d) =>
      // winnowing document fingerprints (k-gram hash, window-min, dedupe)
      TextFunctions.winnowFingerprints(doc(s, d), col("doc_id"), col("text"),
        k = 5, w = 4),
      """WITH h AS (SELECT doc_id,
                [('0x' || substr(md5(substr(text, i, 5)), 1, 8))::BIGINT
                 for i in generate_series(1, len(text) - 4)] AS hs
              FROM documents WHERE len(text) >= 5),
              f AS (SELECT doc_id,
                      list_distinct([list_min(hs[j:j+3])
                                     for j in generate_series(1, len(hs) - 3)]) AS fps
                    FROM h WHERE len(hs) >= 4)
              SELECT doc_id, unnest(fps) AS fp FROM f"""),

    Q("x_passage_dup", (s, d) =>
      // duplicate-passage pairs: docs sharing >= 2 winnowing fingerprints
      // (each fingerprint witnesses a shared span). Blocked on the shared
      // fingerprint with a df-cap of 50 — boilerplate spans are hot keys
      Dedup.passageDupPairs(doc(s, d), col("doc_id"), col("text"),
        k = 5, w = 4, minShared = 2, maxDf = Some(50)),
      // oracle replays the Rabin-Karp rolling kernel as a per-gram fold
      // (acc * B + codepoint) mod M — exact integer arithmetic, bit-equal
      // to the native O(1)-per-position recurrence by construction
      """WITH cs AS (SELECT doc_id, string_split(text, '') AS cs
                          FROM documents WHERE len(text) >= 5),
              h AS (SELECT doc_id,
                [list_reduce([ord(ch)::BIGINT for ch in cs[i:i + 4]],
                   (a, b) -> (a * 1000003 + b) % 2147483629)
                 for i in generate_series(1, len(cs) - 4)] AS hs
              FROM cs),
              f AS (SELECT doc_id,
                      list_distinct([list_min(hs[j:j+3])
                                     for j in generate_series(1, len(hs) - 3)]) AS fps
                    FROM h WHERE len(hs) >= 4),
              fp0 AS (SELECT doc_id, unnest(fps) AS fp FROM f),
              fp AS (SELECT * FROM fp0
                     WHERE fp IN (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 50))
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
              FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2"""),

    Q("x_decontaminate", (s, d) => {
      // benchmark decontamination: docs with doc_id % 97 = 0 stand in for
      // the eval set; report each remaining doc's 5-gram overlap with it
      val docs = doc(s, d)
      Dedup.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("doc_id"), col("text"), col("text"), n = 5)
    },
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
              grams AS (SELECT doc_id,
                          unnest(list_distinct([array_to_string(w[i:i+4], ' ')
                                                for i in generate_series(1, len(w) - 4)])) AS sh
                        FROM toks WHERE len(w) >= 5),
              probe AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 97 = 0),
              corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
              sizes AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM corpus GROUP BY 1),
              hit AS (SELECT c.doc_id, count(*)::BIGINT AS n_contaminated
                      FROM corpus c WHERE c.sh IN (SELECT sh FROM probe) GROUP BY 1)
              SELECT s.doc_id, s.n_grams,
                     coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
                     round(coalesce(h.n_contaminated, 0) / s.n_grams, 6) AS contamination
              FROM sizes s LEFT JOIN hit h USING (doc_id)"""),

    Q("x_quality", (s, d) =>
      doc(s, d).select(col("doc_id"),
        TextFunctions.tokenCountWs(col("text")).as("n_tok_ws"),
        TextFunctions.tokenCountBpe(col("text")).as("n_tok_bpe"),
        TextFunctions.punctCount(col("text")).as("n_punct"),
        TextFunctions.stopwordCount(col("text")).as("n_stop"),
        TextFunctions.qualityScore(col("text")).as("quality")),
      """WITH b AS (SELECT doc_id, text,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::INT AS n_tok_ws,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::INT AS n_tok_bpe,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop
              FROM documents)
              SELECT doc_id, n_tok_ws, n_tok_bpe, n_punct, n_stop,
                round(least(greatest(
                  least(n_tok_ws / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok_ws > 0 THEN n_stop / n_tok_ws::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN length(text) > 0 THEN n_punct / length(text)::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6) AS quality
              FROM b"""),

    Q("x_repetition", (s, d) =>
      // Gopher-style repetition filters: top-2-gram occupancy and
      // duplicated-3-gram fraction per document, via explode + one hash
      // aggregate per gram size (map-side partials; no arrays in the agg)
      TextFunctions.repetitionMetrics(doc(s, d), col("doc_id"), col("text")),
      "WITH " + trigramCountCtes + """,
              g2 AS (SELECT doc_id,
                       unnest([array_to_string(t[i:i+1], ' ')
                               for i in generate_series(1, len(t) - 1)]) AS gram
                     FROM toks WHERE len(t) >= 2),
              c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
              t2 AS (SELECT doc_id, max(cnt)::DOUBLE / sum(cnt) AS top_frac
                     FROM c2 GROUP BY 1),
              t3 AS (SELECT doc_id,
                       sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt) AS dup_frac
                     FROM c3 GROUP BY 1)
              SELECT d.doc_id,
                     round(coalesce(t2.top_frac, 0), 6) AS top2gram_frac,
                     round(coalesce(t3.dup_frac, 0), 6) AS dup3gram_frac
              FROM documents d
              LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)"""),

    Q("x_kneser_ney", (s, d) =>
      // interpolated Kneser-Ney bigram LM — every formula input is an
      // exact integer count from three hash aggs over one bigram frame;
      // the continuation-probability redistribution is what separates it
      // from x_bigram_lm's MLE estimates
      TextFunctions.kneserNeyBigram(doc(s, d), col("doc_id"), col("text")),
      "WITH " + bigramCountCtes + """,
              fw AS (SELECT w1, sum(cnt)::BIGINT AS c1, count(*)::BIGINT AS n1fw
                     FROM c GROUP BY 1),
              bw AS (SELECT w2, count(*)::BIGINT AS n1bw FROM c GROUP BY 1),
              b AS (SELECT count(*)::BIGINT AS n_types FROM c)
              SELECT c.w1, c.w2, c.cnt,
                round(greatest(c.cnt - 0.75, 0.0) / fw.c1
                  + 0.75 * fw.n1fw / fw.c1
                    * round(bw.n1bw / b.n_types, 9), 6) AS p_kn
              FROM c JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN b"""),

    Q("x_gopher_rules", (s, d) =>
      // the Gopher quality battery (Rae et al. 2021) — per-doc named-rule
      // verdicts; docs are deterministically decorated (bullet blocks,
      // ellipsis lines, symbol runs keyed on doc_id) so every rule fires
      // both ways on the synthetic corpus. Integer cross-multiplication
      // gates; fully row-local, shuffle-free (plan-guarded)
      TextFunctions.gopherRules(
        doc(s, d).select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 5 === 0,
            repeat(lit("\n- x"), 10)).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            repeat(lit("\nso more..."), 3)).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            repeat(lit(" #"), 12)).otherwise(lit(""))).as("t")),
        col("doc_id"), col("t")),
      """WITH t AS (SELECT doc_id, text
                || CASE WHEN doc_id % 5 = 0
                        THEN repeat(chr(10) || '- x', 10) ELSE '' END
                || CASE WHEN doc_id % 7 = 0
                        THEN repeat(chr(10) || 'so more...', 3) ELSE '' END
                || CASE WHEN doc_id % 13 = 0
                        THEN repeat(' #', 12) ELSE '' END AS t
              FROM documents),
              m AS (SELECT doc_id,
                list_filter(string_split_regex(trim(t), '\s+'),
                            w -> w <> '') AS words,
                string_split(t, chr(10)) AS lines,
                len(regexp_extract_all(t, '#|\.\.\.'))::INT AS n_sym,
                ((CASE WHEN regexp_matches(lower(t), '\bthe\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\bbe\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\bto\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\bof\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\band\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\bthat\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\bhave\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(lower(t), '\bwith\b') THEN 1 ELSE 0 END)
                ) AS n_stop
              FROM t),
              r AS (SELECT doc_id,
                len(words)::INT AS n_words,
                list_sum(list_transform(words, w -> length(w))) AS n_chars,
                n_sym,
                len(lines)::INT AS n_lines,
                len(list_filter(lines,
                    l -> regexp_matches(l, '^\s*[-*•]')))::INT AS n_bullet,
                len(list_filter(lines,
                    l -> regexp_matches(l, '(\.\.\.|…)\s*$')))::INT AS n_ell,
                len(list_filter(words,
                    l -> regexp_matches(l, '[A-Za-z]')))::INT AS n_alpha,
                n_stop
              FROM m),
              v AS (SELECT doc_id, n_words,
                CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_word_count,
                CASE WHEN n_chars >= n_words * 3 AND n_chars <= n_words * 10 THEN 1 ELSE 0 END AS r_word_len,
                CASE WHEN n_sym * 10 <= n_words THEN 1 ELSE 0 END AS r_symbol,
                CASE WHEN n_bullet * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS r_bullet,
                CASE WHEN n_ell * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS r_ellipsis,
                CASE WHEN n_alpha * 5 >= n_words * 4 THEN 1 ELSE 0 END AS r_alpha,
                CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
              FROM r)
              SELECT *, (r_word_count * r_word_len * r_symbol * r_bullet
                         * r_ellipsis * r_alpha * r_stop) AS passes
              FROM v"""),

    Q("x_tfidf", (s, d) =>
      // TF-IDF top-3 terms per doc: one explode, two hash aggregates, a
      // broadcast scalar (N), one window — rank on the ROUNDED score with
      // a term tiebreak so near-ties can't flip across engines
      TextFunctions.tfIdfTopK(doc(s, d), col("doc_id"), col("text"), 3),
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
              tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                     FROM toks WHERE term <> '' GROUP BY 1, 2),
              dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
              n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                       round(tf.tf * ln(n.n_docs::DOUBLE / dfq.df), 6) AS tfidf
                     FROM tf JOIN dfq USING (term) CROSS JOIN n)
              SELECT doc_id, term, tf, tfidf, rnk FROM (
                SELECT *, (row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term))::INT AS rnk FROM sc)
              WHERE rnk <= 3"""),

    Q("x_redact", (s, d) =>
      // PII scrub: emails/URLs/phones redacted in a fixed order; counts
      // taken pre-redaction. Docs are synthetic, so PII is injected
      // deterministically per doc to exercise every pattern
      doc(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com via http://site"), col("doc_id"),
          lit(".org or 555-"), col("doc_id")).as("t"))
        .select(col("doc_id"),
          TextFunctions.piiMatchCount(col("t"), TextFunctions.piiPatterns(0)._1).as("n_emails"),
          TextFunctions.piiMatchCount(col("t"), TextFunctions.piiPatterns(1)._1).as("n_urls"),
          TextFunctions.piiMatchCount(col("t"), TextFunctions.piiPatterns(2)._1).as("n_phones"),
          md5(TextFunctions.redactPii(col("t"))).as("redacted_md5")),
      """WITH t AS (SELECT doc_id,
                text || ' contact user' || doc_id::VARCHAR || '@example.com via http://site'
                     || doc_id::VARCHAR || '.org or 555-' || doc_id::VARCHAR AS t
              FROM documents)
              SELECT doc_id,
                len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
                len(regexp_extract_all(t, 'https?://[^\s]+'))::INT AS n_urls,
                len(regexp_extract_all(t, '\b555-[0-9]+\b'))::INT AS n_phones,
                md5(regexp_replace(regexp_replace(regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                  'https?://[^\s]+', '[URL]', 'g'),
                  '\b555-[0-9]+\b', '[PHONE]', 'g')) AS redacted_md5
              FROM t"""),

    Q("x_pii_redact", (s, d) =>
      // structured-identifier PII scrub (the deeper cousin of x_redact):
      // emails, 16-digit card numbers (Luhn-checked — n_card_valid
      // separates real cards from random digit runs), SSNs, phones, and
      // IPv4s, counted + redacted SEQUENTIALLY so overlapping digit
      // shapes are unambiguous. PII is injected deterministically per
      // doc_id (incl. one Luhn-valid and one Luhn-invalid card) so every
      // pattern fires both ways. Row-local, shuffle-free (plan-guarded)
      TextFunctions.piiRedact(
        doc(s, d).select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" Contact: user"), col("doc_id"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 8 === 0,
            lit(" card 4532015112830366")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            lit(" card 4532015112830367")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(" SSN: 123-45-6789")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            lit(" Call 555-867-5309.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), col("doc_id") % 256,
              lit(".77"))).otherwise(lit(""))).as("t")),
        col("doc_id"), col("t")),
      """WITH t AS (SELECT doc_id, text
                || CASE WHEN doc_id % 4 = 0 THEN ' Contact: user'
                     || doc_id::VARCHAR || '@example.com' ELSE '' END
                || CASE WHEN doc_id % 8 = 0
                     THEN ' card 4532015112830366' ELSE '' END
                || CASE WHEN doc_id % 9 = 0
                     THEN ' card 4532015112830367' ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ' SSN: 123-45-6789' ELSE '' END
                || CASE WHEN doc_id % 6 = 0 THEN ' Call 555-867-5309.' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'
                     || (doc_id % 256)::VARCHAR || '.77' ELSE '' END AS t0
              FROM documents),
              s1 AS (SELECT doc_id, t0,
                len(regexp_extract_all(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_email,
                regexp_replace(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t1 FROM t),
              s2 AS (SELECT *,
                len(regexp_extract_all(t1, '\b\d{16}\b'))::INT AS n_card,
                len(list_filter(regexp_extract_all(t1, '\b\d{16}\b'), m ->
                  list_sum(list_transform(range(0, 16), i ->
                    CASE WHEN (15 - i) % 2 = 1 THEN
                      CASE WHEN substring(m, i + 1, 1)::INT * 2 > 9
                           THEN substring(m, i + 1, 1)::INT * 2 - 9
                           ELSE substring(m, i + 1, 1)::INT * 2 END
                    ELSE substring(m, i + 1, 1)::INT END)) % 10 = 0))::INT
                  AS n_card_valid,
                regexp_replace(t1, '\b\d{16}\b', '<CARD>', 'g') AS t2 FROM s1),
              s3 AS (SELECT *,
                len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b'))::INT AS n_ssn,
                regexp_replace(t2, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t3
              FROM s2),
              s4 AS (SELECT *,
                len(regexp_extract_all(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::INT AS n_phone,
                regexp_replace(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t4
              FROM s3),
              s5 AS (SELECT *,
                len(regexp_extract_all(t4,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT AS n_ip,
                regexp_replace(t4, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                  '<IP>', 'g') AS t5
              FROM s4)
              SELECT doc_id, n_email, n_card, n_ssn, n_phone, n_ip,
                     n_card_valid,
                     (n_email + n_card + n_ssn + n_phone + n_ip) AS n_pii,
                     length(t0)::INT AS orig_len,
                     length(t5)::INT AS redacted_len
              FROM s5"""),

    Q("x_code_detect", (s, d) =>
      // code-vs-prose routing (the corpus-mixing gate): 5 independent
      // row-local signals (symbol density, ;{} line endings, indent
      // fraction, identifier-token fraction, keyword presence), each an
      // integer cross-multiplication, 2-of-5 majority verdict. Every
      // third doc is replaced by a synthetic code block so both classes
      // fire. Shuffle-free (plan-guarded)
      TextFunctions.codeDetect(
        doc(s, d).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            lit("import foo.bar\npublic void doThing() {\n  int rowCount = 0;\n  if (rowCount < 10) {\n    total_count = rowCount + otherValue\n  }\n}"))
            .otherwise(col("text")).as("t")),
        col("doc_id"), col("t")),
      """WITH t AS (SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN
                  'import foo.bar' || chr(10) ||
                  'public void doThing() {' || chr(10) ||
                  '  int rowCount = 0;' || chr(10) ||
                  '  if (rowCount < 10) {' || chr(10) ||
                  '    total_count = rowCount + otherValue' || chr(10) ||
                  '  }' || chr(10) || '}'
                ELSE text END AS t
              FROM documents),
              m AS (SELECT doc_id,
                length(t)::INT AS n_chars,
                len(regexp_extract_all(t, '[{}();=<>\[\]]'))::INT AS n_sym,
                list_filter(string_split(t, chr(10)),
                  l -> length(trim(l)) > 0) AS nb,
                list_filter(string_split_regex(trim(t), '\s+'),
                  w -> w <> '') AS words,
                ((CASE WHEN regexp_matches(t, '\bdef\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\bclass\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\breturn\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\bimport\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\bvoid\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\bpublic\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\bfunction\b') THEN 1 ELSE 0 END)
                 + (CASE WHEN regexp_matches(t, '\bvar\b') THEN 1 ELSE 0 END))
                  AS n_kw
              FROM t),
              r AS (SELECT doc_id, n_chars, n_sym, n_kw,
                len(nb)::INT AS n_lines,
                len(list_filter(nb,
                  l -> regexp_matches(l, '[;{}]\s*$')))::INT AS n_semi,
                len(list_filter(nb,
                  l -> regexp_matches(l, '^(  |\t)')))::INT AS n_indent,
                len(words)::INT AS n_words,
                len(list_filter(words, w -> regexp_matches(w,
                  '^[a-z]+([A-Z][A-Za-z0-9]*|_[a-z0-9_]+)$')))::INT AS n_ident
              FROM m),
              v AS (SELECT doc_id, n_chars,
                CASE WHEN n_sym * 100 > n_chars * 3 THEN 1 ELSE 0 END AS s_symbol,
                CASE WHEN n_semi * 10 >= n_lines * 2 AND n_lines > 0
                     THEN 1 ELSE 0 END AS s_semi,
                CASE WHEN n_indent * 10 >= n_lines * 3 AND n_lines > 0
                     THEN 1 ELSE 0 END AS s_indent,
                CASE WHEN n_ident * 20 >= n_words AND n_words > 0
                     THEN 1 ELSE 0 END AS s_camel,
                CASE WHEN n_kw >= 2 THEN 1 ELSE 0 END AS s_kw
              FROM r)
              SELECT doc_id, n_chars, s_symbol, s_semi, s_indent, s_camel,
                     s_kw,
                     CASE WHEN s_symbol + s_semi + s_indent + s_camel + s_kw
                          >= 2 THEN 1 ELSE 0 END AS is_code
              FROM v"""),

    Q("x_char_entropy", (s, d) => {
      // per-document character entropy (a cheap perplexity proxy:
      // gibberish/binary-ish text scores far from natural language) —
      // reuses the a8 entropy operator on exploded characters
      val chars = doc(s, d).select(col("doc_id"),
        explode(split(col("text"), "")).as("ch")).filter(col("ch") =!= "")
      graft.operators.Routing.entropyMetrics(chars, col("doc_id"), col("ch"))
        .select(col("grp").as("doc_id"), col("n_members").as("n_chars"),
          col("n_configs").as("n_distinct_chars"), col("entropy"))
    },
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                          FROM documents),
              c AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt
                    FROM ch WHERE ch <> '' GROUP BY 1, 2),
              m AS (SELECT doc_id, sum(cnt)::BIGINT AS n_chars,
                           count(*)::BIGINT AS n_distinct_chars
                    FROM c GROUP BY 1),
              e AS (SELECT c.doc_id,
                      round(-sum((cnt::DOUBLE / m.n_chars) * log2(cnt::DOUBLE / m.n_chars)), 6)
                        AS entropy
                    FROM c JOIN m USING (doc_id) GROUP BY c.doc_id, m.n_chars)
              SELECT m.doc_id, m.n_chars, m.n_distinct_chars, e.entropy
              FROM m JOIN e USING (doc_id)"""),

    Q("x_corpus_filter", (s, d) => {
      // the end-to-end corpus curation decision: exact-dup canonical
      // check, then quality floor, then repetition ceiling — first
      // failing rule names the drop reason (rule order is the contract)
      val base = doc(s, d)
      val quality = base.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val rep = TextFunctions.repetitionMetrics(base, col("doc_id"), col("text"))
      val canon = base
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .withColumn("canonical_id", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      base.select(col("doc_id"))
        .join(quality, Seq("doc_id")).join(rep, Seq("doc_id"))
        .join(canon.select(col("doc_id"), col("canonical_id")), Seq("doc_id"))
        .withColumn("reason",
          when(col("doc_id") =!= col("canonical_id"), "duplicate")
            .when(col("quality") < 0.4, "low_quality")
            .when(col("dup3gram_frac") > 0.6, "repetitive")
            .otherwise("keep"))
        .select(col("doc_id"), (col("reason") === "keep").as("keep"), col("reason"))
    },
      """WITH b AS (SELECT doc_id, text,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END)::INT AS n_tok_ws,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))::INT AS n_stop,
                (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')))::INT AS n_punct
              FROM documents),
              q AS (SELECT doc_id,
                round(least(greatest(
                  least(n_tok_ws / 100.0, 1.0) * 0.4
                  + least((CASE WHEN n_tok_ws > 0 THEN n_stop / n_tok_ws::DOUBLE ELSE 0 END) * 4.0, 1.0) * 0.4
                  + (1.0 - least((CASE WHEN length(text) > 0 THEN n_punct / length(text)::DOUBLE ELSE 0 END) * 10.0, 1.0)) * 0.2,
                  0.0), 1.0), 6) AS quality
              FROM b),
              """ + trigramCountCtes + """,
              t3 AS (SELECT doc_id,
                       round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt), 6) AS dup3
                     FROM c3 GROUP BY 1),
              fp AS (SELECT doc_id,
                       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
                     FROM documents),
              canon AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS canonical_id
                        FROM fp),
              j AS (SELECT d.doc_id, q.quality, coalesce(t3.dup3, 0) AS dup3,
                           c.canonical_id
                    FROM documents d
                    JOIN q USING (doc_id) JOIN canon c USING (doc_id)
                    LEFT JOIN t3 USING (doc_id))
              SELECT doc_id, reason = 'keep' AS keep, reason FROM (
                SELECT doc_id,
                  CASE WHEN doc_id <> canonical_id THEN 'duplicate'
                       WHEN quality < 0.4 THEN 'low_quality'
                       WHEN dup3 > 0.6 THEN 'repetitive'
                       ELSE 'keep' END AS reason
                FROM j)"""),

    // ===== M: multimodal plumbing =====

    Q("m_binary_ingest", (s, d) => {
      // blob-ingestion read path (S7-adjacent): raw media files land as
      // FILES, not rows — Spark's binaryFile source turns a directory of
      // blobs into (path, length, content) rows for the multimodal
      // pipeline. 50 deterministic fixture blobs are written as
      // scaffolding (hex-of-md5 bytes, so the oracle can reproduce the
      // content without reading files); the OPERATOR under test is the
      // binaryFile scan + per-blob metadata projection. At 100 TB the
      // same plan lists+reads the object store in parallel; content
      // never reaches the driver.
      val tag  = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_bin_$tag"
      val dir = java.nio.file.Paths.get(base)
      // recreate from scratch: stale blobs from an earlier variant of
      // this query (different count/names) would enter the scan and
      // hash-red the gate
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      java.nio.file.Files.createDirectories(dir)
      val digest = java.security.MessageDigest.getInstance("MD5")
      (0 until 50).foreach { i =>
        val hex = digest.digest(i.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.nio.file.Files.write(dir.resolve(s"doc_$i.bin"),
          hex.getBytes("UTF-8"))
      }
      s.read.format("binaryFile").load(base)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("int").as("doc_id"),
          col("length"), md5(col("content")).as("content_md5"))
    },
      """SELECT i::INT AS doc_id, 32::BIGINT AS length,
              md5(md5(i::VARCHAR)) AS content_md5
              FROM (SELECT unnest(generate_series(0, 49)) AS i) t"""),

    Q("m_real_meta", (s, d) =>
      // REAL image-header metadata (not a stub): binaryFile scan over the
      // committed PNG/GIF/JPEG/BMP/TIFF/junk fixtures, then the codegen'd
      // image_meta kernel — signature detection + dimension extraction,
      // including the JPEG length-prefixed segment walk to the SOF frame
      // header and the TIFF IFD entry scan (both byte orders). The oracle
      // replays the same header arithmetic in DuckDB over the same
      // committed bytes (read_blob + hex offsets, a recursive CTE for the
      // JPEG walk and a generate_series entry scan for the TIFF IFD)
      graft.operators.Multimodal.imageMeta(
        s.read.format("binaryFile").load(s"$repoRoot/fixtures/media"),
        col("content"))
        .select(
          regexp_extract(col("path"), "img_(\\d+)\\.", 1).cast("int").as("img_id"),
          col("length").as("n_bytes"),
          col("format"), col("width"), col("height")),
      s"""WITH RECURSIVE b AS (SELECT
                 regexp_extract(filename, 'img_(\\d+)\\.', 1)::INT AS img_id,
                 size::BIGINT AS n_bytes, hex(content) AS hx
               FROM read_blob('$repoRoot/fixtures/media/*')),
              png AS (SELECT img_id, n_bytes, 'png' AS format,
                        ('0x' || substr(hx, 33, 8))::INT AS width,
                        ('0x' || substr(hx, 41, 8))::INT AS height
                      FROM b WHERE substr(hx, 1, 16) = '89504E470D0A1A0A'),
              gif AS (SELECT img_id, n_bytes, 'gif' AS format,
                        ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::INT AS width,
                        ('0x' || substr(hx, 19, 2) || substr(hx, 17, 2))::INT AS height
                      FROM b
                      WHERE substr(hx, 1, 12) IN ('474946383761', '474946383961')),
              bmp AS (SELECT img_id, n_bytes, 'bmp' AS format,
                        ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
                          || substr(hx, 39, 2) || substr(hx, 37, 2))::INT AS width,
                        abs(('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
                          || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT)::INT
                          AS height
                      FROM b WHERE substr(hx, 1, 4) = '424D'),
              tif0 AS (SELECT img_id, n_bytes, hx,
                         substr(hx, 1, 8) = '49492A00' AS le,
                         CASE WHEN substr(hx, 1, 8) = '49492A00'
                              THEN ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2)
                                 || substr(hx, 11, 2) || substr(hx, 9, 2))::BIGINT
                              ELSE ('0x' || substr(hx, 9, 8))::BIGINT END AS ifd
                       FROM b WHERE substr(hx, 1, 8) IN ('49492A00', '4D4D002A')),
              tifn AS (SELECT *,
                         CASE WHEN ifd >= 8 AND (ifd + 2) * 2 <= len(hx)
                              THEN CASE WHEN le
                                THEN ('0x' || substr(hx, ifd*2 + 3, 2)
                                   || substr(hx, ifd*2 + 1, 2))::INT
                                ELSE ('0x' || substr(hx, ifd*2 + 1, 4))::INT END
                              ELSE 0 END AS n_entries
                       FROM tif0),
              te0 AS (SELECT img_id, le, hx, ifd,
                        unnest(generate_series(0, n_entries - 1)) AS i
                      FROM tifn),
              te AS (SELECT img_id, le, hx, ifd + 2 + 12 * i AS e
                     FROM te0 WHERE (ifd + 2 + 12 * i + 12) * 2 <= len(hx)),
              tv AS (SELECT img_id,
                       CASE WHEN le THEN ('0x' || substr(hx, e*2 + 3, 2)
                              || substr(hx, e*2 + 1, 2))::INT
                            ELSE ('0x' || substr(hx, e*2 + 1, 4))::INT END AS tag,
                       CASE WHEN le THEN ('0x' || substr(hx, (e+2)*2 + 3, 2)
                              || substr(hx, (e+2)*2 + 1, 2))::INT
                            ELSE ('0x' || substr(hx, (e+2)*2 + 1, 4))::INT END AS typ,
                       CASE WHEN le THEN ('0x' || substr(hx, (e+8)*2 + 3, 2)
                              || substr(hx, (e+8)*2 + 1, 2))::INT
                            ELSE ('0x' || substr(hx, (e+8)*2 + 1, 4))::INT END AS v16,
                       CASE WHEN le THEN ('0x' || substr(hx, (e+11)*2 + 1, 2)
                              || substr(hx, (e+10)*2 + 1, 2)
                              || substr(hx, (e+9)*2 + 1, 2)
                              || substr(hx, (e+8)*2 + 1, 2))::BIGINT
                            ELSE ('0x' || substr(hx, (e+8)*2 + 1, 8))::BIGINT END AS v32
                     FROM te),
              tagv AS (SELECT img_id, tag,
                         max(CASE WHEN typ = 3 THEN v16
                                  WHEN typ = 4 THEN v32::INT END) AS v
                       FROM tv WHERE tag IN (256, 257) GROUP BY 1, 2),
              tiff AS (SELECT t.img_id, t.n_bytes, 'tiff' AS format,
                         (SELECT v FROM tagv WHERE tagv.img_id = t.img_id
                            AND tag = 256)::INT AS width,
                         (SELECT v FROM tagv WHERE tagv.img_id = t.img_id
                            AND tag = 257)::INT AS height
                       FROM tifn t),
              jbase AS (SELECT img_id, n_bytes, hx FROM b
                        WHERE substr(hx, 1, 4) = 'FFD8'),
              walk AS (
                SELECT img_id, hx, 2 AS pos FROM jbase
                UNION ALL
                SELECT img_id, hx,
                       pos + 2 + ('0x' || substr(hx, pos * 2 + 5, 4))::INT AS pos
                FROM walk
                WHERE substr(hx, pos * 2 + 1, 2) = 'FF'
                  AND substr(hx, pos * 2 + 3, 2) NOT IN
                    ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB',
                     'CD','CE','CF','D9','DA')
                  AND (pos * 2 + 8) <= len(hx)),
              sof AS (SELECT w.img_id, min(w.pos) AS pos
                      FROM walk w
                      WHERE substr(w.hx, w.pos * 2 + 3, 2) IN
                        ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB',
                         'CD','CE','CF')
                      GROUP BY 1),
              jpg AS (SELECT j.img_id, j.n_bytes, 'jpeg' AS format,
                        ('0x' || substr(j.hx, s.pos * 2 + 15, 4))::INT AS width,
                        ('0x' || substr(j.hx, s.pos * 2 + 11, 4))::INT AS height
                      FROM jbase j LEFT JOIN sof s USING (img_id)),
              known AS (SELECT * FROM png UNION ALL SELECT * FROM gif
                        UNION ALL SELECT * FROM bmp UNION ALL SELECT * FROM jpg
                        UNION ALL SELECT * FROM tiff)
              SELECT * FROM known
              UNION ALL
              SELECT img_id, n_bytes, 'unknown' AS format,
                     NULL::INT AS width, NULL::INT AS height
              FROM b WHERE img_id NOT IN (SELECT img_id FROM known)"""),

    Q("m_audio_meta", (s, d) =>
      // REAL audio-header metadata — the audio twin of m_real_meta:
      // binaryFile scan over committed WAV/FLAC/MP3/junk fixtures, then
      // the codegen'd audio_meta kernel (RIFF chunk walk to `fmt `, FLAC
      // STREAMINFO bit unpacking, MP3 ID3v2 skip + frame-header decode).
      // The oracle replays the same byte arithmetic in DuckDB over the
      // same committed bytes (read_blob + hex offsets, recursive CTE for
      // the RIFF walk)
      graft.operators.Multimodal.audioMeta(
        s.read.format("binaryFile").load(s"$repoRoot/fixtures/audio"),
        col("content"))
        .select(
          regexp_extract(col("path"), "aud_(\\d+)\\.", 1).cast("int").as("aud_id"),
          col("length").as("n_bytes"),
          col("format"), col("channels"), col("sample_rate"),
          col("bits_per_sample")),
      s"""WITH RECURSIVE b AS (SELECT
                 regexp_extract(filename, 'aud_(\\d+)\\.', 1)::INT AS aud_id,
                 size::BIGINT AS n_bytes, hex(content) AS hx
               FROM read_blob('$repoRoot/fixtures/audio/*')),
              wbase AS (SELECT * FROM b
                        WHERE substr(hx, 1, 8) = '52494646'
                          AND substr(hx, 17, 8) = '57415645'),
              wwalk AS (
                SELECT aud_id, hx, 12 AS pos FROM wbase
                UNION ALL
                SELECT aud_id, hx, pos + 8 + sz + (sz % 2) AS pos
                FROM (SELECT aud_id, hx, pos,
                        ('0x' || substr(hx, (pos+7)*2+1, 2) || substr(hx, (pos+6)*2+1, 2)
                              || substr(hx, (pos+5)*2+1, 2) || substr(hx, (pos+4)*2+1, 2))::BIGINT AS sz,
                        substr(hx, pos*2+1, 8) AS cid
                      FROM wwalk WHERE (pos + 8) * 2 <= len(hx))
                WHERE cid <> '666D7420'),
              wfmt AS (SELECT aud_id, min(pos) AS pos
                       FROM wwalk
                       WHERE (pos + 8) * 2 <= len(hx)
                         AND substr(hx, pos*2+1, 8) = '666D7420'
                       GROUP BY 1),
              wav AS (SELECT wb.aud_id, wb.n_bytes, 'wav' AS format,
                        CASE WHEN ok THEN ('0x' || substr(hx, (pos+11)*2+1, 2)
                               || substr(hx, (pos+10)*2+1, 2))::INT END AS channels,
                        CASE WHEN ok THEN ('0x' || substr(hx, (pos+15)*2+1, 2)
                               || substr(hx, (pos+14)*2+1, 2) || substr(hx, (pos+13)*2+1, 2)
                               || substr(hx, (pos+12)*2+1, 2))::INT END AS sample_rate,
                        CASE WHEN ok THEN ('0x' || substr(hx, (pos+23)*2+1, 2)
                               || substr(hx, (pos+22)*2+1, 2))::INT END AS bits_per_sample
                      FROM (SELECT wb0.*, f.pos,
                              f.pos IS NOT NULL AND (f.pos + 24) * 2 <= len(wb0.hx)
                              AND ('0x' || substr(wb0.hx, (f.pos+7)*2+1, 2)
                                || substr(wb0.hx, (f.pos+6)*2+1, 2)
                                || substr(wb0.hx, (f.pos+5)*2+1, 2)
                                || substr(wb0.hx, (f.pos+4)*2+1, 2))::BIGINT >= 16 AS ok
                            FROM wbase wb0 LEFT JOIN wfmt f USING (aud_id)) wb),
              fbase AS (SELECT *,
                          CASE WHEN len(hx) >= 44
                            THEN ('0x' || substr(hx, 9, 2))::INT % 128 = 0
                            ELSE false END AS ok,
                          CASE WHEN len(hx) >= 44
                            THEN ('0x' || substr(hx, 41, 2))::INT END AS b20
                        FROM b WHERE substr(hx, 1, 8) = '664C6143'),
              flac AS (SELECT aud_id, n_bytes, 'flac' AS format,
                         CASE WHEN ok THEN (b20 // 2) % 8 + 1 END AS channels,
                         CASE WHEN ok THEN ('0x' || substr(hx, 37, 2))::INT * 4096
                              + ('0x' || substr(hx, 39, 2))::INT * 16 + b20 // 16
                         END AS sample_rate,
                         CASE WHEN ok THEN (b20 % 2) * 16
                              + ('0x' || substr(hx, 43, 2))::INT // 16 + 1
                         END AS bits_per_sample
                       FROM fbase),
              mraw AS (SELECT *,
                         len(hx) >= 20 AND substr(hx, 1, 6) = '494433' AS has_id3
                       FROM b
                       WHERE aud_id NOT IN (SELECT aud_id FROM wbase)
                         AND aud_id NOT IN (SELECT aud_id FROM fbase)),
              mpos AS (SELECT *,
                         CASE WHEN has_id3 THEN 10
                           + ('0x' || substr(hx, 13, 2))::BIGINT * 2097152
                           + ('0x' || substr(hx, 15, 2))::BIGINT * 16384
                           + ('0x' || substr(hx, 17, 2))::BIGINT * 128
                           + ('0x' || substr(hx, 19, 2))::BIGINT
                         ELSE 0 END AS st
                       FROM mraw),
              msync AS (SELECT *,
                          CASE WHEN (st + 4) * 2 <= len(hx)
                            THEN substr(hx, st*2+1, 2) = 'FF'
                             AND ('0x' || substr(hx, st*2+3, 2))::INT // 32 = 7
                            ELSE false END AS sync
                        FROM mpos),
              mfld AS (SELECT *,
                         ('0x' || substr(hx, st*2+3, 2))::INT AS b1,
                         ('0x' || substr(hx, st*2+5, 2))::INT AS b2,
                         ('0x' || substr(hx, st*2+7, 2))::INT AS b3
                       FROM msync WHERE sync),
              mp3 AS (SELECT aud_id, n_bytes, 'mp3' AS format,
                        CASE WHEN ok THEN
                          CASE WHEN (b3 // 64) % 4 = 3 THEN 1 ELSE 2 END
                        END AS channels,
                        CASE WHEN ok THEN
                          CASE (b1 // 8) % 4
                            WHEN 3 THEN ([44100, 48000, 32000])[(b2 // 4) % 4 + 1]
                            WHEN 2 THEN ([22050, 24000, 16000])[(b2 // 4) % 4 + 1]
                            WHEN 0 THEN ([11025, 12000, 8000])[(b2 // 4) % 4 + 1]
                          END
                        END AS sample_rate,
                        NULL::INT AS bits_per_sample
                      FROM (SELECT *,
                              (b1 // 8) % 4 <> 1 AND (b1 // 2) % 4 <> 0
                              AND (b2 // 4) % 4 <> 3 AS ok
                            FROM mfld)
                      UNION ALL
                      SELECT aud_id, n_bytes, 'mp3', NULL, NULL, NULL
                      FROM msync WHERE has_id3 AND NOT sync),
              known AS (SELECT * FROM wav UNION ALL SELECT * FROM flac
                        UNION ALL SELECT * FROM mp3)
              SELECT * FROM known
              UNION ALL
              SELECT aud_id, n_bytes, 'unknown' AS format,
                     NULL::INT AS channels, NULL::INT AS sample_rate,
                     NULL::INT AS bits_per_sample
              FROM b WHERE aud_id NOT IN (SELECT aud_id FROM known)"""),

    Q("m_video_meta", (s, d) =>
      // REAL video-header metadata — completes the image/audio/video
      // header-parsing triad: binaryFile scan over committed MP4/AVI/junk
      // fixtures, then the codegen'd video_meta kernel (ISO-BMFF sibling
      // box walks ftyp->moov->mvhd/trak->tkhd with v0/v1 and 64-bit
      // largesize handling; AVI RIFF walk to LIST hdrl/avih). The oracle
      // replays the same byte arithmetic in DuckDB over the same
      // committed bytes — one recursive CTE per walk level
      graft.operators.Multimodal.videoMeta(
        s.read.format("binaryFile").load(s"$repoRoot/fixtures/video"),
        col("content"))
        .select(
          regexp_extract(col("path"), "vid_(\\d+)\\.", 1).cast("int").as("vid_id"),
          col("length").as("n_bytes"),
          col("format"), col("width"), col("height"), col("duration_ms")),
      s"""WITH RECURSIVE b AS (SELECT
                 regexp_extract(filename, 'vid_(\\d+)\\.', 1)::INT AS vid_id,
                 size::BIGINT AS n_bytes, hex(content) AS hx,
                 size::BIGINT AS n
               FROM read_blob('$repoRoot/fixtures/video/*')),
              mbase AS (SELECT * FROM b
                        WHERE n >= 12 AND substr(hx, 9, 8) = '66747970'),
              twalk AS (
                SELECT vid_id, hx, n, 0::BIGINT AS pos FROM mbase
                UNION ALL
                SELECT vid_id, hx, n, pos + sz AS pos
                FROM (SELECT vid_id, hx, n, pos,
                        CASE WHEN raw = 1 THEN
                               CASE WHEN (pos+16) <= n THEN
                                 ('0x' || substr(hx, (pos+8)*2+1, 16))::BIGINT END
                             WHEN raw = 0 THEN n - pos
                             ELSE raw END AS sz,
                        substr(hx, (pos+4)*2+1, 8) AS tag
                      FROM (SELECT vid_id, hx, n, pos,
                              ('0x' || substr(hx, pos*2+1, 8))::BIGINT AS raw
                            FROM twalk WHERE pos + 8 <= n))
                WHERE tag <> '6D6F6F76' AND sz >= 8),
              moov AS (SELECT vid_id, min(pos) AS mpos FROM twalk
                       WHERE pos + 8 <= n
                         AND substr(hx, (pos+4)*2+1, 8) = '6D6F6F76'
                       GROUP BY 1),
              moovb AS (SELECT m.vid_id, x.hx, x.n, m.mpos,
                          least(x.n, CASE WHEN raw = 1 THEN
                              CASE WHEN m.mpos + 16 <= x.n THEN m.mpos +
                                ('0x' || substr(x.hx, (m.mpos+8)*2+1, 16))::BIGINT
                              ELSE m.mpos + 8 END
                            WHEN raw = 0 THEN x.n
                            ELSE m.mpos + raw END) AS mend
                        FROM (SELECT m0.*,
                                ('0x' || substr(x0.hx, m0.mpos*2+1, 8))::BIGINT AS raw
                              FROM moov m0 JOIN mbase x0 USING (vid_id)) m
                        JOIN mbase x USING (vid_id)),
              mwalk AS (
                SELECT vid_id, hx, mend, mpos + 8 AS pos FROM moovb
                UNION ALL
                SELECT vid_id, hx, mend, pos + sz AS pos
                FROM (SELECT vid_id, hx, mend, pos,
                        CASE WHEN raw = 1 THEN
                               CASE WHEN (pos+16) <= mend THEN
                                 ('0x' || substr(hx, (pos+8)*2+1, 16))::BIGINT END
                             WHEN raw = 0 THEN mend - pos
                             ELSE raw END AS sz
                      FROM (SELECT vid_id, hx, mend, pos,
                              ('0x' || substr(hx, pos*2+1, 8))::BIGINT AS raw
                            FROM mwalk WHERE pos + 8 <= mend))
                WHERE sz >= 8),
              mvhd AS (SELECT vid_id, min(pos) AS vpos FROM mwalk
                       WHERE pos + 8 <= mend
                         AND substr(hx, (pos+4)*2+1, 8) = '6D766864'
                       GROUP BY 1),
              trak AS (SELECT vid_id, min(pos) AS tpos FROM mwalk
                       WHERE pos + 8 <= mend
                         AND substr(hx, (pos+4)*2+1, 8) = '7472616B'
                       GROUP BY 1),
              trakb AS (SELECT t.vid_id, x.hx, x.n, t.tpos,
                          least(x.n, t.tpos +
                            ('0x' || substr(x.hx, t.tpos*2+1, 8))::BIGINT) AS tend
                        FROM trak t JOIN mbase x USING (vid_id)),
              kwalk AS (
                SELECT vid_id, hx, tend, tpos + 8 AS pos FROM trakb
                UNION ALL
                SELECT vid_id, hx, tend, pos + sz AS pos
                FROM (SELECT vid_id, hx, tend, pos,
                        CASE WHEN raw = 1 THEN
                               CASE WHEN (pos+16) <= tend THEN
                                 ('0x' || substr(hx, (pos+8)*2+1, 16))::BIGINT END
                             WHEN raw = 0 THEN tend - pos
                             ELSE raw END AS sz
                      FROM (SELECT vid_id, hx, tend, pos,
                              ('0x' || substr(hx, pos*2+1, 8))::BIGINT AS raw
                            FROM kwalk WHERE pos + 8 <= tend))
                WHERE sz >= 8),
              tkhd AS (SELECT vid_id, min(pos) AS kpos FROM kwalk
                       WHERE pos + 8 <= tend
                         AND substr(hx, (pos+4)*2+1, 8) = '746B6864'
                       GROUP BY 1),
              mp4dur AS (SELECT x.vid_id,
                           CASE
                             WHEN v.vpos IS NULL OR v.vpos + 9 > x.n THEN NULL
                             WHEN substr(x.hx, (v.vpos+8)*2+1, 2) = '00'
                                  AND v.vpos + 28 <= x.n
                                  AND ('0x' || substr(x.hx, (v.vpos+20)*2+1, 8))::BIGINT > 0
                               THEN ('0x' || substr(x.hx, (v.vpos+24)*2+1, 8))::BIGINT * 1000
                                 // ('0x' || substr(x.hx, (v.vpos+20)*2+1, 8))::BIGINT
                             WHEN substr(x.hx, (v.vpos+8)*2+1, 2) = '01'
                                  AND v.vpos + 40 <= x.n
                                  AND ('0x' || substr(x.hx, (v.vpos+28)*2+1, 8))::BIGINT > 0
                               THEN ('0x' || substr(x.hx, (v.vpos+32)*2+1, 16))::BIGINT * 1000
                                 // ('0x' || substr(x.hx, (v.vpos+28)*2+1, 8))::BIGINT
                           END AS duration_ms
                         FROM mbase x LEFT JOIN mvhd v USING (vid_id)),
              mp4dim AS (SELECT x.vid_id,
                           CASE WHEN ok THEN
                             ('0x' || substr(x.hx, (k.kpos + 8 + off)*2+1, 8))::BIGINT // 65536
                           END::INT AS width,
                           CASE WHEN ok THEN
                             ('0x' || substr(x.hx, (k.kpos + 12 + off)*2+1, 8))::BIGINT // 65536
                           END::INT AS height
                         FROM mbase x
                         LEFT JOIN (SELECT t.vid_id, t.kpos,
                                      CASE WHEN substr(x0.hx, (t.kpos+8)*2+1, 2) = '01'
                                        THEN 88 ELSE 76 END AS off,
                                      t.kpos + 9 <= x0.n AS hasv
                                    FROM tkhd t JOIN mbase x0 USING (vid_id)) k
                           USING (vid_id)
                         CROSS JOIN LATERAL (SELECT k.kpos IS NOT NULL AND k.hasv
                           AND k.kpos + 16 + k.off <= x.n AS ok)),
              mp4 AS (SELECT x.vid_id, x.n_bytes, 'mp4' AS format,
                        dm.width, dm.height, du.duration_ms
                      FROM mbase x
                      JOIN mp4dim dm USING (vid_id)
                      JOIN mp4dur du USING (vid_id)),
              abase AS (SELECT * FROM b
                        WHERE substr(hx, 1, 8) = '52494646'
                          AND substr(hx, 17, 8) = '41564920'),
              awalk AS (
                SELECT vid_id, hx, n, 12::BIGINT AS pos FROM abase
                UNION ALL
                SELECT vid_id, hx, n, pos + 8 + sz + (sz % 2) AS pos
                FROM (SELECT vid_id, hx, n, pos,
                        ('0x' || substr(hx, (pos+7)*2+1, 2) || substr(hx, (pos+6)*2+1, 2)
                              || substr(hx, (pos+5)*2+1, 2) || substr(hx, (pos+4)*2+1, 2))::BIGINT AS sz,
                        substr(hx, pos*2+1, 8) AS cid,
                        substr(hx, (pos+8)*2+1, 8) AS sub
                      FROM awalk WHERE pos + 8 <= n)
                WHERE NOT (cid = '4C495354' AND sub = '6864726C')),
              hdrl AS (SELECT vid_id, min(pos) AS lpos FROM awalk
                       WHERE pos + 8 <= n
                         AND substr(hx, pos*2+1, 8) = '4C495354'
                         AND substr(hx, (pos+8)*2+1, 8) = '6864726C'
                       GROUP BY 1),
              avi AS (SELECT x.vid_id, x.n_bytes, 'avi' AS format,
                        CASE WHEN ok THEN
                          ('0x' || substr(hx, (c+43)*2+1, 2) || substr(hx, (c+42)*2+1, 2)
                                || substr(hx, (c+41)*2+1, 2) || substr(hx, (c+40)*2+1, 2))::INT
                        END AS width,
                        CASE WHEN ok THEN
                          ('0x' || substr(hx, (c+47)*2+1, 2) || substr(hx, (c+46)*2+1, 2)
                                || substr(hx, (c+45)*2+1, 2) || substr(hx, (c+44)*2+1, 2))::INT
                        END AS height,
                        CASE WHEN ok THEN
                          ('0x' || substr(hx, (c+11)*2+1, 2) || substr(hx, (c+10)*2+1, 2)
                                || substr(hx, (c+9)*2+1, 2) || substr(hx, (c+8)*2+1, 2))::BIGINT
                          * ('0x' || substr(hx, (c+27)*2+1, 2) || substr(hx, (c+26)*2+1, 2)
                                  || substr(hx, (c+25)*2+1, 2) || substr(hx, (c+24)*2+1, 2))::BIGINT
                          // 1000
                        END AS duration_ms
                      FROM abase x
                      LEFT JOIN hdrl h USING (vid_id)
                      CROSS JOIN LATERAL (SELECT h.lpos + 12 AS c)
                      CROSS JOIN LATERAL (SELECT h.lpos IS NOT NULL
                        AND c + 48 <= x.n
                        AND substr(x.hx, c*2+1, 8) = '61766968' AS ok)),
              known AS (SELECT * FROM mp4 UNION ALL SELECT * FROM avi)
              SELECT * FROM known
              UNION ALL
              SELECT vid_id, n_bytes, 'unknown' AS format,
                     NULL::INT AS width, NULL::INT AS height,
                     NULL::BIGINT AS duration_ms
              FROM b WHERE vid_id NOT IN (SELECT vid_id FROM known)"""),

    Q("m_media_scale", (s, d) => {
      // CORPUS-SCALE audio-kernel round-trip: synthesize REAL header
      // bytes per document (WAV fmt chunk with little-endian fields,
      // FLAC STREAMINFO with the 20/3/5-bit packed parameter word, MP3
      // frame header — format and parameters derived from doc_id),
      // parse them back with the codegen'd audio_meta kernel, aggregate.
      // Everything is a row-local codegen'd projection (hex -> unhex ->
      // kernel), so this scales as a scan — the fixture-driven
      // m_audio_meta pins the absolute byte layout against an
      // independent hex replay; this query proves the kernel at corpus
      // row counts. The oracle derives the identical aggregate from the
      // parameters directly (synth -> parse must be the identity)
      import org.apache.spark.sql.Column
      def beHex(c: Column, nBytes: Int): Column =
        lpad(lower(conv(c.cast("string"), 10, 16)), nBytes * 2, "0")
      def leHex(c: Column, nBytes: Int): Column = {
        val be = beHex(c, nBytes)
        concat((0 until nBytes).reverse.map(i =>
          substring(be, i * 2 + 1, 2)): _*)
      }
      val base = doc(s, d).select(col("doc_id"),
        (col("doc_id") % 3).as("kind"),
        (lit(1) + col("doc_id") % 8).cast("int").as("p_ch"),
        (lit(8000) * (lit(1) + col("doc_id") % 6)).cast("long").as("p_rate"),
        (lit(8) * (lit(1) + col("doc_id") % 4)).cast("int").as("p_bits"))
      val wavHex = concat(lit("52494646"), leHex(lit(36L), 4),
        lit("57415645666d7420"), leHex(lit(16L), 4), leHex(lit(1L), 2),
        leHex(col("p_ch"), 2), leHex(col("p_rate"), 4),
        leHex((col("p_rate") * col("p_ch") * col("p_bits") / 8).cast("long"), 4),
        leHex((col("p_ch") * col("p_bits") / 8).cast("long"), 2),
        leHex(col("p_bits"), 2))
      val flacPacked = shiftleft(col("p_rate"), 44) +
        shiftleft((col("p_ch") - 1).cast("long"), 41) +
        shiftleft((col("p_bits") - 1).cast("long"), 36) + lit(4096L)
      val flacHex = concat(lit("664c6143"), lit("80000022"),
        lit("04000400000000000000"), beHex(flacPacked, 8),
        lit("00000000000000000000000000000000"))
      // MP3: V1 Layer-3 sync word; rate index from doc_id % 3, mono/stereo
      // from doc_id % 2 (V1 rates: idx 0 -> 44100, 1 -> 48000, 2 -> 32000)
      val rateIdx = (col("doc_id") % 7 % 3).cast("int")
      val mono = (col("doc_id") % 2 === 0)
      val mp3B2 = lit(0x90) + rateIdx * 4
      val mp3Hex = concat(lit("fffb"), beHex(mp3B2, 1),
        when(mono, lit("c0")).otherwise(lit("00")), lit("00010203"))
      val payload = unhex(when(col("kind") === 0, wavHex)
        .when(col("kind") === 1, flacHex).otherwise(mp3Hex))
      val parsed = graft.operators.Multimodal.audioMeta(
        base.withColumn("payload", payload), col("payload"))
      parsed.groupBy(col("format"), col("channels"), col("bits_per_sample"))
        .agg(count(lit(1)).as("n"), sum(col("sample_rate")).cast("long").as("rate_sum"))
    },
      """WITH base AS (SELECT doc_id, doc_id % 3 AS kind,
                       (1 + doc_id % 8)::INT AS p_ch,
                       (8000 * (1 + doc_id % 6))::BIGINT AS p_rate,
                       (8 * (1 + doc_id % 4))::INT AS p_bits
                     FROM documents),
              derived AS (SELECT
                 CASE kind WHEN 0 THEN 'wav' WHEN 1 THEN 'flac' ELSE 'mp3' END AS format,
                 CASE WHEN kind IN (0, 1) THEN p_ch
                      WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
                 CASE WHEN kind IN (0, 1) THEN p_rate
                      ELSE ([44100, 48000, 32000])[(doc_id % 7 % 3)::INT + 1] END AS rate,
                 CASE WHEN kind IN (0, 1) THEN p_bits END AS bits_per_sample
               FROM base)
              SELECT format, channels::INT AS channels, bits_per_sample,
                     count(*)::BIGINT AS n, sum(rate)::BIGINT AS rate_sum
              FROM derived GROUP BY 1, 2, 3"""),

    Q("m_media_meta", (s, d) =>
      Multimodal.asMediaTable(doc(s, d), "doc_id", "text", "text/plain")
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum")),
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
              octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS checksum
              FROM documents"""),

    Q("m_patch_grid", (s, d) =>
      // ViT patchification bookkeeping: synthetic per-doc image dims
      // (derived from byte length), 16px grid, edge patches clipped —
      // integer-only arithmetic, engine-replayable
      Multimodal.patchGrid(
        Multimodal.asMediaTable(doc(s, d), "doc_id", "text", "text/plain")
          .select(col("media_id"),
            (lit(32) + pmod(col("meta.n_bytes"), lit(48))).as("w"),
            (lit(16) + pmod(col("meta.n_bytes"), lit(32))).as("h")),
        col("media_id"), col("w"), col("h"), patch = 16),
      """WITH m AS (SELECT doc_id AS media_id,
                       (32 + octet_length(encode(text)) % 48)::INT AS w,
                       (16 + octet_length(encode(text)) % 32)::INT AS h
                FROM documents),
              g AS (SELECT media_id, w, h,
                      unnest(generate_series(0, (w + 15) // 16 - 1)) AS px
                    FROM m WHERE w > 0 AND h > 0),
              p AS (SELECT media_id, w, h, px,
                      unnest(generate_series(0, (h + 15) // 16 - 1)) AS py
                    FROM g)
              SELECT media_id, px::INT AS px, py::INT AS py,
                     (px * 16)::INT AS x0, (py * 16)::INT AS y0,
                     least(px * 16 + 16, w)::INT AS x1,
                     least(py * 16 + 16, h)::INT AS y1,
                     ((least(px * 16 + 16, w) - px * 16)
                      * (least(py * 16 + 16, h) - py * 16))::INT AS n_px
              FROM p"""),

    Q("m_decode_stub", (s, d) =>
      // per-element double columns (not the raw array — unhashable in the
      // driver's comparator; not a joined string — float formatting differs
      // across engines). byte/255 division is the same IEEE op both sides.
      Multimodal.decodeStub(Multimodal.asMediaTable(doc(s, d), "doc_id", "text", "text/plain"))
        .select(col("media_id") +:
          (0 until 8).map(i => col("features").getItem(i).as(s"f$i")): _*),
      // the stub feature = md5-digest bytes / 255 — replicable in SQL, so
      // even the placeholder decode is oracle-checked end to end
      "SELECT doc_id AS media_id, " +
        (0 until 8).map(i =>
          s"(('0x' || substr(md5(text), ${i * 2 + 1}, 2))::INT)::DOUBLE / 255 AS f$i")
          .mkString(", ") +
        " FROM documents"),

    Q("m_resize_stub", (s, d) =>
      // stride-downsample "resize" of the opaque payload (every 4th byte);
      // new metadata derived column-natively from the resized payload.
      // ASCII text payloads make the byte stride replicable as a character
      // stride in SQL, so even the stub transform is oracle-checked
      Multimodal.resizeStub(
        Multimodal.asMediaTable(doc(s, d), "doc_id", "text", "text/plain"), 4)
        .select(col("media_id"),
          octet_length(col("resized")).cast("long").as("rs_bytes"),
          md5(col("resized")).as("rs_checksum")),
      """WITH r AS (SELECT doc_id,
                array_to_string([substr(text, i, 1)
                                 for i in generate_series(1, len(text), 4)], '') AS rz
              FROM documents)
              SELECT doc_id AS media_id,
                     octet_length(encode(rz))::BIGINT AS rs_bytes,
                     md5(rz) AS rs_checksum
              FROM r"""),

    // ===== ST / IV: streaming-in-batch + intervals =====

    Q("st_tumbling", (s, d) =>
      StreamOps.tumblingCounts(ev(s, d), "1 hour", "30 minutes"),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
              count(*) AS n, round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
              FROM events GROUP BY 1, 2"""),

    Q("st_interval_join", (s, d) => {
      // batch twin of the stream-stream time-band join (watermarked in
      // streaming; identical semantics on batch frames)
      val e = ev(s, d)
      StreamOps.intervalJoinStreams(
        e.filter(col("event_type") === "error"),
        e.filter(col("event_type") === "purchase"), 3600, "1 hour")
        .select(col("user_id"), col("cause_id"), col("effect_id"))
    },
      """SELECT l.user_id, l.event_id AS cause_id, r.event_id AS effect_id
              FROM events l JOIN events r ON l.user_id = r.user_id
                AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
              WHERE l.event_type = 'error' AND r.event_type = 'purchase'"""),

    Q("st_sliding", (s, d) =>
      // sliding windows: 1-hour windows every 30 minutes — each event
      // lands in exactly two windows (both epoch-aligned, like DuckDB's
      // time_bucket)
      ev(s, d).groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n")),
      """WITH w AS (SELECT event_type,
                unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                        time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                  AS window_start
              FROM events)
              SELECT window_start, event_type, count(*) AS n
              FROM w GROUP BY 1, 2"""),

    Q("st_session_window", (s, d) =>
      // the BUILT-IN session_window operator (merge-on-overlap semantics:
      // an event extends a session iff it lands strictly before prev+gap)
      StreamOps.sessionWindowCounts(ev(s, d), "30 minutes", "1 hour"),
      """WITH s AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              i AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
                    FROM s)
              SELECT user_id, min(ts) AS session_start,
                     max(ts) + INTERVAL 30 MINUTE AS session_end,
                     count(*)::BIGINT AS n_events,
                     round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
              FROM i GROUP BY user_id, sid"""),

    Q("m_frame_sample", (s, d) => {
      // frame-sample plumbing arithmetic (stride block sampling of the
      // payload bytes) — oracle-checked via frame count + byte totals
      val m = Multimodal.asMediaTable(doc(s, d), "doc_id", "text", "text/plain")
      Multimodal.frameSampleStub(m, blockSize = 16, stride = 4)
        .select(col("media_id"), size(col("frames")).as("n_frames"),
          aggregate(transform(col("frames"), f => octet_length(f)),
            lit(0), (a, b) => a + b).as("frame_bytes"))
    },
      """WITH m AS (SELECT doc_id AS media_id,
                                octet_length(encode(text)) AS L
                         FROM documents),
              f AS (SELECT media_id, L,
                           (greatest((L - 1) // 64, 0) + 1)::INT AS n_frames
                    FROM m)
              SELECT media_id, n_frames,
                     list_sum([least(16, L - i * 64)
                               for i in generate_series(0, n_frames - 1)])::INT
                       AS frame_bytes
              FROM f"""),

    Q("st_sessionize", (s, d) =>
      Intervals.sessionize(ev(s, d), col("user_id"), col("ts"), 1800)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("total_value")),
      """WITH g AS (SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS brk
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              s AS (SELECT user_id, ts, value,
                (sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING))::BIGINT
                  AS session_seq FROM g)
              SELECT user_id, session_seq, count(*) AS n_events, min(ts) AS session_start,
                     max(ts) AS session_end,
                     round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
              FROM s GROUP BY 1, 2"""),

    Q("iv_gaps", (s, d) =>
      // coverage holes between merged order-coverage windows per customer
      Intervals.coverageGaps(
        orderCoverage(s, d), col("o_custkey"), col("o_orderdate"), col("o_end")),
      "WITH " + coverageIslandCtes + """,
              m AS (SELECT key, min(f) AS range_from, max(t) AS range_to
                    FROM y GROUP BY key, isl),
              g AS (SELECT key, range_to AS gap_from,
                      lead(range_from) OVER (PARTITION BY key ORDER BY range_from) AS gap_to
                    FROM m)
              SELECT key, gap_from, gap_to,
                     date_diff('day', gap_from::DATE, gap_to::DATE)::BIGINT AS gap_days
              FROM g WHERE gap_to IS NOT NULL"""),

    Q("iv_overlap_join", (s, d) =>
      // interval x interval overlap as an EQUI join on 32-day buckets +
      // residual predicate — the oracle runs the plain range join, so a
      // green hash proves the bucketed plan finds exactly the same pairs
      Intervals.overlapJoin(
        orderIntervals(s, d, 500), lineIntervals(s, d, 500),
        col("o_orderkey"), col("o_orderdate"), col("o_end"),
        col("li_id"), col("l_shipdate"), col("l_end")),
      intervalSideCtes(500) + """
              SELECT a_id, b_id,
                     greatest(a_from, b_from) AS ov_from,
                     least(a_to, b_to) AS ov_to,
                     (date_diff('day', greatest(a_from, b_from), least(a_to, b_to))
                      + 1)::BIGINT AS ov_days
              FROM a JOIN b ON a_from <= b_to AND b_from <= a_to"""),

    Q("iv_time_weighted", (s, d) => {
      // interval-weighted average order value per customer: each order's
      // value holds until the customer's next order; weight = days held —
      // the effective-dated/SCD2 "time-weighted mean" staple. Per-customer
      // lead window (skew = one customer's orders); DECIMAL-exact weighted
      // sums, one double division at the end
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
      val o = ord(s, d).select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        col("o_totalprice").cast("decimal(12,2)").as("v"))
      o.withColumn("nd", lead(col("d"), 1).over(w))
        .filter(col("nd").isNotNull)
        .withColumn("days", datediff(col("nd"), col("d")).cast("long"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("days")).as("total_days"),
          sum(col("v") * col("days")).as("__wsum"))
        .filter(col("total_days") > 0)
        // exact integer micro-unit division (cents * 10000 div days):
        // truncation at 1e-6 with NO float rounding boundary — a
        // round(decimal-division) here flipped at 5e-7 between engines
        .withColumn("__icents", (col("__wsum") * 100).cast("long"))
        .select(col("custkey"), col("n_intervals"), col("total_days"),
          (expr("__icents * 10000 div total_days") / lit(1000000.0))
            .as("tw_avg"))
    },
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate::DATE AS d,
                       o_totalprice::DECIMAL(12,2) AS v FROM orders),
              iv AS (SELECT o_custkey, v,
                       date_diff('day', d, lead(d) OVER (PARTITION BY o_custkey
                         ORDER BY d, o_orderkey)) AS days
                     FROM o),
              g AS (SELECT o_custkey AS custkey, count(*)::BIGINT AS n_intervals,
                      sum(days)::BIGINT AS total_days, sum(v * days) AS wsum
                    FROM iv WHERE days IS NOT NULL GROUP BY 1)
              SELECT custkey, n_intervals, total_days,
                (((wsum * 100)::BIGINT * 10000) // total_days) / 1000000.0 AS tw_avg
              FROM g WHERE total_days > 0"""),

    Q("iv_allen", (s, d) =>
      // Allen interval-algebra relations over co-occurring pairs — the
      // same bucketed equi join as iv_overlap_join, plus the 11-way
      // relation classification (before/after excluded by design: they'd
      // force an all-pairs join). Oracle = plain range join + the same
      // CASE chain
      Intervals.allenJoin(
        orderIntervals(s, d, 100), lineIntervals(s, d, 100),
        col("o_orderkey"), col("o_orderdate"), col("o_end"),
        col("li_id"), col("l_shipdate"), col("l_end")),
      intervalSideCtes(100) + """
              SELECT a_id, b_id,
                     CASE WHEN a_from = b_from AND a_to = b_to THEN 'equals'
                          WHEN a_from = b_from AND a_to < b_to THEN 'starts'
                          WHEN a_from = b_from THEN 'started_by'
                          WHEN a_to = b_to AND a_from > b_from THEN 'finishes'
                          WHEN a_to = b_to THEN 'finished_by'
                          WHEN a_from > b_from AND a_to < b_to THEN 'during'
                          WHEN a_from < b_from AND a_to > b_to THEN 'contains'
                          WHEN a_to = b_from THEN 'meets'
                          WHEN b_to = a_from THEN 'met_by'
                          WHEN a_from < b_from THEN 'overlaps'
                          ELSE 'overlapped_by' END AS relation
              FROM a JOIN b ON a_from <= b_to AND b_from <= a_to"""),

    Q("iv_merge_intervals", (s, d) =>
      Intervals.mergeIntervals(
        orderCoverage(s, d), col("o_custkey"), col("o_orderdate"), col("o_end")),
      "WITH " + coverageIslandCtes + """
              SELECT key, min(f) AS range_from, max(t) AS range_to, count(*)::INT AS n_merged
              FROM y GROUP BY key, isl"""),

    Q("iv_scd2_snapshot", (s, d) => {
      // SCD2 as-of snapshot: the versioned-hierarchy table filtered to the
      // rows effective at one date — a pure pushdown-able filter that on a
      // date-partitioned dimension prunes to the straddling files
      val v = orderPriorityVersions(s, d)
      Intervals.snapshotAt(v, col("eff_from"), col("eff_to"),
          lit("1995-06-01").cast("date"))
        .select(col("key"), col("version_seq"), col("signature"),
          col("eff_from").cast("date").as("eff_from"),
          col("eff_to").cast("date").as("eff_to"))
    },
      "WITH " + orderVersionCtes + """,
              ver AS (
                SELECT key, version_seq, signature, eff_from,
                       coalesce(lead(eff_from) OVER (PARTITION BY key
                                  ORDER BY eff_from, version_seq) - 1,
                                DATE '2099-01-01') AS eff_to
                FROM g)
              SELECT * FROM ver
              WHERE eff_from <= DATE '1995-06-01' AND eff_to >= DATE '1995-06-01'"""),

    Q("x_chunk_dedup", (s, d) =>
      // C4-style corpus chunk dedup: fixed 12-word chunks, keep only the
      // globally-first occurrence of each distinct chunk (doc_id, position
      // order), reassemble the surviving text. First-occurrence is ONE
      // hash agg (min(struct)) with map-side partials — no windows
      Dedup.chunkDedup(doc(s, d), col("doc_id"), col("text"), chunkWords = 12),
      """WITH toks AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS t FROM documents),
              ch0 AS (SELECT doc_id, t,
                        unnest(range((len(t) - 1) // 12 + 1)) AS cidx FROM toks),
              ch AS (SELECT doc_id, cidx,
                       array_to_string(list_slice(t, cidx*12 + 1, cidx*12 + 12),
                                       ' ') AS chunk
                     FROM ch0),
              k AS (SELECT doc_id, cidx, chunk,
                      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
                    FROM ch)
              SELECT doc_id, count(*)::BIGINT AS n_chunks,
                     sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END)::BIGINT AS n_removed,
                     coalesce(string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE rn = 1),
                              '') AS dedup_text
              FROM k GROUP BY doc_id"""),

    Q("d_span_dedup", (s, d) =>
      // ExactSubstr-style duplicate-span REMOVAL (Lee et al. 2022) over
      // OVERLAPPING 8-token windows, keep-first at any alignment — the
      // contract chunk dedup's fixed tiles cannot express. One explode
      // (corpus-token-bounded), one min(struct) hash agg, equi join back,
      // row-local coverage/reassembly. The oracle reaches the same
      // kept_text by a different route (exploded covered positions +
      // anti-join) — the output contract is the meeting point.
      Dedup.spanDedup(doc(s, d), col("doc_id"), col("text"), spanWords = 8),
      """WITH toks AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS t FROM documents),
              w0 AS (SELECT doc_id, t, len(t) AS n FROM toks),
              wins AS (SELECT doc_id, t, unnest(range(n - 7)) AS p
                       FROM w0 WHERE n >= 8),
              wh AS (SELECT doc_id, p,
                       md5(array_to_string(list_slice(t, p + 1, p + 8), ' ')) AS h
                     FROM wins),
              rk AS (SELECT doc_id, p,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
                     FROM wh),
              dups AS (SELECT doc_id, p FROM rk WHERE rn > 1),
              dagg AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
                       FROM dups GROUP BY 1),
              cov AS (SELECT DISTINCT d.doc_id, d.p + r.i AS pos
                      FROM dups d, range(8) r(i)),
              pos AS (SELECT doc_id, n, unnest(range(n)) AS i, t FROM w0),
              keep AS (SELECT p.doc_id, p.n, p.i, p.t[p.i + 1] AS tok,
                         (c.pos IS NULL) AS kept
                       FROM pos p LEFT JOIN cov c
                         ON c.doc_id = p.doc_id AND c.pos = p.i),
              fin AS (SELECT doc_id, any_value(n)::BIGINT AS n_tokens,
                        sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT
                          AS n_removed_tokens,
                        coalesce(string_agg(tok, ' ' ORDER BY i)
                                   FILTER (WHERE kept), '') AS kept_text
                      FROM keep GROUP BY doc_id)
              SELECT f.doc_id, f.n_tokens,
                     greatest(f.n_tokens - 7, 0)::BIGINT AS n_windows,
                     coalesce(a.n_dup_windows, 0)::BIGINT AS n_dup_windows,
                     f.n_removed_tokens,
                     (f.n_removed_tokens * 1000000 // f.n_tokens)::BIGINT
                       AS removed_ppm,
                     f.kept_text
              FROM fin f LEFT JOIN dagg a USING (doc_id)"""),

    Q("d_semdedup", (s, d) =>
      // SemDeDup (Abbas et al. 2023): deterministic k-means cells (1 Lloyd
      // iteration, RNG-free seeds) then an order-independent EXISTS flag —
      // a doc is a semantic dup iff an earlier cluster-mate has rounded
      // cosine >= 0.35. Pairwise work stays within cells (O(n^2/k))
      Dedup.semDedup(emb(s, d), col("vec_id"), col("embedding"),
        k = 8, iters = 1, threshold = 0.35),
      kMeansCtes(1) + """,
              fin AS (SELECT vec_id, v, cell AS cluster FROM (
                        SELECT e.vec_id, e.v, c.cell,
                               row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                          c.cell) AS rn
                        FROM e CROSS JOIN c1 c) WHERE rn = 1),
              dup AS (SELECT DISTINCT b.vec_id
                      FROM fin a JOIN fin b
                        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35)
              SELECT f.vec_id AS doc_id, f.cluster,
                     (d.vec_id IS NOT NULL) AS is_semdup
              FROM fin f LEFT JOIN dup d ON f.vec_id = d.vec_id"""),

    Q("a22_join_size_est", (s, d) => {
      // count-min join-cardinality estimate (Cormode & Muthukrishnan §4.2):
      // <fA,fB> per hash row, min over rows — an upper bound computed from
      // two depth*width grids, never joining the base tables; the exact
      // join size rides along for the error columns
      val est = graft.operators.Sketches.joinSizeEstimate(
        li(s, d), col("l_orderkey"), ord(s, d), col("o_orderkey"),
        depth = 4, width = 1024)
      val exact = li(s, d).join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact_join_rows"))
      est.crossJoin(exact)
        .select(col("est_join_rows"), col("exact_join_rows"),
          round((col("est_join_rows") - col("exact_join_rows")).cast("double") /
            col("exact_join_rows"), 6).as("rel_overcount"),
          (col("est_join_rows") >= col("exact_join_rows")).as("no_undercount"))
    },
      """WITH rws AS (SELECT unnest(generate_series(0, 3)) AS r),
              sa AS (SELECT r,
                       ('0x' || substr(md5(r::VARCHAR || ':' || l_orderkey::VARCHAR), 1, 8))::BIGINT
                         % 1024 AS c,
                       count(*)::BIGINT AS cnt
                     FROM lineitem CROSS JOIN rws GROUP BY 1, 2),
              sb AS (SELECT r,
                       ('0x' || substr(md5(r::VARCHAR || ':' || o_orderkey::VARCHAR), 1, 8))::BIGINT
                         % 1024 AS c,
                       count(*)::BIGINT AS cnt
                     FROM orders CROSS JOIN rws GROUP BY 1, 2),
              rowest AS (SELECT sa.r, sum(sa.cnt * sb.cnt)::BIGINT AS row_est
                         FROM sa JOIN sb ON sa.r = sb.r AND sa.c = sb.c GROUP BY 1),
              est AS (SELECT min(row_est)::BIGINT AS est_join_rows FROM rowest),
              ex AS (SELECT count(*)::BIGINT AS exact_join_rows
                     FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
              SELECT est_join_rows, exact_join_rows,
                     round((est_join_rows - exact_join_rows) / exact_join_rows::DOUBLE, 6)
                       AS rel_overcount,
                     est_join_rows >= exact_join_rows AS no_undercount
              FROM est CROSS JOIN ex"""),

    Q("x_url_canon", (s, d) => {
      // crawl URL canonicalization: messy synthetic URLs (case-mixed
      // hosts, www/subdomain prefixes, tracking params, unsorted query,
      // trailing slash) -> canonical page + registered domain; per-domain
      // crawl stats. All pure column expressions inside the scan
      val o = ord(s, d)
      val url = concat(
        lit("https://"),
        when(pmod(col("o_orderkey"), lit(4)) === 0, lit("WWW."))
          .when(pmod(col("o_orderkey"), lit(4)) === 1, lit("www."))
          .when(pmod(col("o_orderkey"), lit(4)) === 2, lit("img."))
          .otherwise(lit("")),
        lit("Shop"), pmod(col("o_custkey"), lit(20)).cast("string"), lit(".COM"),
        lit("/catalog/item"), pmod(col("o_orderkey"), lit(1000)).cast("string"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, lit("/")).otherwise(lit("")),
        lit("?id="), pmod(col("o_orderkey"), lit(100)).cast("string"),
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          lit("&utm_source=feed&utm_campaign=x")).otherwise(lit("")),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit("&ref=home")).otherwise(lit("")),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("&b=2&a=1")).otherwise(lit("")))
      o.select(TextFunctions.canonicalizeUrl(url).as("canon"),
          TextFunctions.registeredDomain(url).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon")).as("n_pages"),
          min(col("canon")).as("first_page"))
    },
      """WITH u AS (SELECT 'https://' ||
                CASE WHEN o_orderkey % 4 = 0 THEN 'WWW.'
                     WHEN o_orderkey % 4 = 1 THEN 'www.'
                     WHEN o_orderkey % 4 = 2 THEN 'img.' ELSE '' END ||
                'Shop' || (o_custkey % 20)::VARCHAR || '.COM' ||
                '/catalog/item' || (o_orderkey % 1000)::VARCHAR ||
                CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END ||
                '?id=' || (o_orderkey % 100)::VARCHAR ||
                CASE WHEN o_orderkey % 3 = 0 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END ||
                CASE WHEN o_orderkey % 5 = 0 THEN '&ref=home' ELSE '' END ||
                CASE WHEN o_orderkey % 7 = 0 THEN '&b=2&a=1' ELSE '' END AS url
              FROM orders),
              p AS (SELECT
                regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                               '^www\.', '') AS host,
                regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                               '/$', '') AS path,
                array_to_string(list_sort(list_filter(
                  string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                  x -> len(x) > 0 AND NOT regexp_matches(x,
                         '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)'))), '&') AS params
              FROM u),
              c AS (SELECT
                'https://' || host || path ||
                  CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canon,
                CASE WHEN len(string_split(host, '.')) >= 2
                     THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                     ELSE host END AS domain
              FROM p)
              SELECT domain, count(*)::BIGINT AS n_urls,
                     count(DISTINCT canon)::BIGINT AS n_pages,
                     min(canon) AS first_page
              FROM c GROUP BY domain"""),

    Q("v_pq_adc", (s, d) =>
      // product-quantization ANN (Jégou 2011): 8 subspaces x 16-entry
      // deterministic codebooks (seed + 1 Lloyd step, euclidean, rounded
      // trajectory), corpus encoded to 8 codes, query answered by ADC —
      // a broadcast 8x16 distance table + one grouped sum. The oracle
      // replays the whole trajectory: training, encoding and ADC
      Similarity.pqAdcTopK(emb(s, d), "vec_id", "embedding",
        queryId = 0L, m = 8, ksub = 16, k = 10),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              sub AS (SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS s
                      FROM e CROSS JOIN (SELECT unnest(range(8)) AS j)),
""" + pqCodebookCtes + s""",
              code AS (SELECT vec_id, j, cell FROM (
                       SELECT sub.vec_id, sub.j, cb.cell,
                              row_number() OVER (PARTITION BY sub.vec_id, sub.j
                                ORDER BY ${sqL2Sql("sub.s", "cb.cen", 8)} ASC,
                                         cb.cell) AS rn
                       FROM sub JOIN cb ON sub.j = cb.j) WHERE rn = 1),
              q AS (SELECT j, s FROM sub WHERE vec_id = 0),
              dt AS (SELECT cb.j, cb.cell, ${sqL2Sql("q.s", "cb.cen", 8)} AS qd
                     FROM cb JOIN q ON cb.j = q.j),
              score AS (SELECT code.vec_id,
                               sum(dt.qd::DECIMAL(18,6))::DOUBLE AS adc_dist
                        FROM code JOIN dt ON code.j = dt.j AND code.cell = dt.cell
                        WHERE code.vec_id <> 0 GROUP BY 1)
              SELECT vec_id AS neighbor_id, adc_dist,
                     (row_number() OVER (ORDER BY adc_dist ASC, vec_id))::INT AS rank
              FROM score QUALIFY rank <= 10"""),

    Q("v_sq8", (s, d) =>
      // SQ8 scalar-quantization ANN (FAISS QT_8bit): per-DIMENSION
      // [min,max] training over the corpus (one hash agg -> a 1-row
      // broadcast; v_quantize_int8 is the per-VECTOR compression cousin),
      // byte encoding and midpoint reconstruction as row-local zip_with
      // folds, asymmetric euclidean vs the full-precision query,
      // TakeOrdered top-10. The oracle replays train/encode/reconstruct/
      // score
      Similarity.sq8TopK(emb(s, d), "vec_id", "embedding",
        queryId = 0L, k = 10),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              x AS (SELECT vec_id, generate_subscripts(v, 1) AS pos,
                           unnest(v) AS x FROM e),
              st AS (SELECT pos, min(x) AS mn, max(x) AS mx,
                            (max(x) - min(x)) / 256.0 AS stp
                     FROM x GROUP BY 1),
              q AS (SELECT pos, x AS qx FROM x WHERE vec_id = 0),
              c AS (SELECT x.vec_id, x.pos,
                      (CASE WHEN st.stp = 0 THEN 0
                            ELSE least(greatest(floor((x.x - st.mn) / st.stp),
                              0), 255) END)::INT AS code
                    FROM x JOIN st USING (pos)),
              r AS (SELECT c.vec_id, c.pos,
                           st.mn + (c.code + 0.5) * st.stp AS recon
                    FROM c JOIN st USING (pos)),
              t AS (SELECT r.vec_id, r.pos,
                           round((r.recon - q.qx) * (r.recon - q.qx), 6) AS term
                    FROM r JOIN q USING (pos) WHERE r.vec_id <> 0),
              sc AS (SELECT vec_id,
                            round(list_reduce(list(term ORDER BY pos),
                              (a, b) -> a + b), 6) AS adc_dist
                     FROM t GROUP BY 1)
              SELECT vec_id AS neighbor_id, adc_dist,
                     (row_number() OVER (ORDER BY adc_dist ASC, vec_id))::INT AS rank
              FROM sc QUALIFY rank <= 10"""),

    Q("v_ivf_pq", (s, d) =>
      // IVF-PQ (FAISS IVFADC): coarse inverted file (8 cells, probe 2)
      // + product quantization of RESIDUALS (8 subspaces x 16 codes) +
      // ADC scoring inside the probed cells only. The oracle replays the
      // ENTIRE pipeline: coarse assignment, residualization, PQ training
      // (seed + one Lloyd step), encoding, per-probe distance tables and
      // the grouped ADC sum
      Similarity.ivfPqTopK(emb(s, d), "vec_id", "embedding",
        queryId = 0L, nlist = 8, nprobe = 2, m = 8, ksub = 16, k = 10),
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              cent AS (SELECT m.cell, e.v AS cen
                       FROM (SELECT vec_id % 8 AS cell, min(vec_id) AS mvid
                             FROM e GROUP BY 1) m
                       JOIN e ON e.vec_id = m.mvid),
              casg AS (SELECT vec_id, v, cell, cen FROM (
                         SELECT e.vec_id, e.v, c.cell, c.cen,
                                row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY ${sqL2Sql("e.v", "c.cen", 64)} ASC,
                                           c.cell) AS rn
                         FROM e CROSS JOIN cent c) WHERE rn = 1),
              res AS (SELECT vec_id, cell AS ccell,
                             list_transform(range(64), i -> round(v[i + 1] - cen[i + 1], 6)) AS r
                      FROM casg),
              sub AS (SELECT vec_id, ccell, j, list_slice(r, j*8 + 1, j*8 + 8) AS s
                      FROM res CROSS JOIN (SELECT unnest(range(8)) AS j)),
              """ + pqCodebookCtes + s""",
              code AS (SELECT vec_id, ccell, j, cell FROM (
                         SELECT sub.vec_id, sub.ccell, sub.j, cb.cell,
                                row_number() OVER (PARTITION BY sub.vec_id, sub.j
                                  ORDER BY ${sqL2Sql("sub.s", "cb.cen", 8)} ASC,
                                           cb.cell) AS rn
                         FROM sub JOIN cb ON sub.j = cb.j) WHERE rn = 1),
              probes AS (SELECT c.cell AS pcell,
                                list_transform(range(64), i -> round(q.v[i + 1] - c.cen[i + 1], 6)) AS qr
                         FROM cent c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q
                         QUALIFY row_number() OVER (
                           ORDER BY ${sqL2Sql("q.v", "c.cen", 64)} ASC, c.cell) <= 2),
              qsub AS (SELECT pcell, j, list_slice(qr, j*8 + 1, j*8 + 8) AS qs
                       FROM probes CROSS JOIN (SELECT unnest(range(8)) AS j)),
              dt AS (SELECT q.pcell, cb.j, cb.cell, ${sqL2Sql("q.qs", "cb.cen", 8)} AS qd
                     FROM cb JOIN qsub q ON cb.j = q.j),
              score AS (SELECT code.vec_id,
                               sum(dt.qd::DECIMAL(18,6))::DOUBLE AS adc_dist
                        FROM code JOIN dt ON code.ccell = dt.pcell
                             AND code.j = dt.j AND code.cell = dt.cell
                        WHERE code.vec_id <> 0 GROUP BY 1)
              SELECT vec_id AS neighbor_id, adc_dist,
                     (row_number() OVER (ORDER BY adc_dist ASC, vec_id))::INT AS rank
              FROM score QUALIFY rank <= 10"""),

    Q("a23_trailing_window", (s, d) => {
      // trailing 90-day revenue per customer: the RANGE-frame window
      // family (frame bounds in event-time days, not rows) — the standard
      // feature-engineering shape; same-day peer rows are excluded by the
      // -1 upper bound on both engines
      val o = ord(s, d).select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      // the SUM is decimal-exact; the FINAL column is DOUBLE on both
      // engines. Decimal final columns are a driver-gate hash hazard
      // (Decimal('0.00') vs float 0.0 canonicalize differently in the
      // gate's two readers — the r8 v_ivf_pq fix was exactly this move);
      // decimal(18,2)->double is correctly rounded and bit-identical in
      // both JVM BigDecimal and DuckDB for unscaled values < 2^53
      Windows.trailingRangeSum(o, Seq(col("o_custkey")), col("od"),
          col("price"), days = 90, outName = "t90")
        .select(col("o_custkey"), col("o_orderkey"), col("od"),
          coalesce(col("t90"), lit(0)).cast("decimal(18,2)")
            .cast("double").as("trailing_90d"))
    },
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate::DATE AS od,
                       o_totalprice::DECIMAL(18,2) AS price FROM orders)
              SELECT a.o_custkey, a.o_orderkey, a.od,
                     coalesce(sum(b.price), 0)::DECIMAL(18,2)::DOUBLE AS trailing_90d
              FROM o a LEFT JOIN o b
                ON a.o_custkey = b.o_custkey
               AND b.od >= a.od - 90 AND b.od <= a.od - 1
              GROUP BY 1, 2, 3"""),

    Q("v_mrl_recall", (s, d) => {
      // matryoshka-style truncation check: top-10 cosine neighbors of one
      // query using only the first 16 dims vs the full 64 — rank-aligned
      // comparison with an agreement flag (the truncation-quality readout)
      val e = emb(s, d)
      val full = Similarity.bruteForceCosineTopK(
        e.filter(col("vec_id") === 0), e, "vec_id", "embedding",
        "vec_id", "embedding", k = 10)
        .select(col("rank"), col("neighbor_id").as("id_full"),
          col("cos").as("cos_full"))
      val trunc = Similarity.bruteForceCosineTopK(
        e.filter(col("vec_id") === 0)
          .select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
        e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("rank"), col("neighbor_id").as("id_trunc"),
          col("cos").as("cos_trunc"))
      full.join(trunc, Seq("rank"))
        .withColumn("agree", col("id_full") === col("id_trunc"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT v FROM e WHERE vec_id = 0),
              fl AS (SELECT e.vec_id AS id_full,
                            round(list_cosine_similarity(q.v, e.v), 6) AS cos_full,
                            (row_number() OVER (ORDER BY
                               round(list_cosine_similarity(q.v, e.v), 6) DESC,
                               e.vec_id))::INT AS rank
                     FROM e CROSS JOIN q WHERE e.vec_id <> 0 QUALIFY rank <= 10),
              tr AS (SELECT e.vec_id AS id_trunc,
                            round(list_cosine_similarity(list_slice(q.v, 1, 16),
                                                         list_slice(e.v, 1, 16)), 6) AS cos_trunc,
                            (row_number() OVER (ORDER BY
                               round(list_cosine_similarity(list_slice(q.v, 1, 16),
                                                            list_slice(e.v, 1, 16)), 6) DESC,
                               e.vec_id))::INT AS rank
                     FROM e CROSS JOIN q WHERE e.vec_id <> 0 QUALIFY rank <= 10)
              SELECT fl.rank, fl.id_full, fl.cos_full, tr.id_trunc, tr.cos_trunc,
                     fl.id_full = tr.id_trunc AS agree
              FROM fl JOIN tr ON fl.rank = tr.rank"""),

    Q("v_hard_negatives", (s, d) => {
      // contrastive-training hard-negative mining: for each anchor
      // (vec_id % 100 = 0), the top-3 most-similar vectors with a
      // DIFFERENT label (label = vec_id % 5) — high-similarity,
      // wrong-class examples; anchors broadcast against the corpus
      val e = emb(s, d)
      val anchors = e.filter(pmod(col("vec_id"), lit(100)) === 0)
      Similarity.hardNegatives(anchors, e,
        "vec_id", "embedding", pmod(col("vec_id"), lit(5)).cast("int"),
        "vec_id", "embedding", pmod(col("vec_id"), lit(5)).cast("int"), k = 3)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT vec_id, v FROM e WHERE vec_id % 100 = 0)
              SELECT query_id, rank, neg_id, neg_label, cos FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neg_id,
                       (e.vec_id % 5)::INT AS neg_label,
                       round(list_cosine_similarity(q.v, e.v), 6) AS cos,
                       (row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                                   e.vec_id))::INT AS rank
                FROM q JOIN e ON q.vec_id <> e.vec_id
                WHERE (q.vec_id % 5) <> (e.vec_id % 5))
              WHERE rank <= 3"""),

    Q("a24_woe_binning", (s, d) => {
      // feature binning + weight-of-evidence encoding: 10 deterministic
      // equi-depth bins over a TOTAL order via the scalable two-pass
      // global rank (see a17_equidepth — no single-partition sort),
      // per-bin event rate and WOE = ln(event_share / nonevent_share)
      // materialize the 4-column projection once: it feeds `tot` AND the
      // global-rank machinery (which detects the already-materialized
      // frame and shares the same blocks across its three actions)
      val l = graft.Mat(graft.Tables.fanOut(
        li(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("decimal(12,2)").as("x"),
          (col("l_returnflag") === "R").cast("long").as("y"))))
      val binned = Windows.equiDepthBin(l, 10,
        "x", Seq(col("l_orderkey"), col("l_linenumber")), "bin")
      // totals are invariant to binning — compute them from the PRE-binned
      // frame so the expensive global-rank window runs once, not twice
      val tot = l.agg(sum(col("y")).as("tot_ev"), count(lit(1)).as("tot_n"))
      // lo/hi: decimal-exact min/max, DOUBLE in the final projection
      // (decimal final columns are a driver-gate hash hazard; see a23)
      binned.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_event"),
          min(col("x")).cast("double").as("lo"),
          max(col("x")).cast("double").as("hi"))
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("n_event"), col("lo"), col("hi"),
          round(log(
            (col("n_event").cast("double") / col("tot_ev").cast("double")) /
            ((col("n") - col("n_event")).cast("double") /
             (col("tot_n") - col("tot_ev")).cast("double"))), 6).as("woe"))
    },
      """WITH l AS (SELECT l_orderkey, l_linenumber,
                       l_extendedprice::DECIMAL(12,2) AS x,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                FROM lineitem),
              b AS (SELECT x, y, (ntile(10) OVER
                      (ORDER BY x, l_orderkey, l_linenumber))::INT AS bin FROM l),
              t AS (SELECT sum(y)::BIGINT AS tot_ev, count(*)::BIGINT AS tot_n FROM b),
              g AS (SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_event,
                           min(x)::DOUBLE AS lo, max(x)::DOUBLE AS hi FROM b GROUP BY 1)
              SELECT bin, n, n_event, lo, hi,
                     round(ln((n_event::DOUBLE / tot_ev::DOUBLE) /
                              ((n - n_event)::DOUBLE / (tot_n - tot_ev)::DOUBLE)), 6) AS woe
              FROM g CROSS JOIN t"""),

    Q("a25_target_encoding", (s, d) => {
      // leakage-safe target encoding: per-category out-of-fold target
      // mean — the row's own fold is EXCLUDED from its encoding
      // ((cat_total - fold_total) / (cat_n - fold_n)); folds are
      // deterministic (orderkey % 5). Two hash aggs + one equi join
      val l = li(s, d).select(
        concat(col("l_linestatus"), lit("-"), pmod(col("l_partkey"), lit(8))).as("cat"),
        pmod(col("l_orderkey"), lit(5)).as("fold"),
        (col("l_returnflag") === "R").cast("long").as("y"))
      val perFold = l.groupBy(col("cat"), col("fold"))
        .agg(sum(col("y")).as("f_ev"), count(lit(1)).as("f_n"))
      val perCat = perFold.groupBy(col("cat"))
        .agg(sum(col("f_ev")).as("c_ev"), sum(col("f_n")).as("c_n"))
      perFold.join(perCat, Seq("cat"))
        .select(col("cat"), col("fold"),
          round((col("c_ev") - col("f_ev")).cast("double") /
                (col("c_n") - col("f_n")).cast("double"), 6).as("oof_target_mean"),
          col("f_n").as("fold_rows"))
    },
      """WITH l AS (SELECT l_linestatus || '-' || (l_partkey % 8)::VARCHAR AS cat,
                       l_orderkey % 5 AS fold,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                FROM lineitem),
              pf AS (SELECT cat, fold, sum(y)::BIGINT AS f_ev, count(*)::BIGINT AS f_n
                     FROM l GROUP BY 1, 2),
              pc AS (SELECT cat, sum(f_ev)::BIGINT AS c_ev, sum(f_n)::BIGINT AS c_n
                     FROM pf GROUP BY 1)
              SELECT pf.cat, pf.fold,
                     round((c_ev - f_ev)::DOUBLE / (c_n - f_n)::DOUBLE, 6) AS oof_target_mean,
                     f_n AS fold_rows
              FROM pf JOIN pc ON pf.cat = pc.cat"""),

    Q("s16_partitioned_scan", (s, d) => {
      // hive-style partitioned layout + PARTITION PRUNING: write the
      // docs partitionBy(source), then scan with a source filter — the
      // filter must resolve at PLANNING time against directory names
      // (PartitionFilters, zero data files of other sources touched;
      // plan-guarded in PlanQualitySpec). The oracle computes the same
      // aggregate from the original parquet, so layout round-trip
      // fidelity is value-proven too
      val tag  = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_part_$tag"
      doc(s, d).write.mode("overwrite").partitionBy("source").parquet(base)
      s.read.parquet(base)
        .filter(col("source").isin("src1", "src2", "src3"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"))
    },
      """SELECT source, count(*)::BIGINT AS n_docs,
                sum(n_chars)::BIGINT AS n_chars,
                count(DISTINCT lang)::BIGINT AS n_langs
              FROM documents
              WHERE source IN ('src1', 'src2', 'src3')
              GROUP BY 1"""),

    Q("s17_column_stats", (s, d) => {
      // ANALYZE-style table statistics in ONE scan: per profiled column
      // the exact NDV, null fraction, and min/max — the CBO-feeding
      // stats collection every engine ships. count(DISTINCT a), ...,
      // count(DISTINCT b) in a single aggregate expands to Spark's
      // multi-distinct EXPAND plan (one pass over the data, one
      // row-multiplying projection — the standard shape); output is
      // unpivoted to one row per column
      val l = li(s, d)
      val stats = l.agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("ndv_ok"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("nn_ok"),
        min(col("l_orderkey")).cast("double").as("min_ok"),
        max(col("l_orderkey")).cast("double").as("max_ok"),
        countDistinct(col("l_quantity")).as("ndv_qty"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("nn_qty"),
        min(col("l_quantity")).cast("double").as("min_qty"),
        max(col("l_quantity")).cast("double").as("max_qty"),
        countDistinct(col("l_returnflag")).as("ndv_rf"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("nn_rf"))
      stats.select(explode(array(
        struct(lit("l_orderkey").as("column"), col("n"),
          col("ndv_ok").as("ndv"), col("nn_ok").as("n_nulls"),
          col("min_ok").as("min_val"), col("max_ok").as("max_val")),
        struct(lit("l_quantity").as("column"), col("n"),
          col("ndv_qty").as("ndv"), col("nn_qty").as("n_nulls"),
          col("min_qty").as("min_val"), col("max_qty").as("max_val")),
        struct(lit("l_returnflag").as("column"), col("n"),
          col("ndv_rf").as("ndv"), col("nn_rf").as("n_nulls"),
          lit(null).cast("double").as("min_val"),
          lit(null).cast("double").as("max_val")))).as("r"))
        .select(col("r.column").as("column"), col("r.n").as("n_rows"),
          col("r.ndv").as("ndv"), col("r.n_nulls").as("n_nulls"),
          col("r.min_val").as("min_val"), col("r.max_val").as("max_val"))
    },
      """WITH a AS (SELECT count(*)::BIGINT AS n,
                count(DISTINCT l_orderkey)::BIGINT AS ndv_ok,
                sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_ok,
                min(l_orderkey)::DOUBLE AS min_ok, max(l_orderkey)::DOUBLE AS max_ok,
                count(DISTINCT l_quantity)::BIGINT AS ndv_qty,
                sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_qty,
                min(l_quantity)::DOUBLE AS min_qty, max(l_quantity)::DOUBLE AS max_qty,
                count(DISTINCT l_returnflag)::BIGINT AS ndv_rf,
                sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_rf
              FROM lineitem)
              SELECT 'l_orderkey' AS column, n AS n_rows, ndv_ok AS ndv,
                     nn_ok AS n_nulls, min_ok AS min_val, max_ok AS max_val FROM a
              UNION ALL
              SELECT 'l_quantity', n, ndv_qty, nn_qty, min_qty, max_qty FROM a
              UNION ALL
              SELECT 'l_returnflag', n, ndv_rf, nn_rf, NULL, NULL FROM a"""),

    Q("s18_compaction_plan", (s, d) => {
      // small-file compaction planner (the OPTIMIZE posture): a synthetic
      // file inventory — one row per (ship-month partition, orderkey-mod
      // file) with an exact-integer size — is binned by deterministic
      // greedy accumulation in listing order (bin = cum-size-before div
      // target), one row per planned rewrite task. Metadata-scale end to
      // end: the planner reads listings, never data files
      val inv = li(s, d).groupBy(
        substring(col("l_shipdate").cast("string"), 1, 7).as("part"),
        pmod(col("l_orderkey"), lit(199)).cast("int").as("file"))
        .agg(sum(col("l_quantity").cast("long") * 7 +
          col("l_linenumber")).as("size_bytes"))
      graft.operators.Maintenance.compactionPlan(inv,
        col("part"), col("file"), col("size_bytes"), targetBytes = 32768L)
    },
      """WITH inv AS (SELECT substr(l_shipdate::VARCHAR, 1, 7) AS part,
                       (l_orderkey % 199)::INT AS file,
                       sum(l_quantity::BIGINT * 7 + l_linenumber)::BIGINT AS size_bytes
                     FROM lineitem GROUP BY 1, 2),
              cum AS (SELECT part, file, size_bytes,
                        coalesce(sum(size_bytes) OVER (PARTITION BY part ORDER BY file
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                      FROM inv)
              SELECT part, (cb // 32768)::BIGINT AS bin, count(*)::BIGINT AS n_files,
                     sum(size_bytes)::BIGINT AS total_bytes,
                     min(file) AS file_from, max(file) AS file_to
              FROM cum GROUP BY 1, 2"""),

    Q("s19_snapshot_diff", (s, d) => {
      // table-snapshot diff (the lakehouse version-compare / audit job):
      // two simulated versions of orders — v1 drops key%50=0 rows, v2
      // drops key%70=0 rows and bumps the status of key%13=0 rows — are
      // reconciled by ONE full-outer join on the natural key with direct
      // column comparison, then rolled up to a per-status report
      // (added / removed / changed / unchanged with key ranges). At
      // 100 TB both sides shuffle once on the same key; nothing is
      // collected and the report is 4 rows
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"))
      val v1 = o.filter(pmod(col("o_orderkey"), lit(50)) =!= 0)
      val v2 = o.filter(pmod(col("o_orderkey"), lit(70)) =!= 0)
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(13)) === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val j = v1.alias("a").join(v2.alias("b"),
        col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
      j.withColumn("status",
        when(col("a.o_orderkey").isNull, "added")
          .when(col("b.o_orderkey").isNull, "removed")
          .when(col("a.o_custkey") =!= col("b.o_custkey") ||
            col("a.o_orderstatus") =!= col("b.o_orderstatus"), "changed")
          .otherwise("unchanged"))
        .withColumn("key", coalesce(col("a.o_orderkey"), col("b.o_orderkey")))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("key")).as("key_min"), max(col("key")).as("key_max"))
    },
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
              v1 AS (SELECT * FROM o WHERE o_orderkey % 50 <> 0),
              v2 AS (SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                            ELSE o_orderstatus END AS o_orderstatus
                     FROM o WHERE o_orderkey % 70 <> 0),
              j AS (SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
                           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                                WHEN b.o_orderkey IS NULL THEN 'removed'
                                WHEN a.o_custkey <> b.o_custkey
                                  OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                                ELSE 'unchanged' END AS status
                    FROM v1 a FULL OUTER JOIN v2 b USING (o_orderkey))
              SELECT status, count(*)::BIGINT AS n_rows,
                     min(coalesce(ka, kb)) AS key_min,
                     max(coalesce(ka, kb)) AS key_max
              FROM j GROUP BY 1"""),

    Q("s20_zonemap_prune", (s, d) => {
      // zone-map data-skipping report: per-"file" [min,max] maps
      // (file = 4096-orderkey range, the layout a write-sorted table
      // would have) probed by range predicates. The orderkey map prunes
      // hard; the SAME layout mapped on the uncorrelated price column
      // prunes ~nothing — the clustered-vs-unclustered lesson the
      // planner step makes visible before paying for a re-sort
      import graft.operators.Maintenance
      val fid = expr("l_orderkey div 4096")
      zoneProbes.map { case (c, preds) =>
        Maintenance.zoneMapPrune(li(s, d), fid, col(c), preds).withColumn("zone_col", lit(c))
      }.reduce(_ unionByName _)
    }, zoneMapOracle),

    Q("s21_mv_rewrite", (s, d) => {
      // materialized-view matching (plans/MvRewrite.scala): build a
      // (returnflag, linestatus) summary of lineitem, register it, then
      // run a REPORT WRITTEN AGAINST THE BASE TABLE — the optimizer rule
      // must swap the fact scan for the summary scan and decompose
      // sum/count/min/max/avg onto the partials. At 100 TB this is the
      // difference between re-scanning the fact table per report and
      // reading a KB-sized rollup. Plan-guarded: the query raises if the
      // rewrite didn't fire, so a green row proves both the swap and the
      // answer. Exactness: l_quantity is integer-valued (1..50), so the
      // double partial sums are exact and re-aggregation is
      // order-independent; avg = exact sum / exact count.
      import graft.plans.{MvDef, MvRegistry}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val mvPath = s"/tmp/graft_mv/${d.replaceAll("[^A-Za-z0-9]", "_")}_li_rf_ls"
      li(s, d).groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"), count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(mvPath)
      val sRel = s.read.parquet(mvPath).queryExecution.analyzed
        .collectFirst { case r: LogicalRelation => r }.get
      MvRegistry.register(MvDef(
        baseTag = "lineitem.parquet",
        dims = Set("l_returnflag", "l_linestatus"),
        sumOf = Map("l_quantity" -> "sum_qty"),
        minOf = Map("l_quantity" -> "min_qty"),
        maxOf = Map("l_quantity" -> "max_qty"),
        countCol = "cnt", summary = sRel))
      val report = li(s, d)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
      val scanned = report.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case o => o.toString
        }
      }.mkString("\n")
      MvRegistry.clear() // never leak the MV into other queries' plans
      require(scanned.contains(mvPath) && !scanned.contains("lineitem.parquet"),
        s"MV rewrite did not fire; scans:\n$scanned")
      report
    },
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                     count(*)::BIGINT AS n,
                     min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                     round(avg(l_quantity), 6) AS avg_qty
              FROM lineitem WHERE l_linestatus = 'F'
              GROUP BY 1"""),

    Q("a45_benford", (s, d) =>
      // Benford's-law first-digit audit over order amounts — the
      // data-quality / fraud screen: observed leading-digit shares vs
      // the log10(1 + 1/d) expectation, deviation per digit. One hash
      // aggregate over the scan; 9-row output
      li(s, d)
        .filter(col("l_extendedprice") > 0)
        .withColumn("digit",
          substring(floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
            .cast("int"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()), 6))
        .withColumn("expected", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
        .withColumn("dev", round(col("share") - col("expected"), 6))
        .select(col("digit"), col("n"), col("share"), col("expected"), col("dev")),
      """WITH d0 AS (SELECT substr(floor(l_extendedprice)::BIGINT::VARCHAR, 1, 1)::INT
                       AS digit
                     FROM lineitem WHERE l_extendedprice > 0),
              c AS (SELECT digit, count(*)::BIGINT AS n FROM d0 GROUP BY 1)
              SELECT digit, n,
                     round(n / (sum(n) OVER ())::DOUBLE, 6) AS share,
                     round(log10(1.0 + 1.0 / digit), 6) AS expected,
                     round(round(n / (sum(n) OVER ())::DOUBLE, 6)
                           - round(log10(1.0 + 1.0 / digit), 6), 6) AS dev
              FROM c"""),

    Q("a47_hll_merge", (s, d) => {
      // mergeable-sketch architecture check (the 100 TB distinct-count
      // pattern: per-shard HLL sketches, union at read time, never a
      // corpus-wide exact distinct): 8 key-ranged shards each build a
      // Datasketches HLL over customers, the union's estimate must
      // EQUAL the single whole-corpus sketch's (HLL union is exact on
      // register state) and land within 5% of the exact count. The
      // estimates themselves are not oracle-portable, so the projection
      // carries the exact count + the two contract booleans
      val o = ord(s, d)
      // the portable identity is LAYOUT INDEPENDENCE: the same key set
      // sharded two different ways must union to the same estimate
      // (register state is max-per-register, so any disjoint sharding
      // yields identical unions; a union reads out via the composite
      // estimator while a single un-unioned sketch reads out via HIP,
      // so union-vs-direct equality is NOT a sketch contract)
      def shardedEst(k: Int): DataFrame = o
        .withColumn("shard", pmod(col("o_orderkey"), lit(k)))
        .groupBy(col("shard"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as(s"est_$k"),
          count(lit(1)).as(s"n_shards_$k"))
      val exact = o.agg(countDistinct(col("o_custkey")).as("exact_nd"))
      shardedEst(8).crossJoin(shardedEst(2)).crossJoin(exact).select(
        col("n_shards_8").as("n_shards"), col("exact_nd"),
        (col("est_8") === col("est_2")).as("merge_consistent"),
        (abs(col("est_8").cast("double") - col("exact_nd")) * 100 <=
          col("exact_nd") * 5).as("within_5pct"))
    },
      """SELECT 8::BIGINT AS n_shards,
                     count(DISTINCT o_custkey)::BIGINT AS exact_nd,
                     true AS merge_consistent, true AS within_5pct
              FROM orders"""),

    Q("a46_ewma_anomaly", (s, d) =>
      // EWMA drift monitor over per-type daily event volume: alpha=1/2
      // makes the whole trajectory exact integer arithmetic (power-of-two
      // weights, DECIMAL/HUGEINT scaled levels, cross-multiplied anomaly
      // gates vs the previous smoothed level) — no pow(), no float
      // boundary. One corpus hash agg; the series frame is calendar-
      // bounded (5 types x 30 days)
      graft.operators.Stats.ewmaAnomalies(ev(s, d),
        col("event_type"), col("ts"))
        .withColumnRenamed("grp", "event_type"),
      """WITH daily AS (SELECT event_type, ts::DATE AS day,
                       count(*)::BIGINT AS n
                     FROM events GROUP BY 1, 2),
              idx AS (SELECT *, (row_number() OVER (PARTITION BY event_type
                       ORDER BY day) - 1)::INT AS j FROM daily),
              pw AS (SELECT i::INT AS i,
                       (CASE WHEN i < 46 THEN (1::BIGINT << i::INT)::HUGEINT
                             ELSE (1::BIGINT << (i::INT - 45))::HUGEINT
                                  * (1::BIGINT << 45)::HUGEINT END) AS p
                     FROM range(0, 91) r(i)),
              w AS (SELECT idx.*, idx.n::HUGEINT * pa.p AS wgt, pj.p AS pj
                    FROM idx JOIN pw pa ON pa.i = greatest(idx.j - 1, 0)
                             JOIN pw pj ON pj.i = idx.j),
              s AS (SELECT *, sum(wgt) OVER (PARTITION BY event_type
                      ORDER BY j ROWS UNBOUNDED PRECEDING) AS sp FROM w)
              SELECT event_type, day, n, j,
                     round(sp::DOUBLE / pj::DOUBLE, 6) AS ewma,
                     CASE WHEN j > 0 AND n::HUGEINT * pj > 3 * (sp - wgt)
                          THEN 1 ELSE 0 END AS flag_high,
                     CASE WHEN j > 0 AND n::HUGEINT * pj < (sp - wgt)
                          THEN 1 ELSE 0 END AS flag_low
              FROM s"""),

    Q("s12_format_roundtrip", (s, d) => {
      // JSONL + ORC sink/source fidelity: parquet -> write JSONL -> read
      // with an explicit schema -> write ORC -> read -> aggregate. The
      // oracle computes the same aggregate from the ORIGINAL parquet, so
      // any value lost or mangled by either format round-trip (timestamp
      // precision, double round-trip, null handling) breaks the hash.
      // No JSON/ORC parsing in the oracle engine — fidelity is proven by
      // value equality, not by a second parser agreeing.
      val tag  = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_fmt_$tag"
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      o.write.mode("overwrite").json(s"$base/json")
      val fromJson = s.read.schema(o.schema).json(s"$base/json")
      fromJson.write.mode("overwrite").orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double").as("total"),
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderkey")).as("max_key"))
    },
      """SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice::DECIMAL(12,2)), 2)::DOUBLE AS total,
              min(o_orderdate) AS first_date, max(o_orderkey) AS max_key
              FROM orders GROUP BY 1"""),

    Q("s15_xml_roundtrip", (s, d) => {
      // XML sink/source fidelity (Spark 4 built-in XML data source):
      // parquet -> write XML rows -> read with an explicit schema ->
      // aggregate. Same engine-free oracle pattern as s12: the oracle
      // computes the aggregate from the ORIGINAL parquet, so any value
      // the XML round-trip mangles (escaping, whitespace, number
      // formatting, date rendering) breaks the hash. Dates ride as
      // strings: XML has no date type, so the contract makes the
      // serialization explicit instead of trusting format inference.
      val tag  = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_xml_$tag"
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").cast("string").as("price_s"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od_s"))
      o.write.mode("overwrite").option("rootTag", "orders").option("rowTag", "row")
        .format("xml").save(s"$base/xml")
      s.read.schema(o.schema).option("rowTag", "row").format("xml").load(s"$base/xml")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price_s").cast("decimal(12,2)")), 2)
            .cast("double").as("total"),
          min(col("od_s")).as("first_date"),
          max(col("o_orderkey")).as("max_key"))
    },
      """SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice::DECIMAL(12,2)), 2)::DOUBLE AS total,
              min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
              max(o_orderkey) AS max_key
              FROM orders GROUP BY 1"""),

    Q("s14_schema_merge", (s, d) => {
      // schema-evolution read: two parquet batches written with DIFFERENT
      // schemas (a column added mid-stream), read back as one frame via
      // mergeSchema — rows from the old batch surface the new column as
      // null. Oracle is engine-free: the same frame derived from the
      // original table, no parquet re-parse in the oracle engine
      val tag  = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_sm_$tag"
      val o = ord(s, d)
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").parquet(s"$base/b1")
      o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/b2")
      s.read.option("mergeSchema", "true").parquet(s"$base/b1", s"$base/b2")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 2 = 0 THEN NULL
                          ELSE o_totalprice END AS o_totalprice
              FROM orders"""),

    Q("s13_cdc_apply", (s, d) => {
      // MERGE INTO without a table format: a synthetic changelog off
      // orders (key = custkey, seq = orderkey, every 13th change a
      // tombstone, payload = new balance) applied to the customer base.
      // Latest change per key wins; D drops the key; untouched base rows
      // pass through. The window runs over the LOG (change volume), the
      // base is touched by ONE anti join — the 100 TB snapshot-maintenance
      // shape
      val log = ord(s, d).select(col("o_custkey"), col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(13)) === 0, "D").otherwise("U").as("op"),
        col("o_totalprice"))
      graft.operators.Cdc.applyChangelog(
        cst(s, d).select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
        log, "c_custkey",
        col("o_custkey"), col("o_orderkey"), col("op"),
        Seq("c_acctbal" -> col("o_totalprice")))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    },
      """WITH log AS (SELECT o_custkey AS k, o_orderkey AS seq,
                       CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
                       o_totalprice AS val FROM orders),
              latest AS (SELECT k, op, val FROM (
                           SELECT k, op, val,
                                  row_number() OVER (PARTITION BY k
                                    ORDER BY seq DESC) AS rn
                           FROM log) WHERE rn = 1)
              SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = c.c_custkey)
              UNION ALL
              SELECT k AS c_custkey, NULL::INT AS c_nationkey, val AS c_acctbal
              FROM latest WHERE op <> 'D'"""),

    Q("a26_expectations", (s, d) => {
      // declarative data-quality suite (the reference's scattered audit
      // queries as ONE compiled check set): 4 row-level predicates fold
      // into a SINGLE aggregate scan (sum(when) each, map-side partials),
      // plus one groupBy for uniqueness and one anti join for referential
      // integrity. Violation = predicate false OR null.
      import graft.operators.Expectations._
      run(li(s, d), Seq(
        notNull("li_orderkey_not_null", "l_orderkey"),
        inRange("li_discount_in_range", "l_discount", 0.0, 0.08),
        inSet("li_returnflag_domain", "l_returnflag", Seq("A", "N", "R")),
        matches("li_linestatus_format", "l_linestatus", "^[OF]$"),
        Unique("li_line_unique", Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("li_orders_fk", Seq("l_orderkey"), ord(s, d), Seq("o_orderkey"))))
    },
      """SELECT 'li_orderkey_not_null' AS check_name, 'not_null' AS kind,
                     count(*) FILTER (WHERE l_orderkey IS NULL)::BIGINT AS violations,
                     count(*) FILTER (WHERE l_orderkey IS NULL) = 0 AS pass
              FROM lineitem
              UNION ALL
              SELECT 'li_discount_in_range', 'range',
                     count(*) FILTER (WHERE NOT coalesce(l_discount BETWEEN 0.0 AND 0.08, false))::BIGINT,
                     count(*) FILTER (WHERE NOT coalesce(l_discount BETWEEN 0.0 AND 0.08, false)) = 0
              FROM lineitem
              UNION ALL
              SELECT 'li_returnflag_domain', 'set',
                     count(*) FILTER (WHERE NOT coalesce(l_returnflag IN ('A','N','R'), false))::BIGINT,
                     count(*) FILTER (WHERE NOT coalesce(l_returnflag IN ('A','N','R'), false)) = 0
              FROM lineitem
              UNION ALL
              SELECT 'li_linestatus_format', 'regex',
                     count(*) FILTER (WHERE NOT coalesce(regexp_matches(l_linestatus, '^[OF]$'), false))::BIGINT,
                     count(*) FILTER (WHERE NOT coalesce(regexp_matches(l_linestatus, '^[OF]$'), false)) = 0
              FROM lineitem
              UNION ALL
              SELECT 'li_line_unique', 'unique',
                     coalesce(sum(cnt - 1), 0)::BIGINT,
                     coalesce(sum(cnt - 1), 0) = 0
              FROM (SELECT count(*) AS cnt FROM lineitem
                    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
              UNION ALL
              SELECT 'li_orders_fk', 'ref', count(*)::BIGINT, count(*) = 0
              FROM lineitem l
              WHERE l_orderkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"""),

    Q("x_sentence_split", (s, d) =>
      // sentence segmentation WITHOUT lookbehind (RE2-safe, so any engine
      // tokenizes identically): chunks of non-terminators plus their
      // trailing [.!?] run, whitespace-only chunks dropped. Entirely
      // row-local — no explode, no shuffle; per-doc stats fold inside
      // the row (the chunking pass a sentence-level dedup or packing
      // stage would reuse)
      doc(s, d)
        .withColumn("sents", filter(
          regexp_extract_all(col("text"), lit("[^.!?]+[.!?]*"), lit(0)),
          x => length(trim(x)) > 0))
        .filter(size(col("sents")) > 0)
        .select(col("doc_id"),
          size(col("sents")).as("n_sent"),
          aggregate(transform(col("sents"),
            x => size(split(trim(x), "\\s+"))), lit(0), (a, x) => a + x)
            .as("total_words"),
          array_max(transform(col("sents"), x => length(trim(x))))
            .as("max_sent_chars"))
        .withColumn("avg_words",
          round(col("total_words").cast("double") / col("n_sent"), 6)),
      """WITH s0 AS (SELECT doc_id,
                list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'),
                            x -> length(trim(x)) > 0) AS sents
              FROM documents),
              s1 AS (SELECT doc_id, len(sents)::INT AS n_sent,
                       list_sum(list_transform(sents,
                         x -> len(string_split_regex(trim(x), '\s+'))))::INT AS total_words,
                       list_max(list_transform(sents, x -> length(trim(x))))::INT
                         AS max_sent_chars
                     FROM s0 WHERE len(sents) > 0)
              SELECT doc_id, n_sent, total_words, max_sent_chars,
                     round(total_words::DOUBLE / n_sent, 6) AS avg_words
              FROM s1"""),

    Q("x_feature_hash", (s, d) =>
      // hashing-trick featurization (Weinberger 2009): token -> md5
      // bucket in [0,64), sign from the next hash bit; per-doc sparse
      // feature entries (row count bounded by docs x 64). Exact integer
      // hashing — RNG-free, any engine
      // reproduces the features bit-for-bit
      doc(s, d).select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .withColumn("h", Dedup.md5Int(col("w")))
        .withColumn("idx", pmod(col("h"), lit(64)))
        .withColumn("sgn", when(pmod(floor(col("h") / 64), lit(2)) === 0, 1)
          .otherwise(-1))
        .groupBy(col("doc_id"), col("idx"))
        .agg(sum(col("sgn")).as("val"), count(lit(1)).as("n_toks")),
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
              h AS (SELECT doc_id,
                      ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM toks),
              f AS (SELECT doc_id, h % 64 AS idx,
                      CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
                    FROM h)
              SELECT doc_id, idx, sum(sgn)::BIGINT AS val, count(*)::BIGINT AS n_toks
              FROM f GROUP BY 1, 2"""),

    Q("d_incremental_dedup", (s, d) => {
      // incremental (daily-batch) dedup: docs with doc_id % 10 = 0 are
      // the "new batch", the rest the standing corpus; each new doc is
      // flagged exact (fingerprint in corpus) and near (df-capped
      // trigram Jaccard >= 0.1 vs ANY corpus doc). Within-batch dups are
      // deliberately not flagged — that is the batch-local exactDedup
      val docs = doc(s, d)
      val newB = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corp = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      Dedup.incrementalDedup(newB, corp, col("doc_id"), col("text"),
        n = 3, threshold = 0.1, maxDf = Some(50))
    },
      batchFingerprintCtes + """,
              ex AS (SELECT doc_id FROM nfp WHERE fp IN (SELECT fp FROM cfp)),
              shn0 AS (SELECT doc_id,
                        unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                              for i in generate_series(1, len(w) - 2)])) AS s
                       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                             FROM newb) WHERE len(w) >= 3),
              shc0 AS (SELECT doc_id AS c_id,
                        unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                              for i in generate_series(1, len(w) - 2)])) AS s
                       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                             FROM corp) WHERE len(w) >= 3),
              hot AS (SELECT s FROM shc0 GROUP BY s HAVING count(*) > 50),
              shn AS (SELECT * FROM shn0 WHERE s NOT IN (SELECT s FROM hot)),
              shc AS (SELECT * FROM shc0 WHERE s NOT IN (SELECT s FROM hot)),
              sn AS (SELECT doc_id, count(*)::BIGINT AS n_a FROM shn GROUP BY 1),
              sc AS (SELECT c_id, count(*)::BIGINT AS n_b FROM shc GROUP BY 1),
              pairs AS (SELECT shn.doc_id, shc.c_id, count(*)::BIGINT AS n_common
                        FROM shn JOIN shc ON shn.s = shc.s
                        GROUP BY 1, 2),
              nr AS (SELECT DISTINCT p.doc_id
                     FROM pairs p
                     JOIN sn ON sn.doc_id = p.doc_id
                     JOIN sc ON sc.c_id = p.c_id
                     WHERE round(p.n_common::DOUBLE /
                                 (sn.n_a + sc.n_b - p.n_common), 6) >= 0.1)
              SELECT n.doc_id,
                     (e.doc_id IS NOT NULL) AS is_exact_dup,
                     (r.doc_id IS NOT NULL) AS is_near_dup,
                     CASE WHEN e.doc_id IS NOT NULL OR r.doc_id IS NOT NULL
                          THEN 'drop' ELSE 'keep' END AS verdict
              FROM nfp n
              LEFT JOIN ex e ON n.doc_id = e.doc_id
              LEFT JOIN nr r ON n.doc_id = r.doc_id"""),

    Q("d_bloom_dedup", (s, d) => {
      // bloom-filter pre-screen for the d_incremental_dedup ingest shape
      // (same batch/corpus split): the corpus's fingerprint bloom filter
      // lives as a frame of set bit positions (m = 2^18, k = 3,
      // md5-derived — engine-replayable), each batch doc probes its 3
      // positions with one equi join, and the report scores the filter
      // against exact membership (false-positive rate at this fill)
      val docs = doc(s, d)
      graft.operators.Dedup.bloomDedupReport(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        col("doc_id"), col("text"), mBits = 1 << 18, k = 3)
    },
      batchFingerprintCtes + """,
              bits AS (SELECT DISTINCT
                         ('0x' || substr(md5(fp || ':' || i::VARCHAR), 1, 8))::BIGINT
                           % 262144 AS pos
                       FROM cfp, generate_series(0, 2) g(i)),
              probes AS (SELECT doc_id, fp,
                           ('0x' || substr(md5(fp || ':' || i::VARCHAR), 1, 8))::BIGINT
                             % 262144 AS pos
                         FROM nfp, generate_series(0, 2) g(i)),
              per AS (SELECT doc_id, fp,
                        (sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = 3)
                          AS bloom_hit
                      FROM probes p LEFT JOIN bits b USING (pos)
                      GROUP BY 1, 2),
              agg AS (SELECT count(*)::BIGINT AS n_batch,
                        sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)::BIGINT AS n_bloom_hit,
                        sum(CASE WHEN fp IN (SELECT fp FROM cfp) THEN 1 ELSE 0 END)::BIGINT
                          AS n_exact_dup
                      FROM per),
              bc AS (SELECT count(*)::BIGINT AS n_bits_set FROM bits)
              SELECT n_batch, n_bloom_hit, n_exact_dup,
                     (n_bloom_hit - n_exact_dup)::BIGINT AS n_false_pos,
                     CASE WHEN n_batch = n_exact_dup THEN NULL
                          ELSE round((n_bloom_hit - n_exact_dup)
                                     / (n_batch - n_exact_dup)::DOUBLE, 6) END AS fp_rate,
                     n_bits_set,
                     round(n_bits_set / 262144.0, 6) AS fill_ratio
              FROM agg, bc"""),

    Q("d_lsh_tuning", (s, d) => {
      // MinHash-LSH parameter planner: for each (bands, rows) split of a
      // 128-permutation signature, the collision S-curve
      // p(s) = 1 - (1 - s^r)^b gives the 50% threshold (1/b)^(1/r) and
      // midpoint-rule integrals of the false-positive mass below the
      // target similarity 0.8 and the false-negative mass above it —
      // the closed-form sweep that picks (b, r) BEFORE paying for a
      // corpus-scale near-dup run. Pure math over a 5x100 grid
      // (metadata-scale); every term is rounded at 9 so both engines
      // sum identical series
      val s2 = s
      import s2.implicits._
      val cands = Seq((64, 2), (32, 4), (16, 8), (8, 16), (4, 32))
        .toDF("bands", "rows_per_band")
      val t = 0.8
      val grid = cands.withColumn("i", explode(sequence(lit(0), lit(99))))
        .withColumn("s", (col("i") + 0.5) / 100.0)
        .withColumn("p", round(lit(1.0) - pow(lit(1.0) -
          pow(col("s"), col("rows_per_band")), col("bands")), 9))
      grid.groupBy(col("bands"), col("rows_per_band"))
        .agg(
          round(sum(when(col("s") < t, col("p")).otherwise(0.0)) / 100.0, 6)
            .as("fp_area"),
          round(sum(when(col("s") >= t, lit(1.0) - col("p")).otherwise(0.0)) / 100.0, 6)
            .as("fn_area"))
        .withColumn("thr50", round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 6))
        .withColumn("total_err", round(col("fp_area") + col("fn_area"), 6))
    },
      """WITH c AS (SELECT unnest([64, 32, 16, 8, 4]) AS bands,
                       unnest([2, 4, 8, 16, 32]) AS rows_per_band),
              g AS (SELECT bands, rows_per_band,
                      unnest(generate_series(0, 99)) AS i FROM c),
              p0 AS (SELECT bands, rows_per_band, (i + 0.5) / 100.0 AS s,
                       round(1.0 - pow(1.0 - pow((i + 0.5) / 100.0,
                         rows_per_band), bands), 9) AS p
                     FROM g)
              SELECT bands, rows_per_band,
                     round(sum(CASE WHEN s < 0.8 THEN p ELSE 0 END) / 100.0, 6)
                       AS fp_area,
                     round(sum(CASE WHEN s >= 0.8 THEN 1.0 - p ELSE 0 END) / 100.0, 6)
                       AS fn_area,
                     round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS thr50,
                     round(round(sum(CASE WHEN s < 0.8 THEN p ELSE 0 END) / 100.0, 6)
                           + round(sum(CASE WHEN s >= 0.8 THEN 1.0 - p ELSE 0 END) / 100.0, 6), 6)
                       AS total_err
              FROM p0 GROUP BY 1, 2"""),

    Q("x_quality_classifier", (s, d) =>
      // fastText-style hashed linear classifier inference (bag of
      // unigram+bigram features, hash-derived weight table, mean +
      // sigmoid) — the exported-model serving path, fully row-local
      // (HOF fold; no explode, no shuffle, no weight-table join).
      // Weight sum stays in exact integer millis; only the final
      // sigmoid touches floats (round-6 guards libm ulp drift, the
      // a24 ln precedent)
      TextFunctions.hashedClassifierScore(doc(s, d), col("doc_id"), col("text")),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                         FROM documents),
              f AS (SELECT doc_id,
                      list_concat(w,
                        CASE WHEN len(w) >= 2
                             THEN [array_to_string(w[i:i+1], ' ')
                                   for i in generate_series(1, len(w) - 1)]
                             ELSE [] END) AS feats
                    FROM t),
              sc AS (SELECT doc_id, len(feats)::BIGINT AS n_feats,
                       list_sum([('0x' || substr(md5(x), 1, 8))::BIGINT % 2001 - 1000
                                 for x in feats])::BIGINT AS w_sum
                     FROM f)
              SELECT doc_id, n_feats, w_sum,
                     round(1.0 / (1.0 + exp(-(w_sum / (1000.0 * n_feats)))), 6) AS prob,
                     (w_sum >= 0) AS label
              FROM sc"""),

    Q("x_chunk_windows", (s, d) =>
      // sliding-window chunking (RAG / training-sequence prep): 64-word
      // windows, stride 48 (16-word overlap), final short window keeps
      // the tail; chunk identity is an md5 fingerprint. Row-local
      // sequence→posexplode — chunk rows scale with corpus words and
      // never shuffle
      TextFunctions.slidingChunks(doc(s, d), col("doc_id"), col("text"), 64, 48)
        .select(col("doc_id"), col("cidx").cast("long").as("cidx"),
          col("start_w").cast("long").as("start_w"),
          col("n_w").cast("long").as("n_w"), col("chunk_md5")),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                         FROM documents),
              n AS (SELECT doc_id, w, len(w) AS nw FROM t),
              c AS (SELECT doc_id, i::BIGINT AS cidx, (i * 48)::BIGINT AS start_w,
                      least(64, nw - i * 48)::BIGINT AS n_w,
                      md5(array_to_string(w[i*48+1 : i*48+64], ' ')) AS chunk_md5
                    FROM (SELECT doc_id, w, nw,
                            unnest(generate_series(0, (greatest(nw - 64, 0) + 47) // 48)) AS i
                          FROM n))
              SELECT doc_id, cidx, start_w, n_w, chunk_md5 FROM c"""),

    Q("x_line_fix", (s, d) =>
      // RefinedWeb-style line-wise corrections: drop fragment /
      // nav-like (no function word) / repetitive pseudo-lines (8-word
      // windows), then gate the DOC on removed-word fraction <= 50%.
      // Fully row-local — one projection over the scan (transform/
      // filter/aggregate HOFs), no explode, no shuffle; ratio gates are
      // integer cross-multiplications so the oracle replays them exactly
      TextFunctions.lineCorrections(doc(s, d), col("doc_id"), col("text"),
        lineWords = 8, minWords = 3, distinctRatioPct = 70,
        maxRemovedPct = 50),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
              lines AS (SELECT doc_id, len(w)::BIGINT AS n_words, i AS idx,
                          w[(i*8+1):(i*8+8)] AS l
                        FROM toks,
                          LATERAL unnest(generate_series(0, (len(w)-1)//8)) AS t(i)),
              fl AS (SELECT doc_id, n_words, idx, l, len(l)::BIGINT AS n,
                       (len(l) < 3
                        OR NOT list_has_any(l, ['the','a','an','and','or','of','to',
                                               'in','is','it','that','for','on','with','as'])
                        OR len(list_distinct(l)) * 100 < len(l) * 70) AS dropped
                     FROM lines)
              SELECT doc_id,
                count(*)::BIGINT AS n_lines,
                sum(CASE WHEN dropped THEN 1 ELSE 0 END)::BIGINT AS n_removed_lines,
                round((any_value(n_words) - sum(CASE WHEN dropped THEN 0 ELSE n END))
                      / any_value(n_words)::DOUBLE, 6) AS removed_word_frac,
                (CASE WHEN (any_value(n_words) - sum(CASE WHEN dropped THEN 0 ELSE n END)) * 100
                           <= any_value(n_words) * 50 THEN 1 ELSE 0 END)::INT AS doc_kept,
                coalesce(string_agg(CASE WHEN NOT dropped
                                         THEN array_to_string(l, ' ') END, ' '
                                    ORDER BY idx), '') AS kept_text
              FROM fl GROUP BY 1"""),

    Q("a27_psi_drift", (s, d) => {
      // population-stability-index drift check between two halves of the
      // fact stream (the train-vs-serving monitoring staple): decile
      // edges come from the TRAIN half via the scalable two-pass global
      // rank (a17/a24 machinery — no single-partition sort), both halves
      // are then assigned by value against the 9 collected edge values
      // (metadata-sized driver read, same posture as the rank's bucket
      // counts), one shared scan+agg counts both halves, and the PSI
      // terms are computed on the 10-row result with Laplace smoothing
      // (+0.5/bin) so an empty serving bin can't produce ln(0)
      val base = li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("x"), pmod(col("l_orderkey"), lit(2)).as("half"))
      val train = base.filter(col("half") === 0)
        .select(col("x"), col("l_orderkey"), col("l_linenumber"))
      val binned = Windows.equiDepthBin(train, 10, "x",
        Seq(col("l_orderkey"), col("l_linenumber")), "bin")
      // bins 1..9's maxima are the assignment edges (bin 10's max is the
      // global max — values above it belong in bin 10 by construction)
      val edges = binned.filter(col("bin") <= 9).groupBy(col("bin"))
        .agg(max(col("x")).as("mx")).collect().map(_.getDouble(1)).sorted
      val assigned = base.withColumn("bin",
        (lit(1) + size(filter(typedLit(edges), e => e < col("x")))).cast("long"))
      val counts = assigned.groupBy(col("bin")).agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_score"))
      val bins = s.range(1, 11).select(col("id").as("bin"))
      val g = bins.join(counts, Seq("bin"), "left")
        .na.fill(0L, Seq("n_train", "n_score"))
      val tot = g.agg(sum(col("n_train")).as("tn"), sum(col("n_score")).as("ts"))
      val p = (col("n_train") + 0.5) / (col("tn") + 5.0)
      val q = (col("n_score") + 0.5) / (col("ts") + 5.0)
      g.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_train"), col("n_score"),
          round((q - p) * log(q / p), 6).as("psi_term"))
    },
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_extendedprice AS x,
                       l_orderkey % 2 AS half FROM lineitem),
              tr AS (SELECT x, l_orderkey, l_linenumber FROM l WHERE half = 0),
              b AS (SELECT x, (ntile(10) OVER
                      (ORDER BY x, l_orderkey, l_linenumber))::INT AS bin FROM tr),
              e AS (SELECT bin, max(x) AS mx FROM b WHERE bin <= 9 GROUP BY 1),
              a AS (SELECT half,
                      1 + (SELECT count(*) FROM e WHERE e.mx < l.x) AS bin
                    FROM l),
              c AS (SELECT bin,
                      sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_train,
                      sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_score
                    FROM a GROUP BY 1),
              g AS (SELECT gs.b::BIGINT AS bin,
                      coalesce(n_train, 0)::BIGINT AS n_train,
                      coalesce(n_score, 0)::BIGINT AS n_score
                    FROM generate_series(1, 10) AS gs(b)
                    LEFT JOIN c ON c.bin = gs.b),
              t AS (SELECT sum(n_train)::BIGINT AS tn, sum(n_score)::BIGINT AS ts FROM g)
              SELECT bin, n_train, n_score,
                     round(((n_score + 0.5) / (ts + 5.0) - (n_train + 0.5) / (tn + 5.0)) *
                           ln(((n_score + 0.5) / (ts + 5.0)) /
                              ((n_train + 0.5) / (tn + 5.0))), 6) AS psi_term
              FROM g CROSS JOIN t"""),

    Q("x_curriculum_order", (s, d) =>
      // curriculum ordering with source interleaving: easy→hard within
      // each source (difficulty = doc length, doc_id tiebreak), global
      // training position assigned ANALYTICALLY (rank*n_sources +
      // src_idx) — round-robin across sources with no global window or
      // sort; the only window partitions by source
      graft.operators.Sampling.curriculumInterleave(
        doc(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("n_chars"), Seq(col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
          col("rank_in_source"), col("pos")),
      """WITH s AS (SELECT src AS source,
                      row_number() OVER (ORDER BY src) - 1 AS src_idx,
                      (SELECT count(DISTINCT source) FROM documents) AS ns
                    FROM (SELECT DISTINCT source AS src FROM documents)),
              r AS (SELECT doc_id, source, n_chars::BIGINT AS n_chars,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY n_chars, doc_id) AS rank_in_source
                    FROM documents)
              SELECT r.doc_id, r.source, r.n_chars, r.rank_in_source,
                     (r.rank_in_source - 1) * s.ns + s.src_idx AS pos
              FROM r JOIN s ON r.source = s.source"""),

    Q("d_dataset_card", (s, d) => {
      // per-source corpus datasheet (the "dataset card" summary a data
      // team ships with a release): doc/char/token counts, english
      // share, exact-dup count (md5 fingerprints), and the EXACT lower
      // median doc length — computed from the distinct-length cumulative
      // (lengths are small-cardinality) instead of any per-source sort.
      // Two corpus hash aggregates total (stats incl. distinct
      // fingerprints; length histogram); everything else is
      // source-count-sized
      import org.apache.spark.sql.expressions.Window
      val base = doc(s, d).select(col("source"), col("lang"),
        col("n_chars"), md5(col("text")).as("fp"),
        TextFunctions.tokenCountWs(col("text")).cast("long").as("toks"))
      val stats = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("__nfp"),
        sum(col("n_chars")).as("n_chars_total"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en_docs"))
        .withColumn("n_dup_docs", col("n_docs") - col("__nfp")).drop("__nfp")
      val hist = base.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      val med = hist
        .withColumn("__cum", sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
        .filter(col("__cum") * 2 >= col("__n"))
        .groupBy(col("source")).agg(min(col("n_chars")).as("median_chars"))
      stats.join(med, Seq("source"))
    },
      """WITH base AS (SELECT source, lang, n_chars, md5(text) AS fp,
                (CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                 END)::BIGINT AS toks
              FROM documents),
              stats AS (SELECT source,
                count(*)::BIGINT AS n_docs,
                (count(*) - count(DISTINCT fp))::BIGINT AS n_dup_docs,
                sum(n_chars)::BIGINT AS n_chars_total,
                sum(toks)::BIGINT AS n_tokens,
                sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en_docs
              FROM base GROUP BY 1),
              hist AS (SELECT source, n_chars, count(*)::BIGINT AS cnt
                       FROM base GROUP BY 1, 2),
              cum AS (SELECT source, n_chars,
                        sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS c,
                        sum(cnt) OVER (PARTITION BY source) AS n
                      FROM hist),
              med AS (SELECT source, min(n_chars) AS median_chars
                      FROM cum WHERE c * 2 >= n GROUP BY 1)
              SELECT s.source, s.n_docs, s.n_chars_total, s.n_tokens,
                     s.n_en_docs, s.n_dup_docs, m.median_chars
              FROM stats s JOIN med m USING (source)"""),

    Q("d_dedup_report", (s, d) =>
      // per-source dedup retention report: exact fingerprint dedup
      // (keep min-id), then MinHash-LSH cluster canonicalization (keep
      // best quality) on what's left; one row per source with drop
      // counts and the retention rate. Composes the blocked operators —
      // nothing all-pairs; the report itself is one hash aggregate
      Dedup.dedupRetentionReport(doc(s, d), col("doc_id"), col("text"),
        col("source"), shingleWords = 3, numHashes = 16, bands = 4),
      """WITH RECURSIVE
              toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                       FROM documents),
""" + minHashSigCtes + ",\n" + lshComponentCtes + ",\n" + qualityCtes + """,
              keepn AS (SELECT component, node AS keep_id FROM (
                          SELECT c.component, c.node,
                                 row_number() OVER (PARTITION BY c.component
                                   ORDER BY q.quality DESC, c.node ASC) AS rn
                          FROM comp c JOIN qual q ON q.doc_id = c.node) WHERE rn = 1),
              neard AS (SELECT c.node AS doc_id
                        FROM comp c JOIN keepn k USING (component)
                        WHERE c.node <> k.keep_id),
              fps AS (SELECT doc_id, source,
                        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                      FROM documents),
              firsts AS (SELECT fp, min(doc_id) AS first_id FROM fps GROUP BY 1),
              fl AS (SELECT f.doc_id, f.source,
                       (f.doc_id <> fi.first_id) AS exact_drop,
                       (f.doc_id IN (SELECT doc_id FROM neard)) AS near_member
                     FROM fps f JOIN firsts fi USING (fp))
              SELECT source, count(*)::BIGINT AS n_docs,
                sum(CASE WHEN exact_drop THEN 1 ELSE 0 END)::BIGINT AS n_exact_drop,
                sum(CASE WHEN NOT exact_drop AND near_member THEN 1 ELSE 0 END)::BIGINT AS n_near_drop,
                sum(CASE WHEN NOT exact_drop AND NOT near_member THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                round(sum(CASE WHEN NOT exact_drop AND NOT near_member THEN 1 ELSE 0 END) * 100.0
                      / count(*), 6) AS retention_pct
              FROM fl GROUP BY 1"""),

    Q("d_segment_dedup", (s, d) =>
      // CCNet-style corpus-frequency segment suppression: 8-word
      // segments, EVERY occurrence of a segment seen >2 times corpus-wide
      // removed (boilerplate killer — distinct from chunkDedup's
      // keep-first contract). One explode + one hash agg; the hot set is
      // threshold-filtered before the join back (AQE broadcasts it);
      // reassembly is an in-row array_sort, no per-doc window
      Dedup.segmentDedup(doc(s, d), col("doc_id"), col("text"),
        segmentWords = 8, maxDf = 2),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
              segs AS (SELECT doc_id, i AS idx,
                         array_to_string(w[(i*8+1):(i*8+8)], ' ') AS seg
                       FROM toks,
                         LATERAL unnest(generate_series(0, (len(w)-1)//8)) AS t(i)),
              freq AS (SELECT md5(seg) AS h, count(*) AS n FROM segs GROUP BY 1),
              fl AS (SELECT s.doc_id, s.idx, s.seg, (f.n > 2) AS is_hot
                     FROM segs s JOIN freq f ON md5(s.seg) = f.h)
              SELECT doc_id, count(*)::BIGINT AS n_segments,
                sum(CASE WHEN is_hot THEN 1 ELSE 0 END)::BIGINT AS n_removed,
                round(sum(CASE WHEN is_hot THEN 1 ELSE 0 END)
                      / count(*), 6) AS removed_ratio,
                coalesce(string_agg(CASE WHEN NOT is_hot THEN seg END, ' '
                                    ORDER BY idx), '') AS kept_text
              FROM fl GROUP BY 1"""),

    Q("d_indoc_dedup", (s, d) =>
      // WITHIN-document duplicate-segment removal, keep first occurrence
      // (crawl pages repeating their own paragraphs) — in-doc member of
      // the segment-dedup family, distinct from chunkDedup (keep-first
      // corpus-wide) and segmentDedup (suppress every occurrence
      // corpus-wide). First-occurrence is a hash agg keyed by
      // (doc_id, seg): skew bounds by PER-DOC repetition, hot corpus
      // boilerplate never funnels one reducer. 2-word segments so the
      // synthetic corpus actually exhibits in-doc repeats
      Dedup.indocDedup(doc(s, d), col("doc_id"), col("text"),
        segmentWords = 2),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                            FROM documents),
              segs AS (SELECT doc_id, i AS idx,
                         array_to_string(w[(i*2+1):(i*2+2)], ' ') AS seg
                       FROM toks,
                         LATERAL unnest(generate_series(0, (len(w)-1)//2)) AS t(i)),
              fst AS (SELECT doc_id, seg, min(idx) AS keep_idx,
                        count(*)::BIGINT AS n
                      FROM segs GROUP BY 1, 2)
              SELECT doc_id,
                sum(n)::BIGINT AS n_segments,
                sum(n - 1)::BIGINT AS n_removed,
                round(sum(n - 1) / sum(n)::DOUBLE, 6) AS removed_ratio,
                string_agg(seg, ' ' ORDER BY keep_idx) AS dedup_text
              FROM fst GROUP BY 1"""),

    Q("d_source_overlap", (s, d) =>
      // cross-source provenance matrix: distinct 3-gram shingles per
      // source, shared shingles and Jaccard per source PAIR. The
      // pairwise stage is an equi self-join ON THE SHINGLE (fan-out
      // bounded by sources-per-shingle), never sources x sources on
      // content
      Dedup.sourceOverlap(doc(s, d), col("text"), col("source"), n = 3),
      """WITH toks AS (SELECT source AS src,
                       string_split_regex(trim(text), '\s+') AS w FROM documents),
              g AS (SELECT DISTINCT src, array_to_string(w[i:i+2], ' ') AS sh
                    FROM toks,
                      LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
                    WHERE len(w) >= 3),
              per AS (SELECT src, count(*)::BIGINT AS n_sh FROM g GROUP BY 1),
              pr AS (SELECT a.src AS source_a, b.src AS source_b,
                       count(*)::BIGINT AS n_shared
                     FROM g a JOIN g b ON a.sh = b.sh AND a.src < b.src
                     GROUP BY 1, 2)
              SELECT source_a, source_b, pa.n_sh AS n_a, pb.n_sh AS n_b,
                n_shared,
                round(n_shared / (pa.n_sh + pb.n_sh - n_shared)::DOUBLE, 6)
                  AS jaccard
              FROM pr
              JOIN per pa ON pr.source_a = pa.src
              JOIN per pb ON pr.source_b = pb.src"""),

    Q("docs_e2e_curation", (s, d) => {
      // the documents-side FLAGSHIP: full sequential curation funnel
      // (quality gate -> lang-id agreement -> exact keep-first dedup ->
      // LSH cluster canonicalization -> benchmark decontamination), one
      // report row per (source, lang). Docs with doc_id % 97 = 0 stand in
      // for the eval set (same split as x_decontaminate). Cheap row-local
      // gates run FIRST so the pairwise dedup sees the smallest frame;
      // every stage flag travels as a doc_id equi join
      val docs = doc(s, d)
      Curation.curationFunnel(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("doc_id"), col("text"), col("source"), col("lang"))
    },
      "WITH RECURSIVE\n" + curationFunnelOracle),

    Q("x_html_extract", (s, d) =>
      // HTML -> text extraction with boilerplate stripping — the FIRST
      // stage of a crawl pipeline (tag/script/style/comment strip, block
      // segmentation, anchor-aware link-density gate, entity decode).
      // Row-local regex pipeline over the committed HTML fixtures; the
      // oracle replays every regex CTE-for-Column in DuckDB
      graft.functions.TextFunctions.htmlExtract(
        s.read.format("binaryFile").load(s"$repoRoot/fixtures/html"),
        regexp_extract(col("path"), "doc_(\\d+)\\.html", 1).cast("long"),
        col("content").cast("string")),
      "WITH " + htmlExtractOracle.replace("@ROOT@", repoRoot) +
        " SELECT * FROM hx"),

    Q("docs_html_funnel", (s, d) => {
      // the curation funnel COMPOSED on raw HTML: extraction feeds the
      // full quality -> lang -> exact-dup -> near-dup -> decontamination
      // chain (the judge's "funnel accepts raw-HTML docs" contract).
      // The fixture family plants one exact-dup pair (same text, different
      // markup), one near-dup pair, one contaminated doc sharing a 5-gram
      // with the probe doc (id 0, the % 97 split), one Spanish doc (lang
      // gate passes via agreement) and one MISLABELED doc (7 declared
      // 'fr', predicted 'en' — the lang gate must drop it)
      val docs = graft.functions.TextFunctions.htmlExtract(
          s.read.format("binaryFile").load(s"$repoRoot/fixtures/html"),
          regexp_extract(col("path"), "doc_(\\d+)\\.html", 1).cast("long"),
          col("content").cast("string"))
        .select(col("doc_id"), col("text"),
          when(col("doc_id") === 13, "es")
            .when(col("doc_id") === 7, "fr").otherwise("en").as("lang"),
          when(col("doc_id") % 2 === 0, "web").otherwise("blog").as("source"))
      Curation.curationFunnel(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("doc_id"), col("text"), col("source"), col("lang"))
    },
      "WITH RECURSIVE " + htmlExtractOracle.replace("@ROOT@", repoRoot) +
        """, documents AS (SELECT doc_id, text,
               CASE WHEN doc_id = 13 THEN 'es'
                    WHEN doc_id = 7 THEN 'fr' ELSE 'en' END AS lang,
               CASE WHEN doc_id % 2 = 0 THEN 'web' ELSE 'blog' END AS source
             FROM hx),
        """ + curationFunnelOracle),

    Q("d_curation_log", (s, d) => {
      // per-doc audit surface of the funnel: FIRST stage that dropped
      // each document (or 'kept') — same flagged substrate as
      // docs_e2e_curation, projected per doc instead of aggregated.
      // Corpus-sized output: a write-to-table surface, never a collect
      val docs = doc(s, d)
      Curation.curationDropLog(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("doc_id"), col("text"), col("source"), col("lang"))
    },
      "WITH RECURSIVE\n" + curationFunnelCtes + """
                            SELECT doc_id, source, lang, quality, pred_lang,
                n_tok_ws::BIGINT AS n_tok,
                CASE WHEN NOT pass_q THEN 'quality'
                     WHEN NOT pass_l THEN 'lang'
                     WHEN NOT s3ok THEN 'exact_dup'
                     WHEN NOT s4ok THEN 'near_dup'
                     WHEN NOT s5ok THEN 'contaminated'
                     ELSE 'kept' END AS verdict
              FROM fin2"""),

    Q("v_knn_graph", (s, d) => {
      // mutual k-NN graph over the embedding corpus (the seed for
      // graph-based clustering/diversity curation): IVF-cell blocked
      // candidates, per-node top-3 window, edge kept only when BOTH
      // endpoints rank each other — never corpus x corpus. nlist is
      // corpus-adaptive (√(n/2), floor 16): a fixed cell count makes
      // within-cell pairs grow quadratically with the corpus (measured
      // at 10x vectors: 19.2 s at nlist=16 vs 9.7 s adaptive, the
      // latter with a colder JVM; nlist 16 vs 31 tie at 1x).
      val e = emb(s, d)
      Similarity.mutualKnnGraph(e, col("vec_id"), col("embedding"),
        k = 3, nlist = Similarity.adaptiveNlist(e.count()))
    },
      """WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
              nl AS (SELECT greatest(16, floor(sqrt(count(*) / 2.0))::BIGINT) AS nlist
                     FROM e),
""" + ivfCellCtes("vid", "(SELECT nlist FROM nl)") + """,
              dg AS (SELECT a.vid AS src, b.vid AS dst,
                       round(list_cosine_similarity(a.v, b.v), 6) AS cos
                     FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid <> b.vid),
              tk AS (SELECT src, dst, cos FROM (
                       SELECT src, dst, cos,
                              row_number() OVER (PARTITION BY src
                                ORDER BY cos DESC, dst ASC) AS rn
                       FROM dg) WHERE rn <= 3)
              SELECT x.src AS id_a, x.dst AS id_b, x.cos AS cos
              FROM tk x JOIN tk y
                ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst"""),

    Q("v_nn_descent", (s, d) => {
      // NN-descent k-NN graph (Dong 2011) — the LINEAR-build scale path
      // for the graph-ANN family: md5-seeded random init, then 2 rounds
      // of neighbor-of-neighbor refinement with a k-capped reverse
      // adjacency, ≤ 4k²·N candidates per round (the mutual-kNN IVF
      // build is N·√N — 409.6 s at the 100× replica; this replaces it
      // at scale). Oracle replays init + both rounds CTE-for-CTE.
      val e = emb(s, d)
      Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"),
        k = 3, rounds = 2, n = e.count())
    },
      nnDescentCtes(2, materializeLast = false) + """
              SELECT vid AS src_id, cand AS nbr_id, cos, rn::INT AS rank
              FROM g2"""),

    Q("a28_ks_drift", (s, d) => {
      // two-sample Kolmogorov-Smirnov drift statistic between the two
      // halves of the fact stream: per-value counts (one hash agg), then
      // EXACT cumulative counts via the scalable global running sum
      // (bucketed two-pass — no `sum OVER (ORDER BY)` single-partition
      // funnel), then one max-reduce for the KS sup. The CDF ratios are
      // doubles of exact longs, so the argmax value is engine-stable
      val base = li(s, d).select(col("l_extendedprice").as("x"),
        pmod(col("l_orderkey"), lit(2)).as("half"))
      val per = base.groupBy(col("x")).agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"))
      // the pass's grand totals are the half sizes and the value count
      val (cum, Seq(t0, t1, nv)) = Windows.globalRunningSums(per, "x", Nil,
        Seq(col("n0") -> "c0", col("n1") -> "c1", lit(1L) -> "__nv"))
      cum
        .select(col("x"), abs(col("c0").cast("double") / t0 -
            col("c1").cast("double") / t1).as("dd"))
        .agg(max(struct(col("dd"), (-col("x")).as("nx"))).as("b"))
        .select(round(col("b.dd"), 6).as("ks"), (-col("b.nx")).as("at_x"),
          lit(nv).as("n_values"), lit(t0).as("n_train"), lit(t1).as("n_score"))
    },
      """WITH l AS (SELECT l_extendedprice AS x, l_orderkey % 2 AS half
                         FROM lineitem),
              p AS (SELECT x,
                      sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
                      sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
                    FROM l GROUP BY 1),
              c AS (SELECT x, sum(n0) OVER (ORDER BY x)::BIGINT AS c0,
                           sum(n1) OVER (ORDER BY x)::BIGINT AS c1 FROM p),
              t AS (SELECT sum(n0)::BIGINT AS t0, sum(n1)::BIGINT AS t1,
                           count(*)::BIGINT AS nv FROM p),
              dd AS (SELECT x, abs(c0::DOUBLE / t0 - c1::DOUBLE / t1) AS d
                     FROM c CROSS JOIN t)
              SELECT round(dd.d, 6) AS ks, dd.x AS at_x, t.nv AS n_values,
                     t.t0 AS n_train, t.t1 AS n_score
              FROM dd CROSS JOIN t ORDER BY dd.d DESC, dd.x ASC LIMIT 1"""),

    Q("a29_seasonality", (s, d) =>
      // day-of-week multiplicative seasonal index of the event stream:
      // two hash aggs (per-day, per-weekday) + a one-row total
      // broadcast; the index is ONE double division of exact long
      // cross-products (no float accumulation to drift)
      graft.operators.Stats.seasonalIndex(ev(s, d), col("ts")),
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS cnt
                             FROM events GROUP BY 1),
              dw AS (SELECT isodow(day)::INT AS dow, count(*)::BIGINT AS n_days,
                       sum(cnt)::BIGINT AS n_events
                     FROM daily GROUP BY 1),
              t AS (SELECT count(*)::BIGINT AS t_days, sum(cnt)::BIGINT AS t_events
                    FROM daily)
              SELECT dow, n_days, n_events,
                round(n_events / n_days::DOUBLE, 6) AS events_per_day,
                round((n_events * t_days) / (n_days * t_events)::DOUBLE, 6)
                  AS seasonal_idx
              FROM dw CROSS JOIN t"""),

    Q("a43_cusum", (s, d) =>
      // CUSUM change-point on the daily error-event count (Page 1954):
      // the max() recurrence rewritten as prefix-sum minus running
      // prefix-min — two windows over the calendar-bounded daily frame,
      // corpus touched once. Exact integer math scaled by the baseline
      // day count; no float boundary anywhere
      graft.operators.Stats.cusumChangepoint(ev(s, d), col("ts"),
        col("event_type") === "error",
        baselineDays = 10, slack = 1, threshold = 50),
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
                             FROM events WHERE event_type = 'error' GROUP BY 1),
              r AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rk
                    FROM daily),
              b AS (SELECT sum(x)::BIGINT AS bsum, count(*)::BIGINT AS bn
                    FROM r WHERE rk <= 10),
              sc AS (SELECT day, x, bn,
                       x * bn - bsum - 1 * bn AS y
                     FROM r CROSS JOIN b),
              p AS (SELECT day, x, bn,
                      sum(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pp
                    FROM sc),
              m AS (SELECT day, x, bn, pp,
                      least(0, min(pp) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING)) AS runmin
                    FROM p)
              SELECT day, x, bn AS baseline_days,
                     (pp - runmin)::BIGINT AS cusum_scaled,
                     ((pp - runmin) * 1000 // bn)::BIGINT AS cusum_milli,
                     (pp - runmin) > 50 * bn AS alarm
              FROM m"""),

    Q("a44_dp_counts", (s, d) =>
      // Laplace-mechanism noisy per-source corpus counts (deterministic
      // md5-seeded uniform for the gate; production swaps in secret
      // randomness). One hash agg + a row-local inverse-CDF projection;
      // dyadic-exact u, round-9 ln, round-6 result
      graft.operators.Stats.dpNoisyCounts(doc(s, d), col("source"),
        eps = 1.0, seed = "graft"),
      """WITH c AS (SELECT source AS key, count(*)::BIGINT AS n
                         FROM documents GROUP BY 1),
              h AS (SELECT key, n,
                      ('0x' || substr(md5('graft' || key), 1, 6))::BIGINT AS v
                    FROM c),
              u AS (SELECT key, n, (v + 0.5) / 16777216.0 AS u FROM h),
              nz AS (SELECT key, n,
                       round((-1.0) * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
                             * round(ln(1.0 - 2.0 * abs(u - 0.5)), 9), 6) AS noise
                     FROM u)
              SELECT key, round(n + noise, 6) AS noisy_count FROM nz"""),

    Q("a31_attribution", (s, d) =>
      // multi-touch revenue attribution (last-touch + linear) of
      // purchases to view/click touches inside a 7-day lookback. All
      // timeline arithmetic is integer epoch-microseconds (the latest
      // preceding touch is max(us*8+code) over one long — no
      // struct/argmax portability hazard); linear shares round at 6 and
      // sum as DECIMAL. Two per-user window passes + one channel-sized agg
      graft.operators.Stats.attribution(ev(s, d), col("user_id"), col("ts"),
        col("event_type"), col("value"),
        touchTypes = Seq("view", "click"), convType = "purchase",
        lookbackSeconds = 604800L),
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, event_type AS et,
                value AS v,
                CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 END AS code
              FROM events),
              w AS (SELECT *,
                max(CASE WHEN code IS NOT NULL THEN us * 8 + code END) OVER
                  (PARTITION BY u ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_enc,
                sum(CASE WHEN code = 1 THEN 1 ELSE 0 END) OVER wr AS n1,
                sum(CASE WHEN code = 2 THEN 1 ELSE 0 END) OVER wr AS n2
              FROM e WINDOW wr AS (PARTITION BY u ORDER BY us
                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)),
              p AS (SELECT *, n1 + n2 AS tot,
                CASE WHEN last_enc IS NOT NULL AND last_enc // 8 >= us - 604800000000
                     THEN CASE last_enc % 8 WHEN 1 THEN 'view' WHEN 2 THEN 'click'
                          ELSE 'none' END
                     ELSE 'none' END AS last_ch,
                round(v, 6)::DECIMAL(18,6) AS vd
              FROM w WHERE et = 'purchase'),
              a AS (SELECT
                sum(CASE WHEN last_ch = 'view' THEN 1 ELSE 0 END)::BIGINT AS nl1,
                sum(CASE WHEN last_ch = 'click' THEN 1 ELSE 0 END)::BIGINT AS nl2,
                sum(CASE WHEN last_ch = 'none' THEN 1 ELSE 0 END)::BIGINT AS nl0,
                sum(CASE WHEN last_ch = 'view' THEN vd ELSE 0 END) AS lr1,
                sum(CASE WHEN last_ch = 'click' THEN vd ELSE 0 END) AS lr2,
                sum(CASE WHEN last_ch = 'none' THEN vd ELSE 0 END) AS lr0,
                sum(CASE WHEN tot > 0
                         THEN round(v * n1 / tot, 6)::DECIMAL(18,6) ELSE 0 END) AS li1,
                sum(CASE WHEN tot > 0
                         THEN round(v * n2 / tot, 6)::DECIMAL(18,6) ELSE 0 END) AS li2,
                sum(CASE WHEN tot = 0 THEN vd ELSE 0 END) AS li0
              FROM p)
              SELECT ch AS channel,
                (CASE ch WHEN 'view' THEN nl1 WHEN 'click' THEN nl2 ELSE nl0 END)
                  AS n_last_touch,
                (CASE ch WHEN 'view' THEN lr1 WHEN 'click' THEN lr2 ELSE lr0 END)::DOUBLE
                  AS last_touch_rev,
                (CASE ch WHEN 'view' THEN li1 WHEN 'click' THEN li2 ELSE li0 END)::DOUBLE
                  AS linear_rev
              FROM a CROSS JOIN (VALUES ('view'), ('click'), ('none')) c(ch)"""),

    Q("a30_mad_outliers", (s, d) =>
      // robust outlier report: EXACT lower median + MAD with a 3-MAD
      // band; both order statistics ride the bucketed two-pass global
      // running sum over per-value counts (no single-partition ORDER BY
      // funnel), and the half-count contract is exact-integer so the
      // oracle window replay lands on the same values
      graft.operators.Stats.madOutliers(li(s, d),
        col("l_extendedprice"), k = 3.0),
      """WITH x AS (SELECT l_extendedprice::DOUBLE AS x FROM lineitem),
              t AS (SELECT count(*)::BIGINT AS n FROM x),
              med AS (SELECT min(x) AS med FROM (
                        SELECT x, sum(c) OVER (ORDER BY x) AS cum,
                               sum(c) OVER () AS nn
                        FROM (SELECT x, count(*) AS c FROM x GROUP BY 1))
                      WHERE cum * 2 >= nn),
              dvs AS (SELECT abs(x.x - med.med) AS dv FROM x CROSS JOIN med),
              mad AS (SELECT min(dv) AS mad FROM (
                        SELECT dv, sum(c) OVER (ORDER BY dv) AS cum,
                               sum(c) OVER () AS nn
                        FROM (SELECT dv, count(*) AS c FROM dvs GROUP BY 1))
                      WHERE cum * 2 >= nn)
              SELECT t.n AS n, med.med AS median, mad.mad AS mad,
                sum(CASE WHEN abs(x.x - med.med) > 3.0 * mad.mad
                         THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                sum(CASE WHEN x.x - med.med > 3.0 * mad.mad
                         THEN 1 ELSE 0 END)::BIGINT AS n_high,
                sum(CASE WHEN med.med - x.x > 3.0 * mad.mad
                         THEN 1 ELSE 0 END)::BIGINT AS n_low,
                round(sum(CASE WHEN abs(x.x - med.med) > 3.0 * mad.mad
                               THEN 1 ELSE 0 END) / t.n::DOUBLE, 6) AS outlier_pct
              FROM x CROSS JOIN med CROSS JOIN mad CROSS JOIN t
              GROUP BY t.n, med.med, mad.mad"""),

    Q("v_binary_hamming", (s, d) =>
      // sign-binarized ANN: 64 float dims -> 2x32 packed bits, Hamming
      // via popcount(xor) — integer-only, no float boundary anywhere;
      // the 32x-compressed first-stage filter of a binary rerank index
      Similarity.binaryHammingTopK(
        emb(s, d).filter(col("vec_id") < 20), emb(s, d),
        "vec_id", "embedding", "vec_id", "embedding", dim = 64, k = 5),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              p AS (SELECT vec_id,
                list_sum(list_transform(range(0, 32), i ->
                  CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT AS w0,
                list_sum(list_transform(range(0, 32), i ->
                  CASE WHEN v[32 + i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT AS w1
              FROM e),
              q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM p WHERE vec_id < 20)
              SELECT query_id, p.vec_id AS neighbor_id,
                (bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)))::INT AS ham,
                (row_number() OVER (PARTITION BY query_id
                   ORDER BY (bit_count(xor(w0, q0)) + bit_count(xor(w1, q1))),
                            p.vec_id))::INT AS rank
              FROM p, q WHERE p.vec_id <> query_id
              QUALIFY rank <= 5"""),

    Q("x_pmi_collocations", (s, d) =>
      // PMI collocation mining: adjacent-pair counts vs endpoint
      // marginals over one shared sample space (N = total bigrams);
      // four-term ln sum on exact integer counts, rounded at 6
      TextFunctions.pmiCollocations(doc(s, d), col("doc_id"), col("text"),
        minCount = 5L, topN = 20),
      "WITH " + posToksCte("w") + """,
              pr AS (SELECT doc_id, w AS w1,
                       lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                     FROM toks WHERE w <> ''),
              big AS (SELECT w1, w2, count(*)::BIGINT AS c_xy
                      FROM pr WHERE w2 IS NOT NULL GROUP BY 1, 2),
              lc AS (SELECT w1, sum(c_xy)::BIGINT AS c_x FROM big GROUP BY 1),
              rc AS (SELECT w2, sum(c_xy)::BIGINT AS c_y FROM big GROUP BY 1),
              tot AS (SELECT sum(c_xy)::BIGINT AS n_pairs FROM big),
              sc AS (SELECT big.w1, big.w2, c_xy, c_x, c_y,
                       round(ln(c_xy) + ln(n_pairs) - ln(c_x) - ln(c_y), 6) AS pmi
                     FROM big JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN tot
                     WHERE c_xy >= 5)
              SELECT (row_number() OVER (ORDER BY pmi DESC, w1, w2))::INT AS rank,
                     w1, w2, c_xy, c_x, c_y, pmi
              FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 20"""),

    Q("a48_gini", (s, d) =>
      // revenue-concentration audit: Gini over per-customer spend via
      // the rank formula on the bucketed two-pass global rank (no
      // single-partition sort); integer cents, one final IEEE division
      graft.operators.Stats.giniCoefficient(
        ord(s, d).groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("v"))
          .select(col("o_custkey"), (col("v") * 100).cast("long").as("cents")),
        col("cents"), col("o_custkey")),
      """WITH x AS (SELECT o_custkey AS k,
                (sum(o_totalprice::DECIMAL(12,2)) * 100)::BIGINT AS cents
              FROM orders GROUP BY 1),
              r AS (SELECT cents, row_number() OVER (ORDER BY cents, k) AS r FROM x)
              SELECT count(*)::BIGINT AS n, sum(cents)::DOUBLE AS total,
                round((2 * sum(r * cents) - (count(*) + 1) * sum(cents))::DOUBLE
                      / (sum(cents) * count(*))::DOUBLE, 6) AS gini
              FROM r"""),

    Q("a49_basket_pairs", (s, d) =>
      // market-basket pair mining (Apriori k=2): support / confidence /
      // lift per co-occurring brand pair; basket-local pair expansion,
      // integer cross-multiplied support gate (15 per mille)
      graft.operators.Stats.frequentItemPairs(
        li(s, d).join(prt(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("basket"), col("p_brand").as("item")),
        col("basket"), col("item"), minSupportPpt = 15),
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              nb AS (SELECT count(DISTINCT b)::BIGINT AS n_baskets FROM bi),
              sg AS (SELECT i, count(*)::BIGINT AS supp FROM bi GROUP BY 1),
              p AS (SELECT x.i AS item_a, y.i AS item_b, count(*)::BIGINT AS supp_ab
                    FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2)
              SELECT item_a, item_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
                     n_baskets,
                     round(supp_ab / sa.supp::DOUBLE, 6) AS conf_a_b,
                     round(supp_ab / sb.supp::DOUBLE, 6) AS conf_b_a,
                     round((supp_ab::DOUBLE * n_baskets)
                           / (sa.supp::DOUBLE * sb.supp), 6) AS lift
              FROM p JOIN sg sa ON item_a = sa.i JOIN sg sb ON item_b = sb.i
              CROSS JOIN nb
              WHERE supp_ab * 1000 >= n_baskets * 15"""),

    Q("a50_kmv_overlap", (s, d) =>
      // KMV bottom-k sketches with set-algebra readout (the theta-sketch
      // capability HLL lacks): per order-priority customer set, k=256
      // smallest 52-bit md5 hashes; union/intersection/Jaccard from the
      // sketches alone. O(k)-state typed aggregator; 52-bit hashes keep
      // every estimate ONE exactly-replayable IEEE division
      graft.operators.Sketches.kmvOverlap(
        ord(s, d).select(col("o_orderpriority").as("sid"),
          col("o_custkey").as("el")),
        col("sid"), col("el"), k = 256),
      """WITH el AS (SELECT DISTINCT o_orderpriority AS sid,
                o_custkey::VARCHAR AS el FROM orders),
              hs AS (SELECT sid, ('0x' || substr(md5(el), 1, 13))::BIGINT AS h FROM el),
              ex AS (SELECT sid, count(*)::BIGINT AS exact_n FROM el GROUP BY 1),
              rk AS (SELECT sid, h, row_number() OVER (PARTITION BY sid ORDER BY h) AS rn
                     FROM (SELECT DISTINCT sid, h FROM hs)),
              sk AS (SELECT sid, list(h ORDER BY h) AS mins FROM rk
                     WHERE rn <= 256 GROUP BY 1),
              j AS (SELECT a.sid AS set_a, b.sid AS set_b,
                      ea.exact_n AS exact_a, eb.exact_n AS exact_b,
                      a.mins AS ma, b.mins AS mb,
                      list_sort(list_distinct(list_concat(a.mins, b.mins))) AS merged
                    FROM sk a JOIN sk b ON a.sid < b.sid
                    JOIN ex ea ON ea.sid = a.sid JOIN ex eb ON eb.sid = b.sid),
              e AS (SELECT set_a, set_b, exact_a, exact_b, ma, mb, merged,
                      least(256, len(merged))::BIGINT AS kk,
                      merged[1:256] AS kmin,
                      CASE WHEN exact_a < 256 THEN exact_a::DOUBLE
                           WHEN len(ma) < 256 THEN round((len(ma) - 1)::DOUBLE * 4503599627370496::DOUBLE / ma[len(ma)]::DOUBLE, 4)
                           ELSE round((255 * 4503599627370496::BIGINT)::DOUBLE / ma[256]::DOUBLE, 4)
                      END AS est_a,
                      CASE WHEN exact_b < 256 THEN exact_b::DOUBLE
                           WHEN len(mb) < 256 THEN round((len(mb) - 1)::DOUBLE * 4503599627370496::DOUBLE / mb[len(mb)]::DOUBLE, 4)
                           ELSE round((255 * 4503599627370496::BIGINT)::DOUBLE / mb[256]::DOUBLE, 4)
                      END AS est_b,
                      CASE WHEN len(merged) < 256 THEN len(merged)::DOUBLE
                           ELSE round((255 * 4503599627370496::BIGINT)::DOUBLE / merged[256]::DOUBLE, 4)
                      END AS est_union
                    FROM j)
              SELECT set_a, set_b, exact_a, exact_b, est_a, est_b, est_union,
                round(est_a + est_b - est_union, 4) AS est_intersect,
                (len(list_filter(kmin, x -> list_contains(ma, x)
                   AND list_contains(mb, x)))::BIGINT * 1000000) // kk AS jaccard_ppm
              FROM e"""),

    Q("d_link_predict", (s, d) => {
      // topological link prediction over the sparsified part
      // co-occurrence graph (the d_kcore graph): common-neighbors /
      // Jaccard / Adamic-Adar for distance-2 non-edges; wedge centers
      // degree-capped (df-cap pattern) so candidate volume stays
      // sum(deg^2)-bounded
      graft.operators.Components.linkPrediction(partPairs(s, d), "u", "v",
        minCommon = 2, maxHubDeg = 30)
    },
      partGraphCtes("e") + """,
              deg AS MATERIALIZED (
                SELECT src AS x, count(*)::BIGINT AS d FROM e GROUP BY 1),
              c AS (SELECT e.src, e.dst, deg.d AS dz FROM e
                    JOIN deg ON e.src = deg.x WHERE deg.d <= 30),
              w AS (SELECT l.dst AS wu, r.dst AS wv, l.dz
                    FROM c l JOIN c r ON l.src = r.src AND l.dst < r.dst),
              nw AS (SELECT wu, wv, dz FROM w
                     WHERE NOT EXISTS (SELECT 1 FROM b
                       WHERE b.u = w.wu AND b.v = w.wv)),
              cand AS (SELECT wu, wv, count(*)::BIGINT AS cn,
                         sum(round(1.0 / ln(dz), 9)::DECIMAL(28,9)) AS aa
                       FROM nw GROUP BY 1, 2 HAVING count(*) >= 2)
              SELECT wu AS node_u, wv AS node_v, cn,
                     du.d AS deg_u, dv.d AS deg_v,
                     round(cn / (du.d + dv.d - cn)::DOUBLE, 6) AS jaccard,
                     round(aa::DOUBLE, 6) AS adamic_adar
              FROM cand JOIN deg du ON wu = du.x JOIN deg dv ON wv = dv.x"""),

    Q("x_heaps_law", (s, d) =>
      // vocabulary-growth (Heaps'-law) fit over n/2^j doc-count
      // prefixes: V(N) ~ K*N^beta via closed-form OLS of ln V on ln N;
      // terms enter at their FIRST doc rank so prefixes never re-scan
      graft.operators.InvertedIndex.heapsLaw(doc(s, d), col("doc_id"), col("text")),
      """WITH tp AS MATERIALIZED (
                SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
                  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
                  FROM documents) t
                WHERE term <> '' GROUP BY 1, 2),
              dt AS (SELECT doc_id, sum(tf)::BIGINT AS ntok FROM tp GROUP BY 1),
              dr AS MATERIALIZED (SELECT doc_id, ntok,
                      row_number() OVER (ORDER BY doc_id) AS rank FROM dt),
              nn AS (SELECT count(*)::BIGINT AS n FROM dr),
              cp AS MATERIALIZED (SELECT DISTINCT (n // pow2) AS c
                FROM nn CROSS JOIN (VALUES (1), (2), (4), (8), (16), (32)) p(pow2)
                WHERE n // pow2 >= 2),
              fr AS (SELECT fr, count(*)::BIGINT AS nt FROM (
                       SELECT term, min(rank) AS fr FROM tp
                       JOIN dr USING (doc_id) GROUP BY 1) f GROUP BY 1),
              nc AS (SELECT c, sum(ntok)::BIGINT AS ntoks FROM dr
                     JOIN cp ON rank <= c GROUP BY 1),
              vc AS (SELECT c, sum(nt)::BIGINT AS v FROM fr
                     JOIN cp ON fr <= c GROUP BY 1),
              pts AS MATERIALIZED (SELECT c, ntoks, v,
                       round(ln(ntoks), 9) AS x, round(ln(v), 9) AS y
                     FROM nc JOIN vc USING (c)),
              fit AS (SELECT count(*)::DOUBLE AS k, sum(x) AS sx, sum(y) AS sy,
                        sum(x * x) AS sxx, sum(x * y) AS sxy FROM pts),
              fin AS (SELECT
                round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS beta,
                round(exp((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
                      / k), 6) AS k_factor FROM fit)
              SELECT c AS checkpoint_docs, ntoks AS n_tokens, v AS n_terms,
                     beta, k_factor
              FROM pts CROSS JOIN fin"""),

    Q("x_rouge_overlap", (s, d) =>
      // ROUGE-1/ROUGE-2 between consecutive-id doc pairs: clipped n-gram
      // overlap, P/R and harmonic-identity F1 (2*ov/(|c|+|r|) — single
      // divisions only); the pair-local equi join never goes corpus^2
      TextFunctions.rougeOverlap(doc(s, d), col("doc_id"), col("text"), 1)
        .unionByName(
          TextFunctions.rougeOverlap(doc(s, d), col("doc_id"), col("text"), 2)),
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                FROM documents),
              gg AS (SELECT doc_id, gn,
                       unnest(list_transform(range(1, len(toks) - gn + 2),
                         i -> array_to_string(toks[i:i+gn-1], ' '))) AS g
                     FROM tk CROSS JOIN (VALUES (1), (2)) nn(gn)
                     WHERE len(toks) >= gn),
              gc AS MATERIALIZED (SELECT doc_id, gn, g, count(*)::BIGINT AS tf
                FROM gg GROUP BY 1, 2, 3),
              tot AS MATERIALIZED (SELECT doc_id, gn, sum(tf)::BIGINT AS tot
                FROM gc GROUP BY 1, 2),
              ov AS (SELECT c.doc_id AS pair_id, c.gn,
                       sum(least(c.tf, r.tf))::BIGINT AS overlap
                     FROM gc c JOIN gc r ON r.doc_id = c.doc_id + 1
                       AND r.gn = c.gn AND r.g = c.g
                     WHERE c.doc_id % 2 = 0 GROUP BY 1, 2)
              SELECT tc.doc_id AS cand_id, tc.doc_id + 1 AS ref_id,
                     tc.gn AS gram_n, tc.tot AS n_cand, tr.tot AS n_ref,
                     coalesce(ov.overlap, 0)::BIGINT AS overlap,
                     round(coalesce(ov.overlap, 0) / tc.tot::DOUBLE, 6) AS rouge_p,
                     round(coalesce(ov.overlap, 0) / tr.tot::DOUBLE, 6) AS rouge_r,
                     round(coalesce(ov.overlap, 0) * 2
                           / (tc.tot + tr.tot)::DOUBLE, 6) AS rouge_f1
              FROM tot tc JOIN tot tr ON tr.doc_id = tc.doc_id + 1 AND tr.gn = tc.gn
              LEFT JOIN ov ON ov.pair_id = tc.doc_id AND ov.gn = tc.gn
              WHERE tc.doc_id % 2 = 0"""),

    Q("d_lpa_communities", (s, d) => {
      // synchronous label propagation (4 fixed rounds, count-desc /
      // min-label winner) over the sparsified part co-occurrence graph —
      // deterministic community detection between components and
      // modularity methods
      graft.operators.Components.labelPropagation(partPairs(s, d), "u", "v", iters = 4)
    },
      partGraphCtes("e") + ",\n" + lpaCtes(4) + """,
              sz AS (SELECT lab, count(*)::BIGINT AS community_size
                     FROM l4 GROUP BY 1)
              SELECT node, l4.lab AS community, community_size
              FROM l4 JOIN sz USING (lab)"""),

    Q("v_graph_search", (s, d) => {
      // greedy best-first routing over the mutual k-NN graph (the HNSW
      // layer-0 primitive): fixed entry node, hop to the most-similar
      // neighbor while strictly improving, 4-hop budget. State frame =
      // |queries| rows per hop; nlist corpus-ADAPTIVE (the v_knn_graph
      // lesson: a pinned cell count makes within-cell pairs quadratic —
      // the oracle replays the same sqrt(n/2) formula)
      val e = emb(s, d)
      Similarity.greedyGraphSearch(
        e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 3, nlist = Similarity.adaptiveNlist(e.count()), hops = 4)
    },
      """WITH e AS MATERIALIZED (
                SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
              nl AS (SELECT greatest(16, floor(sqrt(count(*) / 2.0))::BIGINT)
                       AS nlist FROM e),
              cent AS (SELECT m.cell, e.v AS centroid
                       FROM (SELECT vid % (SELECT nlist FROM nl) AS cell,
                               min(vid) AS mvid
                             FROM e GROUP BY 1) m
                       JOIN e ON e.vid = m.mvid),
              asg AS MATERIALIZED (SELECT vid, v, cell FROM (
                SELECT e.vid, e.v, c.cell,
                       row_number() OVER (PARTITION BY e.vid
                         ORDER BY round(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                                  c.cell) AS rn
                FROM e CROSS JOIN cent c) z WHERE rn = 1),
              dg AS (SELECT a.vid AS src, b.vid AS dst,
                       round(list_cosine_similarity(a.v, b.v), 6) AS cos
                     FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid <> b.vid),
              tk AS MATERIALIZED (SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (PARTITION BY src
                  ORDER BY cos DESC, dst ASC) AS rn FROM dg) z WHERE rn <= 3),
              mu AS MATERIALIZED (SELECT x.src AS id_a, x.dst AS id_b
                FROM tk x JOIN tk y
                  ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst),
              ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM mu
                UNION ALL SELECT id_b, id_a FROM mu),
""" + greedyWalkOracle(4)),

    Q("v_nnd_search", (s, d) => {
      // greedy best-first routing over the NN-DESCENT graph — the same
      // walk as v_graph_search but on the linear-build index
      // (v_nn_descent), proving the search quality survives swapping
      // the N·√N mutual-kNN build for the scale path. Edges are the
      // NND digraph bidirected; oracle replays build + all 4 hops.
      val e = emb(s, d)
      val g = Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"),
        k = 3, rounds = 2, n = e.count())
      val ed = g.select(col("src_id").as("src"), col("nbr_id").as("dst"))
        .unionByName(g.select(col("nbr_id").as("src"), col("src_id").as("dst")))
        .distinct()
      Similarity.greedySearchOverEdges(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "vec_id", "embedding", ed, hops = 4)
    },
      nnDescentCtes(2, materializeLast = true) + """,
              ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                      SELECT vid AS src, cand AS dst FROM g2
                      UNION ALL
                      SELECT cand AS src, vid AS dst FROM g2) w),
""" + greedyWalkOracle(4)),

    Q("x_stupid_backoff", (s, d) =>
      // stupid-backoff trigram scoring of the odd-doc half under counts
      // from the even-doc half — held-out LM evaluation with real
      // backoff tier traffic (full trigram / 0.4 bigram / 0.16 unigram /
      // OOV counted not scored)
      TextFunctions.stupidBackoffScore(
        doc(s, d).filter(pmod(col("doc_id"), lit(2)) === 0),
        doc(s, d).filter(pmod(col("doc_id"), lit(2)) === 1),
        col("doc_id"), col("text")),
      """WITH tk AS MATERIALIZED (SELECT doc_id, w, pos FROM (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
                  generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
                FROM documents) z WHERE w <> ''),
              tr AS MATERIALIZED (SELECT doc_id, w AS w1,
                      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
                    FROM tk),
              c1 AS (SELECT w AS u, count(*)::BIGINT AS c1 FROM tk
                     WHERE doc_id % 2 = 0 GROUP BY 1),
              nt AS (SELECT count(*)::BIGINT AS n_tok FROM tk WHERE doc_id % 2 = 0),
              c2 AS MATERIALIZED (SELECT w1 AS u, w2 AS u2, count(*)::BIGINT AS c2
                FROM tr WHERE doc_id % 2 = 0 AND w2 IS NOT NULL GROUP BY 1, 2),
              c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM tr
                     WHERE doc_id % 2 = 0 AND w3 IS NOT NULL GROUP BY 1, 2, 3),
              tst AS (SELECT doc_id, w1, w2, w3 FROM tr
                      WHERE doc_id % 2 = 1 AND w3 IS NOT NULL),
              sc AS (SELECT t.doc_id,
                       CASE WHEN c3.c3 IS NOT NULL THEN 3
                            WHEN c23.c2 IS NOT NULL THEN 2
                            WHEN c1c.c1 IS NOT NULL THEN 1 ELSE 0 END AS tier,
                       CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 / c2a.c2::DOUBLE
                            WHEN c23.c2 IS NOT NULL
                              THEN (c23.c2 / c1b.c1::DOUBLE) * 0.4
                            WHEN c1c.c1 IS NOT NULL
                              THEN ((c1c.c1 / nt.n_tok::DOUBLE) * 0.4) * 0.4
                       END AS s
                     FROM tst t
                     LEFT JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
                     LEFT JOIN c2 c2a ON c2a.u = t.w1 AND c2a.u2 = t.w2
                     LEFT JOIN c2 c23 ON c23.u = t.w2 AND c23.u2 = t.w3
                     LEFT JOIN c1 c1b ON c1b.u = t.w2
                     LEFT JOIN c1 c1c ON c1c.u = t.w3
                     CROSS JOIN nt)
              SELECT doc_id, count(*)::BIGINT AS n_tri,
                sum(CASE WHEN tier = 3 THEN 1 ELSE 0 END)::BIGINT AS n_hit3,
                sum(CASE WHEN tier = 2 THEN 1 ELSE 0 END)::BIGINT AS n_hit2,
                sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hit1,
                sum(CASE WHEN tier = 0 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
                round(sum(CASE WHEN tier > 0 THEN round(ln(s), 9)::DECIMAL(28,9)
                               ELSE 0::DECIMAL(28,9) END)::DOUBLE, 6) AS sb_logscore
              FROM sc GROUP BY 1"""),

    Q("d_bfs_levels", (s, d) => {
      // multi-source BFS over the sparsified part co-occurrence graph:
      // shortest hop distance from the p%997==0 seed parts, 6 synchronous
      // unit-weight relaxation rounds; `converged` asserts the frontier
      // emptied inside the budget
      graft.operators.Components.bfsLevels(partPairs(s, d), "u", "v", seedParts(s, d),
        rounds = 6)
    },
      partGraphCtes("e") + ",\n" + bfsCtes(6) + """,
              conv AS (SELECT CASE WHEN (SELECT count(*) FROM d5)
                  = (SELECT count(*) FROM d6) THEN 1 ELSE 0 END AS converged)
              SELECT node, dist, converged FROM d6 CROSS JOIN conv"""),

    Q("a51_mann_whitney", (s, d) =>
      // nonparametric A/B: Mann-Whitney U with midranks + tie-corrected
      // variance on l_quantity (50 heavily-tied values) between orderkey
      // parity halves; exact 2x-scaled integer rank sums, one float
      // z-score chain at the end
      graft.operators.Stats.mannWhitneyU(li(s, d),
        col("l_quantity"), pmod(col("l_orderkey"), lit(2))),
      """WITH per AS (SELECT x,
                sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
                sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
              FROM (SELECT l_quantity::DOUBLE AS x, l_orderkey % 2 AS g
                    FROM lineitem) z GROUP BY 1),
              cum AS (SELECT c0, c1,
                        sum(c0 + c1) OVER (ORDER BY x) - c0 - c1 AS cb
                      FROM per),
              agg AS (SELECT sum(c0)::BIGINT AS n_a, sum(c1)::BIGINT AS n_b,
                        sum((c0 * (cb * 2 + c0 + c1 + 1))::DECIMAL(38,0)) AS r2,
                        sum((c0 + c1)::DECIMAL(38,0) * (c0 + c1) * (c0 + c1)
                            - (c0 + c1)) AS tcorr
                      FROM cum),
              u AS (SELECT n_a, n_b,
                      (r2 - (n_a * (n_a + 1))::DECIMAL(38,0))::BIGINT AS u_a_x2,
                      tcorr, n_a + n_b AS n FROM agg)
              SELECT n_a, n_b, u_a_x2,
                round((u_a_x2 - n_a::DOUBLE * n_b)
                      / (2.0 * sqrt((n_a::DOUBLE * n_b / 12.0)
                          * ((n + 1) - tcorr::DOUBLE
                             / (n::DOUBLE * (n - 1))))), 6) AS z
              FROM u"""),

    Q("a52_cramers_v", (s, d) =>
      // feature-association screen: chi-square independence + Cramer's V
      // over the returnflag x linestatus contingency; one hash agg,
      // margins from windows over the category-bounded cell frame,
      // per-cell terms round-9 into DECIMAL sums
      graft.operators.Stats.chiSquareCramersV(li(s, d),
        col("l_returnflag"), col("l_linestatus")),
      """WITH obs AS (SELECT l_returnflag AS r, l_linestatus AS c,
                count(*)::BIGINT AS o FROM lineitem GROUP BY 1, 2),
              cells AS (SELECT rr.r, cc.c, coalesce(obs.o, 0)::BIGINT AS o
                FROM (SELECT DISTINCT r FROM obs) rr
                CROSS JOIN (SELECT DISTINCT c FROM obs) cc
                LEFT JOIN obs ON obs.r = rr.r AND obs.c = cc.c),
              m AS (SELECT o,
                      sum(o) OVER (PARTITION BY r) AS rt,
                      sum(o) OVER (PARTITION BY c) AS ct,
                      sum(o) OVER () AS n, r, c
                    FROM cells),
              t AS (SELECT o, n, r, c,
                      round((o - rt::DOUBLE * ct / n) * (o - rt::DOUBLE * ct / n)
                            / (rt::DOUBLE * ct / n), 9) AS term
                    FROM m),
              a AS (SELECT max(n)::BIGINT AS n,
                      count(DISTINCT r)::BIGINT AS n_rows_cat,
                      count(DISTINCT c)::BIGINT AS n_cols_cat,
                      sum(term::DECIMAL(28,9)) AS chi2d
                    FROM t)
              SELECT n, n_rows_cat, n_cols_cat,
                ((n_rows_cat - 1) * (n_cols_cat - 1))::BIGINT AS dof,
                round(chi2d::DOUBLE, 6) AS chi2,
                round(sqrt(chi2d::DOUBLE
                  / (n::DOUBLE * (least(n_rows_cat, n_cols_cat) - 1))), 6)
                  AS cramers_v
              FROM a"""),

    Q("a53_mutual_info", (s, d) =>
      // information-theoretic column-pair dependence (the feature-
      // selection ranking metric): MI + marginal entropies + NMI over
      // the orderpriority x orderstatus contingency; the corpus-level
      // expectation of x_pmi_collocations' PMI
      graft.operators.Stats.mutualInformation(ord(s, d),
        col("o_orderpriority"), col("o_orderstatus")),
      """WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
                count(*)::BIGINT AS o FROM orders GROUP BY 1, 2),
              m AS (SELECT x, y, o,
                      sum(o) OVER (PARTITION BY x) AS xt,
                      sum(o) OVER (PARTITION BY y) AS yt,
                      sum(o) OVER () AS n,
                      count(*) OVER (PARTITION BY x) AS cells_x,
                      count(*) OVER (PARTITION BY y) AS cells_y
                    FROM cells),
              t AS (SELECT
                      round((o / n::DOUBLE)
                        * (ln(o) + ln(n) - ln(xt) - ln(yt)), 9) AS mi_term,
                      round((xt / n::DOUBLE) * (ln(n) - ln(xt)) / cells_x, 9)
                        AS hx_term,
                      round((yt / n::DOUBLE) * (ln(n) - ln(yt)) / cells_y, 9)
                        AS hy_term,
                      n
                    FROM m),
              a AS (SELECT max(n)::BIGINT AS n,
                      sum(mi_term::DECIMAL(28,9)) AS mid,
                      sum(hx_term::DECIMAL(28,9)) AS hxd,
                      sum(hy_term::DECIMAL(28,9)) AS hyd
                    FROM t)
              SELECT n, round(hxd::DOUBLE, 6) AS h_x, round(hyd::DOUBLE, 6) AS h_y,
                round(mid::DOUBLE, 6) AS mi,
                round(mid::DOUBLE / sqrt(hxd::DOUBLE * hyd::DOUBLE), 6) AS nmi
              FROM a"""),

    Q("a54_yoy_growth", (s, d) => {
      // period-over-period report: monthly revenue + same-month
      // prior-year delta via ONE lag window over the year-month frame
      // (calendar-bounded rows — the corpus is touched by one aggregate);
      // exact integer cents, one final division
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("m")).orderBy(col("y"))
      ord(s, d)
        .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
        .groupBy(col("y"), col("m")).agg(sum(col("cents")).as("rev_cents"))
        .withColumn("prior_cents", lag(col("rev_cents"), 1).over(w))
        .filter(col("prior_cents").isNotNull)
        .select(col("y"), col("m"), col("rev_cents"), col("prior_cents"),
          round((col("rev_cents") - col("prior_cents")).cast("double")
            / col("prior_cents"), 6).as("yoy_pct"))
    },
      """WITH mo AS (SELECT year(o_orderdate)::INT AS y,
                month(o_orderdate)::INT AS m,
                sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS rev_cents
              FROM orders GROUP BY 1, 2),
              l AS (SELECT y, m, rev_cents,
                      lag(rev_cents) OVER (PARTITION BY m ORDER BY y) AS prior_cents
                    FROM mo)
              SELECT y, m, rev_cents, prior_cents,
                round((rev_cents - prior_cents) / prior_cents::DOUBLE, 6) AS yoy_pct
              FROM l WHERE prior_cents IS NOT NULL"""),

    Q("a55_abc_class", (s, d) => {
      // ABC / Pareto inventory classification: parts by revenue into
      // A (starts before the 80% cumulative-share boundary), B (<95%),
      // C (rest); descending-revenue cumulative rides the bucketed
      // global running sums (no single-partition sort), class gates are
      // integer cross-multiplications
      val per = li(s, d)
        .select(col("l_partkey").as("p"),
          (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
            .as("cents"))
        .groupBy(col("p")).agg(sum(col("cents")).as("rev"))
        .withColumn("neg", -col("rev"))
      val (cum, Seq(total)) = graft.operators.Windows.globalRunningSums(
        per, "neg", Seq(col("p")), Seq(col("rev") -> "cum"))
      cum
        .withColumn("before", col("cum") - col("rev"))
        .withColumn("cls",
          when(col("before") * 100 < lit(total) * 80, "A")
            .when(col("before") * 100 < lit(total) * 95, "B")
            .otherwise("C"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("class_cents"))
        .select(col("cls"), col("n_items"), col("class_cents"),
          round(col("class_cents").cast("double") / total, 6)
            .as("share"))
    },
      """WITH per AS (SELECT l_partkey AS p,
                sum((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS rev
              FROM lineitem GROUP BY 1),
              t AS (SELECT sum(rev)::BIGINT AS total FROM per),
              c AS (SELECT rev,
                      (sum(rev) OVER (ORDER BY rev DESC, p) - rev)::BIGINT AS "before"
                    FROM per),
              k AS (SELECT rev, CASE WHEN "before" * 100 < total * 80 THEN 'A'
                                     WHEN "before" * 100 < total * 95 THEN 'B'
                                     ELSE 'C' END AS cls
                    FROM c CROSS JOIN t)
              SELECT cls, count(*)::BIGINT AS n_items,
                     sum(rev)::BIGINT AS class_cents,
                     round(sum(rev) / (SELECT total FROM t)::DOUBLE, 6) AS share
              FROM k GROUP BY 1"""),

    Q("x_readability", (s, d) =>
      // Flesch-Kincaid grade + reading ease per doc: three row-local
      // regex counts (words, [.!?]+ sentence ends, [aeiouy]+ vowel-group
      // syllables), two exact-int divisions, one multiply-add chain
      TextFunctions.readability(doc(s, d), col("doc_id"), col("text")),
      """WITH c AS (SELECT doc_id,
                len(regexp_extract_all(text, '\S+'))::INT AS n_words,
                greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::INT
                  AS n_sentences,
                len(regexp_extract_all(lower(text), '[aeiouy]+'))::INT
                  AS n_syllables
              FROM documents),
              r AS (SELECT doc_id, n_words, n_sentences, n_syllables,
                      n_words / n_sentences::DOUBLE AS wps,
                      n_syllables / n_words::DOUBLE AS spw
                    FROM c WHERE n_words > 0)
              SELECT doc_id, n_words, n_sentences, n_syllables,
                round(0.39 * wps + 11.8 * spw - 15.59, 6) AS fk_grade,
                round(206.835 - 1.015 * wps - 84.6 * spw, 6) AS reading_ease
              FROM r"""),

    Q("d_assortativity", (s, d) =>
      // degree assortativity (Newman r) over the supplier co-supply
      // graph: Pearson of endpoint degrees across directed edge
      // instances — hubs-to-hubs vs hub-and-spoke in one number; all
      // five sums exact DECIMAL from one edge aggregate
      graft.operators.Components.assortativity(
        coSupplyPairs(s, d),
        "sa", "sb"),
      coSupplyEdgeCtes + """,
              ee AS (SELECT u AS src, v AS dst FROM e0
                     UNION ALL SELECT v, u FROM e0),
              deg AS (SELECT src AS x, count(*)::BIGINT AS d FROM ee GROUP BY 1),
              j AS (SELECT ee.src, dx.d AS dx, dy.d AS dy
                    FROM ee JOIN deg dx ON ee.src = dx.x
                    JOIN deg dy ON ee.dst = dy.x),
              a AS (SELECT count(DISTINCT src)::BIGINT AS n_nodes,
                      (count(*) / 2)::BIGINT AS n_edges, count(*)::BIGINT AS m,
                      sum(dx::DECIMAL(38,0)) AS sx, sum(dy::DECIMAL(38,0)) AS sy,
                      sum(dx::DECIMAL(38,0) * dy) AS sxy,
                      sum(dx::DECIMAL(38,0) * dx) AS sxx,
                      sum(dy::DECIMAL(38,0) * dy) AS syy
                    FROM j)
              SELECT n_nodes, n_edges,
                CASE WHEN sqrt((m * sxx - sx * sx)::DOUBLE)
                       * sqrt((m * syy - sy * sy)::DOUBLE) > 0
                     THEN round((m * sxy - sx * sy)::DOUBLE
                       / (sqrt((m * sxx - sx * sx)::DOUBLE)
                         * sqrt((m * syy - sy * sy)::DOUBLE)), 6)
                END AS r
              FROM a"""),

    Q("d_clustering_coeff", (s, d) =>
      // transitivity readout over the supplier co-supply graph: global
      // C = 3T/W and the Watts-Strogatz average local coefficient;
      // triangles ride the degree-oriented wedge join (m^1.5 bound)
      graft.operators.Components.clusteringCoefficient(
        coSupplyPairs(s, d),
        "sa", "sb"),
      coSupplyTriangleCtes + """,
              pv AS (SELECT vertex AS x, count(*)::BIGINT AS t
                     FROM (SELECT unnest([x, y, z]) AS vertex FROM tri) z
                     GROUP BY 1),
              per AS (SELECT deg.d, coalesce(pv.t, 0)::BIGINT AS t,
                        (deg.d * (deg.d - 1) // 2)::BIGINT AS w
                      FROM deg LEFT JOIN pv ON deg.x = pv.x)
              SELECT count(*)::BIGINT AS n_vertices,
                (sum(t) / 3)::BIGINT AS n_triangles,
                sum(w)::BIGINT AS n_wedges,
                round(sum(t)::DOUBLE / sum(w), 6) AS global_cc,
                round(sum(CASE WHEN d >= 2
                      THEN round(t / w::DOUBLE, 9)::DECIMAL(28,9)
                      ELSE 0::DECIMAL(28,9) END)::DOUBLE
                  / sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END), 6) AS avg_local_cc
              FROM per"""),

    Q("a56_gains_table", (s, d) =>
      // decile gains/lift table for a propensity score (acctbal scoring
      // "will this customer order?"): equi-depth deciles without a
      // global sort, per-decile response rate, cumulative capture, lift
      graft.operators.Stats.gainsTable(
        cst(s, d).join(
            ord(s, d).select(col("o_custkey").as("k")).distinct()
              .withColumn("has", lit(1L)),
            col("c_custkey") === col("k"), "left")
          .select(col("c_custkey"), col("c_acctbal"),
            coalesce(col("has"), lit(0L)).as("y")),
        col("c_acctbal"), col("y"), col("c_custkey"), k = 10),
      """WITH lbl AS (SELECT c_custkey, c_acctbal,
                CASE WHEN o.k IS NULL THEN 0 ELSE 1 END AS y
              FROM customer LEFT JOIN
                (SELECT DISTINCT o_custkey AS k FROM orders) o
                ON c_custkey = o.k),
              b AS (SELECT (ntile(10) OVER (ORDER BY -c_acctbal::DOUBLE,
                      c_custkey))::INT AS decile, y FROM lbl),
              bins AS (SELECT decile, count(*)::BIGINT AS n,
                         sum(y)::BIGINT AS n_pos FROM b GROUP BY 1),
              t AS (SELECT sum(n)::BIGINT AS nt, sum(n_pos)::BIGINT AS pt
                    FROM bins)
              SELECT decile, n, n_pos,
                round(n_pos / n::DOUBLE, 6) AS rate,
                (sum(n_pos) OVER (ORDER BY decile))::BIGINT AS cum_pos,
                round((sum(n_pos) OVER (ORDER BY decile)) / pt::DOUBLE, 6)
                  AS capture,
                round((n_pos::DOUBLE * nt) / (n::DOUBLE * pt), 6) AS lift
              FROM bins CROSS JOIN t"""),

    Q("d_modularity", (s, d) => {
      // partition quality for the LPA communities on the sparsified
      // part co-occurrence graph: Newman-Girvan Q from two label equi
      // joins + one community aggregate — closes the community loop
      // (detect with d_lpa_communities, score here)
      // materialized: the sparsified wedge-join pair build feeds BOTH the
      // LPA detection pass and the modularity scorer — left lazy it runs
      // twice (the r13 before-plan carried the whole self-join lineage in
      // every modularity aggregate)
      val pairs = graft.Mat(partPairs(s, d))
      val lab = graft.operators.Components
        .labelPropagation(pairs, "u", "v", iters = 4)
        .select(col("node"), col("community"))
      graft.operators.Components.modularity(pairs, "u", "v", lab)
    },
      partGraphCtes("e") + ",\n" + lpaCtes(4) + """,
              tg AS MATERIALIZED (SELECT b.u, b.v, lu.lab AS cu, lv.lab AS cv
                FROM b JOIN l4 lu ON b.u = lu.node
                JOIN l4 lv ON b.v = lv.node),
              mm AS (SELECT count(*)::BIGINT AS m FROM tg),
              wi AS (SELECT cu AS c, count(*)::BIGINT AS win FROM tg
                     WHERE cu = cv GROUP BY 1),
              dc AS (SELECT c, count(*)::BIGINT AS degc FROM (
                       SELECT cu AS c FROM tg UNION ALL SELECT cv FROM tg) z
                     GROUP BY 1),
              t AS (SELECT round(coalesce(win, 0) / m::DOUBLE
                      - (degc / (m * 2)::DOUBLE) * (degc / (m * 2)::DOUBLE), 9)
                      AS term, m
                    FROM dc LEFT JOIN wi USING (c) CROSS JOIN mm)
              SELECT count(*)::BIGINT AS n_communities,
                max(m)::BIGINT AS n_edges,
                round(sum(term::DECIMAL(28,9))::DOUBLE, 6) AS modularity
              FROM t"""),

    Q("a57_bootstrap_ci", (s, d) =>
      // Poisson-bootstrap CI for mean order value (the fleet-scale
      // metric-CI pattern: per-row independent Poisson(1) weights from
      // md5 uniforms, 32 resamples as 64 conditional sums in ONE
      // aggregate, no row duplication; CI = 2nd/31st order statistics)
      graft.operators.Stats.poissonBootstrapCi(
        ord(s, d).select(
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
            .as("cents"), col("o_orderkey")),
        col("cents"), col("o_orderkey"), b = 32),
      bootstrapCiOracle(32)),

    Q("v_ood_outliers", (s, d) =>
      // embedding-quality outlier screen: diagonal-Mahalanobis OOD score
      // (sum of per-dim z^2 vs corpus mean/std), top-20; stats are one
      // posexplode aggregate, scoring a row-local HOF fold
      Similarity.oodOutliers(emb(s, d), "vec_id", "embedding", k = 20),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              st AS (SELECT i AS pos,
                       sum(round(v[i + 1], 9)::DECIMAL(28,9)) AS s,
                       sum(round(v[i + 1] * v[i + 1], 9)::DECIMAL(28,9)) AS ss,
                       count(*)::BIGINT AS n
                     FROM e CROSS JOIN unnest(range(0, 64)) t(i) GROUP BY 1),
              ms AS (SELECT pos, s::DOUBLE / n AS m,
                       sqrt(greatest(ss::DOUBLE / n
                         - (s::DOUBLE / n) * (s::DOUBLE / n), 1e-12)) AS sd
                     FROM st),
              arr AS (SELECT list(m ORDER BY pos) AS means,
                             list(sd ORDER BY pos) AS stds FROM ms),
              sc AS (SELECT vec_id, round(list_sum(list_transform(range(0, 64),
                       i -> round(((v[i + 1] - means[i + 1]) / stds[i + 1])
                         * ((v[i + 1] - means[i + 1]) / stds[i + 1]), 9))), 6)
                       AS ood_score
                     FROM e CROSS JOIN arr)
              SELECT vec_id, ood_score,
                (row_number() OVER (ORDER BY ood_score DESC, vec_id))::INT AS rank
              FROM sc ORDER BY ood_score DESC, vec_id LIMIT 20"""),

    Q("a62_fd_discovery", (s, d) => {
      // functional-dependency discovery (TANE level 1) over four orders
      // columns: which columns determine which — the key-detection /
      // schema-inference profiling primitive. One shuffle per
      // determinant (4 groupBys for 12 ordered pairs, never one per
      // pair); rollups are metadata-sized. o_orderkey is unique so its
      // three FDs hold; every other pair reports its violation count
      // and worst fan-out
      graft.operators.Stats.fdDiscovery(
        ord(s, d), Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },
      (for {
        lhs <- Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        rhs <- Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        if lhs != rhs
      } yield
        s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs, count(*)::BIGINT AS n_groups,
               sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
               max(d)::BIGINT AS max_fanout,
               (sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0) AS holds
            FROM (SELECT $lhs,
                    count(distinct $rhs)
                      + max(CASE WHEN $rhs IS NULL THEN 1 ELSE 0 END) AS d
                  FROM orders GROUP BY 1)""").mkString("\nUNION ALL\n")),

    Q("a58_trimmed_means", (s, d) =>
      // robust-center report: 5%-trimmed and winsorized means of order
      // value in exact integer cents — order statistics from per-value
      // counts + the bucketed running sums (no sort); the only float
      // work is three final divisions
      graft.operators.Stats.trimmedMeans(
        ord(s, d).select((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents")),
        col("cents"), trimPct = 5),
      """WITH per AS (SELECT (o_totalprice::DECIMAL(12,2) * 100)::BIGINT AS x,
                count(*)::BIGINT AS c FROM orders GROUP BY 1),
              cum AS (SELECT x, c, sum(c) OVER (ORDER BY x) AS cum FROM per),
              tot AS (SELECT sum(c)::BIGINT AS n,
                        sum(x::DECIMAL(38,0) * c) AS sx FROM per),
              base AS (SELECT x, c, cum, cum - c AS cb, n, sx,
                         (n * 5 // 100)::BIGINT AS k
                       FROM cum CROSS JOIN tot),
              inner_s AS (SELECT max(n)::BIGINT AS n, max(k)::BIGINT AS k,
                            max(sx) AS sx,
                            sum(x::DECIMAL(38,0) * greatest(0,
                              least(cum, n - k)
                              - greatest(cb + 1, k + 1) + 1)) AS tsum
                          FROM base),
              lo AS (SELECT min(x)::BIGINT AS v_lo FROM base WHERE cum >= k + 1),
              hi AS (SELECT min(x)::BIGINT AS v_hi FROM base WHERE cum >= n - k)
              SELECT n, k AS k_trim,
                round(sx::DOUBLE / n, 6) AS mean,
                round(tsum::DOUBLE / (n - k * 2), 6) AS trimmed_mean,
                round((tsum + v_lo::DECIMAL(38,0) * k
                       + v_hi::DECIMAL(38,0) * k)::DOUBLE / n, 6)
                  AS winsorized_mean
              FROM inner_s CROSS JOIN lo CROSS JOIN hi"""),

    Q("d_ppr_seeds", (s, d) => {
      // personalized PageRank from the p%997==0 seed parts over the
      // sparsified co-occurrence graph (random walk with restart — the
      // graph-retrieval relevance primitive): 3 iterations, per-edge
      // contributions round-9 into DECIMAL sums, restart mass 1/|S|
      graft.operators.Components.personalizedPageRank(
        partPairs(s, d), "u", "v", seedParts(s, d), iters = 3)
    },
      partGraphCtes("ed") + """,
              dg AS (SELECT src, count(*)::BIGINT AS outdeg FROM ed GROUP BY 1),
              nd AS (SELECT DISTINCT src AS node FROM ed),
              sd AS (SELECT DISTINCT l_partkey AS node FROM lineitem
                     WHERE l_partkey % 997 = 0),
              ns AS (SELECT floor(1.0::DOUBLE / count(*) * 1e9 + 0.5) / 1e9 AS sm FROM sd),
              bs AS MATERIALIZED (SELECT nd.node,
                      (CASE WHEN sd.node IS NOT NULL THEN ns.sm ELSE 0.0 END)::DOUBLE AS e
                    FROM nd LEFT JOIN sd ON nd.node = sd.node CROSS JOIN ns),
              r0 AS MATERIALIZED (SELECT node, e AS rank FROM bs),
""" + pprCtes(3) + """
              SELECT node, rank FROM r3"""),

    Q("a59_roc_auc", (s, d) =>
      // classifier-evaluation readout: ROC-AUC of the quality score as a
      // predictor of "document is English" via the rank-sum identity with
      // midranks (the same 2x-scaled exact-integer rank machinery as
      // a51_mann_whitney — AUC = normalized U); one hash agg per distinct
      // score + the bucketed two-pass running sum, one final division
      graft.operators.Stats.rocAuc(doc(s, d),
        TextFunctions.qualityScore(col("text")),
        (col("lang") === "en").cast("int")),
      "WITH " + enQualityCtes(" AS x") + """,
              per AS (SELECT x, sum(y)::BIGINT AS c1, sum(1 - y)::BIGINT AS c0
                      FROM sc GROUP BY 1),
              cum AS (SELECT c0, c1, sum(c0 + c1) OVER (ORDER BY x) - c0 - c1 AS cb
                      FROM per),
              agg AS (SELECT sum(c1)::BIGINT AS n_pos, sum(c0)::BIGINT AS n_neg,
                        sum((c1 * (cb * 2 + c0 + c1 + 1))::DECIMAL(38,0)) AS r2
                      FROM cum),
              f AS (SELECT n_pos, n_neg,
                      round((r2 - (n_pos * (n_pos + 1))::DECIMAL(38,0))::DOUBLE
                            / (2.0 * n_pos::DOUBLE * n_neg), 6) AS auc
                    FROM agg)
              SELECT n_pos, n_neg, auc, round(auc * 2 - 1, 6) AS gini_idx
              FROM f"""),

    Q("a60_calibration", (s, d) =>
      // is the quality score CALIBRATED as P(english)? ECE/MCE over 10
      // equal-width bins + Brier score. ECE telescopes to
      // sum_bins |sum_p - pos| / N over exact DECIMAL sums ((p-y)^2 exact
      // at decimal(_,12) since p is 6dp) — each metric is ONE float
      // division; one hash aggregate over 10 groups
      graft.operators.Stats.calibrationReport(doc(s, d),
        TextFunctions.qualityScore(col("text")),
        (col("lang") === "en").cast("int"), bins = 10),
      "WITH " + enQualityCtes("::DECIMAL(8,6) AS p") + """,
              pb AS (SELECT least(floor(p::DOUBLE * 10), 9)::BIGINT AS bin,
                       count(*)::BIGINT AS n_b,
                       sum(p)::DECIMAL(38,6) AS sum_p,
                       sum(y)::BIGINT AS pos,
                       sum(((p - y) * (p - y))::DECIMAL(38,12)) AS sq
                     FROM sc GROUP BY 1),
              g AS (SELECT n_b, pos, sq,
                      abs(sum_p - pos)::DECIMAL(38,6) AS absgap,
                      round(abs(sum_p - pos)::DOUBLE / n_b, 6) AS gap_b
                    FROM pb)
              SELECT sum(n_b)::BIGINT AS n, count(*)::BIGINT AS n_bins_used,
                round(sum(absgap)::DOUBLE / sum(n_b), 6) AS ece,
                max(gap_b) AS mce,
                round(sum(sq)::DOUBLE / sum(n_b), 6) AS brier
              FROM g"""),

    Q("a61_cohens_kappa", (s, d) =>
      // annotator/model agreement QC: Cohen's kappa between the langId
      // heuristic and the labeled lang column (multi-category, union of
      // both raters' label sets). kappa = (diag*n - sum ra_k*cb_k) /
      // (n^2 - sum ra_k*cb_k) — exact integers until ONE division; two
      // category-bounded margin aggregates, nothing row-scale past the
      // first agg
      graft.operators.Stats.cohensKappa(doc(s, d),
        TextFunctions.langId(col("text")), col("lang")),
      "WITH " + langGuessCte("lang AS b", "a") + """,
              cells AS (SELECT a, b, count(*)::BIGINT AS o FROM p GROUP BY 1, 2),
              tot AS (SELECT sum(o)::BIGINT AS n,
                        sum(CASE WHEN a = b THEN o ELSE 0 END)::BIGINT AS diag
                      FROM cells),
              ra AS (SELECT a AS k, sum(o)::BIGINT AS ra FROM cells GROUP BY 1),
              cb AS (SELECT b AS k, sum(o)::BIGINT AS cb FROM cells GROUP BY 1),
              pe AS (SELECT sum(coalesce(ra, 0)::DECIMAL(18,0)
                              * coalesce(cb, 0)::DECIMAL(18,0)) AS pe_num,
                       count(*)::BIGINT AS n_cats
                     FROM ra FULL OUTER JOIN cb USING (k))
              SELECT n, n_cats,
                round(diag::DOUBLE / n, 6) AS po,
                round(pe_num::DOUBLE
                      / (n::DECIMAL(18,0) * n::DECIMAL(18,0))::DOUBLE, 6) AS pe,
                round((diag::DECIMAL(18,0) * n::DECIMAL(18,0) - pe_num)::DOUBLE
                      / ((n::DECIMAL(18,0) * n::DECIMAL(18,0)) - pe_num)::DOUBLE,
                      6) AS kappa
              FROM tot CROSS JOIN pe"""),

    Q("x_llr_keyness", (s, d) =>
      // corpus-comparison keyness (Dunning 1993 log-likelihood): the
      // tokens most characteristic of the ENGLISH slice vs the rest,
      // G2 from the closed x*ln(x) form over exact integer counts (one
      // vocabulary-bounded agg + a 1-row totals broadcast); direction
      // gate is exact integer cross-multiplication, ordering is on the
      // rounded statistic with a term tiebreak
      TextFunctions.llrKeyness(doc(s, d), col("text"), col("lang") === "en",
        minCount = 5L, topN = 20),
      """WITH toks AS (SELECT
                unnest(string_split_regex(trim(lower(text)), '\s+')) AS term,
                (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS in_a
              FROM documents),
              counts AS (SELECT term, sum(in_a)::BIGINT AS c_a,
                           sum(1 - in_a)::BIGINT AS c_b
                         FROM toks WHERE term <> '' GROUP BY 1),
              tot AS (SELECT sum(c_a)::BIGINT AS tot_a, sum(c_b)::BIGINT AS tot_b
                      FROM counts),
              g AS (SELECT term, c_a, c_b,
                      round(2.0 * (
                        (CASE WHEN c_a > 0 THEN c_a * ln(c_a::DOUBLE) ELSE 0 END)
                        + (CASE WHEN c_b > 0 THEN c_b * ln(c_b::DOUBLE) ELSE 0 END)
                        + (CASE WHEN tot_a - c_a > 0 THEN (tot_a - c_a) * ln((tot_a - c_a)::DOUBLE) ELSE 0 END)
                        + (CASE WHEN tot_b - c_b > 0 THEN (tot_b - c_b) * ln((tot_b - c_b)::DOUBLE) ELSE 0 END)
                        + (tot_a + tot_b) * ln((tot_a + tot_b)::DOUBLE)
                        - (CASE WHEN c_a + c_b > 0 THEN (c_a + c_b) * ln((c_a + c_b)::DOUBLE) ELSE 0 END)
                        - (CASE WHEN tot_a + tot_b - c_a - c_b > 0 THEN (tot_a + tot_b - c_a - c_b) * ln((tot_a + tot_b - c_a - c_b)::DOUBLE) ELSE 0 END)
                        - tot_a * ln(tot_a::DOUBLE)
                        - tot_b * ln(tot_b::DOUBLE)), 6) AS g2
                    FROM counts CROSS JOIN tot
                    WHERE c_a + c_b >= 5
                      AND c_a::DECIMAL(18,0) * tot_b::DECIMAL(18,0)
                        > c_b::DECIMAL(18,0) * tot_a::DECIMAL(18,0))
              SELECT (row_number() OVER (ORDER BY g2 DESC, term))::INT AS rank,
                term, c_a, c_b, g2
              FROM g ORDER BY g2 DESC, term LIMIT 20"""),

    Q("v_filtered_ann", (s, d) => {
      // FILTERED vector search eval: top-5 under a metadata predicate
      // (label < 3, ~30% selectivity) answered by the production
      // overfetch recipe — unfiltered IVF top-20, post-filter, re-rank
      // to 5 — scored against the exact filtered truth per query. The
      // predicate is a semi join on corpus metadata (no second corpus
      // scan); recall_ppm is exact integer division
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 20)
      val pass = e.filter(col("label") < 3).select(col("vec_id"))
      val ann = Similarity.ivfCosineTopK(
        q, e, "vec_id", "embedding", "vec_id", "embedding",
        k = 20, nlist = 16, nprobe = 4)
      val filtered = Similarity.postFilterTopK(ann, pass, k = 5)
      Similarity.annRecallEval(filtered, q, e.filter(col("label") < 3),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
""" + ivfProbeCtes + ",\nivf AS (" + ivfProbeTopK(20) + """),
              filt AS (SELECT query_id, neighbor_id FROM (
                         SELECT i.query_id, i.neighbor_id,
                                row_number() OVER (PARTITION BY i.query_id
                                  ORDER BY i.cos DESC, i.neighbor_id) AS rn
                         FROM ivf i JOIN e ON e.vec_id = i.neighbor_id
                         WHERE e.label < 3) WHERE rn <= 5),
              truth AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                               (row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                                           e.vec_id))::INT AS rank
                        FROM (SELECT * FROM e WHERE vec_id < 20) q
                        JOIN e ON e.vec_id <> q.vec_id AND e.label < 3
                        QUALIFY rank <= 5)
              SELECT t.query_id, count(*)::BIGINT AS n_truth,
                     count(f.neighbor_id)::BIGINT AS n_hits,
                     (count(f.neighbor_id) * 1000000 // count(*))::BIGINT
                       AS recall_ppm
              FROM truth t LEFT JOIN filt f
                ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
              GROUP BY t.query_id"""),
  ))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** The queries a driver run covers: all of them when `only` (the
    * `SPARK_GRAFT_ONLY` value, comma-separated names) is unset, else the
    * named ones. Names are trimmed and empty ones dropped; a list naming
    * no query, or a name the registry does not hold, throws before any
    * query runs, so a typo cannot pass for a short run. */
  def select(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { spec =>
      val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$spec' names no query")
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names queries not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.filter { case (n, _) => names(n) }
    }

  def oracleSql: Map[String, String] =
    defs.map(q => q.name -> q.oracle.linesIterator.map(_.trim).mkString(" ")).toMap
}
