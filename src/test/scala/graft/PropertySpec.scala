package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Intervals
import graft.domain.{Consolidate, Ingest, Proposals}

/** Property-based invariants (SURVEY §5 item 4 analog): generated inputs,
  * algebraic postconditions. Seeded ScalaCheck generators, deterministic
  * across runs; few cases since each spins Spark jobs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val intervalsGen: Gen[List[(Long, Int, Int)]] = for {
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      f <- Gen.choose(0, 500)
      len <- Gen.choose(0, 100)
    } yield (k, f, f + len))
  } yield rows

  test("mergeIntervals: disjoint output, member conservation, full coverage (5 seeds)") {
    (1L to 5L).foreach { seed =>
      val rows = sample(intervalsGen, seed)
      val out = Intervals.mergeIntervals(
        rows.toDF("k", "fs", "ts").select(col("k"),
          timestamp_seconds(col("fs")).as("f"), timestamp_seconds(col("ts")).as("t")),
        col("k"), col("f"), col("t"))
        .select(col("key"), col("range_from").cast("long"), col("range_to").cast("long"),
          col("n_merged"))
        .as[(Long, Long, Long, Int)].collect()
      out.groupBy(_._1).foreach { case (_, rs) =>
        rs.sortBy(_._2).sliding(2).foreach {
          case Array(a, b) => assert(b._2 > a._3, s"seed=$seed overlapping runs: $a $b")
          case _ =>
        }
      }
      assert(out.map(_._4).sum == rows.size, s"seed=$seed conservation")
      rows.foreach { case (k, f, t) =>
        assert(out.exists(o => o._1 == k && o._2 <= f && t <= o._3), s"seed=$seed coverage ($k,$f,$t)")
      }
    }
  }

  private val propsGen: Gen[List[Consolidate.PropIn]] = for {
    n <- Gen.choose(1, 12)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("G1", "G2")
      md5 <- Gen.oneOf("h1", "h2")
      m <- Gen.choose(1, 12)
      plans <- Gen.someOf(Seq("x", "y", "*")).map(_.toList.sorted)
    } yield Consolidate.PropIn(g, s"P$m-$g-$md5", md5,
      f"2020-$m%02d-01", f"2020-$m%02d-28",
      List("A"), if (plans.isEmpty) List("x") else plans))
  } yield rows.distinctBy(_.proposal_id)

  private val docGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 8)
    rows <- Gen.listOfN(n, for {
      len <- Gen.choose(0, 40)
      cs <- Gen.listOfN(len, Gen.oneOf("abcd efg".toSeq))
    } yield cs.mkString)
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("winnowing: fingerprints are a subset of the doc's k-gram hashes (5 seeds)") {
    import graft.functions.TextFunctions
    (20L to 24L).foreach { seed =>
      val rows = sample(docGen, seed)
      val df = rows.toDF("doc_id", "text")
      val fps = TextFunctions.winnowFingerprints(df, col("doc_id"), col("text"), 3, 2)
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val grams = df.select(col("doc_id"),
          explode(Reference.charShingles(col("text"), 3)).as("g"))
        .select(col("doc_id"), graft.operators.Dedup.md5Int(col("g")).as("h"))
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      fps.foreach { case (d, f) =>
        assert(rows.find(_._1 == d).get._2.length >= 4, s"seed=$seed short doc emitted")
        assert(f.subsetOf(grams.getOrElse(d, Set.empty)), s"seed=$seed doc=$d not a subset")
      }
    }
  }

  test("lookupRate equals a driver-side most-specific-rule replay (3 seeds)") {
    import graft.domain.Calc
    val ratesGen: Gen[List[(String, String, String, Option[Int], Option[Int], Double)]] = for {
      n <- Gen.choose(1, 8)
      rows <- Gen.listOfN(n, for {
        sch <- Gen.oneOf("S1", "S2")
        p <- Gen.oneOf("*", "PA", "PB")
        st <- Gen.oneOf("*", "TX", "CA")
        r <- Gen.choose(1, 99)
      } yield (sch, p, st, None: Option[Int], None: Option[Int], r.toDouble))
    } yield rows
    // one fact per (schedule, product, state) the rules can name
    val factRows = for {
      ((sch, p, st), i) <- (for (sch <- Seq("S1", "S2"); p <- Seq("PA", "PB");
        st <- Seq("TX", "CA")) yield (sch, p, st)).zipWithIndex
    } yield (i + 1L, 1, "V", 1, s"B${i + 1}", sch, p, st, 10)
    (30L to 32L).foreach { seed =>
      val rules = sample(ratesGen, seed)
      val rates = rules
        .toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate")
      val facts = factRows
        .toDF("premium_id", "split_seq", "version_id", "tier_level", "broker_id",
          "schedule_code", "product_code", "state", "group_size")
        .withColumn("real_rate", lit(null).cast("double"))
        .withColumn("participant_rate", lit(null).cast("double"))
      // replay: among the rules matching a fact's schedule, product and
      // state (or a '*'), exact product beats exact state beats double
      // wildcard; ties go to the higher rate; no match is NoRate
      val want = factRows.map { f =>
        val matching = rules.filter(r =>
          r._1 == f._6 && (r._2 == "*" || r._2 == f._7) && (r._3 == "*" || r._3 == f._8))
        val best = matching.sortBy(r =>
          ((if (r._2 != "*") 0 else 2) + (if (r._3 != "*") 0 else 1), -r._6)).headOption
        (f._1, best.map(_._6), if (best.isDefined) "ScheduleLookup" else "NoRate")
      }.toSet
      val got = Calc.lookupRate(facts, rates)
        .select(col("premium_id"), col("resolved_rate").cast("double"), col("rate_source"))
        .as[(Long, Option[Double], String)].collect().toSet
      assert(got == want, s"seed=$seed rules=$rules")
    }
  }

  test("consolidate: member conservation, per-group partition, date-span containment (5 seeds)") {
    (10L to 14L).foreach { seed =>
      val rows = sample(propsGen, seed)
      val out = Consolidate.consolidate(rows.toDF())
        .as[Consolidate.PropOut].collect()
      assert(out.map(_.n_merged).sum == rows.size, s"seed=$seed conservation")
      assert(out.map(_.consolidated_id).distinct.length == out.length, s"seed=$seed unique ids")
      out.groupBy(_.group_id).foreach { case (g, rs) =>
        val inG = rows.filter(_.group_id == g)
        assert(rs.map(_.n_merged).sum == inG.size, s"seed=$seed group partition $g")
        // every run's span lies within the group's overall input span
        val minF = inG.map(_.eff_from).min
        val maxT = inG.map(_.eff_to).max
        rs.foreach { r =>
          assert(r.eff_from >= minF && (r.eff_to == null || r.eff_to <= maxT),
            s"seed=$seed span $r")
        }
      }
    }
  }

  private val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(4, 14)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(3, 10)
      ws <- Gen.listOfN(len, Gen.choose(0, 7).map(i => s"w$i"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("prefixJaccardPairs == unblocked exact join on random corpora (4 seeds x 2 thresholds)") {
    (20L to 23L).foreach { seed =>
      val docs = sample(corpusGen, seed)
      val df = docs.toDF("doc_id", "text")
      for (th <- Seq(0.3, 0.6)) {
        val pruned = graft.operators.Dedup
          .prefixJaccardPairs(df, col("doc_id"), col("text"), 2, th)
          .as[(Long, Long, Double)].collect().toSet
        val exact = graft.operators.Dedup
          .ngramJaccardPairs(df, col("doc_id"), col("text"), 2, th)
          .as[(Long, Long, Double)].collect().toSet
        assert(pruned == exact, s"seed=$seed th=$th")
      }
    }
  }

  private val graphGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 30)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L)
    } yield (a, b))
  } yield edges

  test("triangleCounts == brute-force triple enumeration on random graphs (5 seeds)") {
    (30L to 34L).foreach { seed =>
      val edges = sample(graphGen, seed)
      val got = graft.operators.Components
        .triangleCounts(edges.toDF("a", "b"), col("a"), col("b"))
        .as[(Long, Long)].collect().toMap
      val adj = edges.collect { case (a, b) if a != b =>
        Set(math.min(a, b) -> math.max(a, b)) }.flatten.toSet
      val vs = adj.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        Seq(x, y, z) <- vs.combinations(3)
        if adj(x -> y) && adj(y -> z) && adj(x -> z)
        v <- Seq(x, y, z)
      } brute(v) += 1
      assert(got == brute.toMap, s"seed=$seed")
    }
  }

  test("mergeAggState == full recompute under random partitionings (5 seeds)") {
    val rowsGen = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0, 4).map(i => s"k$i")
        v <- Gen.choose(-10000, 10000)
      } yield (k, v / 100.0))
    } yield rows
    (40L to 44L).foreach { seed =>
      val rows = sample(rowsGen, seed)
      val cut1 = sample(Gen.choose(0, rows.size), seed * 7)
      val cut2 = sample(Gen.choose(cut1, rows.size), seed * 13)
      def agg(xs: Seq[(String, Double)]) = xs.toDF("k", "v")
        .groupBy(col("k"))
        .agg(sum(col("v").cast("decimal(12,2)")).as("total"), count(lit(1)).as("n"))
      val parts = Seq(rows.take(cut1), rows.slice(cut1, cut2), rows.drop(cut2))
        .filter(_.nonEmpty).map(agg)
      if (parts.nonEmpty) {
        val merged = graft.operators.Stats
          .mergeAggState(parts, Seq("k"), Seq("total", "n"))
          .select(col("k"), col("total").cast("double"), col("n"))
          .as[(String, Double, Long)].collect().toSet
        val full = agg(rows)
          .select(col("k"), col("total").cast("double"), col("n"))
          .as[(String, Double, Long)].collect().toSet
        assert(merged == full, s"seed=$seed")
      }
    }
  }

  private val runningSumGen: Gen[List[(Int, Long, Long, Long)]] = for {
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(-20, 20)       // duplicate keys incl. negatives
      a <- Gen.choose(-50L, 50L)     // negative values: sums must stay exact
      b <- Gen.choose(0L, 13L)
    } yield (k, a, b))
  } yield rows.zipWithIndex.map { case ((k, a, b), i) => (k, i.toLong, a, b) }

  test("globalRunningSums == sequential prefix sum for random inputs (5 seeds)") {
    (11L to 15L).foreach { seed =>
      val rows = sample(runningSumGen, seed)
      val got = graft.operators.Windows.globalRunningSums(
          rows.toDF("k", "id", "a", "b").repartition(3),
          "k", Seq(col("id")), Seq(col("a") -> "ca", col("b") -> "cb"))._1
        .orderBy(col("k"), col("id"))
        .select(col("ca"), col("cb")).as[(Long, Long)].collect().toSeq
      val want = rows.sortBy(r => (r._1, r._2))
        .scanLeft((0L, 0L)) { case ((sa, sb), r) => (sa + r._3, sb + r._4) }
        .drop(1)
      assert(got == want, s"seed=$seed")
    }
  }

  private val chunkGen: Gen[(Int, Int, List[Int])] = for {
    size <- Gen.choose(1, 12)
    stride <- Gen.choose(1, size)
    docs <- Gen.listOfN(8, Gen.choose(0, 40))
  } yield (size, stride, docs)

  test("slidingChunks: coverage/overlap invariants for random sizes (5 seeds)") {
    (21L to 25L).foreach { seed =>
      val (size, stride, lens) = sample(chunkGen, seed)
      val df = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, (1 to n.max(1)).map(w => s"w$w").mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.functions.TextFunctions
        .slidingChunks(df, col("doc_id"), col("text"), size, stride)
        .select(col("doc_id"), col("cidx"), col("start_w"), col("n_w"))
        .as[(Long, Int, Int, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toList).toMap
      got.foreach { case (id, cs) =>
        val n = lens(id.toInt).max(1)
        // starts advance by exactly the stride from zero
        assert(cs.map(_._3) == cs.indices.map(_ * stride).toList, s"seed=$seed doc=$id")
        // every window non-empty, only the last may be short
        cs.init.foreach(c => assert(c._4 == size, s"seed=$seed doc=$id"))
        assert(cs.last._4 >= 1 && cs.last._4 <= size, s"seed=$seed doc=$id")
        // full coverage: last window ends exactly at the doc end
        assert(cs.last._3 + cs.last._4 == n, s"seed=$seed doc=$id n=$n cs=$cs")
        // window count formula
        val want = 1 + math.ceil(math.max(n - size, 0) / stride.toDouble).toInt
        assert(cs.length == want, s"seed=$seed doc=$id")
      }
    }
  }

  private val segCorpusGen: Gen[(Int, Int, List[String])] = for {
    segWords <- Gen.choose(1, 4)
    maxDf <- Gen.choose(1, 3)
    nDocs <- Gen.choose(1, 20)
    // small vocab so segment collisions actually occur
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(1, 30)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "))
  } yield (segWords, maxDf, docs)

  test("segmentDedup == sequential replay for random corpora (5 seeds)") {
    (31L to 35L).foreach { seed =>
      val (segWords, maxDf, texts) = sample(segCorpusGen, seed)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .segmentDedup(df, col("doc_id"), col("text"), segWords, maxDf)
        .select(col("doc_id"), col("n_segments"), col("n_removed"), col("kept_text"))
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // sequential oracle: segment, count corpus-wide, suppress hot
      val segs = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split("\\s+").grouped(segWords).map(_.mkString(" ")).toList
      }
      val freq = segs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      segs.foreach { case (id, ss) =>
        val kept = ss.filter(s => freq(s) <= maxDf)
        assert(got(id) == ((ss.length.toLong, (ss.length - kept.length).toLong,
          kept.mkString(" "))), s"seed=$seed doc=$id segWords=$segWords maxDf=$maxDf")
      }
    }
  }

  test("indocDedup == sequential keep-first replay per doc (5 seeds)") {
    (61L to 65L).foreach { seed =>
      val (segWords, _, texts) = sample(segCorpusGen, seed)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .indocDedup(df, col("doc_id"), col("text"), segWords)
        .select(col("doc_id"), col("n_segments"), col("n_removed"), col("dedup_text"))
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // sequential oracle: per doc, scan segments left-to-right keeping
      // only unseen ones (distinct preserves first-occurrence order)
      texts.zipWithIndex.foreach { case (t, i) =>
        val ss = t.split("\\s+").grouped(segWords).map(_.mkString(" ")).toList
        val kept = ss.distinct
        assert(got(i.toLong) == ((ss.length.toLong, (ss.length - kept.length).toLong,
          kept.mkString(" "))), s"seed=$seed doc=$i segWords=$segWords")
      }
    }
  }

  test("attribution == sequential per-user replay for random streams (3 seeds)") {
    val gen = for {
      n <- Gen.choose(5, 60)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 5L)
        sec <- Gen.choose(0L, 20L * 86400L) // 20-day span vs 7-day lookback
        et <- Gen.oneOf("view", "click", "purchase", "signup")
        v <- Gen.choose(1, 9999)
      } yield (u, sec, et, v / 100.0))
    } yield evs
    val lbSec = 604800L
    (71L to 73L).foreach { seed =>
      // dedupe (u, sec) — the operator's order contract assumes no exact
      // per-user timestamp ties (true of the event stream)
      val evs = sample(gen, seed)
        .groupBy(e => (e._1, e._2)).map(_._2.head).toList.sortBy(e => (e._1, e._2))
      val df = evs.map { case (u, sec, et, v) =>
        (u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), et, v)
      }.toDF("user_id", "ts", "event_type", "value")
      val got = graft.operators.Stats.attribution(df, col("user_id"), col("ts"),
          col("event_type"), col("value"), Seq("view", "click"), "purchase", lbSec)
        .select(col("channel"), col("n_last_touch"),
          col("last_touch_rev"), col("linear_rev"))
        .as[(String, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // sequential replay
      val nl = collection.mutable.Map("view" -> 0L, "click" -> 0L, "none" -> 0L)
      val lr = collection.mutable.Map("view" -> 0.0, "click" -> 0.0, "none" -> 0.0)
      val li = collection.mutable.Map("view" -> 0.0, "click" -> 0.0, "none" -> 0.0)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      evs.groupBy(_._1).values.foreach { uevs =>
        val tl = uevs.sortBy(_._2)
        tl.zipWithIndex.filter(_._1._3 == "purchase").foreach { case ((_, sec, _, v), i) =>
          val before = tl.take(i)
          val touches = before.filter(e => e._3 == "view" || e._3 == "click")
          val inWin = touches.filter(e => e._2 >= sec - lbSec)
          val last = touches.lastOption.filter(e => e._2 >= sec - lbSec)
            .map(_._3).getOrElse("none")
          nl(last) += 1; lr(last) += r6(v)
          if (inWin.isEmpty) li("none") += r6(v)
          else {
            val nv = inWin.count(_._3 == "view"); val nc = inWin.size - nv
            li("view") += r6(v * nv / inWin.size); li("click") += r6(v * nc / inWin.size)
          }
        }
      }
      Seq("view", "click", "none").foreach { ch =>
        val (gn, glast, glin) = got(ch)
        assert(gn == nl(ch), s"seed=$seed $ch n_last")
        assert(math.abs(glast - lr(ch)) < 1e-6, s"seed=$seed $ch last_rev")
        assert(math.abs(glin - li(ch)) < 1e-6, s"seed=$seed $ch linear_rev")
      }
    }
  }

  test("lineCorrections == sequential rule replay for random docs (3 seeds)") {
    val gen = for {
      nDocs <- Gen.choose(1, 15)
      docs <- Gen.listOfN(nDocs, for {
        n <- Gen.choose(1, 30)
        ws <- Gen.listOfN(n, Gen.oneOf("the", "and", "cat", "dog", "x", "y"))
      } yield ws.mkString(" "))
    } yield docs
    val stop = graft.functions.TextFunctions.stopwords.toSet
    (81L to 83L).foreach { seed =>
      val texts = sample(gen, seed)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.functions.TextFunctions.lineCorrections(df,
          col("doc_id"), col("text"), lineWords = 4, minWords = 2,
          distinctRatioPct = 70, maxRemovedPct = 50)
        .select(col("doc_id"), col("n_lines"), col("n_removed_lines"),
          col("doc_kept"), col("kept_text"))
        .as[(Long, Long, Long, Int, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split("\\s+").toList
        val lines = toks.grouped(4).toList
        val kept = lines.filter { l =>
          !(l.size < 2 || !l.exists(stop.contains) ||
            l.distinct.size * 100 < l.size * 70)
        }
        val nw = toks.size; val kw = kept.map(_.size).sum
        val dk = if ((nw - kw) * 100 <= nw * 50) 1 else 0
        assert(got(i.toLong) == ((lines.size.toLong,
          (lines.size - kept.size).toLong, dk, kept.map(_.mkString(" ")).mkString(" "))),
          s"seed=$seed doc=$i")
      }
    }
  }

  test("event-stats invariants: transitions, reach, MAD vs replay (3 seeds)") {
    val gen = for {
      n <- Gen.choose(10, 80)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 6L)
        sec <- Gen.choose(0L, 10L * 86400L)
        et <- Gen.oneOf("view", "click", "purchase")
        v <- Gen.choose(-500, 500)
      } yield (u, sec, et, v / 10.0))
    } yield evs
    (91L to 93L).foreach { seed =>
      val evs = sample(gen, seed)
        .groupBy(e => (e._1, e._2)).map(_._2.head).toList // unique (u, sec)
      val df = evs.map { case (u, sec, et, v) =>
        (u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), et, v)
      }.toDF("user_id", "ts", "event_type", "value")
      // transitionMatrix: probabilities sum to 1 per from_type; pair
      // count conservation (n_pairs = n_events - n_users)
      val tm = graft.operators.Stats.transitionMatrix(df, col("user_id"),
          col("ts"), col("event_type"))
        .select(col("from_type"), col("n"), col("p"))
        .as[(String, Long, Double)].collect()
      tm.groupBy(_._1).values.foreach { rs =>
        assert(math.abs(rs.map(_._3).sum - 1.0) < 1e-4, s"seed=$seed row-norm")
      }
      val nUsers = evs.map(_._1).distinct.size
      assert(tm.map(_._2).sum == evs.size - nUsers, s"seed=$seed pair count")
      // cumulativeReach: monotone cum, final = distinct users, dau >= n_new
      val cr = graft.operators.Stats.cumulativeReach(df, col("user_id"), col("ts"))
        .select(col("day").cast("string"), col("dau"), col("n_new"), col("cum_users"))
        .as[(String, Long, Long, Long)].collect().sortBy(_._1)
      assert(cr.last._4 == nUsers, s"seed=$seed final reach")
      cr.foreach { r => assert(r._2 >= r._3, s"seed=$seed dau >= n_new") }
      assert(cr.map(_._3).sum == nUsers, s"seed=$seed n_new conservation")
      // madOutliers vs a sorted sequential replay (lower median contract)
      val xs = evs.map(_._4).sorted
      def lowerMedian(v: List[Double]) = {
        val s = v.sorted
        s((v.size - 1) / 2) // smallest x with cum*2 >= n
      }
      val med = lowerMedian(xs)
      val mad = lowerMedian(xs.map(x => math.abs(x - med)))
      val nOut = xs.count(x => math.abs(x - med) > 3.0 * mad)
      val got = graft.operators.Stats.madOutliers(df.select(col("value")),
          col("value"), 3.0)
        .select(col("median"), col("mad"), col("n_outliers"))
        .as[(Double, Double, Long)].collect().head
      assert(got == ((med, mad, nOut.toLong)), s"seed=$seed MAD replay")
    }
  }

  test("ewmaAnomalies == sequential alpha=1/2 replay for random series (3 seeds)") {
    val gen = for {
      n <- Gen.choose(20, 120)
      evs <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        dayIdx <- Gen.choose(0, 25)
      } yield (g, dayIdx))
    } yield evs
    (71L to 73L).foreach { seed =>
      val evs = sample(gen, seed)
      val df = evs.map { case (g, di) =>
        (g, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(di.toLong * 86400L + 3600L)))
      }.toDF("grp", "ts")
      val got = graft.operators.Stats.ewmaAnomalies(df, col("grp"), col("ts"))
        .select(col("grp"), col("day").cast("string"), col("n"), col("j"),
          col("ewma"), col("flag_high"), col("flag_low"))
        .as[(String, String, Long, Int, Double, Int, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).toList).toMap
      // sequential replay: s_t = (x_t + s_{t-1}) / 2, s_0 = x_0
      evs.groupBy(_._1).foreach { case (g, rows) =>
        val series = rows.groupBy(_._2).view.mapValues(_.size.toLong)
          .toList.sortBy(_._1).map(_._2)
        var s = 0.0
        series.zipWithIndex.foreach { case (x, t) =>
          val sPrev = s
          s = if (t == 0) x.toDouble else (x + s) / 2.0
          val r = got(g)(t)
          assert(r._3 == x, s"seed=$seed $g t=$t count")
          assert(math.abs(r._5 - s) < 1e-6, s"seed=$seed $g t=$t ewma $s vs ${r._5}")
          val expHigh = if (t > 0 && x > 1.5 * sPrev) 1 else 0
          val expLow = if (t > 0 && x < 0.5 * sPrev) 1 else 0
          assert(r._6 == expHigh && r._7 == expLow, s"seed=$seed $g t=$t flags")
        }
      }
    }
  }

  test("curationFunnel counts are monotone down the funnel (3 seeds)") {
    val gen = for {
      nDocs <- Gen.choose(2, 25)
      docs <- Gen.listOfN(nDocs, for {
        n <- Gen.choose(1, 25)
        ws <- Gen.listOfN(n, Gen.oneOf("the", "and", "cat", "dog", "le", "la", "x"))
        lang <- Gen.oneOf("en", "fr", "und")
        src <- Gen.oneOf("s1", "s2")
      } yield (ws.mkString(" "), lang, src))
    } yield docs
    (41L to 43L).foreach { seed =>
      val rows = sample(gen, seed).zipWithIndex
        .map { case ((t, l, s), i) => (i.toLong, t, l, s) }
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val probes = Seq((999L, rows.head._2)).toDF("doc_id", "text")
      graft.operators.Curation.curationFunnel(df, probes,
          col("doc_id"), col("text"), col("source"), col("lang"), minQuality = 0.1)
        .select(col("n_docs"), col("n_quality"), col("n_lang"), col("n_exact"),
          col("n_near"), col("n_kept"), col("retention"))
        .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
        .foreach { case (d, q, l, e, nr, k, r) =>
          assert(d >= q && q >= l && l >= e && e >= nr && nr >= k, s"seed=$seed")
          assert(r >= 0.0 && r <= 1.0, s"seed=$seed")
        }
    }
  }

  /** CertificateInfo CSVs as they arrive in the wild: optional BOM,
    * space-padded header names, ragged short/long rows, sentinel dates and
    * junk in the numeric and date columns (no quotes, commas or newlines
    * inside a field, so every generated line is one raw row). */
  private val hostileCertCsvGen: Gen[(String, List[List[String]])] = {
    val pad = Gen.oneOf("", " ", "  ")
    def padded(g: Gen[String]) = for (a <- pad; v <- g; b <- pad) yield a + v + b
    val junk = Gen.oneOf("", "abc", "n/a", "$5", "1e400", "99999999999999999999")
    val num = Gen.frequency(3 -> Gen.choose(0, 100).map(_.toString), 1 -> junk,
      1 -> Gen.oneOf("12.3.4", "2147483648"))
    val date = Gen.oneOf("2020-01-15", "1900-01-01", "9999-12-31", "0001-01-01",
      "2020-13-45", "not-a-date", "")
    def field(i: Int): Gen[String] = padded(i match {
      case 0 => Gen.frequency(3 -> Gen.choose(1, 99999).map(_.toString), 1 -> junk)
      case 1 => Gen.oneOf("G1", "G2", "", " ")
      case 4 => date
      case 8 | 9 | 10 | 11 => num
      case _ => Gen.oneOf("A", "PRODA", "TX", "")
    })
    val row = for {
      len <- Gen.frequency(3 -> Gen.const(15), 1 -> Gen.choose(2, 14), 1 -> Gen.choose(16, 18))
      fs <- (0 until len).foldLeft(Gen.const(List.empty[String])) { (acc, i) =>
        for (l <- acc; f <- field(i)) yield l :+ f
      }
    } yield fs
    for {
      bom <- Gen.oneOf("", "\uFEFF")
      names <- Ingest.certificateSpec.map(_._1).foldLeft(Gen.const(List.empty[String])) {
        (acc, n) => for (l <- acc; p <- padded(Gen.const(n))) yield l :+ p
      }
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, row)
    } yield (bom + names.mkString(","), rows)
  }

  test("hostile CertificateInfo CSVs: ingest -> typed pass -> gate loses no row (5 seeds)") {
    (50L to 54L).foreach { seed =>
      val (header, rows) = sample(hostileCertCsvGen, seed)
      val dir = java.nio.file.Files.createTempDirectory("graft_hostile").toFile
      val f = new java.io.File(dir, "CertificateInfo_hostile.csv")
      java.nio.file.Files.writeString(f.toPath, (header +: rows.map(_.mkString(","))).mkString("\n"))
      val (loaded, quarantine) = Ingest.ingestFiles(spark, Seq(f.getAbsolutePath))
      assert(quarantine.count() == 0, s"seed=$seed header rejected: $header")
      val typed = Ingest.typedPass(loaded("raw_certificate_info"), Ingest.certificateSpec)
      val (ok, quarantined) = Ingest.gate(typed, Seq("cert_id", "group_id"))
      val nTyped = typed.count()
      assert(nTyped == rows.size, s"seed=$seed typed $nTyped of ${rows.size} raw rows")
      assert(ok.count() + quarantined.count() == nTyped, s"seed=$seed gate lost rows")
      // a row conforms iff it has the header's 15 fields, its id parses as
      // a bigint and its group is non-blank; a ragged row is quarantined
      // with its field count named
      val expectedOk = rows.count { r =>
        val id = r.head.trim
        r.size == Ingest.certificateSpec.size &&
          id.nonEmpty && id.forall(_.isDigit) && BigInt(id) <= Long.MaxValue &&
          r(1).trim.nonEmpty
      }
      val nRagged = rows.count(_.size != Ingest.certificateSpec.size)
      if (nRagged > 0) {
        val reasons = quarantined.filter(col(Ingest.FieldsReason).isNotNull)
          .select(col(Ingest.FieldsReason)).as[String].collect().sorted.toSeq
        assert(reasons == rows.map(_.size).filter(_ != 15).map(n => s"$n fields, header has 15")
          .sorted, s"seed=$seed ragged reasons")
      }
      assert(ok.count() == expectedOk, s"seed=$seed conformant rows")
    }
  }

  test("hierKey reads lowercase and uppercase hex alike (3 seeds)") {
    // businessHierKey and the versioned hierarchy keys read sha2's
    // lowercase hex with no upper(): conv is case-insensitive, so they
    // equal the keys of the upper-case content hashes
    (70L to 72L).foreach { seed =>
      val keys = sample(Gen.listOfN(40, Gen.alphaNumStr), seed)
      val h = sha2(col("k"), 256)
      val got = keys.toDF("k")
        .select(Proposals.hierKey(lower(h)), Proposals.hierKey(upper(h)))
        .as[(Long, Long)].collect()
      assert(got.length == keys.size && got.forall { case (a, b) => a == b }, s"seed=$seed")
      assert(got.map(_._1).distinct.length > 1, s"seed=$seed degenerate keys")
    }
  }
}
