package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gini / market-basket / PMI-collocation contracts (round-12 additions). */
class StatsMiscSpec extends SparkSpec {
  import spark.implicits._

  private def gini(xs: Seq[Long]): (Long, Double, Double) =
    Stats.giniCoefficient(
      xs.zipWithIndex.map { case (x, i) => (x, i.toLong) }.toDF("x", "id"),
      col("x"), col("id"))
      .as[(Long, Double, Double)].collect().head

  test("gini: perfectly equal distribution scores 0") {
    val (n, total, g) = gini(Seq.fill(40)(25L))
    assert(n == 40L && total == 1000.0 && g == 0.0)
  }

  test("gini: one-hot concentration scores (n-1)/n") {
    val (n, _, g) = gini(Seq.fill(19)(0L) :+ 1000L)
    assert(n == 20L)
    assert(g == 0.95) // (n-1)/n exactly, no rounding residue
  }

  test("gini matches the O(n^2) mean-absolute-difference definition") {
    val xs = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L, 5L)
    val (_, _, g) = gini(xs)
    val n = xs.size
    val mad = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum.toDouble
    val exp = mad / (2.0 * n * n * (xs.sum.toDouble / n))
    // operator rounds at 6 -> half-ulp-of-round-6 tolerance
    assert(math.abs(g - exp) < 5e-7, s"got $g expected $exp")
  }

  test("gini is tiebreak-invariant (tied values permuted)") {
    val a = Seq(5L, 5L, 5L, 2L, 2L, 9L)
    val g1 = gini(a)._3
    val g2 = gini(a.reverse)._3
    assert(g1 == g2)
  }

  test("frequentItemPairs: hand-computed support / confidence / lift") {
    // baskets: 1:{a,b,c} 2:{a,b} 3:{a,c} 4:{b,c} 5:{a,b,c} 6:{d}
    val bi = Seq(
      (1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
      (4, "b"), (4, "c"), (5, "a"), (5, "b"), (5, "c"), (6, "d"))
      .toDF("b", "i")
    val got = Stats.frequentItemPairs(bi, col("b"), col("i"), minSupportPpt = 1)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.size == 3)
    val (_, _, sab, sa, sb, nb, cab, cba, lift) = got(("a", "b"))
    assert((sab, sa, sb, nb) == ((3L, 4L, 4L, 6L)))
    assert(cab == 0.75 && cba == 0.75)
    assert(lift == 1.125) // 3*6 / (4*4)
    assert(got(("a", "c"))._3 == 3L && got(("b", "c"))._3 == 3L)
  }

  test("frequentItemPairs: support gate is an exact integer cross-multiply") {
    // pair appears in 1 of 10 baskets = 100 ppt: ppt=100 keeps, 101 drops
    val bi = (Seq((0, "x"), (0, "y")) ++
      (1 to 9).map(b => (b, "z"))).toDF("b", "i")
    assert(Stats.frequentItemPairs(bi, col("b"), col("i"), 100).count() == 1)
    assert(Stats.frequentItemPairs(bi, col("b"), col("i"), 101).count() == 0)
  }

  test("frequentItemPairs: duplicate items in a basket count once") {
    val bi = Seq((1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"))
      .toDF("b", "i")
    val got = Stats.frequentItemPairs(bi, col("b"), col("i"), 1)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect()
    assert(got.length == 1)
    assert(got.head._3 == 2L) // both baskets, not three pair instances
  }

  test("chiSquareCramersV: independence scores 0; a diagonal table scores V=1") {
    val indep = (for { r <- Seq("a", "b"); c <- Seq("p", "q"); _ <- 1 to 5 }
      yield (r, c)).toDF("r", "c")
    val gi = Stats.chiSquareCramersV(indep, col("r"), col("c"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().head
    assert(gi == ((20L, 2L, 2L, 1L, 0.0, 0.0)))
    val diag = (Seq.fill(10)(("a", "p")) ++ Seq.fill(10)(("b", "q")))
      .toDF("r", "c")
    val gd = Stats.chiSquareCramersV(diag, col("r"), col("c"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().head
    assert(gd._5 == 20.0) // chi2 = n for a perfect 2x2 association
    assert(gd._6 == 1.0)  // Cramer's V = 1
  }

  test("mutualInformation: independent columns 0; identical columns NMI=1") {
    val indep = (for { x <- Seq("a", "b"); y <- Seq("p", "q"); _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    val gi = Stats.mutualInformation(indep, col("x"), col("y"))
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(gi._4 == 0.0 && gi._5 == 0.0)
    // 50/50 margins: H = ln 2 (round 6)
    val h2 = BigDecimal(math.floor(0.5 * math.log(2.0) * 1e9 + 0.5) / 1e9 * 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gi._2 == h2 && gi._3 == h2)
    val same = (Seq.fill(7)(("a", "a")) ++ Seq.fill(13)(("b", "b"))).toDF("x", "y")
    val gs = Stats.mutualInformation(same, col("x"), col("y"))
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(gs._4 == gs._2 && gs._5 == 1.0) // MI = H(X), NMI = 1
  }

  test("mannWhitneyU: midrank/tie-correction replay on a hand case") {
    // A = {1,2,3}, B = {2,3,4}: midranks 1, 2.5, 4.5 -> R_A = 8, U_A = 2
    val df = Seq((1.0, 0), (2.0, 0), (3.0, 0), (2.0, 1), (3.0, 1), (4.0, 1))
      .toDF("x", "g")
    val got = Stats.mannWhitneyU(df, col("x"), col("g"))
      .as[(Long, Long, Long, Double)].collect().head
    assert((got._1, got._2, got._3) == ((3L, 3L, 4L))) // u_a_x2 = 2*U_A
    // z = (2U - nA*nB) / (2*sigma), sigma^2 = (9/12)*(7 - 12/30)
    val sigma2 = (3.0 * 3 / 12.0) * ((6 + 1) - 12.0 / (6.0 * 5))
    val exp = BigDecimal((4 - 3.0 * 3) / (2.0 * math.sqrt(sigma2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._4 == exp, s"z ${got._4} expected $exp")
  }

  test("mannWhitneyU: identical distributions score z = 0") {
    val df = Seq((1.0, 0), (2.0, 0), (1.0, 1), (2.0, 1)).toDF("x", "g")
    val got = Stats.mannWhitneyU(df, col("x"), col("g"))
      .as[(Long, Long, Long, Double)].collect().head
    assert(got._3 == 4L && got._4 == 0.0) // U_A = null mean exactly
  }

  test("mannWhitneyU: a stochastically larger arm gets a positive z") {
    val df = ((1 to 40).map(i => (i.toDouble, 1)) ++
      (1 to 40).map(i => (i.toDouble + 20, 0))).toDF("x", "g")
    val z = Stats.mannWhitneyU(df, col("x"), col("g"))
      .as[(Long, Long, Long, Double)].collect().head._4
    assert(z > 2.0, s"z=$z") // arm A shifted +20: strongly significant
  }

  test("trimmedMeans: hand replay with ties across the trim boundary") {
    // 21 values: 1, 2..19 (10 twice), 1000 -> k = 2 at 10%
    // sorted: 1,2,...,9,10,10,11,...,19,1000 (n=21)
    val xs = Seq(1L, 1000L, 10L) ++ (2L to 19L)
    val got = Stats.trimmedMeans(xs.toDF("x"), col("x"), trimPct = 10)
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert((got._1, got._2) == ((21L, 2L)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._3 == r6(xs.sum.toDouble / 21))
    // trim ranks 1-2 and 20-21: drop {1, 2} and {19, 1000};
    // interior = ranks 3..19 = {3..18} plus the duplicate 10
    val interior = (3L to 18L) :+ 10L
    assert(got._4 == r6(interior.sum.toDouble / 17))
    // winsorize: clamp to v_lo = 3 (rank 3) and v_hi = 18 (rank 19)
    assert(got._5 == r6((interior.sum + 2 * 3 + 2 * 18).toDouble / 21))
  }

  test("trimmedMeans: a huge outlier moves the mean but not the trimmed mean") {
    val base = (1L to 99L) :+ 1000000L
    val got = Stats.trimmedMeans(base.toDF("x"), col("x"), trimPct = 5)
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(got._3 > 10000.0)           // raw mean dragged by the outlier
    assert(got._4 > 49.0 && got._4 < 53.0) // trimmed mean stays central
    assert(got._5 < got._3 && got._5 >= got._4) // winsorized in between
    // (equal here: the symmetric 6..95 interior makes both exactly 50.5)
  }

  test("poissonBootstrapCi: band brackets the mean and narrows with n") {
    def run(n: Int) = Stats.poissonBootstrapCi(
      (1 to n).map(i => (100L + (i % 21) - 10, i.toLong)).toDF("x", "id"),
      col("x"), col("id"), b = 32)
      .as[(Long, Double, Double, Double, Int)].collect().head
    val small = run(60)
    assert(small._1 == 60L && small._5 == 32)
    // CI must bracket the point estimate and be a proper interval
    assert(small._3 <= small._2 && small._2 <= small._4, small)
    val big = run(2000)
    assert(big._3 <= big._2 && big._2 <= big._4, big)
    // 33x more data -> materially tighter band
    assert(big._4 - big._3 < (small._4 - small._3) / 2,
      s"small width ${small._4 - small._3}, big width ${big._4 - big._3}")
    // deterministic: same input -> identical CI
    assert(run(60) == small)
  }

  test("gainsTable: a perfect score ranks all converters into the top bins") {
    // scores 1..20, converters = scores 17..20 and 16 (top 5): k=5 bins
    // of 4 -> bin1 captures 4/5, bin2 the rest; lift(bin1) = 4x
    val df = (1 to 20).map(i =>
      (i.toLong, i.toDouble, if (i > 15) 1L else 0L)).toDF("id", "s", "y")
    val got = Stats.gainsTable(df, col("s"), col("y"), col("id"), k = 5)
      .as[(Int, Long, Long, Double, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 5)
    val b1 = got(1)
    assert((b1._2, b1._3, b1._4, b1._5, b1._6, b1._7)
      == ((4L, 4L, 1.0, 4L, 0.8, 4.0))) // lift = (4*20)/(4*5)
    val b2 = got(2)
    assert((b2._3, b2._5, b2._6) == ((1L, 5L, 1.0)))
    assert((3 to 5).forall(got(_)._3 == 0L))
  }

  test("ABC classification boundary: an item starting exactly at 80% is B") {
    // replicate the a55 query shape on a hand distribution:
    // revs 50/30/15/5 -> cum-before 0/50/80/95 -> A={50,30} B={15} C={5}
    val per = Seq((1L, 50L), (2L, 30L), (3L, 15L), (4L, 5L)).toDF("p", "rev")
      .withColumn("neg", -col("rev"))
    val cum = Windows.globalRunningSums(per, "neg", Seq(col("p")),
      Seq(col("rev") -> "cum"))._1
    val got = cum
      .withColumn("before", col("cum") - col("rev"))
      .withColumn("cls",
        when(col("before") * 100 < lit(100L) * 80, "A")
          .when(col("before") * 100 < lit(100L) * 95, "B").otherwise("C"))
      .groupBy(col("cls")).agg(sum(col("rev")).as("r"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map("A" -> ((80L, 2L)), "B" -> ((15L, 1L)), "C" -> ((5L, 1L))))
  }

  test("pmiCollocations ranks the glued pair above independent fillers") {
    // "san francisco" always adjacent; fillers vary their neighbors
    val docs = (1 to 30).map { i =>
      (i.toLong, s"san francisco w$i the of w${i % 3} the a${i % 5} of")
    }.toDF("doc_id", "text")
    val got = graft.functions.TextFunctions
      .pmiCollocations(docs, col("doc_id"), col("text"), minCount = 5L, topN = 5)
      .as[(Int, String, String, Long, Long, Long, Double)].collect()
    val sf = got.find(r => (r._2, r._3) == (("san", "francisco"))).get
    // c_xy = c_x = c_y = 30 for the glued pair; N = 8 bigrams x 30 docs
    assert((sf._4, sf._5, sf._6) == ((30L, 30L, 30L)))
    // PMI replay: ln 30 + ln 240 - ln 30 - ln 30, rounded at 6
    val exp = BigDecimal(math.log(30.0) + math.log(240.0)
        - math.log(30.0) - math.log(30.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(sf._7 == exp)
    // the glued pair sits in the maximal-PMI tie group
    assert(sf._7 == got.head._7)
    // rank column is 1..N in (pmi desc, w1, w2) order
    assert(got.map(_._1).toSeq == (1 to got.length).toSeq)
  }

  test("pmiCollocations: the count threshold drops rare pairs") {
    val docs = Seq((1L, "p q p q p q p q p q rare pair")).toDF("doc_id", "text")
    val got = graft.functions.TextFunctions
      .pmiCollocations(docs, col("doc_id"), col("text"), minCount = 4L, topN = 10)
      .as[(Int, String, String, Long, Long, Long, Double)].collect()
    // (p,q) x5 and (q,p) x4 survive; (q,rare)/(rare,pair) have count 1
    assert(got.map(r => (r._2, r._3)).toSet == Set(("p", "q"), ("q", "p")))
  }
}
