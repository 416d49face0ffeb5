package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native CosineSimilarity expression: correct values, zero-norm guard") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def arr(xs: Double*) = Literal.create(xs, ArrayType(DoubleType))
    val got = graft.sql.CosineSimilarity(arr(1.0, 0.0), arr(1.0, 1.0))
      .eval(null).asInstanceOf[Double]
    assert(got == 1.0 / (1.0 * math.sqrt(2.0))) // exact same op order as HOF
    assert(graft.sql.CosineSimilarity(arr(1.0, 0.0), arr(0.0, 0.0)).eval(null) == 0.0)
    assert(math.abs(graft.sql.CosineSimilarity(arr(3.0, 4.0), arr(3.0, 4.0))
      .eval(null).asInstanceOf[Double] - 1.0) < 1e-15)
  }

  test("cosine column function matches manual computation") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(graft.Reference.cosine(
      VectorFunctions.toDoubleArray(col("a")),
      VectorFunctions.toDoubleArray(col("b")))).as[Double].collect().head
    assert(math.abs(got - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceCosineTopK ranks by similarity") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceCosineTopK(
        vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", "vec_id", "embedding", 2)
      .orderBy(col("rank")).select(col("neighbor_id")).as[Long].collect()
    assert(got.toSeq == Seq(3L, 1L)) // 3 closer to (1,0) than 1; 2 orthogonal
  }

  test("lshCosineTopK scores agree with exact cosine on the pairs it returns") {
    val e = graft.Tables.embeddings(spark, sf001)
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceCosineTopK(q, e, "vec_id", "embedding", "vec_id", "embedding", 2000)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val approx = Similarity.lshCosineTopK(q, e, "vec_id", "embedding", "vec_id", "embedding",
        5, dim = 64, nPlanes = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
    assert(approx.nonEmpty)
    // every ANN pair's cosine must equal the exact computation bit-for-bit
    approx.foreach { case (a, b, c) => assert(exact((a, b)) == c, s"pair ($a,$b)") }
  }

  test("ivfCosineTopK probes cells and agrees with exact scores; more probes = full recall") {
    val e = graft.Tables.embeddings(spark, sf001)
    val q = e.filter(col("vec_id") < 5)
    val exactTop = Similarity.bruteForceCosineTopK(q, e, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val ivfAll = Similarity.ivfCosineTopK(q, e, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8) // probing every cell => exact
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    assert(ivfAll == exactTop)
    val ivfPartial = Similarity.ivfCosineTopK(q, e, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 2)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    assert(ivfPartial.nonEmpty && (ivfPartial subsetOf
      Similarity.bruteForceCosineTopK(q, e, "vec_id", "embedding", "vec_id", "embedding", 2000)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet))
  }

  test("annRecallEval: full probing scores 1.0; partial probing never exceeds it") {
    val e = graft.Tables.embeddings(spark, sf001)
    val q = e.filter(col("vec_id") < 5)
    def recall(nprobe: Int): Map[Long, Long] = {
      val ann = Similarity.ivfCosineTopK(q, e, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = nprobe)
      Similarity.annRecallEval(ann, q, e, "vec_id", "embedding",
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("recall_ppm"))
        .as[(Long, Long)].collect().toMap
    }
    val full = recall(8) // probing every cell => IVF is exact => recall 1.0
    assert(full.size == 5 && full.values.forall(_ == 1000000L))
    val partial = recall(1)
    assert(partial.keySet == full.keySet)
    partial.foreach { case (qid, ppm) =>
      assert(ppm >= 0L && ppm <= 1000000L, s"query $qid ppm $ppm")
    }
  }

  test("int8 quantization: codes bounded, reconstruction within half a step") {
    import graft.functions.VectorFunctions._
    val df = Seq(
      (1L, Seq(-1.0, 0.0, 0.5, 1.0, 0.25)),
      (2L, Seq(3.0, 3.0, 3.0, 3.0, 3.0)), // constant vector: scale 0
    ).toDF("id", "v")
      .withColumn("vmin", array_min(col("v")))
      .withColumn("sc", (array_max(col("v")) - array_min(col("v"))) / 255.0)
      .withColumn("codes", quantizeInt8(col("v"), col("vmin"), col("sc")))
      .withColumn("recon", dequantizeInt8(col("codes"), col("vmin"), col("sc")))
      .withColumn("mae", meanAbsError(col("v"), col("recon")))
    val rows = df.select(col("id"), col("codes"), col("mae"), col("sc"))
      .as[(Long, Seq[Int], Double, Double)].collect().sortBy(_._1)
    val (_, codes1, mae1, sc1) = rows(0)
    assert(codes1.forall(c => c >= 0 && c <= 255))
    assert(codes1.head == 0 && codes1(3) == 255) // min -> 0, max -> 255
    assert(mae1 <= sc1 / 2 + 1e-12)              // worst case: half a step
    val (_, codes2, mae2, _) = rows(1)
    assert(codes2.forall(_ == 0) && mae2 == 0.0) // constant vector round-trips
  }

  test("sq8TopK: quantized ranking matches exact euclidean on separated clusters") {
    // two tight clusters far apart: quantization error (half a step,
    // range/512) cannot flip the ordering, so SQ8 top-3 = exact top-3
    val vecs = (Seq(
      (0L, Array(0.0f, 0.0f, 0.0f)),       // query
      (1L, Array(0.1f, 0.0f, 0.1f)),
      (2L, Array(0.2f, 0.1f, 0.0f)),
      (3L, Array(9.0f, 9.5f, 9.0f)),
      (4L, Array(9.5f, 9.0f, 9.5f)))).toDF("vec_id", "embedding")
    val got = Similarity.sq8TopK(vecs, "vec_id", "embedding", queryId = 0L, k = 3)
      .select(col("rank"), col("neighbor_id"), col("adc_dist"))
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(got(0)._3 < got(1)._3 && got(1)._3 < got(2)._3)
    // near cluster distances stay near, far cluster stays far
    assert(got(1)._3 < 1.0 && got(2)._3 > 100.0)
  }

  test("sq8TopK: constant dimension (step 0) reconstructs without NaN") {
    val vecs = (Seq(
      (0L, Array(1.0f, 5.0f)), (1L, Array(2.0f, 5.0f)),
      (2L, Array(4.0f, 5.0f)))).toDF("vec_id", "embedding")
    val got = Similarity.sq8TopK(vecs, "vec_id", "embedding", queryId = 0L, k = 2)
      .select(col("neighbor_id"), col("adc_dist")).as[(Long, Double)]
      .collect().toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got.values.forall(d => !d.isNaN && d >= 0.0))
    assert(got(1L) < got(2L)) // dim-2 is constant; dim-1 still orders
  }

  test("randomProjection preserves relative distances roughly (JL property)") {
    import graft.functions.VectorFunctions
    // two tight groups far apart in 16-dim; projections to 4 dims must
    // keep within-group distances below the between-group distances
    val df = (0L until 20L).map { i =>
      val base = if (i < 10) 5.0 else -5.0
      (i, Seq.tabulate(16)(j => base + 0.01 * ((i + j) % 3)))
    }.toDF("vec_id", "v")
    val projs = VectorFunctions.randomProjection(col("v"), dim = 16, nOut = 4)
    val rows = df.select(col("vec_id") +: projs.zipWithIndex.map {
      case (p, j) => p.as(s"p$j")
    }: _*).as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    def dist(a: (Long, Double, Double, Double, Double),
             b: (Long, Double, Double, Double, Double)): Double =
      math.sqrt(math.pow(a._2 - b._2, 2) + math.pow(a._3 - b._3, 2) +
        math.pow(a._4 - b._4, 2) + math.pow(a._5 - b._5, 2))
    val g1 = rows.filter(_._1 < 10); val g2 = rows.filter(_._1 >= 10)
    val within = for (a <- g1; b <- g1 if a._1 < b._1) yield dist(a, b)
    val between = for (a <- g1; b <- g2) yield dist(a, b)
    assert(within.max < between.min)
    // deterministic: same planes every call
    val again = df.select(col("vec_id") +: VectorFunctions.randomProjection(
      col("v"), dim = 16, nOut = 4).zipWithIndex.map { case (p, j) => p.as(s"p$j") }: _*)
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == again.toSeq)
  }
  test("multi-probe LSH recall >= single-bucket LSH recall vs exact") {
    val vecs = (0L until 120L).map { i =>
      (i, Seq.tabulate(16)(j => math.sin(i * 1.3 + j * 0.7)))
    }.toDF("vec_id", "v")
    val q = vecs.filter(col("vec_id") < 10)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.bruteForceCosineTopK(q, vecs, "vec_id", "v", "vec_id", "v", 5)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
      val got = df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val single = recall(Similarity.lshCosineTopK(q, vecs, "vec_id", "v", "vec_id", "v",
      5, dim = 16, nPlanes = 6))
    val multi = recall(Similarity.lshMultiProbeTopK(q, vecs, "vec_id", "v", "vec_id", "v",
      5, dim = 16, nPlanes = 6))
    assert(multi >= single)
    assert(multi > 0.5) // probing 7 buckets must recover most true neighbors
  }

  test("maxSimTopK: per-token maxima sum; token-level match beats pooled blur") {
    // query doc 0 has two tokens along axes x and y. Doc 1 matches BOTH
    // tokens exactly (maxsim 2.0); doc 2 matches only x (1.0 + 0.0);
    // doc 3 sits diagonally: each token maxes at cos 45deg ~ 0.707107.
    val q = Seq(
      (0L, 100L, Array(1.0, 0.0)), (0L, 101L, Array(0.0, 1.0)))
      .toDF("qdoc", "qtok", "v")
    val c = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(0.7071067811865476, 0.7071067811865476)))
      .toDF("cdoc", "v")
    val got = Similarity.maxSimTopK(q, c, "qdoc", "qtok", "v", "cdoc", "v", k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.map(r => (r._2, r._3)).toSeq ==
      Seq((1L, 2.0), (3L, 1.414214), (2L, 1.0)))
  }

  test("pqAdcTopK: same-cell vectors share the query's cell distance and rank first") {
    // 8-dim vectors, m=2 subspaces of 4 dims, 2 codebook entries each.
    // Vectors cluster tightly around two patterns; vec 5 = vec 0 exactly.
    val base = Array(1.0, 2.0, 3.0, 4.0, -1.0, -2.0, -3.0, -4.0)
    val far  = Array(9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0)
    def jit(v: Array[Double], eps: Double) = v.map(_ + eps)
    val vecs = Seq(
      (0L, base), (1L, jit(base, 0.01)), (2L, far), (3L, jit(far, 0.01)),
      (4L, jit(far, 0.02)), (5L, base))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqAdcTopK(vecs, "vec_id", "embedding",
        queryId = 0L, m = 2, ksub = 2, k = 3)
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    // ADC distance is query-to-CENTROID of the neighbor's cell: vecs 1 and
    // 5 share vec 0's codes, so they tie at the query's own-cell distance
    // (small, nonzero — the centroid absorbed the jitter) and the id
    // tiebreak orders them 1 then 5; the far-pattern vecs rank below
    assert(got.map(_._1).take(2).toSeq == Seq(1L, 5L))
    assert(got(0)._2 == got(1)._2)            // same codes -> same ADC distance
    assert(got(0)._2 < 0.01)                  // near the base pattern's centroid
    assert(got(2)._2 > 100)                   // other pattern is far away
  }

  test("pqAdcTopK is deterministic across input order (seeded, rounded, tiebroken)") {
    val vecs = (0L to 30L).map(i =>
      (i, Array.tabulate(8)(dd => math.sin(i * 1.7 + dd).abs * 10)))
      .toDF("vec_id", "embedding")
    val a = Similarity.pqAdcTopK(vecs, "vec_id", "embedding", 0L, 2, 4, 5)
      .collect().toSeq
    val b = Similarity.pqAdcTopK(vecs.orderBy(col("vec_id").desc), "vec_id",
      "embedding", 0L, 2, 4, 5).collect().toSeq
    assert(a == b)
  }

  test("ivfPqTopK searches only probed cells and finds the near cluster") {
    // two tight clusters; query in cluster A. With nlist=2 the coarse
    // quantizer separates them, nprobe=1 restricts search to A's cell.
    val a = Array(1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0)
    val b = Array(50.0, 60.0, 70.0, 80.0, 50.0, 60.0, 70.0, 80.0)
    def jit(v: Array[Double], e: Double) = v.map(_ + e)
    val vecs = Seq(
      (0L, a), (2L, jit(a, 0.01)), (4L, jit(a, 0.02)),
      (1L, b), (3L, jit(b, 0.01)), (5L, jit(b, 0.02)))
      .toDF("vec_id", "embedding")
    // ids chosen so vid % 2 puts A-vectors (even) in cell 0, B in cell 1
    val got = Similarity.ivfPqTopK(vecs, "vec_id", "embedding",
        queryId = 0L, nlist = 2, nprobe = 1, m = 2, ksub = 2, k = 5)
      .as[(Long, Double, Int)].collect()
    // only the probed (A) cell's OTHER members can appear
    assert(got.map(_._1).toSet == Set(2L, 4L), got.toSeq)
    assert(got.forall(_._2 < 1.0), got.toSeq) // residual-ADC distances small
  }

  test("ivfPqTopK with full probing is deterministic across input order") {
    val vecs = (0L to 40L).map(i =>
      (i, Array.tabulate(8)(dd => math.sin(i * 2.3 + dd).abs * 10)))
      .toDF("vec_id", "embedding")
    val x = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", 0L,
      nlist = 4, nprobe = 4, m = 2, ksub = 4, k = 6).collect().toSeq
    val y = Similarity.ivfPqTopK(vecs.orderBy(col("vec_id").desc),
      "vec_id", "embedding", 0L,
      nlist = 4, nprobe = 4, m = 2, ksub = 4, k = 6).collect().toSeq
    assert(x == y)
  }

  test("hardNegatives returns only cross-label neighbors, ranked by similarity") {
    val vecs = Seq(
      (0L, 0, Array(1.0, 0.0, 0.0)),   // anchor, label 0
      (1L, 0, Array(0.99, 0.1, 0.0)),  // same label: excluded
      (2L, 1, Array(0.98, 0.2, 0.0)),  // closest wrong-label
      (3L, 1, Array(0.0, 1.0, 0.0)),   // orthogonal wrong-label
      (4L, 2, Array(0.9, 0.4, 0.0)))   // second wrong-label
      .toDF("vec_id", "label", "v")
    val got = Similarity.hardNegatives(
        vecs.filter(col("vec_id") === 0), vecs,
        "vec_id", "v", col("label"), "vec_id", "v", col("label"), k = 2)
      .select(col("rank"), col("neg_id")).as[(Int, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, 2L), (2, 4L))) // label-0 vec 1 never appears
  }

  test("mutualKnnGraph keeps only reciprocated edges and prunes hub fan-in") {
    // one cell (nlist=1). With k=1: 0 and 1 pick each other (mutual);
    // 2's nearest is 0, but 0's top-1 is 1 — the hub edge 0-2 must NOT
    // survive mutuality; 3 is near-orthogonal to everyone.
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(0.99, 0.14, 0.0)),
      (2L, Array(0.9, -0.43, 0.0)),
      (3L, Array(0.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val k1 = Similarity.mutualKnnGraph(vecs, col("vec_id"), col("embedding"),
        k = 1, nlist = 1)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(k1 == Set((0L, 1L)), s"only the reciprocal pair survives: $k1")
    // k=2: the close trio is fully reciprocal; the orthogonal vector
    // ranks others but nobody's top-2 ranks it back — zero edges for it
    val k2 = Similarity.mutualKnnGraph(vecs, col("vec_id"), col("embedding"),
        k = 2, nlist = 1)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(k2 == Set((0L, 1L), (0L, 2L), (1L, 2L)), k2)
    // undirected contract: id_a < id_b always
    k2.foreach { case (a, b) => assert(a < b) }
  }

  test("adaptiveNlist: sqrt growth with a floor of 16") {
    assert(Similarity.adaptiveNlist(0L) == 16)
    assert(Similarity.adaptiveNlist(2000L) == 31)   // sqrt(1000)
    assert(Similarity.adaptiveNlist(20000L) == 100) // sqrt(10000)
    // expected cell population grows ~sqrt(2n), not linearly
    val popRatio = 2000000L / Similarity.adaptiveNlist(2000000L).toDouble /
      (20000L / Similarity.adaptiveNlist(20000L).toDouble)
    assert(popRatio < 11.0, s"100x corpus must not mean 100x cell population: $popRatio")
  }

  test("powerIteration finds the dominant axis of an axis-aligned cloud") {
    // variance concentrated on dim 0 (values 8..12), noise ~1 elsewhere
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array((8 + i % 5).toFloat, (i % 2).toFloat,
        (i % 3).toFloat * 0.5f, 0.1f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.powerIteration(vecs, col("vec_id"), col("embedding"),
        dim = 4, iters = 2)
      .select(col("n_vectors"), col("dim"), col("eigenvalue"), col("top_dim"),
        col("v0"), col("v1"), col("v2"), col("v3"))
      .as[(Long, Int, Double, Int, Double, Double, Double, Double)].collect().head
    assert(got._1 == 40L && got._2 == 4)
    assert(got._3 > 0.0)                    // Rayleigh norm is positive
    assert(got._4 == 0)                     // dominant direction = dim 0
    assert(got._5 > 0.9, got)               // v0 carries nearly all the mass
    val norm = math.sqrt(got._5 * got._5 + got._6 * got._6 +
      got._7 * got._7 + got._8 * got._8)
    assert(math.abs(norm - 1.0) < 1e-3, got) // unit eigenvector
  }

  test("binaryHammingTopK == per-dimension sign-mismatch count (64-dim replay)") {
    // deterministic pseudo-random signs; replay Hamming in Scala
    def v(i: Long): Array[Float] =
      Array.tabulate(64)(dd => if (((i * 31 + dd * 17) % 7) < 3) -1.0f else 1.0f)
    val ids = (0L until 30L)
    val e = ids.map(i => (i, v(i))).toDF("vec_id", "embedding")
    val got = Similarity.binaryHammingTopK(
        e.filter(col("vec_id") < 3), e, "vec_id", "embedding", "vec_id",
        "embedding", dim = 64, k = 4)
      .as[(Long, Long, Int, Int)].collect()
    assert(got.length == 12) // 3 queries x 4
    def ham(a: Array[Float], b: Array[Float]): Int =
      a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
    // replay: top-4 by (ham, id) per query, excluding self
    (0L until 3L).foreach { q =>
      val exp = ids.filter(_ != q)
        .map(c => (c, ham(v(q), v(c))))
        .sortBy { case (c, h) => (h, c) }.take(4)
      val act = got.filter(_._1 == q).sortBy(_._4)
        .map(r => (r._2, r._3)).toSeq
      assert(act == exp, s"query $q")
      // ranks are 1..4
      assert(got.filter(_._1 == q).map(_._4).sorted.toSeq == Seq(1, 2, 3, 4))
    }
  }

  test("oodOutliers ranks the planted outlier first; constant dims score 0") {
    // 30 inliers near (1, 2, 5, 5) with tiny jitter on dims 0-1; one
    // far-away vector; dims 2-3 CONSTANT (variance floor must not NaN)
    val vecs = ((0L until 30L).map(i =>
      (i, Array(1.0f + 0.01f * (i % 3), 2.0f - 0.01f * (i % 5), 5.0f, 5.0f)))
      :+ (99L, Array(50.0f, -40.0f, 5.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.oodOutliers(vecs, "vec_id", "embedding", k = 5)
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(got.length == 5)
    assert(got.head._1 == 99L && got.head._3 == 1)
    assert(got.head._2 > got(1)._2 * 10, got.mkString(","))
    assert(got.forall(r => !r._2.isNaN && r._2 >= 0.0))
  }

  test("greedyGraphSearch walks the angular chain to the true nearest node") {
    // unit vectors at 0..90 degrees (ids 0..9): the mutual 3-NN graph is
    // a near-chain, so greedy routing from entry node 0 must climb to
    // node 9, the nearest to an 87-degree query, improving every hop
    // (87, not 85: a query equidistant between two nodes cannot pass
    // the strict-improvement gate and the walk stops one short)
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = (0 to 9).map(i => (i.toLong, v(i * 10.0))).toDF("vec_id", "embedding")
    val q = Seq((100L, v(87.0))).toDF("vec_id", "embedding")
    val got = Similarity.greedyGraphSearch(q, corpus,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 3, nlist = 1, hops = 10)
      .as[(Long, Long, Double, Int)].collect().head
    assert(got._1 == 100L)
    assert(got._2 == 9L, s"ended at ${got._2}")       // nearest to 85 deg
    assert(got._4 >= 5 && got._4 <= 10, s"moves ${got._4}")
    assert(math.abs(got._3 - math.cos(math.toRadians(3.0))) < 1e-4)
  }

  test("greedyGraphSearch with an edgeless graph stays at the entry node") {
    // 10 vectors, nlist=16 -> every id its own IVF cell -> no candidate
    // pairs -> no mutual edges -> the walk cannot move
    val corpus = (0 to 9).map(i =>
      (i.toLong, Array.tabulate(4)(dd => (i + dd).toFloat))).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 7)
    val got = Similarity.greedyGraphSearch(q, corpus,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 3, nlist = 16, hops = 3)
      .as[(Long, Long, Double, Int)].collect().head
    assert(got._2 == 0L && got._4 == 0)
  }

  test("binaryHammingTopK: identical sign pattern is distance 0 and rank 1") {
    val base = Array.tabulate(64)(dd => if (dd % 3 == 0) -2.5f else 0.75f)
    val e = Seq(
      (0L, base), (1L, base.map(_ * 2f)), // same signs, different scale
      (2L, base.map(x => -x))) // all signs flipped
      .toDF("vec_id", "embedding")
    val got = Similarity.binaryHammingTopK(
        e.filter(col("vec_id") === 0), e, "vec_id", "embedding",
        "vec_id", "embedding", dim = 64, k = 2)
      .as[(Long, Long, Int, Int)].collect().sortBy(_._4)
    assert(got(0) == ((0L, 1L, 0, 1)))   // scale-invariant: ham 0
    assert(got(1) == ((0L, 2L, 64, 2))) // antipode: all 64 bits differ
  }

  test("binaryHammingTopK fails loudly on a short vector instead of packing 0 bits") {
    val e = Seq((0L, Array.fill(64)(1.0f)), (1L, Array.fill(32)(1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.binaryHammingTopK(e.filter(col("vec_id") === 0), e,
        "vec_id", "embedding", "vec_id", "embedding", dim = 64, k = 1)
        .collect()
    }
    assert(ex.getMessage != null)
  }

  // deterministic pseudo-random cloud shared by the NN-descent tests
  private def nndVec(i: Long): Array[Float] =
    Array.tabulate(8)(dd => (((i * 37 + dd * 13) % 19) - 9).toFloat)

  test("nnDescentGraph: recall vs brute force improves with rounds") {
    val n = 60L
    val e = (0L until n).map(i => (i, nndVec(i))).toDF("vec_id", "embedding")
    val k = 3
    // exact kNN replay in Scala with the operator's round-6 + (cos desc,
    // id asc) contract
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until 8).foreach { d =>
        dot += a(d).toDouble * b(d); na += a(d).toDouble * a(d)
        nb += b(d).toDouble * b(d)
      }
      math.rint(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val truth = (0L until n).flatMap { i =>
      (0L until n).filter(_ != i)
        .map(j => (j, cos(nndVec(i), nndVec(j))))
        .sortBy { case (j, c) => (-c, j) }.take(k)
        .map { case (j, _) => (i, j) }
    }.toSet
    def recall(rounds: Int): Double = {
      val got = Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"),
          k = k, rounds = rounds, n = n)
        .select(col("src_id"), col("nbr_id")).as[(Long, Long)].collect().toSet
      got.count(truth.contains).toDouble / truth.size
    }
    val r0 = recall(0); val r3 = recall(3)
    assert(r3 > r0, s"descent must improve recall: $r0 -> $r3")
    assert(r3 >= 0.8, s"3 rounds on 60 vectors should near-converge: $r3")
  }

  test("nnDescentGraph: contract (no self, rank 1..k, monotone best)") {
    val n = 40L
    val e = (0L until n).map(i => (i, nndVec(i))).toDF("vec_id", "embedding")
    def best(rounds: Int): Map[Long, Double] =
      Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"),
          k = 3, rounds = rounds, n = n)
        .filter(col("rank") === 1)
        .select(col("src_id"), col("cos")).as[(Long, Double)].collect().toMap
    val g = Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"),
        k = 3, rounds = 2, n = n)
      .as[(Long, Long, Double, Int)].collect()
    assert(g.forall { case (s, d2, _, _) => s != d2 })
    g.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._4).sorted.toSeq
      assert(ranks == (1 to rows.length).toSeq, s"dense ranks: $ranks")
      assert(rows.length <= 3)
    }
    // monotone: including current edges in every candidate round means a
    // node's best similarity never regresses as rounds grow
    val b1 = best(1); val b2 = best(2)
    b2.foreach { case (id, c2) =>
      b1.get(id).foreach(c1 => assert(c2 >= c1, s"node $id: $c1 -> $c2"))
    }
  }

  test("nnDescentGraph parameter validation") {
    val e = Seq((0L, Array(1.0f)), (1L, Array(2.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"), 0, 1, 2L)
    }
    intercept[IllegalArgumentException] {
      Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"), 1, -1, 2L)
    }
    intercept[IllegalArgumentException] {
      Similarity.nnDescentGraph(e, col("vec_id"), col("embedding"), 1, 1, 1L)
    }
  }
}
