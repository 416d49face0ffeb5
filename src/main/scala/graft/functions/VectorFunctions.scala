package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` columns — no
  * UDFs, so the arithmetic is identical on every executor.
  *
  * Every fold runs in element order (a sequential fold), so results are
  * bit-deterministic for a given input — important for oracle parity and
  * for reproducible ANN buckets at scale. The cosine, LSH and projection
  * helpers call the native kernels that `graft.sql.GraftExtensions`
  * registers; `VectorFunctionsSpec` checks them bit for bit against the
  * `zip_with` / `aggregate` forms.
  */
object VectorFunctions {

  /** Cast any numeric array to array<double> once, up front. */
  def toDoubleArray(c: Column): Column = transform(c, x => x.cast("double"))

  /** Codegen'd cosine via the native `cosine_sim` Catalyst expression
    * (graft.sql.CosineSimilarity) — one fused loop in generated Java,
    * bit-identical to the HOF cosine. Requires GraftExtensions on the session
    * (`spark.sql.extensions=graft.sql.GraftExtensions`). */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Per-vector int8 scalar quantization (the standard 4x embedding-store
    * compression for ANN at corpus scale): codes = round((x - min) /
    * scale) in [0, 255] with scale = (max - min) / 255. Callers pass the
    * vector's min and scale as separate columns (compute them once in a
    * projection — a lambda referencing `array_min(v)` would re-evaluate it
    * per element, HOFs have no subexpression elimination). A constant
    * vector (scale 0) quantizes to all-zero codes. */
  def quantizeInt8(v: Column, vmin: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0)))
      .otherwise(transform(v, x => round((x - vmin) / scale).cast("int")))

  /** Reconstruction of [[quantizeInt8]] codes: x' = min + code * scale.
    * Same IEEE ops in the same order as any engine replicating it. */
  def dequantizeInt8(codes: Column, vmin: Column, scale: Column): Column =
    transform(codes, c => vmin + c.cast("double") * scale)

  /** Mean absolute reconstruction error between a vector and its
    * dequantized form — sequential fold, bit-deterministic. */
  def meanAbsError(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0.0), (acc, v) => acc + v) /
      size(a).cast("double")

  /** Signed projection onto a constant hyperplane (for LSH bucketing).
    * The dot product is rounded to 9 decimals before taking the sign so a
    * vector numerically ON the plane (|dot| below accumulation error)
    * cannot land in different buckets across engines or fold orders.
    * The dot is the codegen'd `dot_product` expression (bit-identical to
    * the HOF dot — same accumulation order — but one fused loop instead of
    * an interpreted per-element lambda). */
  def projectSign(v: Column, plane: Seq[Double]): Column = {
    val d = call_function("dot_product", v, array(plane.map(lit): _*))
    when(round(d, 9) >= 0, lit(1)).otherwise(lit(0))
  }

  /** Deterministic pseudo-random hyperplane: component d is md5 of
    * `seed:p:d`, first 8 digest bytes as a signed big-endian long scaled
    * to [-1, 1) — stable across runs/executors with no RNG state, and
    * recomputable inside any engine with an md5 function. */
  def planeValues(seed: Int, p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$p:$d".getBytes("UTF-8"))
      val x = java.nio.ByteBuffer.wrap(h).getLong
      x.toDouble / Long.MaxValue.toDouble
    }

  /** LSH bucket id from `nPlanes` deterministic pseudo-random hyperplanes
    * ([[planeValues]]). */
  def lshBucket(v: Column, dim: Int, nPlanes: Int, seed: Int = 42): Column =
    (0 until nPlanes).map { p =>
      projectSign(v, planeValues(seed, p, dim)) * lit(1 << p)
    }.reduce(_ + _)

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss
    * style): output component p is the dot product with deterministic
    * hyperplane p, rounded at 6 decimals. The value-bearing sibling of
    * [[lshBucket]] — same planes, values instead of sign bits. Returns
    * one column per output dimension so callers keep scalar outputs. */
  def randomProjection(v: Column, dim: Int, nOut: Int, seed: Int = 42): Seq[Column] =
    (0 until nOut).map { p =>
      round(call_function("dot_product", v, array(planeValues(seed, p, dim).map(lit): _*)), 6)
    }
}
