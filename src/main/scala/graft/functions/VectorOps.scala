package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import graft.functions.expressions.VecDot

/** Dense-vector column expressions over `array<float>` / `array<double>`
  * embedding columns. The dot-product core is a native Catalyst
  * expression with whole-stage codegen (graft.functions.expressions
  * .VecDot) — the interpreted higher-order-function formulation was the
  * dominant cost of every pairwise-similarity query (~50× slower at
  * sf0.1). All math promotes to double.
  */
object VectorOps {

  /** Dot product of two equal-length array columns, in double precision
    * (codegen'd loop).
    */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(VecDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. For pairwise workloads,
    * precompute each side's norm once per ROW (not per pair) and use
    * `cosineWithNorms` — norms are the redundant 2/3 of the work.
    *
    * Zero-vector-safe: Spark 4's ANSI mode throws DIVIDE_BY_ZERO even
    * for doubles, so ONE zero embedding anywhere in a corpus would
    * kill every pairwise query. try_divide yields null instead,
    * coalesced to a −2 sentinel that sorts below every true cosine and
    * fails every ≥-threshold filter — zero vectors simply never match.
    */
  def cosine(a: Column, b: Column): Column =
    coalesce(try_divide(dot(a, b), l2Norm(a) * l2Norm(b)), lit(-2.0))

  /** Cosine from a codegen'd dot and already-materialized norms
    * (zero-vector-safe, see [[cosine]]).
    */
  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    coalesce(try_divide(dot(a, b), normA * normB), lit(-2.0))

  /** Elementwise scale by a scalar column (compiled loop, no lambda). */
  def scale(v: Column, s: Column): Column =
    ColumnShim.column(graft.functions.expressions.VecScale(
      ColumnShim.expression(v), ColumnShim.expression(s)))

  /** L2-normalize a vector: v / ‖v‖ (null-safe zero vectors: a zero
    * norm yields nulls through try_divide rather than throwing under
    * ANSI mode).
    */
  def l2Normalize(v: Column): Column = scale(v, try_divide(lit(1.0), l2Norm(v)))

  /** Matryoshka truncation (MRL-style embeddings): keep the first `d`
    * dimensions and re-normalize — the storage/latency knob for
    * nesting-trained embeddings, where the leading prefix is itself a
    * valid lower-dimensional embedding. Pure projection (slice +
    * [[l2Normalize]]'s codegen'd scale), zero shuffles; cosine on
    * truncated vectors then needs no further normalization.
    */
  def matryoshkaTruncate(v: Column, d: Int): Column = {
    require(d >= 1, s"need d >= 1; got $d")
    l2Normalize(slice(v, 1, d))
  }

  /** max(|xᵢ|) — per-vector dynamic range (codegen'd loop). */
  def maxAbs(v: Column): Column =
    ColumnShim.column(graft.functions.expressions.VecMaxAbs(
      ColumnShim.expression(v)))

  /** Symmetric int8 quantization scale: max|xᵢ| / 127. A zero vector
    * yields scale 0 — quantize with the convention q = 0 there (see
    * `vec_quantize`); dequantization q·scale is then exact for it.
    */
  def int8Scale(v: Column): Column = maxAbs(v) / lit(127.0)

  /** MIPS→cosine reduction, data side (Bachrach et al. 2014 / the
    * XBOX transform): append √(M² − ‖x‖²) so every augmented corpus
    * vector has norm exactly M — then cosine (or Euclidean) order over
    * the augmented space IS inner-product order, and the whole
    * cosine-ANN stack (LSH/IVF/PQ buckets, partition pruning and all)
    * serves max-inner-product retrieval unchanged. `m` must be ≥ the
    * corpus max norm (one agg); the clamp guards float dust at the max
    * itself.
    */
  def mipsAugmentData(v: Column, m: Column): Column =
    concat(v, array(sqrt(greatest(m * m - dot(v, v), lit(0.0)))))

  /** MIPS→cosine reduction, query side: append 0 — the extra corpus
    * dimension never contributes to the inner product, so
    * aug(q)·aug(x) = q·x exactly.
    */
  def mipsAugmentQuery(v: Column): Column = concat(v, array(lit(0.0)))

  /** Signed random-hyperplane LSH signature: bit i = (v · plane_i) > 0,
    * packed into a long. Planes must be the same on every call site —
    * generate them once with a fixed seed (see SimilaritySearch.hyperplanes).
    */
  def hyperplaneSignature(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
}
