package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Embedding-vector math over `ArrayType(FloatType)` columns using only
  * higher-order functions (`transform`/`aggregate`/`zip_with`) — codegen'd
  * by Catalyst, no UDFs, fully distributed.
  *
  * Cross-engine determinism: every fold accumulates a DOUBLE
  * left-to-right in element order, with each element cast to double
  * before multiplying — matching the DuckDB oracle's
  * `list_sum(list_transform(...))` element order, so results are
  * bit-identical.
  */
object Vectors {

  /** Σ aᵢ·bᵢ — native codegen'd left fold ([[VecDot]]); bit-identical
    * to `aggregate(zip_with(..))` (same order, same double widening)
    * but it stays inside whole-stage codegen with no per-row
    * intermediate array. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  def normSq(a: Column): Column =
    Bridge.column(VecNormSq(Bridge.expression(a)))

  /** Σᵢ floor((aᵢ−bᵢ)²·scale + 0.5) as LongType — order-free gridded
    * squared distance ([[VecDist2Grid]]). */
  def dist2Grid(a: Column, b: Column, scale: Double): Column =
    Bridge.column(VecDist2Grid(Bridge.expression(a), Bridge.expression(b), scale))

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; 0 when either side has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val den = norm(a) * norm(b)
    when(den === 0.0, lit(0.0)).otherwise(d / den)
  }

  /** Random-hyperplane LSH bucket for ANN: the sign bits of the vector's
    * projection onto `nPlanes` deterministic pseudo-random hyperplanes.
    * Plane p's component for dimension i is a deterministic md5-derived
    * value in [-1, 1) — so executors need no shared state (the "model"
    * is the expression itself, broadcast-free at any cluster size), and
    * the whole construction is mirrorable in DuckDB SQL (md5 is common
    * to both engines — the reason md5 replaced xxhash64 here), making
    * the ANN index oracle-checkable end to end. Vectors in the same
    * bucket are likely directionally close; bucket-join gives the
    * candidate set. */
  def lshBucket(vec: Column, nPlanes: Int): Column =
    // Round 16: native codegen'd evaluation ([[VecLshBucket]]) — the
    // md5-derived plane units are per-JVM constants, not per-row work
    // (the declarative form recomputed nPlanes × dim md5s PER ROW
    // through CodegenFallback HOFs; Probe blamed two ~10 s stages of
    // q160's 10× run on it). coalesce pins the old null semantics: a
    // null vector or any null element lands in bucket 0. The
    // declarative twin below stays as the spec's equivalence witness;
    // the DuckDB mirror ([[lshBucketSql]]) is unchanged either way.
    coalesce(
      Bridge.column(VecLshBucket(Bridge.expression(vec), nPlanes)),
      lit(0L))

  /** The original HOF formulation — kept (test-only) as the
    * equivalence witness for [[VecLshBucket]]. */
  private[graft] def lshBucketDeclarative(vec: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = foldSumIndexed(vec, p)
      when(proj >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Projection of vec onto plane p: Σ_i v_i * unit(md5(p, i)), where
    * unit maps the first 32 hash bits to [-1, 1) via
    * `(h mod 2^20) / 2^19 - 1`. */
  private def foldSumIndexed(vec: Column, plane: Int): Column = {
    val n = size(vec)
    val idx = sequence(lit(0), n - 1)
    val terms = zip_with(vec, idx, (v, i) => {
      val h = conv(substring(md5(
        concat(lit(plane.toString), lit(","), i.cast("string"))), 1, 8), 16, 10)
        .cast("long")
      val u = (pmod(h, lit(1048576L)).cast("double") / 524288.0) - 1.0
      v.cast("double") * u
    })
    aggregate(terms, lit(0.0), (acc, x) => acc + x)
  }

  /** DuckDB mirror of [[lshBucket]] for a list column named `embedding`
    * — identical md5 arithmetic and element-order summation. */
  def lshBucketSql(nPlanes: Int): String = {
    def proj(p: Int): String =
      "list_sum(list_transform(range(1, len(embedding)+1), i -> " +
        "CAST(embedding[i] AS DOUBLE) * " +
        s"((CAST('0x' || substring(md5('$p' || ',' || CAST(i-1 AS VARCHAR)), 1, 8) AS BIGINT) " +
        "% 1048576) / 524288.0 - 1.0)))"
    val bits = (0 until nPlanes).map(p =>
      s"(CASE WHEN ${proj(p)} >= 0.0 THEN ${1L << p} ELSE 0 END)")
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }
}
