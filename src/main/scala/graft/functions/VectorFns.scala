package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector expressions shared by the similarity/dedup operators: left-fold
  * double dot products (bit-identical to DuckDB's list_dot_product) and
  * deterministic random-hyperplane LSH bucketing (seeded by plane index —
  * no stored model).
  */
object VectorFns {

  /** Left-fold dot product of two double-array columns, as the native
    * codegen [[VecDot]] expression (bit-identical to the HOF fold below —
    * VecDotSpec proves it — but stays inside whole-stage codegen instead
    * of interpreting two lambdas per element).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The higher-order-function reference form of [[dot]] — kept as the
    * executable spec of the fold order (and the shape the DuckDB oracle's
    * list_dot_product mirrors).
    */
  private[graft] def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, null for zero-norm input (an empty or all-zero
    * vector — a failed embedding run): the guard keeps ANSI mode from
    * raising DIVIDE_BY_ZERO and makes malformed vectors sort behind every
    * real score instead of crashing the query (DirtyEmbeddingsSpec).
    */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d =!= 0.0, dot(a, b) / d)
  }

  /** Embedding dimensionality of the `embeddings` table. */
  val Dims = 64

  /** The one well-formed vector rule of every model build and lattice
    * assignment: non-null, exactly [[Dims]] long, and no null element
    * (VecDot nulls on one — a codegen'd check, no lambda).
    */
  def wellFormed(v: Column): Column = {
    val d = v.cast("array<double>")
    size(d) === Dims && dot(d, d).isNotNull
  }

  /** Deterministic ±1 component d of hyperplane p: the parity of the first
    * 8 md5 hex digits of "p:d" — the same hash32 contract as TextFns, so
    * DuckDB reproduces every component bit-for-bit:
    *   CASE WHEN CAST(('0x'||substr(md5(p||':'||d),1,8)) AS BIGINT) % 2 = 0
    *        THEN 1.0 ELSE -1.0 END
    * (sin()-based planes were NOT oracle-safe: libm vs java.lang.Math sign
    * bits near zero flake). Precomputed driver-side and embedded as a
    * literal array — the md5 never runs per row.
    */
  private[graft] def planeSigns(p: Int, dims: Int = Dims): Seq[Double] =
    (0 until dims).map { d =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }

  /** Left-fold dot of vector column v against literal hyperplane p —
    * identical fold order to DuckDB's list_dot_product(v, planes.s).
    *
    * Guarded: a vector whose length differs from [[Dims]] (or a null
    * vector) raises an error instead of silently null-padding through
    * zip_with — without this, `when(planeDot >= 0, ...)` would route every
    * drifted vector into wrong-but-plausible buckets.
    */
  def planeDot(v: Column, p: Int): Column =
    when(size(v) === Dims, dot(v, typedLit(planeSigns(p))))
      .otherwise(raise_error(concat(
        lit(s"planeDot: expected $Dims-dim vector, got size="),
        // coalesce: a NULL vector would null the whole concat and raise a
        // message-less error — the one diagnostic a 100 TB run gets
        coalesce(size(v).cast("string"), lit("null")))))

  /** L banded bucket ids over `bits` hyperplanes each (sign-bit packing).
    * Collision probability per table is (1 - θ/π)^bits — high for
    * near-duplicates, vanishing for unrelated vectors.
    */
  def buckets(v: Column, tables: Int, bits: Int): Seq[Column] =
    (0 until tables).map { t =>
      (0 until bits)
        .map(b => when(planeDot(v, t * bits + b) >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"bucket$t")
    }

  /** All `tables` packed bucket ids as ONE array column — identical values
    * to [[buckets]] (same left-fold dot per plane p = t*bits+b, same
    * low-to-high sign-bit packing, exact integer adds), but the Catalyst
    * tree is a single nested higher-order function over one literal plane
    * matrix instead of tables*bits unrolled 64-element folds. The unrolled
    * form cost ~1 s of fixed analyze/optimize time PER REFERENCE of the
    * bucketed frame (measured on q39, which referenced it 12x through a
    * 6-way union); this form plans in milliseconds and `posexplode`s into
    * the (vec_id, t, bk) triple shape the pair joins want anyway.
    */
  def bucketArray(v: Column, tables: Int, bits: Int): Column = {
    val planes = typedLit((0 until tables * bits).map(p => planeSigns(p)))
    val powers = typedLit((0 until bits).map(b => 1L << b))
    val arr = transform(sequence(lit(0), lit(tables - 1)), t =>
      aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, b) => {
        val signs = element_at(planes, t * lit(bits) + b + lit(1))
        val d = dot(v, signs)
        acc + when(d >= 0, element_at(powers, b + lit(1))).otherwise(lit(0L))
      }))
    when(size(v) === Dims, arr).otherwise(raise_error(concat(
      lit(s"bucketArray: expected $Dims-dim vector, got size="),
      coalesce(size(v).cast("string"), lit("null")))))
  }

  /** DuckDB CTE computing the same (plane, signs) table for `tables*bits`
    * hyperplanes — prepend to any oracle that needs bucket assignment.
    */
  def planesCte(tables: Int, bits: Int): String = s"""
    planes AS (
      SELECT p, list(CASE WHEN CAST(('0x'||substr(md5(p||':'||d),1,8)) AS BIGINT) % 2 = 0
                          THEN 1.0 ELSE -1.0 END ORDER BY d) AS s
      FROM generate_series(0, ${tables * bits - 1}) tp(p),
           generate_series(0, ${Dims - 1}) td(d)
      GROUP BY p),
    bk AS (
      SELECT vec_id, p // $bits AS t,
             CAST(SUM(CASE WHEN list_dot_product(v, s) >= 0
                           THEN (1::BIGINT << (p % $bits)) ELSE 0 END) AS BIGINT) AS bk
      FROM e, planes GROUP BY vec_id, p // $bits)"""
}
