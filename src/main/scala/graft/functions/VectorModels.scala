package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** The vector models of the similarity-search and k-means operators, held
  * as fields of four small Catalyst expressions:
  *
  *   - [[AnnRoute]]`(v, model, keep)`: the top-`keep` IVF coarse cids;
  *   - [[PqEncode]]`(v, model)`: the 8 PQ codes as one array;
  *   - [[AdcDistance]]`(qv, codes, model)`: the integer-scaled ADC;
  *   - [[LatticeNearest]]`(qvd, qq, model)`: the nearest lattice centroid
  *     as a (d, cid) struct.
  *
  * Each expression's interpreted `eval` and its generated code call the
  * same Scala method on the model, so batch queries, streaming ingest and
  * the index build share one arithmetic; plans print the model by its
  * fingerprint, never as arrays. The shared rules:
  *
  *   - Dot products are [[dot]]: VecDot's strict left-to-right fold from
  *     +0.0 (bit-identical to DuckDB's list_dot_product).
  *   - Doubles compare in Spark SQL's total order ([[cmpD]]): NaN is
  *     greatest and equals NaN, -0.0 equals 0.0.
  *   - Ties go to the smaller cid (route, nearest) or the first codeword
  *     (encode) — the batch window's `ORDER BY score, cid`.
  *   - Null degrades. Route: a cosine that VectorFns.cosine would null
  *     (null vector or element, zero norm, length mismatch) ranks after
  *     every real score, a NaN cosine before every real score (the batch
  *     window's desc order), and an empty model routes to no list.
  *     Encode: null unless the vector is exactly PqM·PqDim long; a
  *     subspace holding a null element gets a null code. ADC: null for a
  *     null query or code, a query shorter than PqM·PqDim, or a null among
  *     its first PqM·PqDim elements; a NaN term floors to 0 (Spark's floor
  *     cast). Nearest: null for a null element, a length that differs from
  *     the model's, or an empty model.
  */
object VectorModels {

  val PqM = 8
  val PqDim = 8

  /** Spark SQL's double total order (SQLOrderingUtil.compareDoubles). */
  def cmpD(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else if (x == y) 0
    else if (java.lang.Double.isNaN(x)) (if (java.lang.Double.isNaN(y)) 0 else 1)
    else -1

  /** Σ a[aOff+i]·b[bOff+i] for i < n, folded left from +0.0. */
  def dot(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int,
      n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += a(aOff + i) * b(bOff + i); i += 1 }
    s
  }

  private[functions] def hasNull(v: ArrayData, off: Int, n: Int): Boolean = {
    var i = off
    while (i < off + n) { if (v.isNullAt(i)) return true; i += 1 }
    false
  }

  /** FNV-1a over the longs `feed` emits. */
  private[functions] def fnv(feed: (Long => Unit) => Unit): Long = {
    var h = 0xcbf29ce484222325L
    feed { v => h ^= v; h *= 0x100000001b3L }
    h
  }
}

import VectorModels.{PqDim, PqM, cmpD, dot, hasNull}

/** A model named in plans by its fingerprint; equality and hashing go by
  * it too, so Catalyst never compares or prints the arrays.
  */
sealed abstract class VectorModel(tag: String) extends Serializable {
  def fingerprint: Long
  override def toString: String = f"$tag#$fingerprint%016x"
  override def equals(o: Any): Boolean = o match {
    case m: VectorModel => m.getClass == getClass && m.fingerprint == fingerprint
    case _ => false
  }
  override def hashCode: Int = java.lang.Long.hashCode(fingerprint)
}

/** IVF-PQ model: coarse centroids (cid, vector), sorted by cid, plus the
  * PQ codebook `cb(m)(k)` (an 8-dim codeword).
  */
final case class AnnModel(
    centroids: Seq[(Long, Seq[Double])],
    cb: IndexedSeq[IndexedSeq[Seq[Double]]]) extends VectorModel("ann_model") {
  private val cids = centroids.map(_._1).toArray
  private val cents = centroids.map(_._2.toArray).toArray
  private val centNorms = cents.map(c => dot(c, 0, c, 0, c.length))
  private val cbA = cb.map(_.map(_.toArray).toArray).toArray
  private val normsA = cbA.map(_.map(cw => dot(cw, 0, cw, 0, cw.length)))

  /** FNV-1a over the raw double bits plus shape markers: the identity a
    * written index's manifest pins, since stored codes are only meaningful
    * under the model that produced them.
    */
  val fingerprint: Long = VectorModels.fnv { mix =>
    mix(centroids.length.toLong)
    for ((cid, cv) <- centroids) {
      mix(cid); mix(cv.length.toLong)
      cv.foreach(d => mix(java.lang.Double.doubleToLongBits(d)))
    }
    mix(cb.length.toLong)
    for (sub <- cb) {
      mix(sub.length.toLong)
      for (cw <- sub) {
        mix(cw.length.toLong)
        cw.foreach(d => mix(java.lang.Double.doubleToLongBits(d)))
      }
    }
  }

  /** Top-`keep` cids by (−cosine, cid) ascending. */
  def route(v: ArrayData, keep: Int): ArrayData = {
    val vd = if (v == null || hasNull(v, 0, v.numElements())) null
      else v.toDoubleArray()
    val vv = if (vd == null) 0.0 else dot(vd, 0, vd, 0, vd.length)
    val nd = Array.tabulate(cids.length) { k =>
      val den = if (vd == null) 0.0 else math.sqrt(vv) * math.sqrt(centNorms(k))
      if (den == 0.0 || vd.length != cents(k).length) Double.MaxValue
      else {
        val cos = dot(vd, 0, cents(k), 0, vd.length) / den
        if (java.lang.Double.isNaN(cos)) -Double.MaxValue else -cos
      }
    }
    val order = cids.indices.sortWith { (a, b) =>
      val c = cmpD(nd(a), nd(b))
      c < 0 || (c == 0 && cids(a) < cids(b))
    }
    UnsafeArrayData.fromPrimitiveArray(order.take(keep).map(k => cids(k)).toArray)
  }

  /** Per subspace, argmin_k of <s,s> − 2<s,cw_k> + <cw_k,cw_k>. */
  def encode(v: ArrayData): ArrayData = {
    if (v.numElements() != PqM * PqDim) return null
    val vd = v.toDoubleArray()
    val out = new Array[Any](PqM)
    var m = 0
    while (m < PqM) {
      val off = m * PqDim
      if (!hasNull(v, off, PqDim)) {
        val ss = dot(vd, off, vd, off, PqDim)
        var best = 0.0
        var bestK = -1
        var k = 0
        while (k < cbA(m).length) {
          val dist = ss - 2.0 * dot(vd, off, cbA(m)(k), 0, PqDim) + normsA(m)(k)
          if (bestK < 0 || cmpD(dist, best) < 0) { best = dist; bestK = k }
          k += 1
        }
        if (bestK >= 0) out(m) = bestK
      }
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_m floor(l2²(q_m, cb(m)(code_m)) · 1e9), summed with overflow checks
    * like ANSI `+`. A code outside the codebook fails loud.
    */
  def adc(qv: ArrayData, codes: ArrayData): java.lang.Long = {
    if (qv.numElements() < PqM * PqDim || hasNull(qv, 0, PqM * PqDim))
      return null
    val qd = qv.toDoubleArray()
    var sum = 0L
    var m = 0
    while (m < PqM) {
      if (codes.isNullAt(m)) return null
      val k = codes.getInt(m)
      val cw = cbA(m)(k)
      if (cw.length != PqDim) return null
      val off = m * PqDim
      val d = dot(qd, off, qd, off, PqDim) - 2.0 * dot(qd, off, cw, 0, PqDim) +
        normsA(m)(k)
      sum = Math.addExact(sum, math.floor(d * 1e9).toLong)
      m += 1
    }
    sum
  }
}

/** Integer-lattice k-means model: (cid, lattice centroid) rows, all of one
  * length. Distances `qq − 2·q·c + c·c` are over integer-valued doubles far
  * below 2^53, so they are exact.
  */
final case class LatticeModel(centroids: Seq[(Long, Seq[Long])])
    extends VectorModel("lattice_model") {
  private val cids = centroids.map(_._1).toArray
  private val cvd = centroids.map(_._2.map(_.toDouble).toArray).toArray
  private val cc = cvd.map(c => dot(c, 0, c, 0, c.length))
  private val dims = if (cvd.isEmpty) 0 else cvd(0).length
  require(cvd.forall(_.length == dims), "LatticeModel: ragged centroids")

  val fingerprint: Long = VectorModels.fnv { mix =>
    mix(centroids.length.toLong)
    for ((cid, cv) <- centroids) {
      mix(cid); mix(cv.length.toLong); cv.foreach(mix)
    }
  }

  /** (cid, dist) of the nearest centroid; the model must be non-empty and
    * `qvd` as long as its centroids.
    */
  def nearest(qvd: Array[Double], qq: Double): (Long, Long) = {
    var bestD = Long.MaxValue
    var bestC = Long.MaxValue
    var k = 0
    while (k < cids.length) {
      val d = (qq - 2.0 * dot(qvd, 0, cvd(k), 0, dims) + cc(k)).toLong
      if (d < bestD || (d == bestD && cids(k) < bestC)) {
        bestD = d; bestC = cids(k)
      }
      k += 1
    }
    (bestC, bestD)
  }

  /** [[nearest]] as a (d, cid) row, null where the rules above say so. */
  def nearestRow(qvd: ArrayData, qq: Double): InternalRow =
    if (cids.isEmpty || qvd.numElements() != dims || hasNull(qvd, 0, dims)) null
    else {
      val (c, d) = nearest(qvd.toDoubleArray(), qq)
      InternalRow(d, c)
    }
}

/** Top-`keep` coarse cids of `child` (array<double>) under `model`. Never
  * null: a malformed vector still routes (see the route rules).
  */
case class AnnRoute(child: Expression, model: AnnModel, keep: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    model.route(child.eval(input).asInstanceOf[ArrayData], keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("annModel", model)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $m.route(${c.isNull} ? null : ${c.value}, $keep);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): AnnRoute =
    copy(child = newChild)
  override def sql: String = s"$prettyName(${child.sql}, $model, $keep)"
}

/** The PQ codes of `child` (array<double>) under `model`, as one
  * array<int> of PqM codes.
  */
case class PqEncode(child: Expression, model: AnnModel) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = model.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("annModel", model)
    nullSafeCodeGen(ctx, ev, v => s"""
      |${ev.value} = $m.encode($v);
      |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
  override def sql: String = s"$prettyName(${child.sql}, $model)"
}

/** Integer-scaled asymmetric distance of query `left` (array<double>)
  * against stored codes `right` (array<int> of PqM) under `model`.
  */
case class AdcDistance(left: Expression, right: Expression, model: AnnModel)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(q: Any, c: Any): Any =
    model.adc(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("annModel", model)
    val r = ctx.freshName("adc")
    nullSafeCodeGen(ctx, ev, (q, c) => s"""
      |java.lang.Long $r = $m.adc($q, $c);
      |if ($r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = $r.longValue(); }""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql}, $model)"
}

/** Nearest lattice centroid of `left` (array<double>, integer-valued) with
  * self-dot `right` under `model`, as a (d, cid) struct.
  */
case class LatticeNearest(left: Expression, right: Expression,
    model: LatticeModel) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("d", LongType, nullable = false),
    StructField("cid", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(q: Any, qq: Any): Any =
    model.nearestRow(q.asInstanceOf[ArrayData], qq.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("latticeModel", model)
    nullSafeCodeGen(ctx, ev, (q, qq) => s"""
      |${ev.value} = $m.nearestRow($q, $qq);
      |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LatticeNearest =
    copy(left = newLeft, right = newRight)
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql}, $model)"
}
