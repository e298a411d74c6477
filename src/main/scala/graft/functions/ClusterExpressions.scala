package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

object ClusterKernels {
  /** Nearest centroid of a QUANTIZED vector (array<long>) by squared
    * euclidean distance. Every distance is exact 64-bit integer
    * arithmetic, so the argmin is bit-reproducible across engines and
    * partition orders — the property that lets a whole Lloyd's
    * iteration be oracle-checked (doubles lose exactness past 2^53;
    * quantized coords ~2^24 keep per-row distances under ~2^56).
    * Returns (cluster, sqDist, sqDist2) where sqDist2 is the distance
    * to the SECOND-nearest centroid — the `b` term of the simplified
    * silhouette (distance-to-own vs nearest-other-centroid), which
    * replaces sklearn's O(N^2) silhouette_score with an O(N*k)
    * quantity a cluster can compute (the same substitution Spark ML's
    * ClusteringEvaluator makes). Ties go to the lower cluster id; for
    * k == 1, sqDist2 = Long.MaxValue (no second centroid). */
  def nearestInt(v: ArrayData, centroids: Array[Array[Long]]): InternalRow = {
    val dim = v.numElements()
    var best = -1
    var bestD = Long.MaxValue
    var secondD = Long.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var d = 0L
      var i = 0
      while (i < dim) {
        val diff = v.getLong(i) - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { secondD = bestD; bestD = d; best = c }
      else if (d < secondD) { secondD = d }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bestD, secondD))
  }

  /** The `p` nearest centroid ids of a QUANTIZED vector, ascending by
    * exact int64 squared distance (ties → lower id) — the multi-probe
    * cell list of an IVF index, engine-reproducible (the IVF oracle's
    * ORDER BY d, cluster). Selection sort over k entries: k is
    * tens-to-thousands, so O(k*p) per row beats building a heap. */
  def nearestCellsInt(v: ArrayData, centroids: Array[Array[Long]], p: Int): ArrayData = {
    val dim = v.numElements()
    val k = centroids.length
    val dists = new Array[Long](k)
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      var d = 0L
      var i = 0
      while (i < dim) {
        val diff = v.getLong(i) - cent(i)
        d += diff * diff
        i += 1
      }
      dists(c) = d
      c += 1
    }
    val n = math.min(p, k)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](k)
    var j = 0
    while (j < n) {
      var best = -1
      var bestD = Long.MaxValue
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && dists(c2) < bestD) { bestD = dists(c2); best = c2 }
        c2 += 1
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Product-quantization ENCODE: for each of the m subspaces, the
    * nearest code (exact int64 distance on the quantized subvector,
    * ties → lower code id). codebooks is m × k × (dim/m). One pass
    * per row — the whole corpus compresses to m small ints per
    * vector. */
  def pqCodes(v: ArrayData, codebooks: Array[Array[Array[Long]]]): ArrayData = {
    val m = codebooks.length
    val dsub = v.numElements() / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val codes = codebooks(s)
      val base = s * dsub
      var best = -1
      var bestD = Long.MaxValue
      var c = 0
      while (c < codes.length) {
        val cent = codes(c)
        var d = 0L
        var i = 0
        while (i < dsub) {
          val diff = v.getLong(base + i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Nearest SUB-centroid index within one super-cell's codebook — the
    * per-row half of the grouped (two-level) Lloyd's iteration: every
    * vector only scores the sub-centroids of ITS super-cell, so one
    * assignment pass over the corpus costs n * (n_c/tgt) * dim instead
    * of the flat quantizer's n * k * dim. Same exact-integer distances
    * and lower-index tie-break as nearestInt, so the grouped argmin is
    * engine-reproducible. A vector can only reach a super-cell the
    * final level-1 assignment populated; an empty codebook here means
    * the caller paired the vector with a model trained on different
    * data — fail fast rather than emit a colliding cell id. */
  def nearestSubInt(v: ArrayData, superId: Int,
      subCents: Array[Array[Array[Long]]]): Int = {
    val cents = subCents(superId)
    if (cents.length == 0)
      throw new IllegalStateException(
        s"two-level quantizer: super-cell $superId has no sub-centroids " +
          "(vector assigned outside the trained model's population)")
    val dim = v.numElements()
    var best = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0L
      var i = 0
      while (i < dim) {
        val diff = v.getLong(i) - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Exact int64 squared distance between two quantized vectors —
    * the PQ rerank unit (and the ground truth ADC approximates). */
  def intSqDist(a: ArrayData, b: ArrayData): Long = {
    val dim = a.numElements()
    var d = 0L
    var i = 0
    while (i < dim) {
      val t = a.getLong(i) - b.getLong(i)
      d += t * t
      i += 1
    }
    d
  }

  /** Product-quantization ADC distance table for one probe: entry
    * s*k + c = exact int64 squared distance between the probe's s-th
    * quantized subvector and code c of subspace s. Computed ONCE per
    * probe; scoring a candidate is then m table lookups + m-1 adds —
    * the asymmetric-distance trick that makes PQ scans cheap. */
  def pqDistTable(v: ArrayData, codebooks: Array[Array[Array[Long]]]): ArrayData = {
    val m = codebooks.length
    val k = codebooks(0).length
    val dsub = v.numElements() / m
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      val codes = codebooks(s)
      val base = s * dsub
      var c = 0
      while (c < k) {
        val cent = codes(c)
        var d = 0L
        var i = 0
        while (i < dsub) {
          val diff = v.getLong(base + i) - cent(i)
          d += diff * diff
          i += 1
        }
        out(s * k + c) = d
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Delta-varint packing of a SORTED, duplicate-free id array — q87's
    * adjacency encoding: [zigzag-varint first value][plain varint
    * deltas...], ending with the byte array. Sorted input makes every
    * delta a positive integer, and adjacency gaps are tiny compared to
    * the id-space width — measured 1.68 B/entry on the sf1 co-purchase
    * graph versus the 8 B (long) array element. Elements are longs, so
    * one kernel serves every id range, including ids past 2^32. */
  def packSorted(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val buf = new Array[Byte](10 * n) // worst case: 10 bytes per 64-bit varint
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      // zigzag the first value (ids may be negative); deltas of a
      // sorted array are >= 0 and encode as plain varints
      var v = if (i == 0) (x << 1) ^ (x >> 63) else x - prev
      while ((v & ~0x7FL) != 0L) {
        buf(pos) = ((v & 0x7FL) | 0x80L).toByte; pos += 1; v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
      prev = x
      i += 1
    }
    java.util.Arrays.copyOf(buf, pos)
  }

  /** Sequential varint reader over one packed stream. */
  private final class VarintReader(buf: Array[Byte]) {
    private var pos = 0
    def hasNext: Boolean = pos < buf.length
    def next(): Long = {
      var x = buf(pos); pos += 1
      if (x >= 0) x.toLong // one-byte value, the common case
      else {
        var v = x & 0x7FL; var shift = 7
        x = buf(pos); pos += 1
        while (x < 0) {
          v |= (x & 0x7FL) << shift; shift += 7
          x = buf(pos); pos += 1
        }
        v | (x.toLong << shift)
      }
    }
  }

  /** Intersection of two packSorted streams — q87's per-edge closing
    * check adj(s) ∩ adj(d): a two-pointer merge that decodes each
    * stream on the fly (no intermediate id arrays), emitting the
    * common ids as an array<bigint>. The encoding is lossless, so the
    * ids — and the triangle credits built from them — are exact. */
  def packedIntersect(a: Array[Byte], b: Array[Byte]): ArrayData = {
    // allocated at the first common id (most edges close none); every
    // id takes at least one byte, so the shorter stream's length
    // bounds the intersection
    var out: Array[Long] = null
    var k = 0
    val ra = new VarintReader(a); val rb = new VarintReader(b)
    if (ra.hasNext && rb.hasNext) {
      def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)
      var xa = unzigzag(ra.next())
      var xb = unzigzag(rb.next())
      var more = true
      while (more) {
        if (xa < xb) {
          more = ra.hasNext
          if (more) xa += ra.next()
        } else if (xa > xb) {
          more = rb.hasNext
          if (more) xb += rb.next()
        } else {
          if (out == null) out = new Array[Long](math.min(a.length, b.length))
          out(k) = xa; k += 1
          more = ra.hasNext && rb.hasNext
          if (more) { xa += ra.next(); xb += rb.next() }
        }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (out == null) Array.emptyLongArray else out, Platform.LONG_ARRAY_OFFSET, k, 8)
  }
}

/** Assign a QUANTIZED (array<long>) vector to its nearest centroid
  * with exact integer distances — see ClusterKernels.nearestInt. */
case class NearestCentroidInt(child: Expression, centroids: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("sq_dist", LongType, nullable = false),
    StructField("sq_dist2", LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    ClusterKernels.nearestInt(input.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ClusterKernels.nearestInt($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidInt =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid_int"
}

/** The p nearest centroid ids for a QUANTIZED vector (exact integer
  * distances) — the engine-reproducible IVF cell probes. */
case class NearestCellsInt(child: Expression, centroids: Array[Array[Long]], p: Int)
    extends UnaryExpression {
  require(p >= 1, "need at least one probe cell")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ClusterKernels.nearestCellsInt(input.asInstanceOf[ArrayData], centroids, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ClusterKernels.nearestCellsInt($c, $ref, $p);")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCellsInt =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells_int"
}

/** Product-quantization codes of a QUANTIZED (array<long>) vector —
  * one small int per subspace; see ClusterKernels.pqCodes. */
case class PqCodesInt(child: Expression, codebooks: Array[Array[Array[Long]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ClusterKernels.pqCodes(input.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "long[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ClusterKernels.pqCodes($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqCodesInt =
    copy(child = newChild)
  override def prettyName: String = "pq_codes_int"
}

/** Per-probe PQ ADC distance table (m*k exact int64 entries) — see
  * ClusterKernels.pqDistTable. */
case class PqDistTableInt(child: Expression, codebooks: Array[Array[Array[Long]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ClusterKernels.pqDistTable(input.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "long[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ClusterKernels.pqDistTable($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqDistTableInt =
    copy(child = newChild)
  override def prettyName: String = "pq_dist_table_int"
}

/** Exact int64 squared distance between two quantized vectors. */
case class IntVecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ClusterKernels.intSqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ClusterKernels.intSqDist($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntVecSqDist =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "int_vec_sq_dist"
}

/** Nearest sub-centroid index within the row's super-cell (two-level
  * coarse quantizer assignment) — see ClusterKernels.nearestSubInt.
  * The per-super codebooks ride along as one broadcast-style reference
  * object; the row only scores its own super-cell's entries. */
case class NearestSubCentroidInt(left: Expression, right: Expression,
    subCents: Array[Array[Array[Long]]])
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any, superId: Any): Any =
    ClusterKernels.nearestSubInt(
      v.asInstanceOf[ArrayData], superId.asInstanceOf[Int], subCents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subCents", subCents, "long[][][]")
    nullSafeCodeGen(ctx, ev, (v, s) =>
      s"${ev.value} = graft.functions.ClusterKernels.nearestSubInt($v, $s, $ref);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestSubCentroidInt =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "nearest_sub_centroid_int"
}

/** Delta-varint pack a sorted array<bigint> of ids into a binary
  * column — q87's adjacency encoding; see ClusterKernels.packSorted. */
case class PackSorted(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pack_sorted expects array<bigint>, got ${t.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def nullSafeEval(input: Any): Any =
    ClusterKernels.packSorted(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ClusterKernels.packSorted($c);")
  override protected def withNewChildInternal(newChild: Expression): PackSorted =
    copy(child = newChild)
  override def prettyName: String = "pack_sorted"
}

/** Intersection of two PackSorted streams as array<bigint> — decodes
  * on the fly; see ClusterKernels.packedIntersect. */
case class PackedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    ClusterKernels.packedIntersect(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ClusterKernels.packedIntersect($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedIntersect =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "packed_intersect"
}
