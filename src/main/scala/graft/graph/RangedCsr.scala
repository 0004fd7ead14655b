package graft.graph

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import java.nio.{ByteBuffer, ByteOrder}

/** Id-ranged flat CSR blocks — the cached graph behind every broadcast-array
  * tier ([[graft.algo.ArrayLoop]]) — and their packed-binary,
  * range-partitioned build.
  *
  * Block contract: with chunk = ceil(V / P), partition p holds one
  * [[RangedCsr.CsrBlock]] with `base` = p*chunk covering the id range
  * [base, min(V, base + chunk)); row r of the block is vertex `base + r`.
  * Every vertex in [0, V) has exactly one row (a vertex without in-edges has
  * rowPtr(r) == rowPtr(r+1)), and partitions whose range starts at or past V
  * hold no block. So a kernel's per-block output is a contiguous id run the
  * driver copies into the next state at `base`, and the blocks' outputs
  * together cover the whole state.
  *
  * Build: each upstream task packs its edges into per-target primitive
  * column buffers and ships them as FEW LARGE BLOBS (4 B key + 4 B payload
  * + 0/4/8 B value = 8-16 B/edge, serialized as one `byte[]` memcpy) instead
  * of 32 B/edge UnsafeRows through a Catalyst exchange. The target partition
  * is `key / chunk`, so the downstream build needs NO per-edge hash map: the
  * row index is `key - base`, and a two-pass histogram+scatter runs over
  * primitive arrays end to end.
  *
  * Range (not hash) partitioning trades generic skew-robustness for the
  * zero-probe build; that is the right trade for this tier: its scale
  * contract is the broadcast regime (V fits in memory), and a skewed id
  * range skews the per-block kernel time under any row partitioning. The
  * 10^12-vertex design path (ShuffleJoin DataFrames) is unaffected.
  */
object RangedCsr {

  /** One id range's in-adjacency as flat CSR (the reference's rowPtr/colInd/
    * val layout, `include/graphCSR.hpp:382-384`): row r is vertex
    * `base + r` and gathers from colInd[rowPtr(r) until rowPtr(r+1)] with
    * weights colVal (double) or colValF (float) — at most one of the two is
    * populated; the label tiers' symmetric blocks carry neither. */
  final case class CsrBlock(
      base: Int,
      rowPtr: Array[Int],
      colInd: Array[Int],
      colVal: Array[Double],
      colValF: Array[Float]) {
    def rows: Int = rowPtr.length - 1
  }

  /** Keys-per-partition chunk: ceil(n / nParts). */
  def chunkFor(n: Int, nParts: Int): Int =
    math.max(1, ((n.toLong + nParts - 1) / nParts).toInt)

  /** Persist the blocks deserialized, cut their lineage, and materialize
    * them; returns the cached blocks and their edge count. The cut matters:
    * without it every per-iteration job re-serializes the whole upstream
    * Catalyst/RDD graph into its task binary (measured ~200 ms/iteration at
    * 403M edges). Caller unpersists. */
  def cache(blocks: RDD[CsrBlock]): (RDD[CsrBlock], Long) = {
    val cached = blocks.persist(StorageLevel.MEMORY_ONLY)
    cached.localCheckpoint()
    (cached, cached.map(_.colInd.length.toLong).fold(0L)(_ + _))
  }

  final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  // value modes for the packed wire blobs
  final val ValNone = 0
  final val ValF = 1
  final val ValD = 2

  /** Edges per blob before a flush: 128k edges ≈ 1-2 MB — large enough that
    * serde is bulk memcpy, small enough that a map task's nParts open
    * buffers stay ~tens of MB. */
  private final val FlushEdges = 1 << 17

  private def valBytes(valMode: Int): Int = valMode match {
    case ValF => 4
    case ValD => 8
    case _ => 0
  }

  /** Blob layout (little-endian): [m: Int][keys: m Ints][payloads: m Ints]
    * [values: m Floats|Doubles|absent]. Columnar within the blob so the
    * reader's bulk gets are three memcpys. */
  private def packBlob(
      m: Int, keys: Array[Int], payloads: Array[Int],
      valsF: Array[Float], valsD: Array[Double], valMode: Int): Array[Byte] = {
    val b = new Array[Byte](4 + m * (8 + valBytes(valMode)))
    ByteBuffer.wrap(b, 0, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(m)
    ByteBuffer.wrap(b, 4, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().put(keys, 0, m)
    ByteBuffer.wrap(b, 4 + 4 * m, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().put(payloads, 0, m)
    valMode match {
      case ValF => ByteBuffer.wrap(b, 4 + 8 * m, 4 * m)
        .order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().put(valsF, 0, m)
      case ValD => ByteBuffer.wrap(b, 4 + 8 * m, 8 * m)
        .order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().put(valsD, 0, m)
      case _ => ()
    }
    b
  }

  def blobCount(b: Array[Byte]): Int =
    ByteBuffer.wrap(b, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt

  def blobKeys(b: Array[Byte], m: Int, out: Array[Int]): Unit =
    ByteBuffer.wrap(b, 4, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().get(out, 0, m)

  def blobPayloads(b: Array[Byte], m: Int, out: Array[Int]): Unit =
    ByteBuffer.wrap(b, 4 + 4 * m, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asIntBuffer().get(out, 0, m)

  def blobValsF(b: Array[Byte], m: Int, out: Array[Float]): Unit =
    ByteBuffer.wrap(b, 4 + 8 * m, 4 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asFloatBuffer().get(out, 0, m)

  def blobValsD(b: Array[Byte], m: Int, out: Array[Double]): Unit =
    ByteBuffer.wrap(b, 4 + 8 * m, 8 * m).order(ByteOrder.LITTLE_ENDIAN)
      .asDoubleBuffer().get(out, 0, m)

  /** Map side: drain (key, payload[, value]) InternalRows into per-target
    * packed blobs, streamed (a target's buffer flushes at FlushEdges — peak
    * task transient is nParts * ~2 MB, independent of partition size).
    *
    * @param df      pre-projected (key LONG, payload LONG[, value DOUBLE])
    * @param norm    optional normalization: value := value / norm(payload),
    *                rows with norm(payload) <= 0 dropped (the out-weight
    *                semantics of the PageRank normalize join, done as a
    *                broadcast primitive-array lookup instead of a join)
    * @param sym     emit BOTH orientations of each row (symmetric link set),
    *                dropping key == payload self-loops
    */
  def blobRdd(
      df: DataFrame, n: Int, nParts: Int, valMode: Int,
      norm: Broadcast[Array[Double]] = null,
      sym: Boolean = false): RDD[(Int, Array[Byte])] = {
    val chunk = chunkFor(n, nParts)
    df.queryExecution.toRdd.mapPartitions { rows =>
      // per-target buffers allocated on FIRST use: a locality-friendly input
      // (e.g. the banded generator, whose dst range tracks its src range)
      // touches 1-2 targets per map task, not all nParts
      val keyBuf = new Array[Array[Int]](nParts)
      val payBuf = new Array[Array[Int]](nParts)
      val valFBuf = if (valMode == ValF) new Array[Array[Float]](nParts) else null
      val valDBuf = if (valMode == ValD) new Array[Array[Double]](nParts) else null
      val cnt = new Array[Int](nParts)
      val wtot = if (norm == null) null else norm.value
      new Iterator[(Int, Array[Byte])] {
        private val out = new java.util.ArrayDeque[(Int, Array[Byte])]
        private var flushed = false
        private def emit(p: Int): Unit = {
          out.add((p, packBlob(cnt(p), keyBuf(p), payBuf(p),
            if (valFBuf == null) null else valFBuf(p),
            if (valDBuf == null) null else valDBuf(p), valMode)))
          cnt(p) = 0
        }
        private def put(k: Long, pay: Long, v: Double): Unit = {
          val p = (k / chunk).toInt
          if (keyBuf(p) == null) {
            keyBuf(p) = new Array[Int](FlushEdges)
            payBuf(p) = new Array[Int](FlushEdges)
            if (valFBuf != null) valFBuf(p) = new Array[Float](FlushEdges)
            if (valDBuf != null) valDBuf(p) = new Array[Double](FlushEdges)
          }
          val c = cnt(p)
          keyBuf(p)(c) = k.toInt
          payBuf(p)(c) = pay.toInt
          if (valFBuf != null) valFBuf(p)(c) = v.toFloat
          else if (valDBuf != null) valDBuf(p)(c) = v
          cnt(p) = c + 1
          if (c + 1 == FlushEdges) emit(p)
        }
        private def pump(): Unit = {
          while (out.isEmpty && rows.hasNext) {
            val r = rows.next()
            val k = r.getLong(0)
            val pay = r.getLong(1)
            if (sym) {
              if (k != pay) {
                put(k, pay, 0.0)
                put(pay, k, 0.0)
              }
            } else if (wtot != null) {
              val wt = wtot(pay.toInt)
              if (wt > 0) put(k, pay, r.getDouble(2) / wt)
            } else {
              put(k, pay, if (valMode == ValNone) 0.0 else r.getDouble(2))
            }
          }
          if (out.isEmpty && !flushed && !rows.hasNext) {
            var p = 0
            while (p < nParts) { if (cnt(p) > 0) emit(p); p += 1 }
            flushed = true
          }
        }
        def hasNext: Boolean = { pump(); !out.isEmpty }
        def next(): (Int, Array[Byte]) = { pump(); out.poll() }
      }
    }.partitionBy(new IdPartitioner(nParts))
  }

  /** Drain a reduce partition's blobs (kept as packed byte[]s — the same
    * bytes the shuffle moved, no intermediate row materialization) and run
    * the two-pass histogram+scatter against the partition's dense range. */
  def gatherBlobs(it: Iterator[(Int, Array[Byte])])
      : (Array[Array[Byte]], Int) = {
    val list = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
    var m = 0L
    while (it.hasNext) {
      val b = it.next()._2
      list += b
      m += blobCount(b)
    }
    require(m <= Int.MaxValue,
      s"ranged CSR partition holds $m edges — raise shuffle partitions")
    (list.toArray, m.toInt)
  }

  /** In-neighbor CSR blocks with normalized values: key = dst, payload =
    * src, value = w / wtot(src) (rows whose src has wtot <= 0 dropped —
    * identical to the `filter(wtot > 0)` + inner-join semantics of the
    * DataFrame tier). Caller caches. */
  def buildWeighted(
      edges: DataFrame, // pre-projected (dst LONG, src LONG, w DOUBLE)
      n: Int, nParts: Int, useFloat: Boolean,
      norm: Broadcast[Array[Double]]): RDD[CsrBlock] = {
    val chunk = chunkFor(n, nParts)
    val valMode = if (useFloat) ValF else ValD
    blobRdd(edges, n, nParts, valMode, norm, sym = false)
      .mapPartitions({ it =>
        val pid = TaskContext.getPartitionId()
        val base = pid.toLong * chunk
        if (base >= n) Iterator.empty
        else {
          val len = math.min(chunk.toLong, n - base).toInt
          val (blobList, m) = gatherBlobs(it)
          val counts = new Array[Int](len)
          val tmpK = new Array[Int](FlushEdges)
          val tmpP = new Array[Int](FlushEdges)
          val tmpF = if (useFloat) new Array[Float](FlushEdges) else null
          val tmpD = if (useFloat) null else new Array[Double](FlushEdges)
          // pass 1: histogram of local row indices
          var bi = 0
          while (bi < blobList.length) {
            val b = blobList(bi)
            val bm = blobCount(b)
            blobKeys(b, bm, tmpK)
            var i = 0
            while (i < bm) { counts(tmpK(i) - base.toInt) += 1; i += 1 }
            bi += 1
          }
          val rowPtr = new Array[Int](len + 1)
          var r = 0
          while (r < len) { rowPtr(r + 1) = rowPtr(r) + counts(r); r += 1 }
          val cur = java.util.Arrays.copyOf(rowPtr, len)
          val colInd = new Array[Int](m)
          val colVal = if (useFloat) Array.emptyDoubleArray else new Array[Double](m)
          val colValF = if (useFloat) new Array[Float](m) else Array.emptyFloatArray
          // pass 2: scatter
          bi = 0
          while (bi < blobList.length) {
            val b = blobList(bi)
            val bm = blobCount(b)
            blobKeys(b, bm, tmpK)
            blobPayloads(b, bm, tmpP)
            if (useFloat) blobValsF(b, bm, tmpF) else blobValsD(b, bm, tmpD)
            var i = 0
            while (i < bm) {
              val ri = tmpK(i) - base.toInt
              val pos = cur(ri); cur(ri) = pos + 1
              colInd(pos) = tmpP(i)
              if (useFloat) colValF(pos) = tmpF(i) else colVal(pos) = tmpD(i)
              i += 1
            }
            bi += 1
          }
          Iterator.single(CsrBlock(base.toInt, rowPtr, colInd, colVal, colValF))
        }
      }, preservesPartitioning = true)
  }

  /** Symmetric value-less CSR blocks (CC/LP) from an edge DataFrame with
    * `src` and `dst` columns: both orientations of every edge, self-loops
    * dropped, per-row neighbor sets SORTED + DEDUPLICATED in place —
    * identical neighbor sets to `symmetrize(...).distinct()` (LP's mode
    * counts depend on dedup; CC's min does not care). Label kernels read
    * neighbor ids only, so a block is colInd + rowPtr. Caller caches. */
  def buildSymmetric(edges: DataFrame, nVertices: Long, nParts: Int): RDD[CsrBlock] = {
    require(nVertices <= Int.MaxValue, "flat-block builds need V <= 2^31")
    val n = nVertices.toInt
    val chunk = chunkFor(n, nParts)
    blobRdd(edges.select(col("src").cast("long"), col("dst").cast("long")),
      n, nParts, ValNone, null, sym = true)
      .mapPartitions({ it =>
        val pid = TaskContext.getPartitionId()
        val base = pid.toLong * chunk
        if (base >= n) Iterator.empty
        else {
          val len = math.min(chunk.toLong, n - base).toInt
          val (blobList, m) = gatherBlobs(it)
          val counts = new Array[Int](len)
          val tmpK = new Array[Int](FlushEdges)
          val tmpP = new Array[Int](FlushEdges)
          var bi = 0
          while (bi < blobList.length) {
            val b = blobList(bi)
            val bm = blobCount(b)
            blobKeys(b, bm, tmpK)
            var i = 0
            while (i < bm) { counts(tmpK(i) - base.toInt) += 1; i += 1 }
            bi += 1
          }
          val rowPtr = new Array[Int](len + 1)
          var r = 0
          while (r < len) { rowPtr(r + 1) = rowPtr(r) + counts(r); r += 1 }
          val cur = java.util.Arrays.copyOf(rowPtr, len)
          var colInd = new Array[Int](m)
          bi = 0
          while (bi < blobList.length) {
            val b = blobList(bi)
            val bm = blobCount(b)
            blobKeys(b, bm, tmpK)
            blobPayloads(b, bm, tmpP)
            var i = 0
            while (i < bm) {
              val ri = tmpK(i) - base.toInt
              val pos = cur(ri); cur(ri) = pos + 1
              colInd(pos) = tmpP(i)
              i += 1
            }
            bi += 1
          }
          // per-row sort + in-place dedup, compacting as we go (replaces
          // the Catalyst-wide `.distinct()` shuffle with O(deg log deg)
          // primitive work exactly where the row already lives)
          val newRowPtr = new Array[Int](len + 1)
          var w0 = 0
          r = 0
          while (r < len) {
            val beg = rowPtr(r); val end = rowPtr(r + 1)
            java.util.Arrays.sort(colInd, beg, end)
            var i = beg
            var prev = Integer.MIN_VALUE
            var first = true
            while (i < end) {
              val v = colInd(i)
              if (first || v != prev) { colInd(w0) = v; w0 += 1; prev = v; first = false }
              i += 1
            }
            newRowPtr(r + 1) = w0
            r += 1
          }
          Iterator.single(CsrBlock(base.toInt, newRowPtr,
            java.util.Arrays.copyOf(colInd, w0),
            Array.emptyDoubleArray, Array.emptyFloatArray))
        }
      }, preservesPartitioning = true)
  }
}
