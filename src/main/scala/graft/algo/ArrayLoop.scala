package graft.algo

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.{ByteBuffer, ByteOrder}
import graft.graph.RangedCsr.CsrBlock
import graft.model.IterationMetrics

/** The one driver loop behind every broadcast-array tier
  * ([[PageRankArray]] in f64 and f32, [[ConnectedComponentsArray]],
  * [[LabelPropagationArray]]): the reference's K6 broadcast-gather
  * (`include/graphCSR.hpp:215-249`) over cached
  * [[graft.graph.RangedCsr]] blocks, with the per-row operator supplied by
  * the caller — sum-product, min, or sorted-run mode.
  *
  * Each iteration:
  *   1. broadcast the packed state (one little-endian byte[]);
  *   2. `blocks.map(kernel)` — each task unpacks the state once per executor
  *      ([[BroadcastCache]]), writes one value per block row, returns the
  *      packed slice and its share of the delta — and collect the slices;
  *   3. unpersist the broadcast without blocking;
  *   4. bulk-copy each slice straight into `next` at its block's base id
  *      (blocks cover [0, V) with one row per vertex, so the copies are
  *      disjoint and fill `next` completely);
  *   5. reduce the per-block deltas (sum, or max);
  *   6. run the driver post-step on `next`;
  *   7. append the [[IterationMetrics]] (seconds span the kernel factory
  *      through the post-step);
  *   8. stop once the delta falls below `tol` or `maxIter` is reached.
  * Driver work per iteration is an O(V) pack plus an O(V) parallel copy;
  * everything O(E) runs in the tasks.
  */
private[graft] object ArrayLoop {

  /** Little-endian wire codec for one primitive state array type. Pinned
    * LITTLE_ENDIAN, not nativeOrder: the packed state crosses JVM boundaries,
    * so the format must not depend on either end's architecture (on x86 and
    * ARM64 it is the native order, so the pin is free). */
  sealed abstract class Codec[A] extends Serializable {
    def width: Int
    def alloc(n: Int): A
    def length(x: A): Int
    def pack(x: A): Array[Byte] = {
      val b = new Array[Byte](length(x) * width)
      put(le(b), x)
      b
    }
    def unpack(b: Array[Byte]): A = {
      val x = alloc(b.length / width)
      copyInto(b, x, 0)
      x
    }
    /** Bulk-copy a packed slice into `dst` starting at index `at`. */
    def copyInto(b: Array[Byte], dst: A, at: Int): Unit
    /** Result column type and element `i` of a packed state, as stored. */
    def sqlType: DataType
    def get(bb: ByteBuffer, i: Int): Any
    protected def put(bb: ByteBuffer, x: A): Unit
    protected def le(b: Array[Byte]): ByteBuffer =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  }

  object Doubles extends Codec[Array[Double]] {
    def width = 8
    def alloc(n: Int) = new Array[Double](n)
    def length(x: Array[Double]) = x.length
    def copyInto(b: Array[Byte], dst: Array[Double], at: Int) =
      le(b).asDoubleBuffer().get(dst, at, b.length / 8)
    def sqlType = DoubleType
    def get(bb: ByteBuffer, i: Int): Any = bb.getDouble(8 * i)
    protected def put(bb: ByteBuffer, x: Array[Double]) = bb.asDoubleBuffer().put(x)
  }

  /** f32 state; its result column widens to double (exact). */
  object Floats extends Codec[Array[Float]] {
    def width = 4
    def alloc(n: Int) = new Array[Float](n)
    def length(x: Array[Float]) = x.length
    def copyInto(b: Array[Byte], dst: Array[Float], at: Int) =
      le(b).asFloatBuffer().get(dst, at, b.length / 4)
    def sqlType = DoubleType
    def get(bb: ByteBuffer, i: Int): Any = bb.getFloat(4 * i).toDouble
    protected def put(bb: ByteBuffer, x: Array[Float]) = bb.asFloatBuffer().put(x)
  }

  object Longs extends Codec[Array[Long]] {
    def width = 8
    def alloc(n: Int) = new Array[Long](n)
    def length(x: Array[Long]) = x.length
    def copyInto(b: Array[Byte], dst: Array[Long], at: Int) =
      le(b).asLongBuffer().get(dst, at, b.length / 8)
    def sqlType = LongType
    def get(bb: ByteBuffer, i: Int): Any = bb.getLong(8 * i)
    protected def put(bb: ByteBuffer, x: Array[Long]) = bb.asLongBuffer().put(x)
  }

  /** Once-per-executor-per-iteration unpack of the broadcast state: all
    * tasks of one iteration share one unpacked array, keyed by the broadcast
    * id (unique per iteration). A stale or foreign key just re-unpacks —
    * correctness never depends on a hit. */
  private object BroadcastCache {
    private var key = -1L
    private var state: AnyRef = _
    def get[A](bc: Broadcast[Array[Byte]], codec: Codec[A]): A = synchronized {
      if (key != bc.id || state == null) {
        state = codec.unpack(bc.value).asInstanceOf[AnyRef]
        key = bc.id
      }
      state.asInstanceOf[A]
    }
  }

  /** One block's step: read the broadcast state `xs`, write row r's new
    * value (vertex `b.base + r`) into `out(r)`, return the block's share of
    * the delta. Each tier's kernel is a closure over concrete primitive
    * arrays: one call per block, no per-row dispatch or boxing. */
  type Kernel[A] = (CsrBlock, A, A) => Double

  /** Run the loop from `init` (the loop owns it: its array is reused as a
    * scatter target) and return the final state plus one
    * [[IterationMetrics]] per iteration.
    *
    * @param sumDelta  reduce the per-block deltas by sum (L1, changed
    *                  counts) rather than max (L-infinity)
    * @param tol       continue while delta >= tol; the label tiers pass 1,
    *                  so their integer changed-count stops at zero
    * @param kernelFor driver pre-step: build this iteration's kernel from
    *                  the current state (PageRank folds its dangling mass
    *                  into the kernel's additive base here)
    * @param post      driver post-step on the scattered state and delta
    *                  (CC's pointer compression), inside the timed span
    * @param after     called with (state, iteration, delta) after the
    *                  metrics are recorded (PageRank's snapshots)
    */
  def run[A](
      blocks: RDD[CsrBlock],
      codec: Codec[A],
      init: A,
      nEdges: Long,
      strategy: String,
      maxIter: Int,
      tol: Double,
      sumDelta: Boolean)(
      kernelFor: A => Kernel[A],
      post: (A, Double) => Unit = (_: A, _: Double) => (),
      after: (A, Int, Double) => Unit = (_: A, _: Int, _: Double) => ())
      : (A, Seq[IterationMetrics]) = {
    val sc = blocks.sparkContext
    val metrics = scala.collection.mutable.ArrayBuffer.empty[IterationMetrics]
    var x = init
    var next = codec.alloc(codec.length(init))
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta >= tol) {
      val t0 = System.nanoTime()
      val kernel = kernelFor(x)
      val bc = sc.broadcast(codec.pack(x))
      val slices = blocks.map { b =>
        val out = codec.alloc(b.rows)
        val d = kernel(b, BroadcastCache.get(bc, codec), out)
        (b.base, codec.pack(out), d)
      }.collect()
      bc.unpersist(false) // non-blocking (destroy() is a blocking RPC per iteration)
      val nx = next
      java.util.stream.IntStream.range(0, slices.length).parallel().forEach { i =>
        codec.copyInto(slices(i)._2, nx, slices(i)._1)
      }
      delta = slices.foldLeft(0.0) { (a, s) =>
        if (sumDelta) a + s._3 else math.max(a, s._3)
      }
      post(nx, delta)
      next = x; x = nx
      val secs = (System.nanoTime() - t0) / 1e9
      iter += 1
      metrics += IterationMetrics(iter, nEdges, secs,
        if (secs > 0) nEdges / secs else 0.0, delta, strategy)
      after(x, iter, delta)
    }
    (x, metrics.toSeq)
  }

  /** State → (id, `name`) DataFrame without driver-side boxing: the packed
    * state ships once as a torrent broadcast and each `range` partition
    * reads its rows straight out of the buffer — O(V/P) rows per task, no
    * per-vertex allocation on the driver. */
  def toDf[A](spark: SparkSession, codec: Codec[A], x: A, name: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codec.pack(x))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField(name, codec.sqlType, nullable = false)))
    spark.range(codec.length(x).toLong).as[Long].mapPartitions { it =>
      val bb = ByteBuffer.wrap(bc.value).order(ByteOrder.LITTLE_ENDIAN)
      it.map(i => Row(i, codec.get(bb, i.toInt)))
    }(Encoders.row(schema))
  }
}
