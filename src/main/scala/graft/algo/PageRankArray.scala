package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.IterConfig
import graft.graph.RangedCsr
import graft.model.IterationMetrics

/** PageRank over cached [[RangedCsr]] blocks with a broadcast primitive-
  * array state — the reference's K6 broadcast-gather kernel
  * (`include/graphCSR.hpp:215-249`: per row, gather
  * `weights[colInd[j]]` and multiply-accumulate) on the sum-product
  * semiring, driven by the shared [[ArrayLoop]].
  *
  * Build (once): the O(V) out-weight aggregate is collected into a
  * primitive double[] and broadcast, and [[RangedCsr.buildWeighted]]
  * normalizes each edge by an array lookup while packing it into its
  * destination's id range. Row r of the block at `base` is vertex
  * `base + r`, so every vertex — zero in-degree ones included — is computed
  * in a task.
  *
  * Per iteration (see [[ArrayLoop]]): the driver folds the dangling mass
  * (an O(#dangling) loop) into the additive base term, the tasks compute
  * `base + d * Σ w·x[src]` per row plus their partial L1/L-inf delta
  * against the broadcast state, and the driver copies the slices into the
  * next state at each block's base.
  *
  * `floatPrecision = true` runs CSR values, state, broadcast and slices in
  * Float — the reference's own precision (`graphCOO.hpp:20-21`) — halving
  * serde and kernel memory traffic; the default doubles are the engine's
  * result precision (allclose 1e-6).
  *
  * Scope: the broadcast regime only — V must fit in driver and executor
  * memory (~8 B/vertex). Beyond that, the DataFrame ShuffleJoin path in
  * [[PageRank]] is the 10^12-vertex design.
  */
object PageRankArray {

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      damping: Double = 0.85,
      cfg: IterConfig = IterConfig(),
      weighted: Boolean = true,
      floatPrecision: Boolean = false): PageRank.Result = {
    require(nVertices <= Int.MaxValue, "broadcast-array kernel needs V <= 2^31")
    val n = nVertices.toInt

    // out-weights collected as packed per-partition primitive arrays — no
    // per-row Row/tuple boxing on the driver at V=10^6-10^8
    val outW = edges.groupBy("src").agg(
      (if (weighted) sum("w") else count(lit(1)).cast("double")).as("wtot"))
      .filter(col("wtot") > 0) // wtot<=0 -> dangling, not NaN (see PageRank)
    val wtotArr = new Array[Double](n)
    outW.queryExecution.toRdd.mapPartitions { it =>
      var ids = new Array[Int](1024)
      var ws = new Array[Double](1024)
      var m = 0
      while (it.hasNext) {
        val r = it.next()
        if (m == ids.length) {
          ids = java.util.Arrays.copyOf(ids, m * 2)
          ws = java.util.Arrays.copyOf(ws, m * 2)
        }
        ids(m) = r.getLong(0).toInt
        ws(m) = r.getDouble(1)
        m += 1
      }
      Iterator.single((java.util.Arrays.copyOf(ids, m),
        java.util.Arrays.copyOf(ws, m)))
    }.collect().foreach { case (ids, ws) =>
      var i = 0
      while (i < ids.length) { wtotArr(ids(i)) = ws(i); i += 1 }
    }
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val wtotBc = spark.sparkContext.broadcast(wtotArr)
    val sel = edges.select(col("dst").cast("long"), col("src").cast("long"),
      (if (weighted) col("w") else lit(1.0)).cast("double"))
    // nEdges counts normalized edges (out-edges of wtot > 0 srcs) — exactly
    // the edges each iteration processes
    val (blocks, nEdges) =
      RangedCsr.cache(RangedCsr.buildWeighted(sel, n, nParts, floatPrecision, wtotBc))

    // dangling vertices (no positive-weight out-edge): their mass re-enters
    // uniformly each iteration
    val danglingIds: Array[Int] =
      java.util.stream.IntStream.range(0, n).filter(v => wtotArr(v) <= 0).toArray

    val l1 = cfg.norm == "l1" // scale-free convergence (see IterConfig)
    def loop[A](codec: ArrayLoop.Codec[A], init: A, strategy: String)(
        kernelFor: A => ArrayLoop.Kernel[A]): (DataFrame, Seq[IterationMetrics]) = {
      val (x, metrics) = ArrayLoop.run(blocks, codec, init, nEdges, strategy,
        cfg.maxIter, cfg.tol, sumDelta = l1)(kernelFor,
        after = (x: A, iter: Int, delta: Double) => cfg.snapshotDir.foreach { dir =>
          if (iter % cfg.snapshotEvery == 0 || delta < cfg.tol)
            graft.exec.Iterate.snapshot(dir, ArrayLoop.toDf(spark, codec, x, "x"), iter, delta)
        })
      (ArrayLoop.toDf(spark, codec, x, "x"), metrics)
    }
    val (state, metrics) =
      if (floatPrecision) {
        val d = damping.toFloat
        loop(ArrayLoop.Floats,
          Array.fill(n)((1.0 / nVertices).toFloat), "BroadcastArrayF32") { x =>
          var dm = 0.0
          var di = 0
          while (di < danglingIds.length) { dm += x(danglingIds(di)); di += 1 }
          val base = ((1.0 - damping) / nVertices + damping * dm / nVertices).toFloat
          (b, xs, out) => {
            var pd = 0.0
            var r = 0
            while (r < out.length) {
              var s = 0.0f
              var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
              while (i < end) { s += b.colValF(i) * xs(b.colInd(i)); i += 1 }
              val nv = base + d * s
              out(r) = nv
              val dd = math.abs((nv - xs(b.base + r)).toDouble)
              if (l1) pd += dd else if (dd > pd) pd = dd
              r += 1
            }
            pd
          }
        }
      } else {
        loop(ArrayLoop.Doubles,
          Array.fill(n)(1.0 / nVertices), "BroadcastArray") { x =>
          var dm = 0.0
          var di = 0
          while (di < danglingIds.length) { dm += x(danglingIds(di)); di += 1 }
          val base = (1.0 - damping) / nVertices + damping * dm / nVertices
          (b, xs, out) => {
            var pd = 0.0
            var r = 0
            while (r < out.length) {
              var s = 0.0
              var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
              while (i < end) { s += b.colVal(i) * xs(b.colInd(i)); i += 1 }
              val nv = base + damping * s
              out(r) = nv
              val dd = math.abs(nv - xs(b.base + r))
              if (l1) pd += dd else if (dd > pd) pd = dd
              r += 1
            }
            pd
          }
        }
      }
    blocks.unpersist()
    PageRank.Result(state, metrics, graft.exec.GatherStrategy.BroadcastState)
  }
}
