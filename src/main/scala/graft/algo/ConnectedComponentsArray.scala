package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.RangedCsr

/** Connected components over cached symmetric [[RangedCsr]] blocks with a
  * broadcast primitive label array — the K6 broadcast-gather kernel
  * (the reference's `include/graphCSR.hpp:215-249`) on the (min, ·)
  * semiring, driven by the shared [[ArrayLoop]]: per row, gather
  * `labels[colInd[j]]` and take the MIN (vertex `base + r` starts from its
  * own label). Blocks carry no values — CC only reads neighbor ids.
  *
  * WHY a second CC path: the DataFrame [[ConnectedComponents]] (two-phase:
  * partition-local union-find contraction + pointer jumping on the root
  * graph) is the 10^12-vertex design, but even its contracted rounds pay
  * Spark job/shuffle latency (~0.7 s/round at 1M vertices). In the broadcast
  * regime (labels fit in one executor: 8 B/vertex) a round is one
  * zero-shuffle gather job plus a driver post-step that compresses pointers
  * to FIXPOINT (label[v] <- label[label[v]] passes; labels are vertex ids
  * and only ever decrease, so the loop is O(log chain) passes of an O(V)
  * primitive scan — no job). Full per-round compression collapses any
  * already-discovered tree to its root, so rounds converge like
  * Shiloach-Vishkin (O(log d)), not like plain min-propagation
  * (O(diameter)).
  *
  * Convergence = the gather changed NOTHING (the per-block changed-counts
  * sum to zero): labels are at compression fixpoint when a round starts, so
  * an unchanged gather is the global fixpoint — every vertex holds its
  * component's min id.
  *
  * Scope: the broadcast regime only; beyond it use [[ConnectedComponents]].
  */
object ConnectedComponentsArray {

  def run(
      spark: SparkSession,
      edges: DataFrame,
      nVertices: Long,
      maxIter: Int = 100): ConnectedComponents.Result = {
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (blocks, nEdges) =
      RangedCsr.cache(RangedCsr.buildSymmetric(edges, nVertices, nParts))
    val (labels, metrics) = ArrayLoop.run(blocks, ArrayLoop.Longs,
      Array.tabulate(nVertices.toInt)(_.toLong), nEdges, "BroadcastArrayMin",
      maxIter, tol = 1.0, sumDelta = true)(
      _ => (b, xs, out) => {
        var ch = 0L
        var r = 0
        while (r < out.length) {
          val own = xs(b.base + r)
          var m = own
          var i = b.rowPtr(r); val end = b.rowPtr(r + 1)
          while (i < end) { val lv = xs(b.colInd(i)); if (lv < m) m = lv; i += 1 }
          out(r) = m
          if (m < own) ch += 1
          r += 1
        }
        ch.toDouble
      },
      post = (next, changed) => {
        var jumped = changed > 0
        while (jumped) {
          jumped = false
          var v = 0
          while (v < next.length) {
            val m = next(next(v).toInt)
            if (m < next(v)) { next(v) = m; jumped = true }
            v += 1
          }
        }
      })
    blocks.unpersist()
    ConnectedComponents.Result(ArrayLoop.toDf(spark, ArrayLoop.Longs, labels, "label"), metrics)
  }
}
