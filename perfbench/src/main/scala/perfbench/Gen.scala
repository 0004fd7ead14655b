package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded relabeling of the vertex ids [0, n): the rotation
  * i -> (i + r) mod n. Graphs are generated on "original" ids and every id
  * is then mapped through it, so one seed changes which ids the engine sees
  * but never the graph's shape: degrees, components and PageRank iteration
  * counts stay fixed, and neighbours stay near in id. */
final case class Relabel(n: Long, r: Long) {
  require(r >= 0 && r < n)
  def apply(i: Long): Long = { val j = i + r; if (j >= n) j - n else j }
  def column(c: Column): Column = pmod(c + lit(r), lit(n))
}

object Relabel {
  def rotate(n: Long, seed: Long): Relabel =
    Relabel(n, java.lang.Long.remainderUnsigned(mix(seed), n))

  /** splitmix64 finalizer: spreads small consecutive seeds over the range. */
  def mix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** The benchmark's graph generators. Each exists twice: as a Spark
  * DataFrame handed to graft, and as plain closed-form functions the
  * output checks iterate over without Spark. */
object Gen {

  /** Band graph on original ids: vertex i links to the `l` vertices
    * max(0, i - l) .. max(0, i - l) + l - 1. The clamp at 0 makes the low
    * ids hubs, so PageRank is not uniform and has to iterate. */
  def bandLo(i: Long, l: Int): Long = math.max(0L, i - l)

  /** Positive closed-form edge weight on original ids, in (0, 1]. */
  def weight(i: Long, d: Long): Double = ((i * 31 + d * 17) % 1000 + 1) / 1000.0

  def band(spark: SparkSession, l: Int, p: Relabel): DataFrame =
    spark.range(p.n * l)
      .select(expr(s"id div $l").as("i"), (col("id") % l).as("j"))
      .select(col("i"), (greatest(col("i") - l, lit(0L)) + col("j")).as("d"))
      .select(p.column(col("i")).as("src"), p.column(col("d")).as("dst"),
        ((((col("i") * 31 + col("d") * 17) % 1000) + 1) / 1000.0).as("w"))

  /** Disjoint chains of `b` vertices on original ids: i -> i + 1 unless
    * i + 1 starts a new chain. */
  def chains(spark: SparkSession, b: Long, p: Relabel): DataFrame =
    spark.range(p.n - 1)
      .filter((col("id") + 1) % b =!= 0)
      .select(p.column(col("id")).as("src"), p.column(col("id") + 1).as("dst"))

  def chainEdges(n: Long, b: Long): Long = n - n / b
}
