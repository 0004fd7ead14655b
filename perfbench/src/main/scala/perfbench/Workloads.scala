package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.IterConfig
import graft.model.IterationMetrics

/** One call into graft's public API, timed from outside. */
final case class Call(name: String, start: Double, end: Double, metrics: Seq[IterationMetrics])

/** What one job hands back: the timed calls, the window in which the
  * returned result was consumed, and the check to run afterwards. */
final case class Timed(calls: Seq[Call], resultStart: Double, resultEnd: Double, verify: () => Verdict) {
  def start: Double = calls.head.start
  def wallS: Double = (resultEnd - start) / 1e3
}

/** A workload: a seeded generated input, the graft calls made on it, and
  * an independent check of the output. */
sealed trait Workload {
  def name: String
  def edgeCount: Long
  def edges(spark: SparkSession, seed: Long): DataFrame
  def execute(spark: SparkSession, seed: Long): Timed

  protected def call[R](name: String)(f: => R)(metrics: R => Seq[IterationMetrics]): (R, Call) = {
    val t0 = Clock.ms()
    val r = f
    (r, Call(name, t0, Clock.ms(), metrics(r)))
  }

  /** Consumes a result with a checksum aggregate (count and sum of the
    * value column) so that every row is computed. */
  protected def consume(df: DataFrame, value: String): Unit =
    df.agg(count(lit(1)), sum(col(value))).head()

  protected def collectDoubles(df: DataFrame, value: String): (Array[Long], Array[Double]) = {
    val rows = df.select(col("id").cast("long"), col(value).cast("double")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getDouble(1)))
  }

  protected def collectLongs(df: DataFrame, value: String): (Array[Long], Array[Long]) = {
    val rows = df.select(col("id").cast("long"), col(value).cast("long")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }
}

object Workload {
  val all: Seq[Workload] = Seq(PrBuild, LabelsDf)
  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Build-dominated PageRank: a wide band (many edges per vertex) in f32, to
  * an L1 tolerance, with few iterations. Ids keep their locality (rotation).
  * Checked by one more power step over the closed-form edges. */
object PrBuild extends Workload {
  val name = "pr-build"
  val vertices: Long = 1L << 19
  val degree = 96
  val tol = 1e-5
  val damping = 0.85

  def edgeCount: Long = vertices * degree
  def edges(spark: SparkSession, seed: Long): DataFrame =
    Gen.band(spark, degree, Relabel.rotate(vertices, seed))

  def execute(spark: SparkSession, seed: Long): Timed = {
    val n = vertices.toInt
    val (r, c) = call(name)(graft.algo.PageRankArray.run(spark, edges(spark, seed), vertices,
      damping = damping, cfg = IterConfig(tol = tol, maxIter = 200, norm = "l1"),
      floatPrecision = true))(_.metrics)
    val r0 = Clock.ms()
    consume(r.state, "x")
    Timed(Seq(c), r0, Clock.ms(), () => {
      val (ids, xs) = collectDoubles(r.state, "x")
      Check.dense(n, ids, xs, new Array[Double](n)) match {
        case Left(err) => Verdict(ok = false, err, Double.NaN, n)
        case Right(x) => Check.pagerank(x, degree, Relabel.rotate(vertices, seed), damping, tol)
      }
    })
  }
}

/** Connected components, then label propagation capped at a fixed number
  * of rounds, on disjoint chains: graft's DataFrame (shuffle) loop. */
object LabelsDf extends Workload {
  val name = "labels-df"
  val vertices: Long = 1L << 16
  val block = 64L
  val rounds = 4

  def edgeCount: Long = Gen.chainEdges(vertices, block)
  def edges(spark: SparkSession, seed: Long): DataFrame =
    Gen.chains(spark, block, Relabel.rotate(vertices, seed))

  def execute(spark: SparkSession, seed: Long): Timed = {
    val n = vertices
    val p = Relabel.rotate(n, seed)
    val e = edges(spark, seed)
    val (cc, c1) = call("ConnectedComponents.run")(
      graft.algo.ConnectedComponents.run(spark, e, n))(_.metrics)
    val (lp, c2) = call("LabelPropagation.run")(
      graft.algo.LabelPropagation.run(spark, e, n, maxIter = rounds))(_.metrics)
    val r0 = Clock.ms()
    consume(cc.labels, "label")
    consume(lp.labels, "label")
    Timed(Seq(c1, c2), r0, Clock.ms(), () => {
      val empty = new Array[Long](n.toInt)
      val (ci, cl) = collectLongs(cc.labels, "label")
      val (li, ll) = collectLongs(lp.labels, "label")
      (Check.dense(n.toInt, ci, cl, empty.clone()), Check.dense(n.toInt, li, ll, empty.clone())) match {
        case (Left(err), _) => Verdict(ok = false, s"components: $err", 0.0, n)
        case (_, Left(err)) => Verdict(ok = false, s"label propagation: $err", 0.0, n)
        case (Right(ccl), Right(lpl)) =>
          val a = Check.components(ccl, block, p)
          val b = Check.labelsEqual(lpl, Check.labelPropagation(block, p, rounds), "label propagation")
          Verdict(a.ok && b.ok, s"components: ${a.detail}; ${b.detail}", 0.0, a.mismatches + b.mismatches)
      }
    })
  }
}
