package perfbench

import scala.collection.mutable

/** Per-layer metrics of one traced job, derived after the fact from the
  * benchmark's spans, its Spark listener and the GC log.
  *
  * Each graft call is split at `end - sum(IterationMetrics.seconds)`: Spark
  * jobs submitted before that point are the one-time build (`graph`), jobs
  * after it are the iteration loop, which is `algo` when graft reports a
  * broadcast-array strategy and `exec` (the DataFrame loop) otherwise. */
final case class TracedJob(
    index: Int, timed: Timed, span: Span, scan: Layers.Window, scanEdges: Long,
    verify: Layers.Window, verdict: Verdict)

object Layers {
  final case class Window(start: Double, end: Double) {
    def contains(t: Double): Boolean = t >= start && t < end
    def ms: Double = end - start
  }

  private val mb = 1024.0 * 1024.0

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1 max 0))
    }

  /** Union length of job intervals clipped to the windows. */
  private def covered(jobs: Seq[JobRec], ws: Seq[Window]): Double =
    ws.map { w =>
      val iv = jobs.map(j => (math.max(j.submit, w.start), math.min(j.end, w.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) total += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) total += curB - curA
      total
    }.sum

  def of(job: TracedJob, rec: Recorder, gcs: Seq[GcEvent], spans: Spans): Map[String, Double] = {
    val t = job.timed
    val out = mutable.LinkedHashMap.empty[String, Double]
    val jobs = rec.synchronized(rec.jobs.toVector)
    val stages = rec.synchronized(rec.stages.toMap)
    // a stage listed by several jobs ran in the first of them
    val stageOwner = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stages.foreach(s => stageOwner.getOrElseUpdate(s, j.id)))
    def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = {
      val ids = js.map(_.id).toSet
      stageOwner.collect { case (s, j) if ids(j) => stages.get(s) }.flatten.toSeq
    }
    def jobsIn(ws: Seq[Window]): Seq[JobRec] = jobs.filter(j => ws.exists(_.contains(j.submit)))
    def pauseS(ws: Seq[Window]): Double =
      gcs.filter(g => g.isPause && ws.exists(_.contains(g.start))).map(_.durationMs).sum / 1e3
    def skew(st: Seq[StageAgg]): Double = {
      val busy = st.filter(_.tasks > 0)
      val mean = busy.map(s => s.durSum / s.tasks).sum
      if (mean > 0) busy.map(_.durMax).sum / mean else 0.0
    }

    val graphW = mutable.ArrayBuffer.empty[Window]
    val loopW = Map("algo" -> mutable.ArrayBuffer.empty[Window], "exec" -> mutable.ArrayBuffer.empty[Window])
    val iters = Map("algo" -> mutable.ArrayBuffer.empty[(Double, Long)], "exec" -> mutable.ArrayBuffer.empty[(Double, Long)])
    t.calls.foreach { c =>
      val cs = spans.add(c.name, job.span.id, c.start, c.end)
      val split = math.max(c.start, c.end - c.metrics.map(_.seconds).sum * 1e3)
      val kind = if (c.metrics.nonEmpty && c.metrics.forall(_.strategy.startsWith("BroadcastArray"))) "algo" else "exec"
      spans.add("graph.build", cs.id, c.start, split)
      spans.add(s"$kind.loop", cs.id, split, c.end)
      graphW += Window(c.start, split)
      loopW(kind) += Window(split, c.end)
      iters(kind) ++= c.metrics.map(m => (m.seconds, m.edges))
    }
    spans.add("result", job.span.id, t.resultStart, t.resultEnd)

    out("sources.scan_s") = job.scan.ms / 1e3
    out("sources.edges") = job.scanEdges.toDouble

    val gj = jobsIn(graphW.toSeq)
    val gs = stagesOf(gj)
    out("graph.build_s") = graphW.map(_.ms).sum / 1e3
    out("graph.jobs") = gj.size.toDouble
    out("graph.tasks") = gs.map(_.tasks).sum.toDouble
    out("graph.task_cpu_s") = gs.map(_.cpuNs).sum / 1e9
    out("graph.gc_s") = pauseS(graphW.toSeq)
    out("graph.shuffle_write_mb") = gs.map(_.shuffleWrite).sum / mb
    out("graph.shuffle_read_mb") = gs.map(_.shuffleRead).sum / mb
    out("graph.spill_mb") = gs.map(_.spill).sum / mb
    out("graph.task_skew") = skew(gs)
    out("graph.cached_mb") = rec.peakStored(t.start, job.verify.start) / mb

    for (kind <- Seq("algo", "exec")) {
      val ws = loopW(kind).toSeq
      val its = iters(kind).toSeq
      val n = its.size.toDouble
      val lj = jobsIn(ws)
      val ls = stagesOf(lj)
      def per(x: Double): Double = if (n > 0) x / n else 0.0
      val secs = its.map(_._1)
      out(s"$kind.iterations") = n
      out(s"$kind.iter_p50_s") = percentile(secs, 0.5)
      out(s"$kind.iter_tail_s") = percentile(secs, 0.9)
      out(s"$kind.edges_per_s") = if (secs.sum > 0) its.map(_._2.toDouble).sum / secs.sum else 0.0
      out(s"$kind.jobs_per_iter") = per(lj.size)
      out(s"$kind.tasks_per_iter") = per(ls.map(_.tasks).sum.toDouble)
      out(s"$kind.task_s_per_iter") = per(ls.map(_.runMs).sum / 1e3)
      out(s"$kind.driver_s_per_iter") = per((ws.map(_.ms).sum - covered(lj, ws)) / 1e3)
      out(s"$kind.result_mb_per_iter") = per(ls.map(_.resultBytes).sum / mb)
      out(s"$kind.gc_s_per_iter") = per(pauseS(ws))
      out(s"$kind.task_skew") = skew(ls)
      if (kind == "exec") out("exec.shuffle_mb_per_iter") = per(ls.map(_.shuffleWrite).sum / mb)
    }

    out("result.s") = (t.resultEnd - t.resultStart) / 1e3
    val timed = Seq(Window(t.start, t.resultEnd))
    out("jvm.gc_s") = pauseS(timed)
    out("jvm.gc_count") = gcs.count(g => g.isPause && timed.exists(_.contains(g.start))).toDouble
    out("verify.s") = job.verify.ms / 1e3
    out("verify.residual_l1") = job.verdict.residualL1
    out("verify.mismatches") = job.verdict.mismatches.toDouble
    out.toMap
  }
}
