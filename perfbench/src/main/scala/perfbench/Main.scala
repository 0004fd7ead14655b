package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark JVM: sets up a local session sized to the machine, runs three
  * untimed warm-up jobs, then runs the workload as a closed loop (one job in
  * flight) until its time budget is spent.
  *
  * Protocol (stdout, one JSON object per line; run.py reads it):
  *   {"event":"session"}                    the Spark session is up
  *   {"event":"ready"}                      set-up and warm-up are done
  *   {"event":"job", ...}                   one finished job
  *   {"event":"layers", ...}                per-layer metrics of a traced job
  *   {"event":"done"}
  *
  *   --workload NAME --seed N --seconds S --cores C --work DIR --trace 0|1
  *
  * With --trace 1 every second job is traced and the others are the
  * untraced baseline for the tracing overhead; alternating keeps the JIT
  * warm-up drift out of that difference. */
object Main {

  val WarmupJobs = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload.byName(arg("workload"))
    val seed = arg("seed").toLong
    val budgetMs = arg("seconds").toDouble * 1e3
    val tracing = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = Paths.get(arg("work")).toAbsolutePath

    val gc = new GcMonitor
    val spark = session(cores, work)
    emit("event" -> "session")

    // warm-up: untimed, unchecked jobs, the same as a timed one. Job times
    // keep falling over a JVM's first five or so jobs (JIT of Spark's planner
    // and scheduler): with one or two warm-up jobs the first timed jobs were
    // 10-40% slower than the later ones. Jobs on a 16x smaller graph, or with
    // the iterations capped, warmed up less than a full job.
    for (_ <- 1 to WarmupJobs) {
      workload.execute(spark, seed)
      cleanup(spark)
    }
    emit("event" -> "ready")

    val rec = new Recorder
    if (tracing) spark.sparkContext.addSparkListener(rec)
    val spans = new Spans
    val traced = scala.collection.mutable.ArrayBuffer.empty[TracedJob]
    val t0 = Clock.ms()
    var k = 0
    // at least one job, and with tracing one untraced and one traced
    while (k < (if (tracing) 2 else 1) || Clock.ms() - t0 < budgetMs) {
      val trace = tracing && k % 2 == 1
      rec.recording = trace
      val jobSpan = spans.open("job", -1)
      val (scan, scanEdges) =
        if (trace) {
          val s0 = Clock.ms()
          val c = workload.edges(spark, seed).agg(count(lit(1)), sum(col("src")), sum(col("dst"))).head().getLong(0)
          (Layers.Window(s0, Clock.ms()), c)
        } else (Layers.Window(0, 0), 0L)
      var ok = false
      var detail = ""
      var wall = Double.NaN
      var heapMb = Double.NaN
      var iterS = Seq.empty[Double]
      try {
        val t = workload.execute(spark, seed)
        wall = t.wallS
        iterS = t.calls.flatMap(_.metrics).map(_.seconds)
        heapMb = heapPeak(gc.snapshot(), t.start, t.resultEnd) / (1024.0 * 1024.0)
        val v0 = Clock.ms()
        val v = t.verify()
        val vw = Layers.Window(v0, Clock.ms())
        ok = v.ok
        detail = v.detail
        spans.add("verify", jobSpan.id, vw.start, vw.end)
        if (trace) traced += TracedJob(k, t, jobSpan, scan, scanEdges, vw, v)
      } catch {
        case e: Throwable =>
          detail = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      if (trace) spans.add("sources.scan", jobSpan.id, scan.start, scan.end)
      spans.close(jobSpan)
      cleanup(spark)
      emit("event" -> "job", "index" -> k, "traced" -> trace, "ok" -> ok, "detail" -> detail,
        "wall_s" -> wall, "iteration_s" -> iterS,
        "edges" -> workload.edgeCount, "heap_peak_mb" -> heapMb)
      k += 1
    }

    if (tracing) {
      rec.drain()
      val gcs = gc.snapshot()
      traced.foreach { j =>
        val m = Layers.of(j, rec, gcs, spans)
        emit(Seq("event" -> "layers", "index" -> j.index) ++ m.toSeq.sortBy(_._1): _*)
      }
      writeTrace(work.resolve(s"trace-${workload.name}-seed$seed.jsonl"), workload, seed, cores, spans, rec, gcs)
    }
    spark.stop()
    emit("event" -> "done")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every job starts from the same state: no cached data, collected heap.
    * The pause lets Spark's context cleaner, woken by the collection,
    * delete the previous job's shuffle files before the next job starts. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(300)
  }

  /** Largest heap-in-use reading right after a GC in [t0, t1]; without a GC
    * in the window, the last reading before it (the live set carried in). */
  def heapPeak(gcs: Seq[GcEvent], t0: Double, t1: Double): Double = {
    val in = gcs.filter(g => g.start >= t0 && g.start <= t1)
    if (in.nonEmpty) in.map(_.heapAfter).max.toDouble
    else gcs.filter(_.start < t0).lastOption.map(_.heapAfter.toDouble).getOrElse(0.0)
  }

  private def writeTrace(path: Path, w: Workload, seed: Long, cores: Int, spans: Spans, rec: Recorder, gcs: Seq[GcEvent]): Unit = {
    val lines = Seq(json("type" -> "header", "workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))) ++
      spans.all.map(s => json("type" -> "span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)) ++
      rec.jobs.map { j =>
        val span = spans.all.filter(s => s.start <= j.submit && j.submit < s.end)
          .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
        json("type" -> "spark_job", "id" -> j.id, "span" -> span, "submit_ms" -> j.submit,
          "end_ms" -> j.end, "stages" -> j.stages.mkString(" "))
      } ++
      gcs.map(g => json("type" -> "gc", "collector" -> g.collector, "start_ms" -> g.start,
        "duration_ms" -> g.durationMs, "heap_after_mb" -> g.heapAfter / (1024.0 * 1024.0)))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def emit(kv: (String, Any)*): Unit = {
    println(json(kv: _*))
    Console.out.flush()
  }

  def json(kv: (String, Any)*): String = kv.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case s => quote(s.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
