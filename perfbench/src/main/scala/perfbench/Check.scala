package perfbench

/** Output checks, written against the generators' closed forms and
  * independent of graft: plain single-threaded loops over primitive arrays.
  * Each returns a [[Verdict]]; `ok == false` counts the job as failed. */
final case class Verdict(ok: Boolean, detail: String, residualL1: Double, mismatches: Long)

object Check {

  /** Writes (id, value) pairs into `out` (length n) by id, requiring every
    * id in [0, n) exactly once. */
  def dense[T](n: Int, ids: Array[Long], vals: Array[T], out: Array[T]): Either[String, Array[T]] = {
    if (ids.length != n) return Left(s"expected $n rows, got ${ids.length}")
    val seen = new java.util.BitSet(n)
    var k = 0
    while (k < ids.length) {
      val id = ids(k)
      if (id < 0 || id >= n) return Left(s"id $id outside [0, $n)")
      if (seen.get(id.toInt)) return Left(s"id $id appears twice")
      seen.set(id.toInt)
      out(id.toInt) = vals(k)
      k += 1
    }
    Right(out)
  }

  /** PageRank on the band graph: one damped, dangling-aware power step
    * x' = (1-d)/n + d * (sum_{u->v} w(u,v)/wtot(u) * x[u] + dangling/n)
    * from `x` (indexed by relabeled id) must move it by at most `tol` in L1,
    * and the scores must sum to 1 within 1e-6. */
  def pagerank(x: Array[Double], l: Int, p: Relabel, damping: Double, tol: Double): Verdict = {
    val n = p.n.toInt
    val wtot = new Array[Double](n)
    var i = 0
    while (i < n) {
      val lo = Gen.bandLo(i, l)
      var s = 0.0
      var d = lo
      while (d < lo + l) { s += Gen.weight(i, d); d += 1 }
      wtot(i) = s
      i += 1
    }
    val y = new Array[Double](n)
    var dangling = 0.0
    var sum = 0.0
    i = 0
    while (i < n) {
      val xi = x(p(i).toInt)
      sum += xi
      if (wtot(i) > 0) {
        val lo = Gen.bandLo(i, l)
        var d = lo
        while (d < lo + l) { y(d.toInt) += xi * Gen.weight(i, d) / wtot(i); d += 1 }
      } else dangling += xi
      i += 1
    }
    val base = (1.0 - damping) / n + damping * dangling / n
    var res = 0.0
    i = 0
    while (i < n) { res += math.abs(base + damping * y(i) - x(p(i).toInt)); i += 1 }
    val sumOk = math.abs(sum - 1.0) <= 1e-6
    val ok = res <= tol && sumOk
    Verdict(ok, f"L1 residual $res%.3e (tol $tol%.0e), sum $sum%.9f", res, if (ok) 0 else 1)
  }

  /** Connected components of the chain graph: each vertex's label is the
    * smallest relabeled id in its chain. */
  def components(label: Array[Long], b: Long, p: Relabel): Verdict = {
    val n = p.n
    var bad = 0L
    var start = 0L
    while (start < n) {
      val end = math.min(start + b, n)
      var m = Long.MaxValue
      var v = start
      while (v < end) { m = math.min(m, p(v)); v += 1 }
      v = start
      while (v < end) { if (label(p(v).toInt) != m) bad += 1; v += 1 }
      start = end
    }
    Verdict(bad == 0, s"$bad of $n labels differ from the chain minimum", 0.0, bad)
  }

  /** Synchronous label propagation on the undirected chain graph, run
    * plainly for up to `rounds` rounds: every vertex takes the most frequent
    * label among its neighbours, ties to the smallest label, and keeps its
    * own label when it has none; the loop stops early once no label changes.
    * Labels start as the relabeled ids. Returns labels by relabeled id. */
  def labelPropagation(b: Long, p: Relabel, rounds: Int): Array[Long] = {
    val n = p.n.toInt
    var cur = new Array[Long](n) // indexed by original id
    var i = 0
    while (i < n) { cur(i) = p(i); i += 1 }
    var next = new Array[Long](n)
    val nbr = new Array[Long](2)
    var round = 0
    var changed = true
    while (round < rounds && changed) {
      changed = false
      i = 0
      while (i < n) {
        var k = 0
        if (i % b != 0) { nbr(k) = cur(i - 1); k += 1 }
        if ((i + 1) % b != 0 && i + 1 < n) { nbr(k) = cur(i + 1); k += 1 }
        next(i) = mode(nbr, k, cur(i))
        if (next(i) != cur(i)) changed = true
        i += 1
      }
      val t = cur; cur = next; next = t
      round += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) { out(p(i).toInt) = cur(i); i += 1 }
    out
  }

  /** Most frequent of labels(0 until k), ties to the smallest; `own` if k == 0. */
  def mode(labels: Array[Long], k: Int, own: Long): Long = {
    var best = own
    var bestCount = 0
    var a = 0
    while (a < k) {
      var c = 0
      var j = 0
      while (j < k) { if (labels(j) == labels(a)) c += 1; j += 1 }
      if (c > bestCount || (c == bestCount && labels(a) < best)) { best = labels(a); bestCount = c }
      a += 1
    }
    best
  }

  def labelsEqual(got: Array[Long], want: Array[Long], what: String): Verdict = {
    var bad = 0L
    var i = 0
    while (i < want.length) { if (got(i) != want(i)) bad += 1; i += 1 }
    Verdict(bad == 0, s"$bad of ${want.length} $what labels differ from the reference", 0.0, bad)
  }
}
