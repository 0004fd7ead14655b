package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks must pass a correct result and fail a perturbed one
  * (negative controls), on small graphs and without Spark. */
class CheckSpec extends AnyFunSuite {

  private val n = 1L << 10
  private val l = 8

  /** Plain power iteration on the band graph, by original id, mapped to
    * relabeled ids at the end. */
  private def pagerank(p: Relabel, damping: Double, tol: Double): Array[Double] = {
    val nv = n.toInt
    val wtot = Array.tabulate(nv)(i => (Gen.bandLo(i, l) until Gen.bandLo(i, l) + l).map(Gen.weight(i, _)).sum)
    var x = Array.fill(nv)(1.0 / nv)
    var delta = Double.MaxValue
    while (delta >= tol) {
      val y = Array.fill(nv)((1.0 - damping) / nv)
      for (i <- 0 until nv; d <- Gen.bandLo(i, l) until Gen.bandLo(i, l) + l)
        y(d.toInt) += damping * x(i) * Gen.weight(i, d) / wtot(i)
      delta = x.indices.map(i => math.abs(y(i) - x(i))).sum
      x = y
    }
    val out = new Array[Double](nv)
    for (i <- 0 until nv) out(p(i).toInt) = x(i)
    out
  }

  test("rotations are bijections") {
    for (p <- Seq(Relabel.rotate(n, 7), Relabel.rotate(n, 8), Relabel(n, n - 1))) {
      assert((0L until n).map(p(_)).toSet == (0L until n).toSet, p)
    }
  }

  test("PageRank check: passes a converged result, fails a perturbed one") {
    val p = Relabel.rotate(n, 3)
    val x = pagerank(p, 0.85, 1e-12)
    assert(Check.pagerank(x, l, p, 0.85, 1e-9).ok)

    val moved = x.clone() // same sum, wrong distribution
    moved(0) += 1e-6
    moved(1) -= 1e-6
    assert(!Check.pagerank(moved, l, p, 0.85, 1e-9).ok)

    val scaled = x.map(_ * (1 + 1e-5)) // residual small, sum off
    assert(!Check.pagerank(scaled, l, p, 0.85, 1e-3).ok)

    assert(!Check.pagerank(x, l, Relabel.rotate(n, 4), 0.85, 1e-9).ok, "wrong relabeling")
  }

  test("components check: passes chain minima, fails one wrong label") {
    val b = 64L
    val p = Relabel.rotate(n, 100) // not a multiple of b: one chain wraps
    val label = new Array[Long](n.toInt)
    for (start <- 0L until n by b) {
      val m = (start until start + b).map(p(_)).min
      for (v <- start until start + b) label(p(v).toInt) = m
    }
    assert(Check.components(label, b, p).ok)
    label(5) += 1
    val bad = Check.components(label, b, p)
    assert(!bad.ok && bad.mismatches == 1)
  }

  test("label propagation reference: one round on a 4-chain, by hand") {
    // chain 0-1-2-3, labels = ids: 0 <- {1}; 1 <- {0,2} tie -> 0;
    // 2 <- {1,3} tie -> 1; 3 <- {2}
    assert(Check.labelPropagation(4, Relabel(4, 0), 1).toSeq == Seq(1L, 0L, 1L, 2L))
  }

  test("label propagation check: a perturbed result fails") {
    val p = Relabel.rotate(n, 9)
    val want = Check.labelPropagation(64, p, 10)
    assert(Check.labelsEqual(want.clone(), want, "lp").ok)
    val got = want.clone()
    got(17) = got(17) + 1
    assert(!Check.labelsEqual(got, want, "lp").ok)
  }

  test("dense: rejects missing, duplicate and out-of-range ids") {
    val vals = Array(1.0, 2.0, 3.0)
    assert(Check.dense(3, Array(2L, 0L, 1L), vals, new Array[Double](3)).isRight)
    assert(Check.dense(3, Array(0L, 1L), vals.take(2), new Array[Double](3)).isLeft)
    assert(Check.dense(3, Array(0L, 1L, 1L), vals, new Array[Double](3)).isLeft)
    assert(Check.dense(3, Array(0L, 1L, 3L), vals, new Array[Double](3)).isLeft)
  }
}
