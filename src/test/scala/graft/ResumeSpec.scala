package graft

import java.nio.file.Files
import graft.sources.Synth
import graft.algo.PageRank
import graft.exec.{IterConfig, Iterate}

/** Checkpoint/resume (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics"; SURVEY.md §5.2 resume ≡ uninterrupted). */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  test("PageRank resumed from a mid-run snapshot equals the uninterrupted run") {
    val n = 128L; val l = 6
    val edges = Synth.band(spark, n, l)
    val dir = Files.createTempDirectory("graft-resume").toString

    // uninterrupted: 8 fixed iterations
    val full = PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 0.0, maxIter = 8))
      .state.orderBy("id").as[(Long, Double)].collect()

    // interrupted: 3 iterations with snapshots, then a FRESH load + 5 more
    PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 0.0, maxIter = 3,
        snapshotDir = Some(dir), snapshotEvery = 1))
    val Some((state, iter, _)) = Iterate.resume(spark, dir)
    assert(iter == 3)
    val resumed = PageRank.run(spark, edges, n,
      cfg = IterConfig(tol = 0.0, maxIter = 8),
      resumeFrom = Some((state, iter)))
      .state.orderBy("id").as[(Long, Double)].collect()

    full.zip(resumed).foreach { case ((idF, xF), (idR, xR)) =>
      assert(idF == idR)
      assert(math.abs(xF - xR) < 1e-12, s"vertex $idF")
    }
  }

  test("array-tier PageRank snapshots the state it returns (f64 and f32)") {
    val n = 128L
    val edges = Synth.band(spark, n, 6)
    for (f32 <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-resume-array").toString
      val r = graft.algo.PageRankArray.run(spark, edges, n,
        cfg = IterConfig(tol = 0.0, maxIter = 3,
          snapshotDir = Some(dir), snapshotEvery = 1),
        floatPrecision = f32)
      val Some((state, iter, _)) = Iterate.resume(spark, dir)
      assert(iter == 3, s"f32=$f32")
      val want = r.state.orderBy("id").as[(Long, Double)].collect().toSeq
      assert(want.length == n)
      assert(state.orderBy("id").as[(Long, Double)].collect().toSeq == want, s"f32=$f32")
    }
  }

  test("snapshot manifest is written atomically and parses back") {
    val base = Files.createTempDirectory("graft-manifest").toString
    val st = Seq((0L, 0.5), (1L, 0.5)).toDF("id", "x")
    // the second dir name holds the JSON delimiters ',' and '}'
    for (dir <- Seq(base, s"$base/graft,snap}x")) {
      Iterate.snapshot(dir, st, iteration = 7, delta = 0.123)
      val Some((loaded, iter, delta)) = Iterate.resume(spark, dir)
      assert(iter == 7 && math.abs(delta - 0.123) < 1e-12, dir)
      assert(loaded.as[(Long, Double)].collect().toSet == Set((0L, 0.5), (1L, 0.5)), dir)
    }
  }

  test("Iterate.loop rejects a step without x_old, naming the column") {
    val init = Seq((0L, 0.5), (1L, 0.5)).toDF("id", "x")
    val e = intercept[IllegalArgumentException] {
      Iterate.loop(init, IterConfig(maxIter = 1), edgesPerIter = 0L)((s, _) => s)
    }
    assert(e.getMessage.contains("x_old"), e.getMessage)
  }

  test("resume on an empty dir returns None") {
    val dir = Files.createTempDirectory("graft-empty").toString
    assert(Iterate.resume(spark, dir).isEmpty)
  }
}
