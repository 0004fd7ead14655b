package graft.model

import java.sql.Timestamp

/** Core data model of the link-graph engine.
  *
  * Re-imagines the reference's sparse-matrix types
  * (`/root/reference/include/graphCOO.hpp:10-13` `struct value{row,col,val}`,
  * `weights`/`flow` vectors at `include/graphCOO.hpp:20-21`) as typed Spark
  * Datasets. Vertex ids are Long (the reference uses 32-bit int — too small
  * for 10^12-page scale), weights/state are Double (the reference uses float;
  * we accumulate in double and compare with tolerance, per SURVEY.md §1.3.5).
  */

/** One directed, weighted edge: `src -> dst` with weight `w`.
  * Maps the reference's COO triple `value{row, col, val}`
  * (`/root/reference/include/graphCOO.hpp:10-13`). */
final case class Edge(src: Long, dst: Long, w: Double)

/** Common-Crawl-style page row per BASELINE.json `input_hint`. */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Per-iteration execution metrics (north rule: throughput, shuffle-bytes,
  * and skew emitted per iteration). `shuffleReadBytes`/`shuffleWriteBytes`
  * are the task-level totals inside the iteration window; `taskSkew` is
  * max-task-time / mean-task-time (1.0 = perfectly balanced; a hot key or
  * straggler shows as >> 1). -1 / NaN = not collected. */
final case class IterationMetrics(
    iteration: Int,
    edges: Long,
    seconds: Double,
    edgesPerSec: Double,
    delta: Double,
    strategy: String,
    shuffleReadBytes: Long = -1L,
    shuffleWriteBytes: Long = -1L,
    taskSkew: Double = Double.NaN)
