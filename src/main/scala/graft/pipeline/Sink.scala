package graft.pipeline

import org.apache.spark.sql.DataFrame

/** A2 `save_result` (`utils.py:361-365`): append-only JSONL sink.
  *
  * The reference appends one JSON line per record (`mode 'a+'`), which
  * doubles as record-granularity crash resumability. The Spark analog is
  * an append-mode JSON directory write: each run adds part files,
  * re-reads see the union — with resume-by-id-range
  * ([[Inference.sliceRange]]) replacing per-record offsets, which is the
  * idempotent restart shape that survives distributed execution. */
object Sink {

  def appendJsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("append").json(dir)
}
