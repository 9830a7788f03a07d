package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Follow mode (`tail -f`) re-expressed as Structured Streaming
  * (reference `FollowFileExecutor`, `src/executor.rs:175-234`): the
  * reference polls a file for appended lines, re-runs the statement per
  * line, and for aggregates reprints the ENTIRE updated result each
  * update — i.e. exactly Spark's *complete* output mode over a file
  * stream. Non-aggregate follow queries are *append* mode. The statement
  * itself runs through [[graft.sql.SqlEngine]] unchanged: extraction is
  * pure Catalyst expressions, so it applies to a streaming DataFrame.
  *
  * Superset vs the reference: joins work in follow mode here
  * (stream-static joins) — the reference rejects them
  * (`src/executor.rs:209-211`); and the source scales to a directory of
  * growing files across executors instead of one file on one thread.
  */
object FollowStream {

  /** Follow a directory of text files as a stream of raw lines. */
  def lines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)
}
