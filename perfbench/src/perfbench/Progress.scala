package perfbench

import java.time.Instant

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Streaming-query progress read from outside the program: durations of
  * the source, planning, sink and commit steps of every micro-batch. */
object Progress {

  def startMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  /** Batches that read input (no-data watermark batches excluded). */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Record each batch as a `streaming.trigger` child of `parent`, with
    * its steps laid out in MicroBatchExecution's order as its children. */
  def record(tr: Tracer, q: StreamingQuery, op: String, parent: Int): Unit =
    q.recentProgress.foreach { p =>
      val s = startMs(p)
      val id = tr.record("streaming.trigger", s, s + dur(p, "triggerExecution"),
        s"$op/b${p.batchId}", parent)
      val steps = Seq(
        "connector.offset" -> dur(p, "latestOffset"),
        "streaming.commit" -> dur(p, "walCommit"),
        "connector.getbatch" -> dur(p, "getBatch"),
        "streaming.plan" -> dur(p, "queryPlanning"),
        "streaming.add_batch" -> dur(p, "addBatch"),
        "streaming.commit" -> dur(p, "commitOffsets"))
      steps.foldLeft(s) { case (t, (n, d)) =>
        tr.record(n, t, t + d, s"$op/b${p.batchId}", id)
        t + d
      }
    }

  /** Size of the newest offset-log entry of a checkpoint. */
  def offsetBytes(checkpoint: java.nio.file.Path): Long = {
    val f = checkpoint.resolve("offsets").toFile
    Option(f.listFiles).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .maxByOption(_.getName.toLong).fold(0L)(_.length)
  }
}
