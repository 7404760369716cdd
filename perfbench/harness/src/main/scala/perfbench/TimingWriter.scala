package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{Dataset, Row}

import graft.streaming.BatchWriter

/** Times each micro-batch write of the wrapped writer. `foreachBatch`
  * runs on the driver, so the totals live in driver-side counters. */
class TimingWriter(inner: BatchWriter) extends BatchWriter {
  override def write(batch: Dataset[Row], batchId: Long): Unit = {
    val t0 = System.nanoTime()
    try inner.write(batch, batchId)
    finally TimingWriter.nanos.addAndGet(System.nanoTime() - t0)
  }
}

object TimingWriter {
  val nanos = new AtomicLong
  /** `BufferedStreamSink.retries` of the last drain. */
  val retries = new AtomicInteger

  def reset(): Unit = { nanos.set(0); retries.set(0) }
}
