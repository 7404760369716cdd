package perfbench

import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.streaming.{BufferedStreamSink, MergeTreeSink, ParquetBatchWriter, Streaming}

/** The benchmark's JVM side: runs one workload's operations in a closed
  * loop (one client thread; the next operation starts when the previous
  * one ends) and writes one JSON record of what it timed and, in a
  * traced run, what the listeners saw. `perfbench/run.py` prepares the
  * inputs, launches this, checks the outputs and reduces the record to
  * metrics.
  *
  * Arguments are `--key value` pairs: `workload`, `seconds`, `trace`
  * (0|1), `cpus`, `sf` (fixed tables), `work` (scratch directory),
  * `ops` (one `name<TAB>kind<TAB>arg` line per operation, in the order
  * of a pass) and `out` (the record), plus `feed` and `catalog` for
  * the ingest operations and `telemetry` (the window table) for the
  * window operations.
  *
  * Pass 0 runs every operation once untimed and writes its output for
  * the checks; pass 1 runs them again through the `noop` sink, untimed,
  * to warm the JIT further. The timed passes that follow run through the
  * `noop` sink until `seconds` have elapsed, and at least three of them
  * run; the pass that is running at the deadline completes. Pass walls
  * still fall over the first timed passes, so a fixed minimum keeps the
  * median from depending on whether the deadline allowed two passes or
  * three. A traced run warms up for one more untimed
  * pass and then runs whole blocks of four timed passes, ordered
  * untraced, traced, traced, untraced (listeners detached or attached),
  * so that the run also yields its own tracing overhead and the JVM's
  * remaining warm-up drift mostly cancels out of it.
  */
object Main {
  final case class Op(name: String, kind: String, arg: String)

  /** Passes 0 (checks) and 1 (noop) are untimed warm-up; a traced run
    * adds pass 2, where the pass walls still fall fastest. */
  def firstTimedPass(traced: Boolean): Int = if (traced) 3 else 2

  val MinTimedPasses = 3

  val CoalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"

  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch milliseconds at sub-millisecond resolution. */
  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus").toInt
    val sf = args("sf")
    val work = args("work")
    val ops = {
      val src = Source.fromFile(args("ops"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(n, k, a) = l.split("\t", 3)
        Op(n, k, a)
      }.toVector finally src.close()
    }

    val spark = Tables.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // the oracle SQL of the queries run, for the output checks
    val oracles = ops.filter(_.kind == "query").flatMap(op => SparkEntry.oracleSql.get(op.arg).map(op.arg -> _))
    Files.writeString(Paths.get(s"$work/oracle.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }: _*))
    val trace = new Trace
    val sc = spark.sparkContext

    def passDir(pass: Int): String = s"$work/pass$pass"

    // Catalyst analyses a DataFrame eagerly, inside the builder call, so
    // its analysis time is read from the built plan's own tracker
    var analysisMs = 0L

    /** The builder call for `op`: returns the action that executes it.
      * `check` names the directory the untimed pass writes output to. */
    def build(op: Op, pass: Int, check: Option[String]): () => Unit = {
      def sink(df: DataFrame): () => Unit = {
        analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        check match {
          case Some(dir) => () => df.write.mode("overwrite").parquet(dir)
          case None => () => df.write.format("noop").mode("overwrite").save()
        }
      }
      val dir = passDir(pass)
      op.kind match {
        case "query" => sink(SparkEntry.queries(op.arg)(spark, sf))
        case "window" =>
          spark.read.parquet(args("telemetry")).createOrReplaceTempView("telemetry")
          val execute = sink(spark.sql(op.arg))
          // At this size AQE would coalesce the range exchange into one
          // partition, where the execs skip pass 1 and the driver stitch;
          // keeping its partitions runs the path larger inputs take.
          () => {
            spark.conf.set(CoalesceKey, "false")
            try execute() finally spark.conf.unset(CoalesceKey)
          }
        case "readback" =>
          spark.read.parquet(s"$dir/mt").createOrReplaceTempView("readings")
          sink(spark.sql(op.arg))
        case "drain" =>
          val feed = spark.read.parquet(args("feed"))
          val catalog = spark.read.format("register-catalog").load(args("catalog"))
          val stream = spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1) // one poll-sized file per micro-batch
            .parquet(args("feed"))
          val rollup = Streaming.daemonPipeline(stream, catalog)
          val out = new BufferedStreamSink(new TimingWriter(new ParquetBatchWriter(s"$dir/out")), 4, 3)
          () => {
            TimingWriter.reset()
            out.drainAvailable(rollup, s"$dir/ckpt").awaitTermination()
            TimingWriter.retries.set(out.retries)
          }
        case "append" =>
          val feed = spark.read.parquet(args("feed"))
          () => MergeTreeSink.appendPart(feed, s"$dir/mt", "ts", "inverter")
        case other => throw new IllegalArgumentException(s"unknown op kind $other")
      }
    }

    val records = Vector.newBuilder[String]
    val passes = Vector.newBuilder[String]

    def runOp(op: Op, pass: Int, tracing: Boolean): Unit = {
      if (tracing) { PerfbenchBus.drain(sc); trace.take() }
      val group = s"perfbench/$pass/${op.name}"
      sc.setJobGroup(group, op.name, interruptOnCancel = false)
      val check = if (pass == 0) Some(s"$work/results/${op.name}") else None
      analysisMs = 0L
      val t0 = nowMs()
      var tBuilt = Double.NaN
      var error: String = null
      try {
        val execute = build(op, pass, check)
        tBuilt = nowMs()
        execute()
      } catch {
        case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}"
      }
      val t1 = nowMs()
      sc.clearJobGroup()
      val events =
        if (tracing) { PerfbenchBus.drain(sc); Some(trace.take()) } else None
      val sinkFields =
        if (op.kind == "drain") Seq(
          "sink_write_ms" -> Json.num(TimingWriter.nanos.get / 1e6),
          "sink_retries" -> TimingWriter.retries.get.toString)
        else Nil
      records += Json.obj(Seq(
        "pass" -> pass.toString,
        "name" -> Json.str(op.name),
        "kind" -> Json.str(op.kind),
        "group" -> Json.str(group),
        "start_ms" -> Json.num(t0),
        "build_end_ms" -> Json.num(if (tBuilt.isNaN) t1 else tBuilt),
        "end_ms" -> Json.num(t1),
        "analysis_ms" -> analysisMs.toString,
        "ok" -> (error == null).toString,
        "error" -> Json.str(error),
        "traced" -> tracing.toString) ++ sinkFields ++ events.toSeq.flatMap { ev =>
        Seq("jobs" -> Json.arr(ev.jobs), "stages" -> Json.arr(ev.stages),
          "qes" -> Json.arr(ev.qes), "progress" -> Json.arr(ev.progress))
      }: _*)
      System.err.println(f"[perfbench] pass $pass ${op.name} ${t1 - t0}%.0f ms" +
        (if (error != null) s" failed: $error" else ""))
    }

    def runPass(pass: Int, tracing: Boolean): Unit = {
      if (tracing) trace.attach(spark)
      val t0 = nowMs()
      ops.foreach(runOp(_, pass, tracing))
      val t1 = nowMs()
      if (tracing) { PerfbenchBus.drain(sc); trace.detach(spark) }
      passes += Json.obj("pass" -> pass.toString, "start_ms" -> Json.num(t0),
        "end_ms" -> Json.num(t1), "traced" -> tracing.toString)
      // only the check pass's output is read after the run
      if (pass > 0) deleteTree(Paths.get(passDir(pass)))
    }

    val firstTimed = firstTimedPass(traced)
    // JIT warm-up: still far from steady after pass 0
    (0 until firstTimed).foreach(runPass(_, tracing = false))
    val firstTimedMs = nowMs()
    val deadline = firstTimedMs + seconds * 1000
    var pass = firstTimed
    while (pass < firstTimed + MinTimedPasses || nowMs() < deadline ||
           (traced && (pass - firstTimed) % 4 != 0)) {
      runPass(pass, tracing = traced && Set(1, 2)((pass - firstTimed) % 4))
      pass += 1
    }
    val endMs = nowMs()
    val sentinel = (0 until 4).map(_ => sentinelMs(spark)).drop(1) // first run warms it

    val out = Json.obj(
      "workload" -> Json.str(workload),
      "trace" -> traced.toString,
      "cpus" -> cpus.toString,
      "first_timed_pass" -> firstTimed.toString,
      "first_timed_ms" -> Json.num(firstTimedMs),
      "end_ms" -> Json.num(endMs),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "sentinel_ms" -> Json.arr(sentinel.map(Json.num)),
      "passes" -> Json.arr(passes.result()),
      "ops" -> Json.arr(records.result()))
    Files.writeString(Paths.get(args("out")), out)
    spark.stop()
  }

  /** A fixed, CPU-only, IO-free plan: its time moves with machine load
    * and JVM state, not with the engine's own code. */
  def sentinelMs(spark: SparkSession): Double = {
    val t0 = nowMs()
    spark.range(0, 1L << 22, 1, 4)
      .selectExpr("sum(id * 2654435761 % 1000003) AS s")
      .write.format("noop").mode("overwrite").save()
    nowMs() - t0
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally walk.close()
    }
}
