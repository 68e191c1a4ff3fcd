package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.etl._

/** Structured Streaming form of the ETL pipeline.
  *
  * The reference's runtime machinery maps 1:1 onto micro-batch
  * execution (SURVEY §2.6, §2.8): bounded-queue backpressure →
  * `maxFilesPerTrigger`; batched sink flush (size+time) → the trigger
  * interval; worker pool → task parallelism; graceful SIGTERM drain →
  * `StreamingQuery.stop()`. The *same* column expressions from
  * [[graft.etl.Normalize]] and [[graft.etl.Transforms]] run unchanged —
  * batch/streaming parity is structural, not reimplemented.
  */
object StreamingPipeline {

  /** S1 (streaming form): watch a directory of JSONL files. */
  def readLines(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .toDF("line")
      .filter(trim(col("line")) =!= "")

  /** S1 breadth, streaming form: watch a directory of structured
    * records (csv/orc/parquet/json). Streaming file sources require an
    * explicit schema (no inference job on an unbounded directory); rows
    * re-encode to the same line protocol as batch
    * [[graft.etl.Normalize.parseRecordLines]] — `to_json` omits null
    * cells, so empty cells behave as absent keys and the downstream
    * expressions run unchanged. */
  def readRecords(spark: SparkSession, dir: String, format: String,
      schema: org.apache.spark.sql.types.StructType,
      options: Map[String, String] = Map.empty,
      maxFilesPerTrigger: Int = 16): DataFrame = {
    val base = spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .options(if (format == "csv") Map("header" -> "true") ++ options
        else options)
      .load(dir)
    // backtick-quote names (dotted CSV headers parse as nested access)
    val cols = base.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    base.select(to_json(struct(cols: _*)).as("line"))
      .filter(col("line") =!= "{}")
  }

  /** The full normalize+transform stream (error/drop rows carried with
    * their protocol columns, exactly like batch). */
  def transformedStream(lines: DataFrame, cfg: EtlConfig): DataFrame =
    TransformRegistry(cfg)(Normalize(lines))
      .fold(err => throw new IllegalArgumentException(err), identity)

  /** foreachBatch replay guard: Spark's contract is at-least-once — a
    * crash after the sink write but before the checkpoint commit
    * re-runs that micro-batch on restart, and with resume-append sinks
    * its records would be appended twice. A marker file beside the
    * checkpoint records the last successfully written batchId; replayed
    * batches (batchId <= marker) are skipped, report included. The
    * marker is written AFTER the sink write, so the remaining duplicate
    * window is a crash between those two writes — disclosed
    * at-least-once, not exactly-once (exactly-once to an appended file
    * would need a transactional commit per batch). */
  private def lastWrittenBatch(checkpoint: String): Long =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get(checkpoint, "graft-last-batch")).trim.toLong
    catch { case _: Exception => -1L }

  private def markBatchWritten(checkpoint: String, batchId: Long): Unit = {
    val p = java.nio.file.Paths.get(checkpoint, "graft-last-batch")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, batchId.toString)
  }

  /** The foreachBatch body both stream drivers share: each new
    * micro-batch runs the batch pipeline's per-batch core
    * ([[graft.etl.Pipeline.runBatch]] — kept rows to the sink, the
    * DLQ written by the sink itself) and hands its report to
    * `onReport` (no `onReport`: no report pass); replayed batches are
    * skipped (see [[lastWrittenBatch]]).
    * ONE sink instance serves the whole query: Sink's write lifecycle
    * (first call truncates, later calls append — see
    * [[graft.etl.Sinks.Sink]]) makes batch N+1 extend batch N's output
    * instead of overwriting it — the exact once-per-batch semantics the
    * reference's BatchedSink provided (`internal/sink/batched.go`), with
    * Spark supplying the time+size batching. */
  private def batchBody(sink: Sinks.Sink, checkpoint: String,
      onReport: Option[EtlReport => Unit]): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      if (batchId > lastWrittenBatch(checkpoint)) {
        val report = Pipeline.runBatch(batch, sink, onReport.nonEmpty)
        onReport.foreach(_(report))
        markBatchWritten(checkpoint, batchId)
      }

  /** Run the streaming pipeline continuously: `transformed` written to
    * the configured sink every `triggerMs`, no report. */
  def writeStream(transformed: DataFrame, cfg: EtlConfig,
      checkpoint: String,
      triggerMs: Long = 1000): Either[String, StreamingQuery] =
    Pipeline.openSink(cfg, checkpoint).map { sink =>
      transformed.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime(triggerMs, java.util.concurrent.TimeUnit.MILLISECONDS))
        .foreachBatch(batchBody(sink, checkpoint, onReport = None))
        .start()
    }

  /** Result of a drain-the-input streaming run: the assembled report
    * plus the summed `observe()` counters (one entry per A1–A5 metric,
    * totalled across micro-batches). */
  case class StreamRunResult(report: EtlReport, observed: Map[String, Long])

  /** Run the full streaming pipeline over `inDir` until the input is
    * drained (Trigger.AvailableNow) and assemble the SAME [[EtlReport]]
    * the batch [[graft.etl.Pipeline]] produces: every micro-batch runs
    * the batch run's per-batch core, and the per-batch reports ADD
    * ([[graft.etl.EtlReport.merge]]); sink writes go through one Sink
    * instance (append lifecycle) exactly like the batch run's single
    * write. This is the reference's integration-test contract
    * (`cmd/etl/integration_test.go:69-93`) stated as batch↔streaming
    * equivalence — asserted in StreamingSpec. */
  def runOnce(spark: SparkSession, inDir: String, cfg: EtlConfig,
      checkpoint: String,
      maxFilesPerTrigger: Int = 1): Either[String, StreamRunResult] = {
    Pipeline.openSink(cfg, checkpoint).map { sink =>
      @volatile var acc = EtlReport()
      // observed metrics come from a listener, NOT q.recentProgress:
      // recentProgress is a ring buffer capped at
      // spark.sql.streaming.numRecentProgressUpdates (default 100), so
      // a >100-micro-batch run would silently undercount there
      // accumulate per (queryId, field) so no filtering happens inside
      // the callback — the query id is only known after start(), and a
      // shared session may run concurrent queries
      val obsAcc =
        new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val row = e.progress.observedMetrics.get("etl_counters")
          if (row != null) row.schema.fieldNames.foreach { f =>
            obsAcc.merge((e.progress.id.toString, f), row.getAs[Long](f),
              (a, b) => a + b)
          }
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      try {
        val transformed = observed(
          transformedStream(readLines(spark, inDir, maxFilesPerTrigger), cfg))
        val q = transformed.writeStream
          .outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(batchBody(sink, checkpoint,
            Some((r: EtlReport) => acc = acc.merge(r))))
          .start()
        q.awaitTermination()
        // every progress event was posted before the query terminated;
        // listener delivery is asynchronous, so drain the bus first
        org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val qid = q.id.toString
        StreamRunResult(acc, obsAcc.asScala.collect {
          case ((id, f), v) if id == qid => f -> v
        }.toMap)
      } finally spark.streams.removeListener(listener)
    }
  }

  /** A1–A5 as streaming-native `observe()` metrics: per-micro-batch
    * counter rows on the listener bus with zero extra passes — the
    * Structured Streaming twin of [[graft.etl.EtlReport.fromDataFrame]].
    * Read them from `QueryProgressEvent.progress.observedMetrics`
    * ("etl_counters"). */
  def observed(transformed: DataFrame): DataFrame =
    transformed.observe("etl_counters",
      count(lit(1)).as("total_lines"),
      count(when(col("error_kind") === "json", 1)).as("json_failed"),
      count(when(col("error_kind").isNull, 1)).as("normalized_ok"),
      count(when(col("error_kind") === "normalize", 1)).as("normalized_failed"),
      count(when(col(Transforms.DropReasonCol) === "level", 1)).as("filtered_level"),
      count(when(col(Transforms.DropReasonCol) === "service", 1)).as("filtered_service"))

  /** Streaming exact dedup: first occurrence per content fingerprint
    * wins, with bounded state — duplicates arriving within the
    * watermark horizon are dropped, state beyond it is evicted
    * (`dropDuplicatesWithinWatermark`). The streaming twin of
    * [[graft.ops.Dedup.exact]]. */
  def streamingExactDedup(transformed: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    transformed
      .filter(col("error").isNull)
      .withColumn("fp", md5(col("message").cast("binary")))
      .withWatermark("ts_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Event-time windowed level counts with late-data handling — the
    * watermarked-aggregation form of report metric A3. */
  def windowedLevelCounts(transformed: DataFrame,
      windowDur: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    transformed
      .filter(col("error").isNull)
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), windowDur), col("level"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("level"), col("n"))

  /** Gap-based sessionization of the log stream, keyed by service —
    * the Structured Streaming twin of [[graft.ops.TimeSeries]]'s batch
    * sessionization, via the native `session_window` (state merges
    * adjacent events within `gap`; watermark closes and emits sessions
    * and evicts their state — bounded like every stateful op here).
    * Emitted rows: (session_start, session_end, service, n_events). */
  def serviceSessions(transformed: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    transformed
      .filter(col("error").isNull)
      .withWatermark("ts_ts", watermark)
      .groupBy(session_window(col("ts_ts"), gap), col("service"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("service"), col("n_events"))

  /** Stateful per-service error-burst detection:
    * `flatMapGroupsWithState`-style custom state via
    * mapGroupsWithState — emits (service, burst_len) whenever a service
    * accumulates `threshold` consecutive ERRORs. Demonstrates the
    * KeyValueGroupedDataset state API the reference has no analogue for.
    */
  def errorBursts(spark: SparkSession, transformed: DataFrame,
      threshold: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = transformed
      .filter(col("error").isNull)
      .select(col("service").as[String], col("level").as[String])
      .as[(String, String)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (service: String, rows: Iterator[(String, String)], state: GroupState[Int]) =>
          var run = state.getOption.getOrElse(0)
          val bursts = scala.collection.mutable.ListBuffer[(String, Int)]()
          rows.foreach { case (_, level) =>
            if (level == "ERROR") {
              run += 1
              if (run == threshold) bursts += ((service, run))
            } else run = 0
          }
          state.update(run)
          bursts.iterator
      }.toDF("service", "burst_len")
  }

  /** Streaming windowed event aggregation over the events schema
    * (readStream parquet) — mirrors EventQueries.hourly. The stream's
    * declared schema (readStream requires one) is taken from a batch
    * peek of the SAME file, so either historical `ts` encoding
    * (nanos-long or TIMESTAMP_NTZ — see [[graft.queries.Tables]]) plans
    * correctly. */
  def streamingHourly(spark: SparkSession, dir: String): DataFrame = {
    // nanosAsLong is a session-build conf (Verify/Bench/test session)
    // — see graft.queries.Tables; no accessor-side mutation here either
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource requires a DIRECTORY path; the glob filter keeps
    // the sibling tables of a testdata dir out of the stream
    graft.queries.Tables.withNormalizedTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }
}
