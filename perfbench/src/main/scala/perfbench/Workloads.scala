package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._
import graft.streaming.StreamingPipeline

/** One timed call into the program: its wall time, the latency of each
  * batch it delivered, every way its output disagreed with the
  * generator's expectations, and the peak of the JVM's old generation
  * during the call (set by the runner). */
final case class Pass(seconds: Double, batchMs: Seq[Double], problems: Seq[String],
    oldGenMb: Double = 0.0)

/** A workload: inputs made once from the seed, then any number of
  * passes, each into a fresh output directory. */
trait Workload {
  /** Input records one pass consumes. */
  def records: Long
  /** Makes or finds the inputs, before the session is built, so that
    * the first pass runs in a JVM that has not run Spark yet. */
  def prepare(work: Path): Unit
  def pass(spark: SparkSession, rec: Recorder, dir: Path): Pass
  /** Per-layer metrics of one traced pass; `s` is the pass's span. */
  def passLayers(spark: SparkSession, rec: Recorder, s: Span, dir: Path): Map[String, Double]
  /** Extra traced calls that split a pass into layers (the chain
    * replay); empty when the pass itself is the finest split. */
  def chainLayers(spark: SparkSession, rec: Recorder, dir: Path): Map[String, Double] = Map.empty
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    } else Files.size(p)

  /** Checks a single-file JSONL sink output: the row count and that no
    * record still carries a redacted key. */
  def checkJsonl(out: Path, kept: Long, redacted: String): Seq[String] = {
    var n = 0L
    var leaked = 0L
    var malformed = 0L
    val it = Files.lines(out)
    try it.iterator.asScala.foreach { l =>
      n += 1
      if (l.contains("\"" + redacted + "\":")) leaked += 1
      if (!l.startsWith("{\"TS\":") || !l.endsWith("}")) malformed += 1
    } finally it.close()
    Seq(if (n != kept) Some(s"output rows: got $n, want $kept") else None,
      if (leaked > 0) Some(s"$leaked output rows still hold $redacted") else None,
      if (malformed > 0) Some(s"$malformed output rows are not records") else None
    ).flatten
  }

  /** Metrics of a whole traced pass: its jobs, time outside them, and
    * the Spark engine's counters. */
  def passTotals(rec: Recorder, s: Span): Map[String, Double] = {
    val t = rec.totals(s)
    Map("pipeline.jobs" -> t.jobs.toDouble, "pipeline.driver_gap_s" -> rec.driverGapS(s),
      "spark.tasks" -> t.tasks.toDouble, "spark.executor_cpu_s" -> t.cpuS,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble, "spark.gc_s" -> t.gcS)
  }

  def jvmGcS: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  val KeptColumns = Seq("ts", "level", "message", "service", "namespace", "pod",
    "node", "trace_id", "fields")
}

/** The batch CLI path, `Pipeline.runFile`, over one generated JSONL file. */
final class EtlFile(seed: Long, lines: Int) extends Workload {
  import Workload._
  val tally = new Tally(Set("WARN", "ERROR"))
  private var input: Path = _
  def records: Long = tally.total

  def prepare(work: Path): Unit = {
    input = work.resolve("input").resolve("narrow.jsonl")
    new LogGen(seed).write(input, lines, tally)
  }

  private def out(dir: Path) = dir.resolve("out.jsonl")

  private def cfg(dir: Path) = EtlConfig.default.copy(
    inputPath = input.toString, outputType = "file", outputPath = out(dir).toString,
    reportPath = "", filterLevels = Seq("WARN", "ERROR"), redactKeys = Seq("user_email"))

  def pass(spark: SparkSession, rec: Recorder, dir: Path): Pass = {
    val t0 = System.nanoTime()
    val res = Pipeline.runFile(spark, cfg(dir))
    val secs = (System.nanoTime() - t0) / 1e9
    val problems = res match {
      case Left(e) => Seq(s"runFile: $e")
      case Right(r) => tally.check(r.report) ++ checkJsonl(out(dir), tally.kept, "user_email")
    }
    Pass(secs, Seq(secs * 1e3), problems)
  }

  def passLayers(spark: SparkSession, rec: Recorder, s: Span, dir: Path): Map[String, Double] =
    Map.empty

  /** Replays the pipeline as a chain of calls: source, + Normalize,
    * + TransformRegistry, each forced by a noop write, then the report
    * and the sink over a cached transformed frame. */
  override def chainLayers(spark: SparkSession, rec: Recorder, dir: Path): Map[String, Double] = {
    val c = cfg(dir)
    val src = Normalize.parseLines(spark, input.toString)
    val (_, s1) = rec.span("source")(noop(src))
    val (_, s2) = rec.span("normalize")(noop(Normalize(src)))
    val transformed = TransformRegistry(c)(Normalize(src))
      .fold(e => throw new IllegalStateException(e), identity)
    val (_, s3) = rec.span("transforms")(noop(transformed))
    val cached = transformed.cache()
    rec.span("cache_fill")(cached.count())
    val (report, s4) = rec.span("report")(EtlReport.fromDataFrame(cached))
    val sink = Sinks.build(c).fold(e => throw new IllegalStateException(e), identity)
    val kept = Transforms.split(cached)._1.select(KeptColumns.map(col): _*)
    val (wr, s5) = rec.span("sink")(sink.write(kept))
    cached.unpersist(blocking = true)
    val (t1, t2, t4, t5) = (rec.totals(s1), rec.totals(s2), rec.totals(s4), rec.totals(s5))
    val problems = tally.check(report.copy(writtenOk = wr.writtenOk))
    require(problems.isEmpty, s"chain replay disagrees: ${problems.mkString("; ")}")
    Map("normalize.source_s" -> s1.seconds,
      "normalize.self_s" -> (s2.seconds - s1.seconds),
      "normalize.cpu_s" -> (t2.cpuS - t1.cpuS),
      "normalize.rows_in" -> report.totalLines.toDouble,
      "normalize.rows_failed" -> (report.jsonFailed + report.normalizedFailed).toDouble,
      "transforms.self_s" -> (s3.seconds - s2.seconds),
      "transforms.kept_ratio" -> wr.writtenOk.toDouble / report.totalLines,
      "report.busy_s" -> s4.seconds, "report.jobs" -> t4.jobs.toDouble,
      "report.tasks" -> t4.tasks.toDouble,
      "sinks.busy_s" -> s5.seconds, "sinks.driver_s" -> rec.driverGapS(s5),
      "sinks.jobs" -> t5.jobs.toDouble, "sinks.rows_out" -> wr.writtenOk.toDouble,
      "sinks.bytes_out" -> sizeOf(out(dir)).toDouble,
      "trace.layers_sum_s" -> (s3.seconds + s4.seconds + s5.seconds))
  }
}

/** `StreamingPipeline.runOnce` draining a backlog of small JSONL files,
  * one file per micro-batch. */
final class StreamDrain(seed: Long, files: Int, linesPerFile: Int) extends Workload {
  import Workload._
  val tally = new Tally(Set("WARN", "ERROR"))
  private var inDir: Path = _
  def records: Long = tally.total

  def prepare(work: Path): Unit = {
    inDir = work.resolve("input").resolve("stream")
    val gen = new LogGen(seed)
    (0 until files).foreach { f =>
      val p = inDir.resolve(f"part-$f%05d.jsonl")
      gen.write(p, linesPerFile, tally)
      // the file source orders a backlog by modification time
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
        1767225600000L + f * 1000L))
    }
  }

  private val cfg = EtlConfig.default.copy(outputType = "file", reportPath = "",
    filterLevels = Seq("WARN", "ERROR"), redactKeys = Seq("user_email"))

  /** Batches and written rows of the last pass, kept for [[passLayers]]. */
  private var lastBatches = Seq.empty[Batch]
  private var lastWritten = 0L

  def pass(spark: SparkSession, rec: Recorder, dir: Path): Pass = {
    val out = dir.resolve("out.jsonl")
    val seen = rec.allBatches.size
    val t0 = System.nanoTime()
    val res = StreamingPipeline.runOnce(spark, inDir.toString,
      cfg.copy(outputPath = out.toString), dir.resolve("checkpoint").toString,
      maxFilesPerTrigger = 1)
    val secs = (System.nanoTime() - t0) / 1e9
    lastBatches = rec.allBatches.drop(seen).filter(_.rows > 0)
    lastWritten = res.fold(_ => 0L, _.report.writtenOk)
    val problems = res match {
      case Left(e) => Seq(s"runOnce: $e")
      case Right(r) =>
        tally.check(r.report) ++ checkJsonl(out, tally.kept, "user_email") ++
          Seq(if (lastBatches.size != files)
                Some(s"micro-batches: got ${lastBatches.size}, want $files") else None,
              if (r.observed.get("total_lines") != Some(tally.total))
                Some(s"observed total_lines: got ${r.observed.get("total_lines")}") else None
          ).flatten
    }
    Pass(secs, lastBatches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), problems)
  }

  def passLayers(spark: SparkSession, rec: Recorder, s: Span, dir: Path): Map[String, Double] = {
    val jobs = rec.jobsIn(s)
    def layer(name: String) = Totals.of(jobs.filter(_.layer == name))
    val (rep, snk, all) = (layer("report"), layer("sink"), Totals.of(jobs))
    val n = lastBatches.size.max(1)
    def p50(key: String) = median(lastBatches.map(_.durations.getOrElse(key, 0L).toDouble))
    Map(
      "report.busy_s" -> rep.jobBusyS, "report.jobs" -> rep.jobs.toDouble,
      "report.tasks" -> rep.tasks.toDouble,
      "sinks.busy_s" -> snk.jobBusyS, "sinks.jobs" -> snk.jobs.toDouble,
      "sinks.rows_out" -> lastWritten.toDouble,
      "sinks.bytes_out" -> sizeOf(dir.resolve("out.jsonl")).toDouble,
      "stream.batches" -> lastBatches.size.toDouble,
      "stream.rows_per_batch" -> median(lastBatches.map(_.rows.toDouble)),
      "stream.jobs_per_batch" -> all.jobs.toDouble / n,
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.query_planning_ms_p50" -> p50("queryPlanning"),
      "stream.get_batch_ms_p50" -> p50("getBatch"),
      "stream.wal_commit_ms_p50" -> p50("walCommit"),
      "stream.commit_offsets_ms_p50" -> p50("commitOffsets"))
  }
}

/** Iterative LLM-data-pipeline operators from `SparkEntry.queries`, each
  * forced by a noop write, over a generated `documents` table: the
  * control the traced run of `etl_narrow_file` adds. */
final class Heavies(seed: Long, docs: Int, pins: Map[(Int, String), (Long, Long)])
    extends Workload {
  import Workload._
  val Queries = Seq("tx_bpe_merges")
  val k: Int = DocGen.rotation(seed)
  private var docsDir: Path = _
  def records: Long = docs.toLong

  private def dirIn(work: Path) = work.resolve("input").resolve(s"docs-$k")

  /** Writes the documents table (it takes a Spark session). */
  def writeInputs(spark: SparkSession, work: Path): Unit =
    DocGen.write(spark, dirIn(work).toString, docs, k)

  def prepare(work: Path): Unit = {
    docsDir = dirIn(work)
    require(Files.isDirectory(docsDir), s"no documents table at $docsDir")
  }

  /** Runs one query; returns its (rows, order-insensitive checksum). */
  def run(spark: SparkSession, q: String): (Long, Long) = {
    val df = graft.SparkEntry.queries(q)(spark, docsDir.toString)
    val obs = Observation(q)
    noop(df.observe(obs, count(lit(1)).as("n"), coalesce(sum(pmod(
      xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*), lit(2147483647L))),
      lit(0L)).as("h")))
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  private var lastSpans = Map.empty[String, Span]

  def pass(spark: SparkSession, rec: Recorder, dir: Path): Pass = {
    val t0 = System.nanoTime()
    val got = Queries.map { q =>
      val (r, s) = rec.span(q)(run(spark, q))
      lastSpans += q -> s
      q -> r
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val problems = got.flatMap { case (q, r) =>
      pins.get((k, q)) match {
        case None => Some(s"$q: no pinned result for rotation $k")
        case Some(want) if want != r => Some(s"$q: got (rows, checksum) $r, want $want")
        case _ => None
      }
    }
    Pass(secs, Seq(secs * 1e3), problems)
  }

  def passLayers(spark: SparkSession, rec: Recorder, s: Span, dir: Path): Map[String, Double] =
    Queries.flatMap { q =>
      val sp = lastSpans(q)
      val t = rec.totals(sp)
      val n = s"ops.${q.stripPrefix("tx_")}"
      Seq(s"$n.wall_s" -> sp.seconds, s"$n.jobs" -> t.jobs.toDouble,
        s"$n.one_task_jobs" -> t.oneTaskJobs.toDouble,
        s"$n.driver_gap_s" -> rec.driverGapS(sp), s"$n.executor_cpu_s" -> t.cpuS,
        s"$n.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
        s"$n.spill_bytes" -> t.spill.toDouble)
    }.toMap
}
