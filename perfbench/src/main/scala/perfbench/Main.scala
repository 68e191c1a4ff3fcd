package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload for a measured time and writes its result as one
  * JSON object.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <work dir> <result file> <pins file>`. `perfbench/run.py` builds the
  * classpath and calls this; see `perfbench/README.md`.
  *
  * Both start with the set-up: a session build plus the first pass,
  * in a JVM that has not run Spark before (the inputs are plain files
  * made before it), then a fixed number of warm-up passes. Untraced
  * (trace 0): then passes until `seconds` have elapsed. Traced
  * (trace 1): then untraced passes alternating with passes under the
  * `SparkListener` for `seconds`, then the workload's chain replay, and
  * on `etl_narrow_file` the `tx_bpe_merges` control; per-layer metrics
  * are medians over the traced passes and replays. */
object Main {
  /** Sized for a 4-core box: one JVM and four partitions (input splits
    * and shuffle), as `local[4]` would make them, but one task slot, so
    * that the task thread, the driver thread, the JIT compiler and GC
    * never compete for the cores. On a shared 4-core host the median
    * pass time of `etl_narrow_file` spread from run to run by 26% with
    * four slots, by 7-18% with two (each JVM settled at its own speed),
    * and by 3-8% with one. */
  def session(work: Path): SparkSession = SparkSession.builder()
    .master("local[1]")
    .appName("perfbench")
    .config("spark.default.parallelism", "4")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    .getOrCreate()

  /** Stops a session. `Dedup` keeps its cache queues JVM-wide, so they
    * are released first, while their session can still unpersist them. */
  def stop(spark: SparkSession): Unit = {
    graft.ops.Dedup.releaseCaches(blocking = true)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $msg")

  def workload(name: String, seed: Long): Workload = name match {
    case "etl_narrow_file" => new EtlFile(seed, 120000)
    case "etl_stream_drain" => new StreamDrain(seed, 3, 2000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The LLM-operator control the traced run of a workload adds, if any:
    * `tx_bpe_merges` over 5,000 generated documents, on the batch ETL
    * workload. */
  def control(name: String, seed: Long, pinsFile: Path): Option[Heavies] =
    if (name == "etl_narrow_file") Some(new Heavies(seed, ControlDocs, Pins.read(pinsFile)))
    else None
  val ControlDocs = 5000

  def main(args: Array[String]): Unit = args match {
    case Array(name, seedS, secondsS, traceS, workS, outS, pinsS) =>
      val work = Paths.get(workS).toAbsolutePath
      val wl = workload(name, seedS.toLong)
      val result = new Runner(wl, work, secondsS.toDouble,
        control(name, seedS.toLong, Paths.get(pinsS))).run(traceS == "1")
      Files.writeString(Paths.get(outS), result)
  }
}

final class Runner(wl: Workload, work: Path, seconds: Double, control: Option[Heavies]) {
  import Workload.median
  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer[String]()
  private var passNo = 0

  private def freshDir(): Path = {
    passNo += 1
    val d = work.resolve("passes").resolve(s"p$passNo")
    deleteTree(d)
    Files.createDirectories(d)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** The heap's old generation. A pass starts with it collected (see
    * [[isolate]]), so its peak during the pass is the pass's live data
    * plus what survived young collections: memory the program holds, not
    * the heap's fixed size. */
  private val oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
    .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getName.contains("Old Gen"))
    .getOrElse(throw new IllegalStateException("the JVM has no old-generation heap pool"))

  /** Drops cached data from the previous pass and lets the JVM settle. */
  private def isolate(spark: SparkSession): Unit = {
    graft.ops.Dedup.releaseCaches(blocking = true)
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(50)
  }

  /** One checked pass into a fresh directory; None when it failed. */
  private def checkedPass(spark: SparkSession, rec: Recorder)(
      body: Path => Pass): Option[Pass] = {
    isolate(spark)
    val dir = freshDir()
    attempted += 1
    oldGen.resetPeakUsage()
    val p =
      try body(dir)
      catch { case e: Exception => Pass(0, Nil, Seq(s"pass threw $e")) }
    val oldGenMb = oldGen.getPeakUsage.getUsed / 1048576.0
    Main.log(f"pass $attempted: ${p.seconds}%.3f s")
    deleteTree(dir)
    if (p.problems.isEmpty) Some(p.copy(oldGenMb = oldGenMb))
    else {
      failed += 1
      problems ++= p.problems.take(5)
      None
    }
  }

  private def passes(spark: SparkSession, rec: Recorder, budget: Double, min: Int)(
      body: Path => Pass): Seq[Pass] = {
    val out = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    var tries = 0
    while (tries < min || (System.nanoTime() - t0) / 1e9 < budget) {
      checkedPass(spark, rec)(body).foreach(out += _)
      tries += 1
    }
    out.toSeq
  }

  /** Inputs, then the session build plus the first pass in it: the
    * cold start every CLI run pays; then the untimed warm-up passes. */
  private def setup(rec0: SparkSession => Recorder): (SparkSession, Recorder, Option[Double]) = {
    wl.prepare(work)
    Main.log("inputs ready")
    val t0 = System.nanoTime()
    val spark = Main.session(work)
    spark.sparkContext.setLogLevel("ERROR")
    val built = (System.nanoTime() - t0) / 1e9
    val rec = rec0(spark)
    val p = checkedPass(spark, rec)(wl.pass(spark, rec, _))
    val setupS = p.map(built + _.seconds)
    Main.log(s"set-up: ${setupS.map(x => f"$x%.2f s").getOrElse("failed")}")
    (1 to Runner.WarmupPasses).foreach(_ => checkedPass(spark, rec)(wl.pass(spark, rec, _)))
    (spark, rec, setupS)
  }

  private def streamRecorder(spark: SparkSession): Recorder = {
    val rec = new Recorder(spark.sparkContext)
    spark.streams.addListener(rec.streamListener)
    rec
  }

  def run(trace: Boolean): String = {
    val metrics = if (trace) traced() else untraced()
    Json.obj("correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "problems" -> problems.toSeq)
  }

  /** The set-up and warm-up, then the timed passes. */
  private def untraced(): Map[String, Double] = {
    val (spark, rec, setupS) = setup(streamRecorder)
    val ps = passes(spark, rec, seconds, 5)(wl.pass(spark, rec, _))
    Main.log(s"timed passes: ${ps.map(p => f"${p.seconds}%.3f").mkString(" ")}")
    Main.stop(spark)
    val wall = median(ps.map(_.seconds))
    val batches = ps.flatMap(_.batchMs)
    Map("setup_s" -> setupS.getOrElse(0.0), "wall_s" -> wall,
      "lines_per_s" -> (if (wall > 0) wl.records / wall else 0.0),
      "batch_ms_p50" -> median(batches), "batch_samples" -> batches.size.toDouble,
      "old_gen_peak_mb" -> median(ps.map(_.oldGenMb)))
  }

  private def traced(): Map[String, Double] = {
    val (spark, rec, _) = setup(streamRecorder)
    val sc = spark.sparkContext
    val plain = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    // untraced and traced passes alternate, so that the JVM's warm-up
    // biases neither side of the overhead
    val t0 = System.nanoTime()
    var i = 0
    while (i < 4 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (i % 2 == 0) checkedPass(spark, rec)(wl.pass(spark, rec, _)).foreach(plain += _.seconds)
      else {
        sc.addSparkListener(rec.sparkListener)
        checkedPass(spark, rec) { dir =>
          rec.resetCachePeak()
          val gc0 = Workload.jvmGcS
          val (p, s) = rec.span("pass")(wl.pass(spark, rec, dir))
          val gc = Workload.jvmGcS - gc0
          if (p.problems.isEmpty)
            layers += Workload.passTotals(rec, s) ++ wl.passLayers(spark, rec, s, dir) ++
              Map("pipeline.cache_bytes" -> rec.cachePeak.toDouble, "pipeline.gc_s" -> gc)
          p
        }.foreach(tracedWalls += _.seconds)
        sc.removeSparkListener(rec.sparkListener)
      }
      i += 1
    }
    sc.addSparkListener(rec.sparkListener)
    val chain = (0 until 2).map { _ =>
      isolate(spark)
      val dir = freshDir()
      try wl.chainLayers(spark, rec, dir) finally deleteTree(dir)
    }
    val ops = control.map(controlLayers(spark, rec, _)).getOrElse(Map.empty)
    rec.write(work.resolve("trace.jsonl"))
    Main.stop(spark)
    val untracedWall = median(plain.toSeq)
    val tracedWall = median(tracedWalls.toSeq)
    val merged = (layers ++ chain).flatMap(_.keys).distinct.map { k =>
      k -> median((layers ++ chain).flatMap(_.get(k)).toSeq)
    }.toMap
    val sum = merged.get("trace.layers_sum_s")
    merged ++ ops ++ Map("trace.untraced_wall_s" -> untracedWall,
      "trace.traced_wall_s" -> tracedWall,
      "trace.overhead_s" -> (tracedWall - untracedWall)) ++
      sum.map(s => "trace.unassigned_s" -> (untracedWall - s))
  }

  /** The LLM-operator control, after the workload's own tracing, with
    * the listener on: writes its documents table, one warm-up pass, then
    * three checked passes; medians of their per-query metrics. */
  private def controlLayers(spark: SparkSession, rec: Recorder, h: Heavies): Map[String, Double] = {
    h.writeInputs(spark, work)
    h.prepare(work)
    checkedPass(spark, rec)(h.pass(spark, rec, _))
    val runs = (0 until 3).flatMap { _ =>
      var m = Map.empty[String, Double]
      checkedPass(spark, rec) { dir =>
        val (p, s) = rec.span("control")(h.pass(spark, rec, dir))
        if (p.problems.isEmpty) m = h.passLayers(spark, rec, s, dir)
        p
      }.map(_ => m)
    }
    runs.flatMap(_.keys).distinct.map(k => k -> median(runs.flatMap(_.get(k)))).toMap
  }
}

object Runner {
  /** Untimed passes after the set-up. The JVM keeps getting faster over
    * the first ten to twenty passes (JIT compilation), and each run
    * follows that curve a little differently. A short warm-up and a long
    * timed window spread less from run to run than a long warm-up and a
    * short window, because the median is then taken over more passes. A
    * count rather than a time leaves every run, and every commit, at the
    * same point of the curve. */
  val WarmupPasses = 4
}

/** Expected (rows, checksum) of each heavy query for each rotation of
  * the generated corpus, recorded from a tree whose oracle is green. */
object Pins {
  def read(p: Path): Map[(Int, String), (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(k, q, n, h) = l.split("\t")
        (k.toInt, q) -> (n.toLong, h.toLong)
      }.toMap

  /** Usage: `perfbench.Pins <work dir> <pins file>`: records the pins
    * of every rotation. */
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val lines = (0 until DocGen.Vocab.size).flatMap { k =>
      val wl = new Heavies(k, Main.ControlDocs, Map.empty)
      val spark = Main.session(work)
      spark.sparkContext.setLogLevel("ERROR")
      wl.writeInputs(spark, work)
      wl.prepare(work)
      try wl.Queries.map { q =>
        val t0 = System.nanoTime()
        val (n, h) = wl.run(spark, q)
        System.err.println(f"pins: rotation $k $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
        graft.ops.Dedup.releaseCaches(blocking = true)
        s"$k\t$q\t$n\t$h"
      } finally Main.stop(spark)
    }
    Files.writeString(Paths.get(args(1)),
      "# rotation\tquery\trows\tchecksum\n" + lines.mkString("", "\n", "\n"))
  }
}
