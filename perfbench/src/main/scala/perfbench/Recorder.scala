package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call around a program entry point. Times are wall-clock
  * milliseconds (comparable with Spark event times) plus a nanosecond
  * duration for the span's own length. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    var endMs: Long = -1L, var nanos: Long = 0L) {
  def seconds: Double = nanos / 1e9
}

/** A Spark job with the span that submitted it and the layer (`sink`,
  * `report` or empty) its SQL plan belongs to. */
final case class Job(id: Int, span: Int, layer: String, start: Long,
    var end: Long = -1L, var tasks: Int = 0, var cpuNs: Long = 0L,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
    var spill: Long = 0L, var gcMs: Long = 0L)

/** One streaming micro-batch as reported by Spark's progress events. */
final case class Batch(query: String, id: Long, rows: Long,
    durations: Map[String, Long])

/** Spark work summed over a set of jobs. */
final case class Totals(jobs: Int, oneTaskJobs: Int, tasks: Long,
    cpuS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    gcS: Double, jobBusyS: Double)

object Totals {
  def of(js: Iterable[Job]): Totals = Totals(js.size,
    js.count(_.tasks == 1), js.iterator.map(_.tasks.toLong).sum,
    js.iterator.map(_.cpuNs).sum / 1e9, js.iterator.map(_.shuffleRead).sum,
    js.iterator.map(_.shuffleWrite).sum, js.iterator.map(_.spill).sum,
    js.iterator.map(_.gcMs).sum / 1e3, busyS(js))

  /** Length of the union of the jobs' intervals: the time at least one
    * job ran. */
  def busyS(js: Iterable[Job]): Double = {
    val iv = js.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (iv.nonEmpty) total += curE - curS
    total / 1e3
  }
}

/** Records spans, Spark jobs/tasks, cached-block sizes and streaming
  * progress through Spark's public listener interfaces. Everything is
  * kept in memory; [[write]] dumps it once at the end of a run.
  *
  * Jobs are attributed to spans through a thread-local Spark property
  * set while a span is open (streaming jobs inherit it from the thread
  * that starts the query), and to layers by their SQL plan. */
final class Recorder(sc: SparkContext) {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  private val cached = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cachedNow = 0L
  @volatile private var cachedPeak = 0L
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  /** Layer of each SQL execution, from its physical plan: a file write
    * is the sink's, an aggregate without one is the report's. Streaming
    * jobs all carry the query's call site, so the plan is what tells
    * them apart. */
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private def layerOf(plan: String): String =
    if (plan.contains("WriteFiles") || plan.contains("InsertIntoHadoopFsRelation")) "sink"
    else if (plan.contains("HashAggregate") || plan.contains("TakeOrderedAndProject")) "report"
    else ""

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val layer = exec.flatMap(id => Option(execLayer.get(id.toLong))).getOrElse("")
      val j = Job(e.jobId, span, layer, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.gcMs += m.jvmGCTime
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execLayer.put(x.executionId, layerOf(x.physicalPlanDescription))
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) cached.synchronized {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val prev = Option(cached.put(b.blockId.name, size)).map(_.longValue).getOrElse(0L)
        cachedNow += size - prev
        if (cachedNow > cachedPeak) cachedPeak = cachedNow
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(p.id.toString, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Time `body` as a span nested in the innermost open span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis())
    spans += s
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    open = s :: open
    val t0 = System.nanoTime()
    try (body, s)
    finally {
      s.nanos = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Resets the cached-bytes peak to the current level. */
  def resetCachePeak(): Unit = cached.synchronized { cachedPeak = cachedNow }
  def cachePeak: Long = { org.apache.spark.perfbench.Bus.drain(sc); cachedPeak }

  /** Jobs submitted under `s` or any span nested in it. */
  def jobsIn(s: Span): Seq[Job] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids.contains(x.parent)) ids += x.id)
    jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq.sortBy(_.id)
  }

  def totals(s: Span): Totals = Totals.of(jobsIn(s))

  /** Span time with no Spark job running. */
  def driverGapS(s: Span): Double = s.seconds - Totals.busyS(jobsIn(s))

  /** Every micro-batch reported so far, in arrival order. */
  def allBatches: Seq[Batch] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    batches.asScala.toSeq
  }

  /** Writes spans, jobs and batches as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val sb = new StringBuilder
    spans.foreach(s => sb ++= Json.obj("kind" -> "span", "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "seconds" -> s.seconds) + "\n")
    jobs.values.asScala.toSeq.sortBy(_.id).foreach(j => sb ++= Json.obj(
      "kind" -> "job", "id" -> j.id, "span" -> j.span, "layer" -> j.layer,
      "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
      "cpu_ns" -> j.cpuNs, "shuffle_read" -> j.shuffleRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill) + "\n")
    batches.asScala.foreach(b => sb ++= Json.obj("kind" -> "batch",
      "query" -> b.query, "id" -> b.id, "rows" -> b.rows,
      "trigger_ms" -> b.durations.getOrElse("triggerExecution", 0L)) + "\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
