package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer attribution for the traced run.
  *
  * The benchmark marks each of its calls into the program with a span
  * name, carried to Spark as the thread-local property [[SpanProp]]
  * (streams inherit it from the thread that starts them). A
  * [[SparkListener]] assigns every job to the span active when it was
  * submitted and folds its task metrics into that job. Jobs submitted
  * inside `Pipeline.run` are then split into the medallion layers by
  * the innermost program frame of the call site Spark records for
  * them: `Bronze.scala` → bronze, `Sinks.scala` → silver or gold (the
  * earlier call line in `Pipeline.scala` is silver), `Pipeline.scala`
  * → `pipeline.counts`. Jobs from any other frame, and the driver time
  * between the actions, are [[Unattributed]].
  */
object Trace {
  val SpanProp = "perfbench.span"
  /** The span whose jobs are split by call site. */
  val PipelineSpan = "pipeline"
  /** Time inside `Pipeline.run` that no layer accounts for. */
  val Unattributed = "unattributed"

  final case class Interval(start: Long, end: Long) {
    def ms: Long = end - start
  }

  /** Total length of the union of `ivs` clipped to `within`. */
  def unionMs(ivs: Iterable[Interval], within: Interval): Long = {
    val clipped = ivs.iterator
      .map(i => Interval(math.max(i.start, within.start), math.min(i.end, within.end)))
      .filter(i => i.end > i.start).toSeq.sortBy(_.start)
    var total = 0L
    var cur: Interval = null
    clipped.foreach { i =>
      if (cur == null) cur = i
      else if (i.start <= cur.end) cur = Interval(cur.start, math.max(cur.end, i.end))
      else { total += cur.ms; cur = i }
    }
    if (cur != null) total += cur.ms
    total
  }

  private val ProgramFrame = """\bgraft\.[\w.$]+\((\w+\.scala):\d+\)""".r

  /** Layer of a job inside `Pipeline.run`, from the innermost program
    * frame of its long call site. */
  def pipelineLayer(callSite: String, silverLine: Option[Int]): String =
    ProgramFrame.findFirstMatchIn(callSite).map(_.group(1)) match {
      case Some("Bronze.scala") => "bronze"
      case Some("Sinks.scala") =>
        if (sinkCaller(callSite) == silverLine) "silver" else "gold"
      case Some("Pipeline.scala") => "pipeline.counts"
      case _ => Unattributed
    }

  private val CallerLine = """Pipeline\.scala:(\d+)""".r

  /** The `Pipeline.scala` line that called into `Sinks`. */
  def sinkCaller(callSite: String): Option[Int] = {
    val after = callSite.indexOf("Sinks.scala")
    if (after < 0) None
    else CallerLine.findFirstMatchIn(callSite.substring(after)).map(_.group(1).toInt)
  }

  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[SparkContext, Tracer]())

  /** Idempotent: one tracer per SparkContext, registered on first use. */
  def setup(spark: SparkSession): Tracer = installed.synchronized {
    val sc = spark.sparkContext
    Option(installed.get(sc)).getOrElse {
      val t = new Tracer(sc)
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
      installed.put(sc, t)
      t
    }
  }
}

/** Counters of one Spark job. */
final class JobRec(val id: Int, val span: String, val execId: Option[Long],
    val callSite: String, val start: Long) {
  var end: Long = start
  var cpuNs = 0L
  var inBytes = 0L
  var outBytes = 0L
  var shuffleBytes = 0L
}

/** Per-span totals over the traced iterations. */
final class SpanTotals {
  var wallMs = 0L
  var driverMs = 0L
  var jobs = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var outBytes = 0L
  var shuffleBytes = 0L

  def add(t: SpanTotals): Unit = {
    wallMs += t.wallMs; driverMs += t.driverMs; jobs += t.jobs; cpuNs += t.cpuNs
    inBytes += t.inBytes; outBytes += t.outBytes; shuffleBytes += t.shuffleBytes
  }
}

final class Tracer(sc: SparkContext) extends SparkListener {
  import Trace._

  @volatile var enabled = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val execs = mutable.HashMap.empty[Long, (String, Interval)]
  /** Spans the benchmark opened: (name, parent, interval). */
  private val spans = mutable.ArrayBuffer.empty[(String, Option[String], Interval)]
  val phases: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long]

  private def prop(p: Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val span = prop(e.properties, SpanProp).getOrElse("unattributed")
    val execId = prop(e.properties, "spark.sql.execution.id").map(_.toLong)
    val site = if (e.stageInfos.isEmpty) ""
               else e.stageInfos.maxBy(_.stageId).details
    val j = new JobRec(e.jobId, span, execId, site, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime
      j.inBytes += m.inputMetrics.bytesRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled => synchronized {
      execs(s.executionId) = (s.details, Interval(s.time, s.time))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach { case (d, iv) =>
        execs(s.executionId) = (d, iv.copy(end = s.time))
      }
    }
    case _ =>
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Tracer.this.synchronized {
        e.progress.durationMs.forEach { (k, v) =>
          phases(k) = phases.getOrElse(k, 0L) + v.longValue
        }
      }
  }

  /** Run `body` as span `name` on the calling thread (nested spans
    * restore their parent on exit). */
  def span[A](name: String)(body: => A): A = {
    val parent = Option(sc.getLocalProperty(SpanProp))
    sc.setLocalProperty(SpanProp, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanProp, parent.orNull)
      if (enabled) synchronized { spans += ((name, parent, Interval(t0, t1))) }
    }
  }

  /** Start recording afresh. Listener events arrive asynchronously, so
    * the bus is settled first: nothing from before leaks in. */
  def start(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      jobs.clear(); stageJob.clear(); execs.clear(); spans.clear(); phases.clear()
    }
    enabled = true
  }

  /** Stop recording once every event of the traced work has arrived. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    enabled = false
  }

  /** Fold everything recorded between [[start]] and [[stop]] into
    * per-span totals. */
  def totals(): Map[String, SpanTotals] = synchronized {
    val out = mutable.HashMap.empty[String, SpanTotals]
    def tot(s: String) = out.getOrElseUpdate(s, new SpanTotals)
    def siteOf(j: JobRec): String =
      j.execId.flatMap(execs.get).map(_._1).getOrElse(j.callSite)
    val silverLine = jobs.values.filter(_.span == PipelineSpan)
      .flatMap(j => sinkCaller(siteOf(j))).toSeq.distinct.sorted.headOption
    def layerOf(j: JobRec): String =
      if (j.span == PipelineSpan) pipelineLayer(siteOf(j), silverLine) else j.span
    val iv = (j: JobRec) => Interval(j.start, j.end)
    jobs.values.foreach { j =>
      val t = tot(layerOf(j))
      t.jobs += 1; t.cpuNs += j.cpuNs; t.inBytes += j.inBytes
      t.outBytes += j.outBytes; t.shuffleBytes += j.shuffleBytes
    }
    spans.foreach { case (name, _, w) =>
      val own = jobs.values.filter(j => j.span == name).map(iv)
      val children = spans.collect { case (_, Some(p), c) if p == name => c }
      if (name == PipelineSpan) pipelineSplit(w, layerOf, iv, tot)
      else {
        val t = tot(name)
        t.wallMs += w.ms
        t.driverMs += w.ms - unionMs(own ++ children, w)
      }
    }
    out.toMap
  }

  /** Partition one `Pipeline.run` interval: each action (a SQL
    * execution, or a bare job) gives its own interval to its layer, and
    * the driver time outside every action is unattributed. */
  private def pipelineSplit(w: Interval, layerOf: JobRec => String,
      iv: JobRec => Interval, tot: String => SpanTotals): Unit = {
    val inside = jobs.values.filter(j => j.span == PipelineSpan &&
      j.start >= w.start && j.start <= w.end).toSeq
    val actions = inside.groupBy(j => j.execId.map(Left(_)).getOrElse(Right(j.id)))
      .toSeq.map { case (k, js) =>
        val span = k match {
          case Left(e) => execs.get(e).map(_._2).filter(_.end >= js.map(_.end).max)
            .getOrElse(Interval(js.map(_.start).min, js.map(_.end).max))
          case Right(_) => Interval(js.head.start, js.head.end)
        }
        (span, layerOf(js.head), js.map(iv))
      }.sortBy(_._1.start)
    var cursor = w.start
    actions.foreach { case (a, layer, jobIvs) =>
      val start = math.min(math.max(cursor, a.start), w.end)
      val end = math.min(math.max(start, a.end), w.end)
      tot(Unattributed).wallMs += start - cursor
      if (end > start) {
        val t = tot(layer)
        val slot = Interval(start, end)
        t.wallMs += slot.ms
        t.driverMs += slot.ms - unionMs(jobIvs, slot)
      }
      cursor = end
    }
    tot(Unattributed).wallMs += w.end - cursor
  }
}
