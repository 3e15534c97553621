package perfbench

import java.io.File
import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Generates the seeded inputs (not timed), sets up a session several
  * times (`setup_s` is the median), warms up once off the clock, then
  * runs workload iterations for `--seconds`, at least one pass. With
  * `--trace 0` every iteration is untraced and the end-to-end metrics
  * are printed. With `--trace 1` untraced and traced passes over the
  * same inputs alternate and the per-layer metrics are printed. The
  * last stdout line is one JSON object.
  */
object Main {

  val SetupReps = 3

  val Spans: Seq[String] = Seq("infer.detect", "bronze", "silver", "gold",
    "pipeline.counts", "streaming.batch", "txnlog.merge", "txnlog.compact",
    "read.lookup", "read.agg", "textops.quality", "dedup.exact",
    "dedup.minhash", "dedup.cluster", "dedup.ngram")
  val StreamPhases: Seq[String] =
    Seq("addBatch", "walCommit", "queryPlanning", "latestOffset", "commitOffsets")
  /** Metrics the workloads report through `layerMetrics`, with units. */
  val WorkloadLayerMetrics: Seq[(String, String)] = Seq(
    "txnlog.versions" -> "count", "txnlog.files_live" -> "count",
    "txnlog.delete_files_live" -> "count", "txnlog.table_bytes" -> "bytes",
    "txnlog.write_amp" -> "ratio", "read.files_scanned_ratio" -> "ratio",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.candidate_precision" -> "ratio")

  /** The five spans that must cover a medallion run. */
  val MedallionSpans: Seq[String] =
    Seq("infer.detect", "bronze", "silver", "gold", "pipeline.counts")
  val MinCoverage = 0.9

  def workloads: Map[String, () => Workload] = Map(
    "medallion_csv" -> (() => new Medallion),
    "cdc_merge" -> (() => new CdcMerge),
    "curation_dedup" -> (() => new CurationDedup))

  /** Times of one iteration: all its operations, and its batch and
    * read samples. */
  final case class IterTimes(s: Double, batch: Seq[Double], read: Seq[Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(opts.getOrElse("workload", ""),
      sys.error(s"--workload must be one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))()
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()

    // Inputs are generated while the first session starts; the wait
    // for them is not part of the set-up.
    val gen = new Thread(() => wl.generate(seed, new File(work, "input")))
    var genError: Option[Throwable] = None
    gen.setUncaughtExceptionHandler((_, e) => genError = Some(e))
    gen.start()

    // Every set-up is the same: a fresh session, catalog registration
    // and, for cdc, the table bootstrap. The first one is cold.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    val rec = new Recorder
    var genWaitS = 0.0
    for (r <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      ctx = new Ctx(spark, Trace.setup(spark), rec, work)
      val w0 = System.nanoTime()
      if (r == 0) {
        gen.join()
        genError.foreach(e => throw e)
      }
      val waited = System.nanoTime() - w0
      genWaitS += waited / 1e9
      wl.setup(ctx)
      setupS += (System.nanoTime() - t0 - waited) / 1e9
    }
    val wu0 = System.nanoTime()
    wl.warmup(ctx)
    liveMb()
    val warmupS = (System.nanoTime() - wu0) / 1e9
    rec.reset()

    val untraced = mutable.ArrayBuffer.empty[IterTimes]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val untracedPassS = mutable.ArrayBuffer.empty[Double]
    val spanSum = mutable.HashMap.empty[String, SpanTotals]
    val phaseSum = mutable.HashMap.empty[String, Long]
    var gcMs = 0L
    var liveMax = 0.0
    var explicitGcMs = 0L
    var iterations = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def pastDeadline = System.nanoTime() >= deadline

    /** One iteration; its times when every operation succeeded. */
    def iterate(): Option[IterTimes] = {
      rec.startIteration()
      val ok = wl.iteration(ctx)
      iterations += 1
      val t = IterTimes(rec.iterS, rec.samples(Kind.Batch), rec.samples(Kind.Read))
      wl.rearm(ctx)
      if (ok && rec.failed == 0) Some(t) else None
    }

    /** After each pass, off the clock: what the program keeps live. */
    def endPass(): Unit = {
      val gc0 = gcTimeMs()
      liveMax = math.max(liveMax, liveMb())
      explicitGcMs += gcTimeMs() - gc0
    }

    /** One pass; its time when every iteration succeeded. */
    def pass(): Option[Double] = {
      var total = Option(0.0)
      var k = 0
      while (total.isDefined && k < wl.passIterations) {
        total = for (sum <- total; t <- iterate()) yield sum + t.s
        k += 1
      }
      endPass()
      total
    }

    if (!trace) {
      var ok = true
      while (ok && (iterations < wl.passIterations || !pastDeadline)) {
        ok = iterate().map(untraced += _).isDefined
        if (iterations % wl.passIterations == 0) endPass()
      }
    } else {
      // An untraced pass and a traced pass over the same inputs,
      // repeated while there is time.
      var ok = true
      while (ok && (tracedPassS.isEmpty || !pastDeadline)) {
        wl.restart(ctx)
        val u = pass()
        wl.restart(ctx)
        val tracer = ctx.tracer
        val gc0 = gcTimeMs() - explicitGcMs
        tracer.start()
        val t = try pass() finally tracer.stop()
        gcMs += gcTimeMs() - explicitGcMs - gc0
        tracer.totals().foreach { case (k, v) => spanSum.getOrElseUpdate(k, new SpanTotals).add(v) }
        tracer.phases.foreach { case (k, v) => phaseSum(k) = phaseSum.getOrElse(k, 0L) + v }
        ok = u.isDefined && t.isDefined
        if (ok) { untracedPassS += u.get; tracedPassS += t.get }
      }
    }

    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= rec.failures
    if (!trace && untraced.isEmpty) problems += "no complete untraced iteration"
    if (trace && tracedPassS.isEmpty) problems += "no complete pair of passes"
    wl.finish(ctx).foreach(problems += _)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val runP50 = Stats.quantile(untraced.map(_.s).toSeq, 0.5)
        val batchS = untraced.flatMap(_.batch).toSeq
        val readS = untraced.flatMap(_.read).toSeq
        val extra = wl.extraMetrics(ctx)
        Seq(
          ("setup_s", Stats.quantile(setupS.toSeq, 0.5), "s"),
          ("run_s.p50", runP50, "s"),
          ("rows_per_s", if (runP50 > 0) wl.inputRows / runP50 else 0.0, "1/s"),
          ("batch_s.p50", Stats.quantile(batchS, 0.5), "s"),
          ("batch_s.p75", Stats.quantile(batchS, 0.75), "s"),
          ("read_s.p50", Stats.quantile(readS, 0.5), "s"),
          ("read_s.p75", Stats.quantile(readS, 0.75), "s"),
          ("space_amp", extra("space_amp"), "ratio"),
          ("ok_rate", if (rec.attempted > 0) (rec.attempted - rec.failed).toDouble / rec.attempted else 0.0, "ratio"),
          ("quality", extra("quality"), "ratio"),
          ("live_mb", liveMax, "MB"))
      } else {
        val n = math.max(tracedPassS.size, 1).toDouble
        def span(s: String) = spanSum.getOrElse(s, new SpanTotals)
        val spanMetrics = Spans.flatMap { s =>
          val t = span(s)
          Seq(
            (s"$s.s", t.wallMs / 1e3 / n, "s"),
            (s"$s.jobs", t.jobs / n, "count"),
            (s"$s.cpu_s", t.cpuNs / 1e9 / n, "s"),
            (s"$s.driver_s", t.driverMs / 1e3 / n, "s"),
            (s"$s.shuffle_bytes", t.shuffleBytes / n, "bytes"),
            (s"$s.input_bytes", t.inBytes / n, "bytes"),
            (s"$s.output_bytes", t.outBytes / n, "bytes"))
        }
        val streamOverhead =
          (span("streaming.batch").wallMs - span("txnlog.merge").wallMs) / 1e3 / n
        val phaseMetrics = StreamPhases.map(p =>
          (s"streaming.phase.${p}_s", phaseSum.getOrElse(p, 0L) / 1e3 / n, "s"))
        val wlm = wl.layerMetrics(ctx)
        val tracedMean = math.max(Stats.mean(tracedPassS.toSeq), 1e-9)
        // Time the tracer assigned to a layer: every span but the one
        // nested in another (txnlog.merge runs inside streaming.batch).
        val classified = Spans.filter(_ != "txnlog.merge").map(s => span(s).wallMs).sum / 1e3 / n
        if (wl.name == "medallion_csv") {
          val cov = MedallionSpans.map(s => span(s).wallMs).sum / 1e3 / n / tracedMean
          if (cov < MinCoverage)
            problems += f"medallion layer spans cover only ${cov * 100}%.1f%% of run_s"
        }
        spanMetrics ++ Seq(("streaming.overhead_s", streamOverhead, "s")) ++
          phaseMetrics ++
          WorkloadLayerMetrics.map { case (k, u) => (k, wlm.getOrElse(k, 0.0), u) } ++
          Seq(
            ("trace.coverage", classified / tracedMean, "ratio"),
            ("trace.unattributed_s", span(Trace.Unattributed).wallMs / 1e3 / n, "s"),
            ("jvm.gc_s", gcMs / 1e3 / n, "s"),
            ("trace_overhead",
              tracedPassS.sum / math.max(untracedPassS.sum, 1e-9), "ratio"))
      }

    spark.stop()
    problems.foreach(p => System.err.println(s"[perfbench] problem: $p"))
    def fmt(xs: Iterable[Double]) = xs.map(d => f"$d%.3f").mkString(",")
    System.err.println(s"[perfbench] ${wl.name} seed=$seed iterations=$iterations " +
      s"untraced=${fmt(untraced.map(_.s) ++ untracedPassS)} traced=${fmt(tracedPassS)} " +
      s"setup=${fmt(setupS)} ops: " +
      rec.bySpan.map { case (k, v) => s"$k=${fmt(v)}" }.mkString(" ") +
      f" phases: gen_wait=${genWaitS}%.1f warmup=${warmupS}%.1f")
    println(Json.result(problems.isEmpty, rec.attempted, rec.failed, metrics))
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // The program's own mains run with one shuffle partition per core.
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcTimeMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Memory the JVM holds after a full collection, in MB: the heap in
    * use, metaspace and code cache, and direct and mapped buffers. The
    * first collection hands Spark's cleaner the broadcasts and shuffles
    * no longer referenced; the second, after it has freed them, counts
    * what is left. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {""", ", ", "}}")
}
