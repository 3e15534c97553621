package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.TxnLog
import graft.sources.{GraftScan, GraftTables}

/** cdc_merge — a graft table of orders receives seeded CDC batch files.
  * Each batch lands in a stream source directory and is applied by one
  * `Trigger.AvailableNow` stream whose `foreachBatch` runs one SQL
  * `MERGE INTO graft.`…`` under `spark.graft.rowlevel.mode=mor`. Every
  * batch is followed by a point lookup and an aggregate read, and every
  * tenth batch by `CALL graft.optimize` and one more aggregate read.
  * One iteration = one batch with what follows it: the batch is its
  * `batch_s` sample and the lookup and aggregate its `read_s` sample.
  * A pass is a cycle of ten batches. After the last generated batch the
  * table is bootstrapped again, off the clock.
  */
final class CdcMerge(keys: Int = 150000, batches: Int = 40) extends Workload {
  val name = "cdc_merge"
  val Frac = 0.01
  val BatchesPerCycle = 10

  private val CdcSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("cents", LongType),
    StructField("op", StringType)))

  private var data: Gen.Cdc = _
  private var warm: Gen.Cdc = _

  /** One incarnation of the table with its stream state. */
  private final class Table(val root: Path, val in: Path, val ckpt: String,
      val cdc: Gen.Cdc) {
    var next = 0 // index of the next batch to apply
    def state: Map[Long, Gen.Order] =
      if (next == 0) baseState(cdc) else cdc.states(next - 1)
  }
  private var table: Table = _
  private var incarnation = 0
  private var spaceAmp = 0.0
  private val baseStates = mutable.HashMap.empty[String, Map[Long, Gen.Order]]
  private val scannedRatios = mutable.ArrayBuffer.empty[Double]
  private var tracedBatchBytes = 0L
  private var tracedTableBytes = 0L

  def inputRows: Long = (keys * Frac).toLong

  override def passIterations: Int = BatchesPerCycle

  def generate(seed: Long, dir: File): Unit = {
    data = Gen.cdc(seed, new File(dir, "main"), keys, batches, Frac)
    warm = Gen.cdc(seed + 1, new File(dir, "warm"), 10000, 1, 0.02)
  }

  private def baseState(c: Gen.Cdc): Map[Long, Gen.Order] =
    baseStates.getOrElseUpdate(c.baseFile, {
      val src = scala.io.Source.fromFile(c.baseFile)
      try src.getLines().drop(1).map { l =>
        val f = l.split(",", -1)
        f(0).toLong -> Gen.Order(f(1).toLong, f(2), f(3).toLong)
      }.toMap finally src.close()
    })

  /** Create a fresh table from the base file (not an operation). */
  private def bootstrap(ctx: Ctx, c: Gen.Cdc, tag: String): Table = {
    incarnation += 1
    val base = new File(ctx.work, s"cdc/$tag-$incarnation").toPath
    val t = new Table(base.resolve("orders"), base.resolve("in"),
      base.resolve("ckpt").toString, c)
    Files.createDirectories(t.in)
    val rows = ctx.spark.read.schema(CdcSchema).option("header", "true")
      .csv(c.baseFile).drop("op")
      .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
    GraftTables.createFrom(t.root, rows)
    t
  }

  private def mergeSql(tbl: Path, view: String): String =
    s"""MERGE INTO graft.`$tbl` t USING $view s ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED AND s.op = 'delete' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey,
       |  o_orderstatus = s.o_orderstatus, cents = s.cents
       |WHEN NOT MATCHED AND s.op != 'delete' THEN
       |  INSERT (o_orderkey, o_custkey, o_orderstatus, cents)
       |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.cents)""".stripMargin

  /** Land batch `t.next` and apply it through one AvailableNow stream. */
  private def applyBatch(ctx: Ctx, t: Table): Boolean = {
    val spark = ctx.spark
    val b = t.next
    val file = new File(t.cdc.batchFiles(b))
    val v0 = TxnLog.tip(t.root).version
    var merges = 0
    val ok = ctx.op(Kind.Batch, "streaming.batch", s"batch $b") {
      // Landing: copy beside the source dir, then an atomic rename.
      val staged = t.in.getParent.resolve(s".landing-${file.getName}")
      Files.copy(file.toPath, staged, StandardCopyOption.REPLACE_EXISTING)
      Files.move(staged, t.in.resolve(file.getName), StandardCopyOption.ATOMIC_MOVE)
      val q = spark.readStream.schema(CdcSchema).option("header", "true")
        .csv(t.in.toString)
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          ctx.tracer.span("txnlog.merge") {
            val view = s"cdc_batch_$id"
            df.createOrReplaceTempView(view)
            try df.sparkSession.sql(mergeSql(t.root, view))
            finally df.sparkSession.catalog.dropTempView(view)
          }
          merges += 1
        }
        .option("checkpointLocation", t.ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      TxnLog.tip(t.root)
    } { m =>
      if (merges != 1) Some(s"$merges merges for one landed file")
      else if (m.version != v0 + 1) Some(s"version ${m.version} after $v0")
      else None
    }
    if (ok.isDefined) {
      t.next += 1
      if (ctx.traced) tracedBatchBytes += file.length
    }
    ok.isDefined
  }

  private def read(ctx: Ctx, t: Table): DataFrame = GraftTables.read(ctx.spark, t.root)

  private def lookup(ctx: Ctx, t: Table, key: Long): Boolean = {
    val want = t.state.get(key)
    val ok = ctx.op(Kind.Read, "read.lookup", s"lookup $key after batch ${t.next}") {
      val df = read(ctx, t).filter(col("o_orderkey") === key)
      (df, Materialize.collect(df))
    } { case (_, rows) =>
      val got = rows.map(r => Gen.Order(r.getAs[Long]("o_custkey"),
        r.getAs[String]("o_orderstatus"), r.getAs[Long]("cents"))).toSeq
      if (got != want.toSeq) Some(s"got $got want $want") else None
    }
    if (ctx.traced) ok.foreach(r => recordScan(r._1, t))
    ok.isDefined
  }

  private val aggMemo = mutable.HashMap.empty[(String, Int), Map[String, (Long, Long)]]

  private def agg(ctx: Ctx, t: Table, kind: Kind, what: String): Boolean = {
    val want = aggMemo.getOrElseUpdate((t.cdc.baseFile, t.next),
      t.state.values.groupBy(_.status).map { case (s, os) =>
        s -> (os.size.toLong, os.iterator.map(_.cents).sum) })
    val ok = ctx.op(kind, "read.agg", s"$what after batch ${t.next}") {
      val df = read(ctx, t).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      (df, Materialize.collect(df))
    } { case (_, rows) =>
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      if (got != want) Some(s"got $got want $want") else None
    }
    if (ctx.traced) ok.foreach(r => recordScan(r._1, t))
    ok.isDefined
  }

  private def optimize(ctx: Ctx, t: Table): Boolean =
    ctx.op(Kind.Other, "txnlog.compact", s"optimize after batch ${t.next}") {
      Materialize.collect(ctx.spark.sql(s"CALL graft.optimize(table => '${t.root}')"))
    } { rows =>
      if (rows.length != 1) Some(s"${rows.length} result rows")
      else if (rows(0).getLong(2) > rows(0).getLong(1))
        Some(s"files grew ${rows(0).getLong(1)} -> ${rows(0).getLong(2)}")
      else None
    }.isDefined

  /** Files the last read scanned ÷ files live in the table. */
  private def recordScan(df: DataFrame, t: Table): Unit = {
    val read = ScanFiles.count(df)
    val live = TxnLog.tip(t.root).files.size
    if (read >= 0 && live > 0) scannedRatios += read.toDouble / live
  }

  /** Apply the next batch, then a lookup and an aggregate read; after
    * every tenth batch also optimize and read the aggregate again. */
  private def step(ctx: Ctx, t: Table): Boolean = {
    val lookupKey = t.cdc.lookups(t.next)
    val ok = applyBatch(ctx, t) && lookup(ctx, t, lookupKey) &&
      agg(ctx, t, Kind.Read, "agg")
    if (ok && t.next % BatchesPerCycle == 0)
      optimize(ctx, t) && agg(ctx, t, Kind.Other, "agg after optimize")
    else ok
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    GraftTables.registerCatalog(spark)
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    table = bootstrap(ctx, data, "main")
  }

  def warmup(ctx: Ctx): Unit = {
    val w = bootstrap(ctx, warm, "warm")
    val ok = warm.batchFiles.indices.forall(_ => step(ctx, w)) &&
      optimize(ctx, w) && agg(ctx, w, Kind.Other, "agg after optimize")
    if (!ok) sys.error("cdc warm-up failed")
  }

  private def tableBytes(t: Table): Long = Disk.bytes(t.root.toFile)

  def iteration(ctx: Ctx): Boolean = {
    // Nothing is ever removed from the table directory, so its growth
    // over a step is what the step's commits wrote.
    val before = if (ctx.traced) tableBytes(table) else 0L
    val ok = step(ctx, table)
    if (ctx.traced) tracedTableBytes += tableBytes(table) - before
    if (ok && spaceAmp == 0.0 && table.next == BatchesPerCycle) spaceAmp = measureSpace(ctx, table)
    ok
  }

  override def rearm(ctx: Ctx): Unit =
    if (table.next >= table.cdc.batchFiles.size) restart(ctx)

  override def restart(ctx: Ctx): Unit =
    if (table.next > 0) {
      finalCheck(ctx, table).foreach(e => ctx.rec.fail(s"table before re-bootstrap: $e"))
      table = bootstrap(ctx, data, "main")
    }

  /** Table bytes on disk ÷ the live rows written once as plain parquet. */
  private def measureSpace(ctx: Ctx, t: Table): Double = {
    val plain = new File(ctx.work, s"cdc/plain-$incarnation")
    read(ctx, t).orderBy("o_orderkey").coalesce(1).write.mode("overwrite").parquet(plain.getPath)
    tableBytes(t).toDouble / math.max(1L, Disk.bytes(plain, _.getName.endsWith(".parquet")))
  }

  private def finalCheck(ctx: Ctx, t: Table): Option[String] = {
    val got = read(ctx, t).collect().map(r => r.getAs[Long]("o_orderkey") ->
      Gen.Order(r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("cents")))
    val want = t.state
    if (got.length != want.size) Some(s"${got.length} rows, model has ${want.size}")
    else got.collectFirst { case (k, o) if !want.get(k).contains(o) =>
      s"row $k = $o, model ${want.get(k)}" }
  }

  private var finalOk = false

  override def finish(ctx: Ctx): Option[String] = {
    val e = finalCheck(ctx, table)
    finalOk = e.isEmpty
    e
  }

  /** `quality` is 1 when the final table equals the model. */
  def extraMetrics(ctx: Ctx): Map[String, Double] = Map(
    "space_amp" -> spaceAmp,
    "quality" -> (if (finalOk) 1.0 else 0.0))

  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val tip = TxnLog.tip(table.root)
    Map(
      "txnlog.versions" -> TxnLog.versions(table.root).size.toDouble,
      "txnlog.files_live" -> tip.files.size.toDouble,
      "txnlog.delete_files_live" -> tip.deletes.size.toDouble,
      "txnlog.table_bytes" -> tableBytes(table).toDouble,
      // Bytes the commits wrote per byte of change data applied.
      "txnlog.write_amp" -> tracedTableBytes.toDouble / math.max(1L, tracedBatchBytes),
      "read.files_scanned_ratio" -> Stats.mean(scannedRatios.toSeq))
  }
}

/** Data files a finished query read from graft tables. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  /** Total files planned by the query's graft scans, or -1 if none. */
  def count(df: DataFrame): Int = {
    val n = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan match {
        case g: GraftScan => g.inner match {
          case f: FileScan => f.fileIndex.inputFiles.length
          case _ => -1
        }
        case _ => -1
      }
    }
    if (n.isEmpty || n.contains(-1)) -1 else n.sum
  }
}
