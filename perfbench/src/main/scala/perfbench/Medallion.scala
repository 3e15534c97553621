package perfbench

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.infer.Infer
import graft.operators.Bronze
import graft.pipeline.Pipeline
import graft.sources.{GraftTables, Sources}
import graft.transform.{SqlTransforms, Step}
import graft.types.{FieldOverride, LogicalType}

/** medallion_csv — the paper's CS1 pipeline at its largest published
  * scale: schema detection over landed all-string CSV files
  * (`Sources.scanCsv`, `Infer.inferTypes`, `Infer.compatCheck`,
  * `Infer.overallConfidence`), then `Pipeline.run` bronze → silver
  * (filter, timestamp diff, CASE banding) → gold (lookup join,
  * aggregate to tens of rows). One iteration = detect + one pipeline
  * run. */
final class Medallion(rows: Int = 500000, warmRows: Int = 100000) extends Workload {
  val name = "medallion_csv"
  val Files = 7

  private var data: Gen.Medallion = _
  private var warm: Gen.Medallion = _
  private var runNo = 0
  private var lastConfidence = 0.0
  private var lastLayerBytes = 0L
  private var staleRoot: Option[File] = None

  def inputRows: Long = data.rows

  def generate(seed: Long, dir: File): Unit = {
    data = Gen.medallion(seed, new File(dir, "main"), rows, Files)
    warm = Gen.medallion(seed + 1, new File(dir, "warm"), warmRows, 2)
  }

  /** Detection model: what a correct run must decide. */
  private val ExpectedTypes: Map[String, LogicalType] = Map(
    "l_orderkey" -> LogicalType.TLong, "l_partkey" -> LogicalType.TLong,
    "l_suppkey" -> LogicalType.TLong, "l_linenumber" -> LogicalType.TLong,
    "l_quantity" -> LogicalType.TDouble, "l_extendedprice" -> LogicalType.TDouble,
    "l_discount" -> LogicalType.TDouble, "l_returnflag" -> LogicalType.TString,
    "l_shipdate" -> LogicalType.TTimestamp, "o_orderdate" -> LogicalType.TTimestamp)

  private def expectedConfidence(d: Gen.Medallion): Double =
    BigDecimal(0.7 + 0.3 * d.files.size / (d.files.size + 1))
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def strings(cols: Seq[String]) =
    StructType(cols.map(StructField(_, StringType)))

  private def silver(spark: SparkSession): Seq[Step] = Seq(
    SqlTransforms.step(spark, "valid_lines",
      """SELECT * FROM __input__
         WHERE l_quantity >= 5 AND l_discount <= 0.08""", order = 0),
    SqlTransforms.step(spark, "ship_delay",
      """SELECT *, timestampdiff(HOUR, o_orderdate, l_shipdate) AS ship_hours
         FROM __input__""", order = 1),
    SqlTransforms.step(spark, "ship_band",
      """SELECT l_orderkey, l_returnflag, l_quantity,
                l_extendedprice * (1 - l_discount) AS revenue,
                year(l_shipdate) AS ship_year,
                CASE WHEN ship_hours < 720 THEN 'fast'
                     WHEN ship_hours < 1800 THEN 'normal'
                     ELSE 'slow' END AS ship_band
         FROM __input__""", order = 2))

  private def gold(spark: SparkSession): Seq[Step] = {
    import spark.implicits._
    val flags = Gen.Flags.toDF("l_returnflag", "flag_name")
    Seq(
      Step("flag_lookup", _.join(broadcast(flags), Seq("l_returnflag")), order = 0),
      SqlTransforms.step(spark, "gold_agg",
        """SELECT flag_name, ship_band, ship_year, count(*) AS n_lines,
                  sum(l_quantity) AS qty, round(sum(revenue), 2) AS revenue
           FROM __input__ GROUP BY flag_name, ship_band, ship_year""",
        order = 1))
  }

  /** Detect + pipeline over one generated input set. */
  private def runOnce(ctx: Ctx, d: Gen.Medallion): Boolean = {
    val spark = ctx.spark
    val detected = ctx.op(Kind.Read, "infer.detect", "detect") {
      val main = Sources.scanCsv(spark, d.csvDir, schema = Some(strings(Gen.MedallionCols)))
      val fields = Infer.inferTypes(main)
      val compat = Infer.compatCheck(spark, d.files :+ d.driftFile,
        p => Sources.scanCsv(spark, p))
      (main, fields, compat, Infer.overallConfidence(fields, compat))
    } { case (_, fields, compat, conf) =>
      val types = fields.map(f => f.name -> f.tpe).toMap
      if (types != ExpectedTypes) Some(s"inferred $types")
      else if (compat.map(_.compatible) != d.files.map(_ => true) :+ false)
        Some(s"compat ${compat.map(_.compatible)}")
      else if (compat.last.extra != Seq(Gen.DriftCol)) Some(s"drift ${compat.last}")
      else if (conf != expectedConfidence(d)) Some(s"confidence $conf")
      else None
    }
    detected.exists { case (main, fields, _, conf) =>
      lastConfidence = conf
      val typed = fields.map(f => FieldOverride(f.name, newType = Some(f.tpe)))
      val drift = Sources.scanCsv(spark, d.driftFile,
        schema = Some(strings(Gen.MedallionCols :+ Gen.DriftCol)))
      val driftFields = fields :+ graft.types.FieldSpec(Gen.DriftCol, LogicalType.TString)
      val source = Bronze.unionByName(Seq(
        Bronze.applyOverrides(main, fields, typed),
        Bronze.applyOverrides(drift, driftFields, typed)))
      runNo += 1
      val root = new File(ctx.work, s"layers/run-$runNo").getPath
      // The gold check reads the committed layer back, off the clock.
      val result = ctx.op(Kind.Batch, Trace.PipelineSpan, "pipeline") {
        Pipeline.run(spark, source, silver(spark), gold(spark), root)
      } { r =>
        if (r.status != Pipeline.Status.GoldReady) Some(s"status ${r.status}")
        else if (r.layers.head.inputRows != d.rows) Some(s"bronze rows ${r.layers.head.inputRows}")
        else checkGold(Sources.scanParquet(spark, r.goldPath).collect(), d)
      }
      staleRoot = Some(new File(root))
      result.isDefined
    }
  }

  private def checkGold(rows: Array[Row], d: Gen.Medallion): Option[String] = {
    val got = rows.map { r =>
      (r.getAs[String]("flag_name"), r.getAs[String]("ship_band"),
        r.getAs[Int]("ship_year")) ->
        (r.getAs[Long]("n_lines"), r.getAs[Double]("qty"), r.getAs[Double]("revenue"))
    }.toMap
    if (got.size != rows.length) Some("duplicate gold keys")
    else if (got.keySet != d.gold.keySet)
      Some(s"gold keys differ: ${(got.keySet diff d.gold.keySet).take(3)} / " +
        s"${(d.gold.keySet diff got.keySet).take(3)}")
    else d.gold.collectFirst {
      case (k, (n, q, rev)) if got(k)._1 != n || got(k)._2 != q ||
          math.abs(got(k)._3 - rev) > 0.011 + 1e-9 * math.abs(rev) =>
        s"gold $k: got ${got(k)} want ($n, $q, $rev)"
    }
  }

  def setup(ctx: Ctx): Unit = GraftTables.registerCatalog(ctx.spark)

  def warmup(ctx: Ctx): Unit = {
    if (!runOnce(ctx, warm)) sys.error("medallion warm-up failed")
    rearm(ctx)
  }

  def iteration(ctx: Ctx): Boolean = runOnce(ctx, data)

  override def rearm(ctx: Ctx): Unit = staleRoot.foreach { root =>
    lastLayerBytes = Disk.bytes(root)
    Disk.delete(root)
    staleRoot = None
  }

  /** Bytes the three layers keep on disk per byte of CSV landed. */
  def extraMetrics(ctx: Ctx): Map[String, Double] = {
    val landed = (data.files :+ data.driftFile).map(p => new File(p).length).sum
    Map("space_amp" -> lastLayerBytes.toDouble / math.max(landed, 1L),
      "quality" -> lastConfidence)
  }
}
