package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** No timed operation may end in an action the optimizer can answer
  * without computing its rows, such as a bare `count()` (answered from
  * parquet footers, or with every column pruned). Each workload runs
  * one iteration at a small scale while every Spark action is
  * recorded; each operation must contain at least one action that
  * fully materializes rows (a collect or a write of a plan that is not
  * prunable), and every DataFrame the benchmark itself materializes
  * must be unprunable. */
class NoPrunedCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  import NoPrunedCountSpec.Action

  // Tests run with the benchmark's directory as working directory.
  private val work = new File(".work/test-" + System.nanoTime()).getAbsoluteFile
  new File(System.getProperty("java.io.tmpdir")).mkdirs()

  override def afterAll(): Unit = Disk.delete(work)

  /** Records, per operation, the actions it ran and what it materialized. */
  private final class Recording(spark: SparkSession) extends Audit.Observer
      with QueryExecutionListener {
    private var current: Option[String] = None
    private val pending = mutable.ArrayBuffer.empty[Action]
    val actions = mutable.LinkedHashMap.empty[String, Seq[Action]]
    val badMaterializations = mutable.ArrayBuffer.empty[String]

    def begin(op: String): Unit = synchronized { current = Some(op); pending.clear() }
    def end(op: String): Unit = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      synchronized { actions(op) = pending.toSeq; current = None }
    }
    def materialized(df: DataFrame): Unit =
      if (Audit.prunable(df.queryExecution.optimizedPlan))
        synchronized { badMaterializations += current.getOrElse("?") }

    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      synchronized {
        if (current.isDefined) pending += Action(func, Audit.prunable(qe.optimizedPlan))
      }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Operations without a full materialization. */
    def unmaterialized: Seq[String] = actions.collect {
      case (op, as) if !as.exists(a => a.func != "count" && !a.prunable) => op
    }.toSeq
  }

  /** Run `body` on a fresh session with every operation recorded. */
  private def audit(name: String)(body: Ctx => Unit): Recording = {
    val dir = new File(work, name)
    val spark = Main.session(dir)
    val rec = new Recording(spark)
    try {
      val ctx = new Ctx(spark, Trace.setup(spark), new Recorder, dir)
      spark.listenerManager.register(rec)
      Audit.observer = Some(rec)
      try body(ctx)
      finally { Audit.observer = None; spark.listenerManager.unregister(rec) }
      assert(ctx.rec.failed == 0, ctx.rec.failures.mkString("; "))
      rec
    } finally spark.stop()
  }

  /** Set-up, warm-up and one iteration, all recorded. */
  private def auditWorkload(wl: Workload): Recording = audit(wl.name) { ctx =>
    wl.generate(1, new File(ctx.work, "input"))
    wl.setup(ctx)
    wl.warmup(ctx)
    assert(wl.iteration(ctx))
  }

  private def assertMaterialized(rec: Recording): Unit = {
    assert(rec.actions.nonEmpty)
    assert(rec.unmaterialized.isEmpty, s"operations ending in a prunable action: ${rec.unmaterialized}")
    assert(rec.badMaterializations.isEmpty, s"prunable materializations in ${rec.badMaterializations}")
  }

  test("the prunable rule flags a row count and passes a full read") {
    val spark = Main.session(new File(work, "rule"))
    try {
      val p = new File(work, "rule/t.parquet").getPath
      spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(p)
      val df = spark.read.parquet(p)
      assert(Audit.prunable(df.groupBy().count().queryExecution.optimizedPlan))
      assert(Audit.prunable(df.select().queryExecution.optimizedPlan))
      assert(!Audit.prunable(df.queryExecution.optimizedPlan))
      assert(!Audit.prunable(df.groupBy("v").count().queryExecution.optimizedPlan))
    } finally spark.stop()
  }

  test("an operation that ends in count() is reported") {
    val rec = audit("probe") { ctx =>
      ctx.op(Kind.Read, "probe", "bare count") {
        ctx.spark.read.parquet(new File(work, "rule/t.parquet").getPath).count()
      }(_ => None)
    }
    assert(rec.unmaterialized == Seq("bare count"))
  }

  test("medallion_csv operations fully materialize their results") {
    assertMaterialized(auditWorkload(new Medallion(rows = 4000, warmRows = 500)))
  }

  test("cdc_merge operations fully materialize their results") {
    assertMaterialized(auditWorkload(new CdcMerge(keys = 2000, batches = 10)))
  }

  test("curation_dedup operations fully materialize their results") {
    assertMaterialized(auditWorkload(new CurationDedup(nDocs = 600, warmDocs = 100)))
  }
}

object NoPrunedCountSpec {
  final case class Action(func: String, prunable: Boolean)
}
