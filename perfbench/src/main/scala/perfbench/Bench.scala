package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What a timed operation counts toward. Within an iteration, the times
  * of the `Batch` operations add up to one `batch_s` sample and those of
  * the `Read` operations to one `read_s` sample, until the workload
  * closes the sample or the iteration ends. `Other` operations count
  * only toward the iteration's time. */
sealed trait Kind
object Kind {
  case object Batch extends Kind
  case object Read extends Kind
  case object Other extends Kind
}

/** Operation outcomes and timings of one benchmark invocation. A wrong
  * or thrown result is counted as failed and its time is dropped. */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  /** Timed seconds of the current iteration's operations. */
  var iterS = 0.0
  private val open = mutable.HashMap.empty[Kind, Double]
  private val closed = mutable.HashMap.empty[Kind, mutable.ArrayBuffer[Double]]
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Timed seconds per span, for the run summary on stderr. */
  val bySpan: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty

  def startIteration(): Unit = { iterS = 0.0; open.clear(); closed.clear() }

  def add(kind: Kind, secs: Double): Unit = {
    iterS += secs
    if (kind != Kind.Other) open(kind) = open.getOrElse(kind, 0.0) + secs
  }

  /** End the current sample of `kind`, if one is open. */
  def closeSample(kind: Kind): Unit =
    open.remove(kind).foreach(v => closed.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v)

  /** The current iteration's samples of `kind`, the open one included. */
  def samples(kind: Kind): Seq[Double] = {
    closeSample(kind)
    closed.get(kind).map(_.toSeq).getOrElse(Nil)
  }

  /** Forget everything recorded so far (after the warm-up). */
  def reset(): Unit = {
    attempted = 0; failed = 0; failures.clear(); bySpan.clear(); startIteration()
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }
}

/** Context of one run of a workload: the session, the tracer (when the
  * iteration is traced) and the outcome recorder. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val rec: Recorder, val work: File) {

  /** Whether the current iteration collects per-layer counters. */
  def traced: Boolean = tracer.enabled

  /** Time `body` as one operation of `kind` inside span `span`, then
    * check its result. Returns the result only when it is correct. */
  def op[A](kind: Kind, span: String, what: String)(body: => A)(
      check: A => Option[String]): Option[A] = {
    rec.attempted += 1
    Audit.observer.foreach(_.begin(what))
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(span)(body))
              catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    Audit.observer.foreach(_.end(what))
    val verdict = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) =>
        try check(a) catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    verdict match {
      case Some(why) =>
        rec.fail(s"$what: ${why.take(300)}"); None
      case None =>
        rec.add(kind, secs)
        rec.bySpan.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += secs
        res.toOption
    }
  }
}

/** How the benchmark itself materializes a timed result: every row and
  * column is collected. The other operations end in the program's own
  * writes. A bare `count()` is never used, as the optimizer may answer
  * it without computing the rows (see NoPrunedCountSpec). */
object Materialize {
  def collect(df: DataFrame): Array[Row] = {
    Audit.observer.foreach(_.materialized(df))
    df.collect()
  }
}

/** Hooks through which the benchmark's tests watch timed operations,
  * and the rule for a plan the optimizer can answer without computing
  * its rows. Unset in benchmark runs. */
object Audit {
  trait Observer {
    def begin(op: String): Unit
    def end(op: String): Unit
    def materialized(df: DataFrame): Unit
  }

  @volatile var observer: Option[Observer] = None

  /** True when `plan` only counts rows: a global aggregate of bare
    * row counts, or a query that outputs no column at all. Such a plan
    * can be answered from file footers or by pruning every column. A
    * write command consumes every row and column of its input. */
  def prunable(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command}
    def rowCountOnly(a: Aggregate): Boolean = a.groupingExpressions.isEmpty &&
      a.aggregateExpressions.forall {
        case Alias(AggregateExpression(Count(cs), _, _, _, _), _) => cs.forall(_.isInstanceOf[Literal])
        case _ => false
      }
    plan match {
      case _: Command => false
      case _ => plan.output.isEmpty || plan.exists {
        case a: Aggregate => rowCountOnly(a)
        case _ => false
      }
    }
  }
}

/** File-tree helpers for the workloads' scratch space. */
object Disk {
  /** Bytes of the regular files under `f` accepted by `keep`. */
  def bytes(f: File, keep: File => Boolean = _ => true): Long =
    if (f.isFile) (if (keep(f)) f.length else 0L)
    else Option(f.listFiles).map(_.map(bytes(_, keep)).sum).getOrElse(0L)

  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** One benchmark workload. */
trait Workload {
  def name: String

  /** Write the seeded inputs under `dir` and build the model. Not timed;
    * runs while the first session starts. */
  def generate(seed: Long, dir: File): Unit

  /** Catalog registration and table bootstrap on a fresh session: with
    * the session start, one set-up. */
  def setup(ctx: Ctx): Unit

  /** The workload's operations once on the small warm-up input, after
    * the last set-up and off the clock, so the first iteration does not
    * pay for class loading and compilation. */
  def warmup(ctx: Ctx): Unit

  /** One iteration: every operation timed and checked. Returns false
    * when it could not complete. */
  def iteration(ctx: Ctx): Boolean

  /** Iterations in one complete pass over the workload. A run makes at
    * least one pass, and a traced pass is compared with an untraced
    * pass over the same inputs. */
  def passIterations: Int = 1

  /** Rows of input one iteration processes (for `rows_per_s`). */
  def inputRows: Long

  /** Checks after the last iteration (e.g. final table = model). */
  def finish(ctx: Ctx): Option[String] = None

  /** End-to-end metrics specific to the workload, measured off the
    * clock after the last iteration: `space_amp` and `quality`. */
  def extraMetrics(ctx: Ctx): Map[String, Double]

  /** Per-layer counters that are not span totals. */
  def layerMetrics(ctx: Ctx): Map[String, Double] = Map.empty

  /** Off the clock after each iteration: reset what the next iteration
    * must find fresh, when the iteration consumed it. */
  def rearm(ctx: Ctx): Unit = ()

  /** Off the clock: return to the state at the start of a pass, so
    * that the next pass repeats the same work. */
  def restart(ctx: Ctx): Unit = ()
}
