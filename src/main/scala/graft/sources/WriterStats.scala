package graft.sources

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TxnLog

/** THE per-file commit stats implementation: key [min,max], declared
  * column bounds, and per-column (nullCount, KMV sketch). Every stats
  * entry a manifest carries is folded by [[Collector]], row by row —
  * the place Delta (`AddFile.stats`) and Iceberg (`DataFile` value
  * bounds/null counts) collect them too:
  *
  *  - WRITE side: each staging task ([[StagedWrite]], the DSv2 writer
  *    factories) updates a collector with every row as it writes it
  *    and ships the result back in its task result / commit message,
  *    so a commit runs ZERO post-write stats jobs.
  *  - READ-BACK side ([[scan]]): files no write task described (key
  *    bootstraps, `declare_ndv`, a rebase onto a tip that declared new
  *    columns mid-flight) are read once and their rows folded through
  *    the same collector inside the scan tasks.
  *
  * One fold means one set of conventions: the EmptyRange entry for an
  * all-NULL column, no entry for zero-row files, the integral-type
  * refusal for bound columns, the auto-NDV expansion over
  * string/integral schema columns, and sign-flipped xxhash64 bottom-k
  * sketches (Spark's own [[XxHash64Function]], seed 42 — the
  * `xxhash64()` SQL function's exact hash). */
object WriterStats {

  /** The stats a manifest DECLARES — key column, bound columns, NDV
    * columns — which every commit computes for the files it adds. */
  final case class Declared(
      statsKey: Option[String] = None,
      colStatCols: Seq[String] = Seq.empty,
      ndvCols: Seq[String] = Seq.empty)

  object Declared {
    def of(m: TxnLog.Manifest): Declared = Declared(m.statsKey,
      m.colStats.keys.toSeq.sorted, m.ndv.keys.toSeq.sorted)
  }

  /** The per-column stats plan, resolved and VALIDATED on the driver
    * against the file schema before any task runs — serializable,
    * shipped inside the write closure / writer factory / scan.
    * `ndvCols` is the declared NDV set after auto-expansion; the
    * zero-file result ([[assemble]]) is shaped by the declared set. */
  final case class Spec(
      schema: StructType, declared: Declared, ndvCols: Seq[String]) {
    def statsKey: Option[String] = declared.statsKey
    def colStatCols: Seq[String] = declared.colStatCols
    def isEmpty: Boolean =
      statsKey.isEmpty && colStatCols.isEmpty && ndvCols.isEmpty
  }

  /** Build the spec: existence checks, the integral contract for the
    * key and bound columns, and the auto-NDV expansion (declared ++
    * every string/integral schema column, distinct, sorted) gated on
    * `spark.graft.ndv.auto`.
    *
    * INTEGRAL CONTRACT, enforced loudly: manifest bounds compare as
    * BIGINT, and a blind BIGINT cast of anything else is a
    * CORRECTNESS hazard — a TIMESTAMP casts to epoch SECONDS while
    * pushed Catalyst literals compare in micros, and a cast that
    * nulls out non-NULL data would write the EmptyRange entry,
    * pruning every file; the row-level CoW scan plans its rewrite set
    * from these bounds, so a wrong prune silently loses rows.
    * Refusing HERE keeps a bad declaration from reaching a manifest. */
  def spec(
      spark: SparkSession, schema: StructType, declared: Declared,
      ndvAutoMode: Boolean = true): Spec = {
    def integral(what: String, c: String): Unit = {
      val field = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"$what `$c` does not exist in the table schema " +
          schema.fieldNames.mkString("[", ", ", "]")))
      field.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => sys.error(
          s"$what `$c` has non-integral type ${other.simpleString}: " +
            "manifest bounds compare as BIGINT, so only byte/short/" +
            "int/long columns may be declared")
      }
    }
    declared.statsKey.foreach(integral("stats key", _))
    declared.colStatCols.foreach(integral("colStats column", _))
    declared.ndvCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"ndv column `$c` does not exist in the table schema " +
          schema.fieldNames.mkString("[", ", ", "]"))
    }
    val ndvCols =
      if (!ndvAutoMode || !TxnLog.ndvAuto(spark)) declared.ndvCols
      else (declared.ndvCols ++ schema.fields.collect {
        case f if TxnLog.ndvAutoEligible(f.dataType) => f.name
      }).distinct.sorted
    Spec(schema, declared, ndvCols)
  }

  /** A spec for files no write task described, resolved against their
    * own schema (the first footer), auto-NDV off: the declared sets
    * exactly. No files, no footer — and nothing to validate. */
  def footerSpec(spark: SparkSession, table: Path, files: Seq[String],
      declared: Declared): Spec =
    if (files.isEmpty) Spec(new StructType(), declared, declared.ndvCols)
    else spec(spark, graft.util.ParquetSchema.read(spark,
      files.map(f => table.resolve(f).toString)).schema, declared,
      ndvAutoMode = false)

  /** One file's folded stats. `key`/`colBounds` use the manifest's
    * [[TxnLog.EmptyRange]] for an all-NULL column; sketch arrays are
    * the ≤k smallest distinct sign-flipped hashes, sorted ascending.
    * Plain arrays/tuples so the value rides a task result or DSv2
    * commit message unmodified. */
  final case class FileStats(
      key: Option[(Long, Long)],
      colBounds: Array[(Long, Long)],
      ndvNulls: Array[Long],
      ndvSketches: Array[Array[Long]]) {

    /** The stats of the union of two row sets of the SAME file (a
      * file split across read partitions): widest bounds (EmptyRange
      * is the identity), summed null counts, sketch union → k
      * smallest. */
    def merge(o: FileStats): FileStats = {
      def span(a: (Long, Long), b: (Long, Long)) =
        (math.min(a._1, b._1), math.max(a._2, b._2))
      FileStats(
        key.map(span(_, o.key.get)),
        colBounds.zip(o.colBounds).map { case (a, b) => span(a, b) },
        ndvNulls.zip(o.ndvNulls).map { case (a, b) => a + b },
        ndvSketches.zip(o.ndvSketches).map { case (a, b) =>
          (a ++ b).distinct.sorted.take(TxnLog.NdvSketchK)
        })
    }
  }

  /** Per-file stats folder. NOT thread-safe (one per write task, or
    * per file of a scan task; updated inline with each row). */
  final class Collector(spec: Spec) {
    private val k = TxnLog.NdvSketchK

    /** Integral accessor widened to Long — the value semantics of
      * `cast(col, "bigint")` for byte/short/int/long (exact,
      * order-preserving). */
    private def longReader(ord: Int, dt: DataType): InternalRow => Long =
      dt match {
        case ByteType => r => r.getByte(ord).toLong
        case ShortType => r => r.getShort(ord).toLong
        case IntegerType => r => r.getInt(ord).toLong
        case LongType => r => r.getLong(ord)
        case other => sys.error(
          s"stats bounds need an integral column, got ${other.simpleString}")
      }

    private val keyField = spec.statsKey.map { n =>
      val ord = spec.schema.fieldIndex(n)
      (ord, longReader(ord, spec.schema(ord).dataType))
    }
    private val colFields = spec.colStatCols.map { n =>
      val ord = spec.schema.fieldIndex(n)
      (ord, longReader(ord, spec.schema(ord).dataType))
    }.toArray
    private val ndvFields = spec.ndvCols.map { n =>
      val ord = spec.schema.fieldIndex(n)
      (ord, spec.schema(ord).dataType)
    }.toArray

    // Bounds start AT EmptyRange (MaxValue, MinValue): any observed
    // value tightens both ends, and a column that stays all-NULL
    // yields exactly the explicit EmptyRange entry the manifest
    // convention wants (mn <= mx for any real observation, so the
    // sentinel is unreachable by data).
    private var keyMn = Long.MaxValue
    private var keyMx = Long.MinValue
    private val colMn = Array.fill(colFields.length)(Long.MaxValue)
    private val colMx = Array.fill(colFields.length)(Long.MinValue)
    private val nulls = new Array[Long](ndvFields.length)
    private val sketches =
      Array.fill(ndvFields.length)(mutable.TreeSet.empty[Long])

    def update(row: InternalRow): Unit = {
      keyField.foreach { case (ord, read) =>
        if (!row.isNullAt(ord)) {
          val v = read(row)
          if (v < keyMn) keyMn = v
          if (v > keyMx) keyMx = v
        }
      }
      var i = 0
      while (i < colFields.length) {
        val (ord, read) = colFields(i)
        if (!row.isNullAt(ord)) {
          val v = read(row)
          if (v < colMn(i)) colMn(i) = v
          if (v > colMx(i)) colMx(i) = v
        }
        i += 1
      }
      i = 0
      while (i < ndvFields.length) {
        val (ord, dt) = ndvFields(i)
        if (row.isNullAt(ord)) nulls(i) += 1
        else {
          // Spark's own xxhash64 (seed 42) over the INTERNAL value —
          // bit-identical to the `xxhash64(col)` SQL function —
          // sign-flipped so signed order equals unsigned hash order.
          val h = XxHash64Function.hash(row.get(ord, dt), dt, 42L) ^
            Long.MinValue
          val s = sketches(i)
          // Bottom-k distinct insert (the size-k early reject skips
          // values provably not in the bottom k — identical result,
          // no churn).
          if (s.size < k) s += h
          else if (h < s.last) {
            s += h
            if (s.size > k) s -= s.last
          }
        }
        i += 1
      }
    }

    def result(): FileStats = FileStats(
      spec.statsKey.map(_ => (keyMn, keyMx)),
      colMn.indices.map(i => (colMn(i), colMx(i))).toArray,
      nulls.clone(),
      sketches.map(_.toArray))
  }

  /** Assemble per-file results into the manifest-shaped
    * [[TxnLog.CommitStats]]: zero files give declared-set-keyed empty
    * maps, NDV maps are keyed by the expanded set, and files absent
    * from `perFile` (zero-row files) get no entry. */
  def assemble(
      spec: Spec,
      perFile: Seq[(String, FileStats)]): TxnLog.CommitStats = {
    if (perFile.isEmpty)
      return TxnLog.CommitStats(Map.empty,
        spec.colStatCols.map(_ -> Map.empty[String, (Long, Long)]).toMap,
        spec.declared.ndvCols.map(_ -> Map.empty[String, Seq[Long]]).toMap)
    if (spec.isEmpty) return TxnLog.CommitStats.empty
    val key = spec.statsKey.fold(Map.empty[String, (Long, Long)]) { _ =>
      perFile.map { case (rel, fs) => rel -> fs.key.get }.toMap
    }
    val colStats = spec.colStatCols.zipWithIndex.map { case (c, i) =>
      c -> perFile.map { case (rel, fs) => rel -> fs.colBounds(i) }.toMap
    }.toMap
    val ndv = spec.ndvCols.zipWithIndex.map { case (c, i) =>
      c -> perFile.map { case (rel, fs) =>
        rel -> (fs.ndvNulls(i) +: fs.ndvSketches(i).toSeq)
      }.toMap
    }.toMap
    TxnLog.CommitStats(key, colStats, ndv)
  }

  /** Read-back stats of existing (table-relative) `files`: ONE job,
    * no shuffle. The scan projects only the spec's columns plus
    * `input_file_name()` and folds each task's rows through one
    * [[Collector]] per file it meets; the driver merges the per-task
    * results per file ([[FileStats.merge]]), because a file can span
    * several read partitions and a partition can hold several files. */
  def scan(spark: SparkSession, table: Path, files: Seq[String],
      spec: Spec): TxnLog.CommitStats = {
    if (files.isEmpty || spec.isEmpty) return assemble(spec, Seq.empty)
    val cols = (spec.statsKey.toSeq ++ spec.colStatCols ++ spec.ndvCols)
      .distinct
    val rows = spark.read.schema(spec.schema)
      .parquet(files.map(f => table.resolve(f).toString): _*)
      .select(cols.map(col) :+ input_file_name(): _*)
    val local = spec.copy(schema = StructType(cols.map(spec.schema(_))))
    val fileOrd = cols.length
    val perTask = rows.queryExecution.toRdd.mapPartitions { it =>
      val byFile = mutable.HashMap.empty[String, Collector]
      var curName: UTF8String = null
      var cur: Collector = null
      it.foreach { r =>
        val name = r.getUTF8String(fileOrd)
        if (cur == null || name != curName) {
          curName = name.clone()
          cur = byFile.getOrElseUpdate(curName.toString, new Collector(local))
        }
        cur.update(r)
      }
      byFile.iterator.map { case (f, c) => f -> c.result() }
    }.collect()
    assemble(spec, perTask.toSeq.groupMapReduce(_._1)(_._2)(_ merge _)
      .toSeq.map { case (uri, fs) =>
        TxnLog.attributeFile(table, uri, files) -> fs
      })
  }

  /** A commit's stats across rebase attempts: seeded with the
    * write tasks' result under the declaration the write ran with;
    * an attempt against a manifest that declares DIFFERENT sets
    * re-[[scan]]s the staged files under those (once per set). */
  final class Memo(spark: SparkSession, table: Path, files: Seq[String],
      schema: StructType, seeded: Declared, seed: TxnLog.CommitStats) {
    private val bySets = mutable.Map(seeded -> seed)
    def apply(m: TxnLog.Manifest): TxnLog.CommitStats = {
      val d = Declared.of(m)
      bySets.getOrElseUpdate(d,
        scan(spark, table, files, spec(spark, schema, d)))
    }
  }
}
