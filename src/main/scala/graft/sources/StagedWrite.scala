package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.util.SerializableConfiguration

/** Parquet staging where every write TASK reports its (file, rows)
  * back in the job result — the writer-commit-message discipline of
  * Delta (`AddFile.numRecords`) and Iceberg (`DataFile.recordCount`):
  * the commit learns row counts from the tasks that wrote the bytes,
  * so the log can carry exact per-file counts WITHOUT the driver
  * re-opening one parquet footer per new file at commit time (serial,
  * O(new files) driver I/O — at a 100 TB commit staging thousands of
  * files, that re-read is the commit-latency bottleneck) and without
  * a batched count re-SCAN of data just written.
  *
  * Mechanics mirror [[GraftDeltaWriterFactory]]: Spark's own parquet
  * `OutputWriter` (same bytes `df.write.parquet` produces), one file
  * per non-empty partition, file names unique per task ATTEMPT — a
  * retried/speculative task writes under a fresh name, the failed
  * attempt's orphan is invisible to the commit (only collected
  * results are referenced) and reclaimed by the age-guarded vacuum,
  * the same deal every staged write in this log makes. Empty
  * partitions write nothing, so callers get no zero-row files to
  * filter. */
object StagedWrite {

  /** What a staging write hands its commit: the written files
    * (table-relative, sorted), their row counts, and their stats under
    * the declaration the write ran with — all reported by the write
    * tasks themselves. */
  final case class Staged(
      files: Seq[String], rows: Map[String, Long],
      stats: graft.operators.TxnLog.CommitStats)

  /** Write `physical` under `root/subdir`, one parquet per non-empty
    * partition. Each task folds the `declared` commit stats over the
    * rows as it writes them ([[WriterStats.Collector]]) and ships
    * them back alongside its (file, rows) pair — so the commit needs
    * ZERO post-write stats jobs over the staged bytes. */
  def parquet(physical: DataFrame, root: Path, subdir: String,
      declared: WriterStats.Declared): Staged = {
    val spark = physical.sparkSession
    val schema = physical.schema
    val spec = WriterStats.spec(spark, schema, declared)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      schema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    val conf = new SerializableConfiguration(job.getConfiguration)
    Files.createDirectories(root.resolve(subdir))
    val rootUri = root.toUri.toString
    // An empty spec collects nothing per row — the row loop stays the
    // bare write.
    val collect = !spec.isEmpty
    val rdd = physical.queryExecution.toRdd
    val written = rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val attempt = TaskContext.get().taskAttemptId()
        val ctx = new TaskAttemptContextImpl(conf.value,
          new TaskAttemptID("graft", 0, TaskType.MAP, pid, 0))
        val rel = s"$subdir/part-$pid-a$attempt" +
          owf.getFileExtension(ctx)
        val out = owf.newInstance(s"$rootUri/$rel", schema, ctx)
        val collector = Option.when(collect)(new WriterStats.Collector(spec))
        var n = 0L
        try rows.foreach { r =>
          out.write(r)
          collector.foreach(_.update(r))
          n += 1
        }
        finally out.close()
        Iterator.single((rel, n, collector.map(_.result())))
      }
    }.collect().toSeq.sortBy(_._1)
    Staged(written.map(_._1), written.map(w => w._1 -> w._2).toMap,
      WriterStats.assemble(spec,
        written.flatMap { case (rel, _, fs) => fs.map(rel -> _) }))
  }
}
