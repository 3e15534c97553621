package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxnLog
import graft.sources.{StagedWrite, WriterStats}
import graft.sources.WriterStats.Declared

/** Pins the one per-file stats implementation ([[WriterStats]]) to an
  * independent reference built from Spark built-ins only —
  * `groupBy(input_file_name())` with min/max, a null count, and the
  * sorted distinct sign-flipped xxhash64 values sliced to k — for both
  * of its entry points: the write tasks' fold ([[StagedWrite]]) and
  * the read-back [[WriterStats.scan]]. Covered: the EmptyRange
  * convention for all-NULL columns, the no-entry convention for
  * zero-row files, integral widening, the auto-NDV expansion, the
  * integral refusal, a file split across several read partitions,
  * several files packed into one, and the rebase memo. */
class CommitStatsSpec extends AnyFunSuite with SparkTestBase {

  private def freshTable(): Path = {
    val p = graft.util.Scratch.dir("graft_cstats")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(p)
    p
  }

  /** Two data files with nulls in the value columns + one file whose
    * string column is entirely NULL (EmptyRange arm). */
  private def fixture(): (Path, Seq[String]) = {
    val t = freshTable()
    import spark.implicits._
    val a = Seq((1L, 10, "x"), (2L, 20, "y"), (3L, 30, null: String))
      .toDF("k", "v", "s")
    val b = Seq((40L, 5, "x"), (50L, 7, "z")).toDF("k", "v", "s")
    val c = Seq((60L, 9, null: String), (61L, 11, null: String))
      .toDF("k", "v", "s")
    a.coalesce(1).write.parquet(t.resolve("fa").toString)
    b.coalesce(1).write.parquet(t.resolve("fb").toString)
    c.coalesce(1).write.parquet(t.resolve("fc").toString)
    val files = Seq("fa", "fb", "fc").flatMap(d =>
      TxnLog.parquetsUnder(t, d))
    (t, files)
  }

  /** The write paths' spec (auto-NDV per conf) over the files' own
    * schema, read from a footer without a job. */
  private def specFor(t: Path, files: Seq[String],
      declared: Declared): WriterStats.Spec =
    WriterStats.spec(spark, graft.util.ParquetSchema.read(spark,
      files.map(f => t.resolve(f).toString)).schema, declared)

  private def scan(t: Path, files: Seq[String],
      declared: Declared): TxnLog.CommitStats =
    WriterStats.scan(spark, t, files, specFor(t, files, declared))

  /** The reference: per-file stats of non-empty `files` from Spark
    * built-ins, for exactly the given (already expanded) NDV columns. */
  private def reference(t: Path, files: Seq[String], key: Option[String],
      colCols: Seq[String], ndvCols: Seq[String]): TxnLog.CommitStats = {
    def bounds(c: String) = Seq(
      min(col(c).cast("bigint")), max(col(c).cast("bigint")))
    val aggs = (key.toSeq ++ colCols).flatMap(bounds) ++
      ndvCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)),
        slice(array_sort(array_distinct(collect_list(
          when(col(c).isNotNull,
            xxhash64(col(c)).bitwiseXOR(lit(Long.MinValue)))))),
          1, TxnLog.NdvSketchK)))
    val rows = spark.read.parquet(files.map(f => t.resolve(f).toString): _*)
      .groupBy(input_file_name())
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => TxnLog.attributeFile(t, r.getString(0), files) -> r)
    def range(i: Int) = rows.map { case (rel, r) =>
      rel -> (if (r.isNullAt(i)) TxnLog.EmptyRange
        else (r.getLong(i), r.getLong(i + 1)))
    }.toMap
    val ndvOff = 1 + 2 * (key.size + colCols.size)
    TxnLog.CommitStats(
      if (key.isEmpty) Map.empty else range(1),
      colCols.zipWithIndex.map { case (c, i) =>
        c -> range(1 + 2 * (key.size + i))
      }.toMap,
      ndvCols.zipWithIndex.map { case (c, i) =>
        c -> rows.map { case (rel, r) =>
          rel -> (r.getLong(ndvOff + 2 * i) +:
            r.getSeq[Long](ndvOff + 2 * i + 1))
        }.toMap
      }.toMap)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("scan equals the built-in reference, auto-NDV on") {
    val (t, files) = fixture()
    val got = scan(t, files, Declared(Some("k"), Seq("v"), Seq("s")))
    assert(got == reference(t, files, Some("k"), Seq("v"),
      Seq("k", "s", "v")))
    // Auto mode expanded beyond the declared column (k, v eligible).
    assert(got.ndv.keySet == Set("k", "v", "s"))
  }

  test("scan equals the built-in reference with auto-NDV off") {
    val (t, files) = fixture()
    withConf(TxnLog.NdvAutoConfKey -> "false") {
      val got = scan(t, files, Declared(Some("k"), Seq("v"), Seq("s")))
      assert(got == reference(t, files, Some("k"), Seq("v"), Seq("s")))
      assert(got.ndv.keySet == Set("s"))
    }
  }

  test("all-NULL string file carries EmptyRange-convention ndv and bounds") {
    val (t, files) = fixture()
    val got = scan(t, files, Declared(Some("k"), Seq("v"), Seq("s")))
    val fc = files.find(_.startsWith("fc")).get
    // fc's s column is entirely NULL: nullCount 2, empty sketch tail.
    assert(got.ndv("s")(fc) == Seq(2L))
    // Key/col bounds for fc exist (k, v are non-null there).
    assert(got.key(fc) == (60L, 61L))
    assert(got.colStats("v")(fc) == (9L, 11L))
  }

  test("empty file list and empty declaration sets return empties, no scan") {
    val (t, files) = fixture()
    val noFiles = WriterStats.scan(spark, t, Seq.empty,
      specFor(t, files, Declared(Some("k"), Seq("v"), Seq("s"))))
    assert(noFiles.key.isEmpty)
    assert(noFiles.colStats == Map("v" -> Map.empty))
    assert(noFiles.ndv == Map("s" -> Map.empty))
    withConf(TxnLog.NdvAutoConfKey -> "false") {
      assert(scan(t, files, Declared()) == TxnLog.CommitStats.empty)
    }
  }

  test("non-integral colStats declaration refuses loudly") {
    val (t, files) = fixture()
    val e = intercept[RuntimeException] {
      scan(t, files, Declared(colStatCols = Seq("s")))
    }
    assert(e.getMessage.contains("non-integral"))
    val missing = intercept[RuntimeException] {
      scan(t, files, Declared(colStatCols = Seq("nope")))
    }
    assert(missing.getMessage.contains("does not exist"))
  }

  /** Stage `df` through the write tasks, then assert writer-side ==
    * read-back scan == reference over the exact files it produced. */
  private def assertAllAgree(t: Path, df: DataFrame, declared: Declared,
      ndvCols: Seq[String]): (Seq[String], TxnLog.CommitStats) = {
    val staged = StagedWrite.parquet(df, t, "d0", declared)
    val files = staged.files
    val readBack = scan(t, files, declared)
    assert(staged.stats == readBack)
    assert(readBack == reference(t, files, declared.statsKey,
      declared.colStatCols, ndvCols))
    (files, staged.stats)
  }

  test("writer-side stats equal the read-back scan, auto-NDV on") {
    val t = freshTable()
    // 4 range files; ids >= 75 have NULL v and NULL s, so the last
    // file exercises the all-NULL EmptyRange arm for both families;
    // s has >k distinct values overall so sketches truncate at k.
    val df = spark.range(0, 100)
      .selectExpr(
        "id AS k",
        "CAST(CASE WHEN id >= 75 THEN NULL ELSE id * 3 END AS int) AS v",
        "CASE WHEN id >= 75 THEN NULL ELSE concat('s', id % 41) END AS s",
        "CAST(id % 120 AS byte) AS b",
        "CAST(id * 7 AS short) AS h")
      .repartitionByRange(4, col("k"))
    val (files, stats) = assertAllAgree(t, df,
      Declared(Some("k"), Seq("v", "b", "h"), Seq("s")),
      Seq("b", "h", "k", "s", "v"))
    assert(files.size == 4)
    // Auto expansion reached every string/integral column.
    assert(stats.ndv.keySet == Set("k", "v", "s", "b", "h"))
    // The all-NULL arms actually fired.
    assert(stats.colStats("v").values.toSet.contains(TxnLog.EmptyRange))
    assert(stats.ndv("s").values.exists(_.tail.isEmpty))
  }

  test("writer-side stats: nullable key and auto-NDV off") {
    val t = freshTable()
    withConf(TxnLog.NdvAutoConfKey -> "false") {
      val df = spark.range(0, 40)
        .selectExpr(
          "CAST(CASE WHEN id >= 30 THEN NULL ELSE id END AS bigint) AS k",
          "CAST(id AS int) AS v",
          "concat('x', id % 3) AS s")
        .repartitionByRange(4, expr("id"))
      val (_, stats) = assertAllAgree(t, df,
        Declared(Some("k"), Seq("v"), Seq("s")), Seq("s"))
      // The all-NULL-key file carries the explicit EmptyRange entry.
      assert(stats.key.values.toSet.contains(TxnLog.EmptyRange))
      assert(stats.ndv.keySet == Set("s"))
    }
  }

  test("scan merges a file split across several read partitions") {
    val t = freshTable()
    // One file of many small row groups, read back in ~128 KB splits:
    // each split's task folds a part of the file, the driver merges.
    withConf("parquet.block.size" -> "65536") {
      val df = spark.range(0, 200000).coalesce(1).selectExpr(
        "id AS k", "CAST(id % 997 AS int) AS v",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('s', id % 5003) END AS s")
      withConf("spark.sql.files.maxPartitionBytes" -> "131072") {
        val staged = StagedWrite.parquet(df, t, "split",
          Declared(Some("k"), Seq("v"), Seq("s")))
        assert(staged.files.size == 1)
        val nonEmptySplits = spark.read
          .parquet(t.resolve(staged.files.head).toString).rdd
          .mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
        assert(nonEmptySplits > 1, s"file read as $nonEmptySplits split(s)")
        val readBack = scan(t, staged.files,
          Declared(Some("k"), Seq("v"), Seq("s")))
        assert(readBack == staged.stats)
        assert(readBack == reference(t, staged.files, Some("k"), Seq("v"),
          Seq("k", "s", "v")))
        assert(readBack.ndv("s").values.head.tail.size == TxnLog.NdvSketchK)
      }
    }
  }

  test("scan separates several files packed into one read partition") {
    val t = freshTable()
    val df = spark.range(0, 600).repartitionByRange(6, col("id"))
      .selectExpr("id AS k", "CAST(id % 7 AS int) AS v",
        "concat('s', id % 50) AS s")
    val declared = Declared(Some("k"), Seq("v"), Seq("s"))
    val staged = StagedWrite.parquet(df, t, "packed", declared)
    assert(staged.files.size == 6)
    withConf("spark.sql.files.openCostInBytes" -> "1",
        "spark.sql.files.minPartitionNum" -> "1") {
      val parts = spark.read
        .parquet(staged.files.map(f => t.resolve(f).toString): _*)
        .rdd.getNumPartitions
      assert(parts == 1, s"files read as $parts partitions")
      val readBack = scan(t, staged.files, declared)
      assert(readBack == staged.stats)
      assert(readBack == reference(t, staged.files, Some("k"), Seq("v"),
        Seq("k", "s", "v")))
      assert(readBack.key.size == 6)
    }
  }

  test("rebase memo: the seed serves its own declaration, a changed one re-scans") {
    val t = freshTable()
    val df = spark.range(0, 60).repartitionByRange(3, col("id"))
      .selectExpr("id AS k", "CAST(id % 9 AS int) AS v")
    val seeded = Declared()
    val staged = StagedWrite.parquet(df, t, "m0", seeded)
    val memo = new WriterStats.Memo(spark, t, staged.files, df.schema,
      seeded, staged.stats)
    val snap = TxnLog.Manifest(0L, -1L, "create", staged.files)
    val same = jobsDuring(assert(memo(snap) eq staged.stats))
    assert(same.isEmpty, s"the seeded declaration must not scan: $same")
    // A tip that declared a key and a bound column mid-flight: the
    // staged files' stats are re-scanned under the tip's sets, once.
    val tip = snap.copy(statsKey = Some("k"),
      colStats = Map("v" -> Map.empty[String, (Long, Long)]))
    val rebased = memo(tip)
    assert(rebased == reference(t, staged.files, Some("k"), Seq("v"),
      Seq("k", "v")))
    assert(jobsDuring(assert(memo(tip) eq rebased)).isEmpty)
  }

  test("writer-side spec enforces the integral contract like the scan") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "s")
    val e = intercept[RuntimeException] {
      WriterStats.spec(spark, df.schema, Declared(colStatCols = Seq("s")))
    }
    assert(e.getMessage.contains("non-integral"))
    val key = intercept[RuntimeException] {
      WriterStats.spec(spark, df.schema, Declared(statsKey = Some("s")))
    }
    assert(key.getMessage.contains("non-integral"))
    val missing = intercept[RuntimeException] {
      WriterStats.spec(spark, df.schema, Declared(colStatCols = Seq("nope")))
    }
    assert(missing.getMessage.contains("does not exist"))
  }

  test("a compact commit runs ZERO post-write stats jobs (r22)") {
    val t = freshTable()
    import spark.implicits._
    (1L to 50L).map(i => (i, i * 2)).toDF("k", "v").repartition(3)
      .write.parquet(t.resolve("f0").toString)
    val f0 = TxnLog.parquetsUnder(t, "f0")
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(0L, -1L, "create", f0,
      TxnLog.keyStats(spark, t, f0, "k"), Some("k")))
    val jobs = jobsDuring(TxnLog.compact(spark, t, "c0", nFiles = 1))
    assert(jobs.size == 1,
      s"compact must run exactly the ONE staged-write job (stats ride " +
        s"the write tasks), got ${jobs.size}: ${jobs.mkString("; ")}")
    // And the commit is still fully stats-covered, with auto-NDV.
    val m = TxnLog.tip(t)
    assert(m.files.nonEmpty && m.files.forall(m.stats.contains))
    assert(m.ndv.keySet == Set("k", "v"))
    assert(m.files.forall(f => m.ndv("k").contains(f)))
  }

  test("scan runs ONE job with no shuffle stage") {
    val (t, files) = fixture()
    val spec = specFor(t, files, Declared(Some("k"), Seq("v"), Seq("s")))
    val stages = jobsDuring(WriterStats.scan(spark, t, files, spec))
    assert(stages.size == 1, s"jobs: ${stages.mkString("; ")}")
    assert(stages.head.size == 1,
      s"the scan job must be one stage (no shuffle): ${stages.head}")
  }

  /** The stage names of every job `body` launches, one entry per job. */
  private def jobsDuring(body: => Any): Seq[Seq[String]] = {
    // Drain in-flight listener events from earlier jobs before
    // registering (the async bus would deliver them into the window).
    Thread.sleep(500)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.map(si =>
          si.name + "@" + si.details.linesIterator.take(3).mkString("|")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(500) // let listener events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}
