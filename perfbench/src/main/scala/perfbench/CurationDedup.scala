package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.operators.{Curation, Dedup, TextOps}
import graft.sources.{GraftTables, Sources}

/** curation_dedup — a corpus of twice the sf0.1 `documents` table, with
  * its vocabulary and lengths, and planted exact copies and near copies,
  * run through the quality scoring (`TextOps.qualityScore`,
  * `Curation.qualityFunnelQuery`) and the dedup stages
  * (`Dedup.exactDedup`, `minHashLsh`, `clusterCollapse`,
  * `ngramJaccard`). One iteration = the scoring three times, each a
  * `read_s` sample, then every dedup stage once, together its `batch_s`
  * sample. It writes no table and runs no stream.
  */
final class CurationDedup(nDocs: Int = 10000, warmDocs: Int = 300) extends Workload {
  val name = "curation_dedup"
  val MinHashT = 0.8
  val NgramT = 0.6
  val ScoreReps = 3

  private final class Input(val dir: String, val corpus: Gen.Corpus) {
    val shingles: IndexedSeq[Set[String]] = corpus.docs.map(d => Gen.shingles(d.text))
    def jac(a: Long, b: Long): Double = Gen.jaccard(shingles(a.toInt), shingles(b.toInt))
    def pairsAbove(t: Double): Set[(Long, Long)] =
      corpus.familyPairs.filter(_._2 >= t).keySet
  }

  private var data: Input = _
  private var warm: Input = _
  private var lastFound = Set.empty[(Long, Long)]
  private var lastVerified = 0

  def inputRows: Long = nDocs.toLong

  private def write(c: Gen.Corpus, root: File): Input = {
    Gen.writeDocuments(c.docs, root, 4)
    new Input(root.getPath, c)
  }

  def generate(seed: Long, dir: File): Unit = {
    data = write(Gen.corpus(seed, nDocs), new File(dir, "main"))
    warm = write(Gen.corpus(seed + 1, warmDocs), new File(dir, "warm"))
  }

  private def pairs(rows: Array[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .toSeq

  /** Every returned pair is ordered, truly above `t` with the reported
    * Jaccard, and every family pair above `t` is returned. */
  private def checkPairs(in: Input, got: Seq[(Long, Long, Double)], t: Double): Option[String] = {
    val bad = got.find { case (a, b, j) =>
      a >= b || in.jac(a, b) < t || math.abs(in.jac(a, b) - j) > 1e-9 }
    val missing = in.pairsAbove(t) -- got.map(p => (p._1, p._2))
    if (bad.nonEmpty) Some(s"pair ${bad.get} has true Jaccard ${in.jac(bad.get._1, bad.get._2)}")
    else if (got.size != got.map(p => (p._1, p._2)).distinct.size) Some("duplicate pairs")
    else if (missing.nonEmpty) Some(s"${missing.size} pairs >= $t missing, e.g. ${missing.head}")
    else None
  }

  private def runOnce(ctx: Ctx, in: Input): Boolean = {
    // The scoring is short beside the dedup stages, so an iteration
    // scores the corpus several times: each is one read_s sample.
    val scored = (0 until ScoreReps).forall { _ =>
      val ok = score(ctx, in)
      ctx.rec.closeSample(Kind.Read)
      ok
    }
    scored && dedup(ctx, in)
  }

  /** Quality score and funnel, checked per document. */
  private def score(ctx: Ctx, in: Input): Boolean = {
    val spark = ctx.spark
    val docs = in.corpus.docs
    def toks(s: String) = s.split(" ", -1)
    val quality = ctx.op(Kind.Read, "textops.quality", "quality score") {
      Materialize.collect(TextOps.qualityScore(spark, in.dir))
    } { rows =>
      if (rows.length != docs.size) Some(s"${rows.length} rows")
      else rows.iterator.map { r =>
        val d = docs(r.getAs[Long]("doc_id").toInt)
        val ws = toks(d.text)
        val stop = ws.count(Gen.StopWords.contains).toDouble / ws.length
        val avg = (d.text.length - (ws.length - 1)).toDouble / ws.length
        if (r.getAs[Int]("n_tokens") != ws.length || r.getAs[Double]("stop_ratio") != stop ||
            r.getAs[Double]("avg_word_len") != avg) Some(s"doc ${d.id}: $r") else None
      }.collectFirst { case Some(e) => e }
    }
    val funnel = quality.flatMap(_ => ctx.op(Kind.Read, "textops.quality", "quality funnel") {
      Materialize.collect(Curation.qualityFunnelQuery(spark, in.dir))
    } { rows =>
      val ws = docs.map(d => toks(d.text))
      val p1 = ws.filter(_.length >= 20)
      val p2 = p1.filter(w => w.count(Gen.StopWords.contains).toDouble / w.length >= 0.02)
      val p3 = p2.filter(w => (w.length - w.distinct.length).toDouble / w.length <= 0.8)
      val want = Seq(("1_min_length", docs.size - p1.size, p1.size),
        ("2_stopword_ratio", p1.size - p2.size, p2.size),
        ("3_repetition", p2.size - p3.size, p3.size))
      val got = rows.map(r => (r.getString(0), r.getLong(1).toInt, r.getLong(2).toInt)).toSeq
      if (got != want) Some(s"got $got want $want") else None
    })
    funnel.isDefined
  }

  /** The four dedup stages, each checked against the planted pairs. */
  private def dedup(ctx: Ctx, in: Input): Boolean = {
    val spark = ctx.spark
    val docs = in.corpus.docs
    val exact = ctx.op(Kind.Batch, "dedup.exact", "exact dedup") {
      val corpus = Sources.scanParquet(spark, s"${in.dir}/documents.parquet")
      Materialize.collect(Dedup.exactDedup(corpus, "doc_id", "text").select("doc_id", "n_copies"))
    } { rows =>
      val want = docs.groupBy(_.text).values.map(g => g.map(_.id).min -> g.size.toLong).toMap
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (rows.length != want.size) Some(s"${rows.length} kept, model keeps ${want.size}")
      else if (got != want) Some("kept ids or copy counts differ")
      else None
    }
    val minhash = exact.flatMap(_ => ctx.op(Kind.Batch, "dedup.minhash", "minhash lsh") {
      pairs(Materialize.collect(Dedup.minHashLsh(spark, in.dir, MinHashT)))
    }(got => checkPairs(in, got, MinHashT)))
    val cluster = minhash.flatMap(_ => ctx.op(Kind.Batch, "dedup.cluster", "cluster collapse") {
      Materialize.collect(Dedup.clusterCollapse(spark, in.dir, MinHashT))
    } { rows =>
      val want = components(in.pairsAbove(MinHashT))
      val got = rows.map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("cluster_size")).toMap
      val diff = (got.toSet diff want.toSet).take(3)
      if (got != want) Some(s"${got.size} clusters, model has ${want.size}: " +
        s"got $diff, model ${(want.toSet diff got.toSet).take(3)}") else None
    })
    val ngram = cluster.flatMap(_ => ctx.op(Kind.Batch, "dedup.ngram", "ngram jaccard") {
      pairs(Materialize.collect(Dedup.ngramJaccard(spark, in.dir, NgramT)))
    }(got => checkPairs(in, got, NgramT)))
    for (m <- minhash; n <- ngram) {
      lastFound = (m ++ n).map(p => (p._1, p._2)).toSet
      lastVerified = m.size
    }
    ngram.isDefined
  }

  /** Connected components of size ≥ 2: canonical (min) id → size. */
  private def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.groupBy(find).map { case (root, ms) => root -> ms.size.toLong }
  }

  def setup(ctx: Ctx): Unit = GraftTables.registerCatalog(ctx.spark)

  /** Every stage on the small corpus, then the short scoring on the
    * main corpus as often as an iteration runs it: its first runs at
    * full size are still compiling. */
  def warmup(ctx: Ctx): Unit =
    if (!runOnce(ctx, warm) || !(0 until ScoreReps).forall(_ => score(ctx, data)))
      sys.error("curation warm-up failed")

  def iteration(ctx: Ctx): Boolean = runOnce(ctx, data)

  /** `quality` is the near-dup recall: planted pairs the dedup stages
    * returned ÷ planted pairs at or above the lowest queried threshold.
    * Nothing is written beyond the corpus, so `space_amp` is 1. */
  def extraMetrics(ctx: Ctx): Map[String, Double] = {
    val planted = data.corpus.planted.filter(_._2 >= NgramT).keySet
    Map("space_amp" -> 1.0,
      "quality" -> planted.count(lastFound).toDouble / math.max(1, planted.size))
  }

  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    // An untimed probe: the candidate set minHashLsh verifies.
    val docs = Sources.scanParquet(ctx.spark, s"${data.dir}/documents.parquet")
    val candidates = Materialize.collect(Dedup.minHashCandidates(docs, MinHashT)).length
    Map("dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_pairs" -> lastVerified.toDouble,
      "dedup.candidate_precision" -> lastVerified.toDouble / math.max(1, candidates))
  }
}
