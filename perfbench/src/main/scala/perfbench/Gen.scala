package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators and the plain-Scala models the checks
  * compare against. The same seed gives byte-identical inputs. The rows
  * are synthesized, so the benchmark reads nothing outside its own
  * checkout, but every value distribution below is taken from the
  * column statistics of the program's sf0.1 `lineitem`, `orders` and
  * `documents` tables (perfbench/README.md lists the figures). The
  * program under test only ever sees the files written here, never the
  * models.
  */
object Gen {

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new FileWriter(f), 1 << 16)
  }

  // ------------------------------------------------------------------
  // medallion_csv: lineitem ⋈ orders rows as all-string CSV files
  // ------------------------------------------------------------------

  val MedallionCols: Seq[String] = Seq("l_orderkey", "l_partkey",
    "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_returnflag", "l_shipdate", "o_orderdate")
  val DriftCol = "l_shipmode"
  val Flags: Seq[(String, String)] =
    Seq("A" -> "accepted", "N" -> "none", "R" -> "returned")

  /** Gold key (flag_name, ship_band, ship_year) → (lines, qty, revenue). */
  type GoldKey = (String, String, Int)
  final class GoldAcc(var n: Long = 0L, var qty: Double = 0.0,
      var revenue: Double = 0.0)

  final case class Medallion(
      csvDir: String, files: Seq[String], driftFile: String,
      rows: Long, gold: Map[GoldKey, (Long, Double, Double)])

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  // sf0.1 `orders`: keys 0..149,999; o_orderdate uniform over
  // 1995-01-01..2001-08-01 at midnight.
  val OrderKeys = 150000
  private val OrderDate0 = LocalDate.of(1995, 1, 1)
  private val OrderDays =
    ChronoUnit.DAYS.between(OrderDate0, LocalDate.of(2001, 8, 1)).toInt + 1
  // sf0.1 `lineitem`: l_shipdate uniform over 1995-01-02..2001-11-04 at
  // midnight, independent of the line's order date (the ship delay
  // spans -2,399..2,496 days); l_orderkey uniform over the order keys,
  // l_partkey 0..19,999, l_suppkey 0..999, l_linenumber 1..7,
  // l_quantity 1..50, l_extendedprice uniform 900..105,000 and
  // independent of the quantity, l_discount a uniform 0..0.10 rounded
  // to cents (so 0.00 and 0.10 have half the weight of the others),
  // l_returnflag A/N/R equally often.
  private val ShipDate0 = LocalDate.of(1995, 1, 2)
  private val ShipDays =
    ChronoUnit.DAYS.between(ShipDate0, LocalDate.of(2001, 11, 4)).toInt + 1
  val PartKeys = 20000
  val SuppKeys = 1000
  private val PriceCents0 = 90000
  private val PriceCentsSpan = 10500000 - PriceCents0

  /** Silver band of a ship delay in hours (the CASE in the silver step). */
  def band(hours: Long): String =
    if (hours < 720) "fast" else if (hours < 1800) "normal" else "slow"

  /** `rows` lineitem rows split over `files` CSV files plus one drifted
    * file that carries an extra column. Every value is written as text,
    * so the program's schema detection decides the types. */
  def medallion(seed: Long, dir: File, rows: Int, files: Int): Medallion = {
    val rnd = new SplittableRandom(seed)
    val orderDay = Array.fill(OrderKeys)(rnd.nextInt(OrderDays))
    val gold = mutable.HashMap.empty[GoldKey, GoldAcc]
    val perFile = rows / (files + 1)
    val sizes = Seq.fill(files)(perFile) :+ (rows - perFile * files)
    val paths = sizes.zipWithIndex.map { case (n, fi) =>
      val drift = fi == files
      val f = if (drift) new File(dir, "drift/part-drift.csv")
              else new File(dir, f"csv/part-$fi%03d.csv")
      val w = writer(f)
      try {
        w.write((if (drift) MedallionCols :+ DriftCol else MedallionCols)
          .mkString(","))
        w.newLine()
        var i = 0
        while (i < n) {
          val ok = rnd.nextInt(OrderKeys)
          val qty = 1 + rnd.nextInt(50)
          val priceCents = PriceCents0 + rnd.nextInt(PriceCentsSpan)
          val discH = math.round(rnd.nextDouble() * 10).toInt
          val flag = Flags(rnd.nextInt(3))._1
          val od = OrderDate0.plusDays(orderDay(ok).toLong)
          val sd = ShipDate0.plusDays(rnd.nextInt(ShipDays).toLong)
          val price = f"${priceCents / 100}%d.${priceCents % 100}%02d"
          val disc = f"0.$discH%02d"
          val fields = Seq(ok.toString, rnd.nextInt(PartKeys).toString,
            rnd.nextInt(SuppKeys).toString, (1 + rnd.nextInt(7)).toString,
            s"$qty.00", price, disc,
            flag, sd.atStartOfDay().format(TsFmt), od.atStartOfDay().format(TsFmt))
          w.write(fields.mkString(","))
          if (drift) {
            w.write(","); w.write(Seq("AIR", "MAIL", "RAIL", "SHIP")(rnd.nextInt(4)))
          }
          w.newLine()
          if (qty >= 5 && discH <= 8) {
            // Same double arithmetic as the silver step:
            // l_extendedprice * (1 - l_discount) on parsed strings.
            val revenue = price.toDouble * (1 - disc.toDouble)
            val key = (Flags.find(_._1 == flag).get._2,
              band(ChronoUnit.DAYS.between(od, sd) * 24), sd.getYear)
            val a = gold.getOrElseUpdate(key, new GoldAcc)
            a.n += 1; a.qty += qty.toDouble; a.revenue += revenue
          }
          i += 1
        }
      } finally w.close()
      f.getAbsolutePath
    }
    Medallion(new File(dir, "csv").getAbsolutePath, paths.init, paths.last,
      rows.toLong,
      gold.map { case (k, a) => k -> (a.n, a.qty, a.revenue) }.toMap)
  }

  // ------------------------------------------------------------------
  // cdc_merge: an orders table plus seeded change batches
  // ------------------------------------------------------------------

  final case class Order(custkey: Long, status: String, cents: Long)
  final case class Change(key: Long, op: String, row: Order)

  final case class Cdc(
      baseFile: String,
      batchFiles: Seq[String],
      /** Table state after each batch (index i = after batch i). */
      states: Seq[Map[Long, Order]],
      /** The key looked up after each batch: one the batch changed. */
      lookups: Seq[Long])

  // sf0.1 `orders`: o_custkey uniform 0..14,999, o_orderstatus F/O/P
  // equally often, o_totalprice uniform 1,000..500,000.
  val Statuses: Seq[String] = Seq("F", "O", "P")
  val CustKeys = 15000
  private val TotalCents0 = 100000L
  private val TotalCentsSpan = 50000000 - 100000

  // The change mix has no source in the testdata, which holds no change
  // log: it is assumed. Each change is an insert of a new key (10%), a
  // delete (10%) or an update (80%) of a live key picked with a cubic
  // skew toward the most recently inserted keys.
  val InsertShare = 0.1
  val DeleteShare = 0.1
  val RecencySkew = 3.0

  /** `keys` base orders and `batches` change files of about `frac` of
    * the keys each. Keys are distinct within a batch, as MERGE
    * requires. */
  def cdc(seed: Long, dir: File, keys: Int, batches: Int,
      frac: Double): Cdc = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    def order(): Order = Order(rnd.nextInt(CustKeys),
      Statuses(rnd.nextInt(3)), TotalCents0 + rnd.nextInt(TotalCentsSpan))
    var state = (0L until keys.toLong).map(k => k -> order()).toMap
    val live = mutable.ArrayBuffer.from(0L until keys.toLong)
    var nextKey = keys.toLong
    val baseFile = new File(dir, "cdc/base.csv")
    writeOrders(baseFile, state.toSeq.sortBy(_._1).map { case (k, o) =>
      Change(k, "upsert", o) })
    val states = Seq.newBuilder[Map[Long, Order]]
    val lookups = Seq.newBuilder[Long]
    val files = (0 until batches).map { b =>
      val n = math.max(1, (keys * frac).toInt)
      val picked = mutable.LinkedHashMap.empty[Long, Change]
      while (picked.size < n) {
        val u = rnd.nextDouble()
        if (u < InsertShare) {
          val k = nextKey; nextKey += 1
          picked(k) = Change(k, "upsert", order())
        } else {
          val idx = live.size - 1 -
            (math.pow(rnd.nextDouble(), RecencySkew) * live.size).toInt
          val k = live(math.max(0, idx))
          if (!picked.contains(k))
            picked(k) = if (u < InsertShare + DeleteShare) Change(k, "delete", null)
                        else Change(k, "upsert", order())
        }
      }
      picked.values.foreach { c =>
        if (c.op == "delete") state -= c.key
        else {
          if (!state.contains(c.key)) live += c.key
          state += c.key -> c.row
        }
      }
      val deleted = picked.values.filter(_.op == "delete").map(_.key).toSet
      if (deleted.nonEmpty) live.filterInPlace(k => !deleted(k))
      states += state
      val cs = picked.values.toIndexedSeq
      lookups += cs(rnd.nextInt(cs.size)).key
      val f = new File(dir, f"cdc/batches/batch-$b%03d.csv")
      writeOrders(f, cs)
      f.getAbsolutePath
    }
    Cdc(baseFile.getAbsolutePath, files, states.result(), lookups.result())
  }

  private def writeOrders(f: File, rows: Seq[Change]): Unit = {
    val w = writer(f)
    try {
      w.write("o_orderkey,o_custkey,o_orderstatus,cents,op"); w.newLine()
      rows.foreach { c =>
        if (c.row == null) w.write(s"${c.key},,,,${c.op}")
        else w.write(s"${c.key},${c.row.custkey},${c.row.status}," +
          s"${c.row.cents},${c.op}")
        w.newLine()
      }
    } finally w.close()
  }

  // ------------------------------------------------------------------
  // curation_dedup: a document corpus with planted duplicates
  // ------------------------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  final case class Corpus(
      docs: IndexedSeq[Doc],
      /** Planted near-dup pairs (doc_a < doc_b) with their true Jaccard. */
      planted: Map[(Long, Long), Double],
      /** Every pair inside a duplicate family with its true Jaccard:
        * the complete set of pairs above 0.5. Unrelated documents share
        * few 3-shingles (of 27,000 possible): in the sf0.1 corpus, which
        * has the same vocabulary and lengths, no unrelated pair
        * reaches a Jaccard of 0.2. */
      familyPairs: Map[(Long, Long), Double])

  /** The program's stop-word list (`TextOps.StopWords`). */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  // sf0.1 `documents`: 30 words drawn uniformly, two of them stop
  // words; 10..100 tokens per document, uniformly; lang en 41%, de 14%,
  // es/fr/zh 15% each; source src0..src19 by doc_id; 0.16% of the
  // documents are exact copies of an earlier one and 4.8% near copies.
  // The testdata's near copies insert one marker word (Jaccard
  // 0.8..0.99); the planted ones here replace tokens instead, so that
  // their Jaccard spans 0.5..0.95 and falls on both sides of the
  // thresholds the dedup stages are queried with.
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val MinTokens = 10
  val MaxTokens = 100
  val Langs: Seq[(String, Int)] =
    Seq("en" -> 41, "de" -> 14, "es" -> 15, "fr" -> 15, "zh" -> 15)
  val Sources = 20
  val ExactCopyPer10k = 16
  val NearCopyPer10k = 480

  /** Distinct word 3-shingles, exactly as the program forms them
    * (split on single spaces, join with '|'). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < k) Set.empty
    else (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString("|")).toSet
  }

  /** Write `docs` as a `documents.parquet` directory of `files` parts,
    * with the sf0.1 `documents` columns. */
  def writeDocuments(docs: Seq[Doc], dir: File, files: Int): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message documents { optional int64 doc_id; optional binary text (STRING);
        |optional binary lang (STRING); optional binary source (STRING);
        |optional int64 n_chars; }""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val conf = new Configuration()
    docs.grouped(math.max(1, (docs.size + files - 1) / files)).zipWithIndex.foreach {
      case (part, i) =>
        val out = new HPath(new File(dir, f"documents.parquet/part-$i%05d.parquet").toURI)
        val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
        try part.foreach { d =>
          w.write(groups.newGroup().append("doc_id", d.id).append("text", d.text)
            .append("lang", d.lang).append("source", d.source)
            .append("n_chars", d.text.length.toLong))
        } finally w.close()
    }
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  /** `n` documents: random originals, exact copies and near copies
    * whose token edits target a Jaccard in 0.5–0.95. */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    def word(): String = Vocab(rnd.nextInt(Vocab.size))
    def lang(): String = {
      var u = rnd.nextInt(Langs.map(_._2).sum)
      Langs.find { case (_, w) => u -= w; u < 0 }.get._1
    }
    val docs = mutable.ArrayBuffer.empty[Doc]
    val familyOf = mutable.HashMap.empty[Long, Long] // doc → family root
    var nearDups = 0
    while (docs.size < n) {
      val id = docs.size.toLong
      val u = rnd.nextInt(10000)
      val src = s"src${id % Sources}"
      if (u < ExactCopyPer10k && docs.size > 10) {
        val orig = docs(rnd.nextInt(docs.size))
        docs += Doc(id, orig.text, orig.lang, src)
        familyOf(id) = familyOf.getOrElse(orig.id, orig.id)
      } else if (u < ExactCopyPer10k + NearCopyPer10k && docs.size > 10) {
        val orig = docs(rnd.nextInt(docs.size))
        val ws = orig.text.split(" ")
        // Replacing a fraction p of tokens keeps roughly (1-p)^3 of the
        // shingles; p in [0.02, 0.16] spans Jaccard ~0.95 down to ~0.5.
        // Stratified over 16 bands so every seed plants the same mix.
        val p = 0.02 + 0.14 * (nearDups % 16 + rnd.nextDouble()) / 16
        nearDups += 1
        val edited = ws.map(w => if (rnd.nextDouble() < p) word() else w)
        docs += Doc(id, edited.mkString(" "), orig.lang, src)
        familyOf(id) = familyOf.getOrElse(orig.id, orig.id)
      } else {
        val len = MinTokens + rnd.nextInt(MaxTokens - MinTokens + 1)
        docs += Doc(id, Seq.fill(len)(word()).mkString(" "), lang(), src)
      }
    }
    val sh = docs.map(d => shingles(d.text))
    val families = familyOf.toSeq.groupBy(_._2).map { case (root, ms) =>
      (root +: ms.map(_._1)).sorted }
    val familyPairs = families.iterator.flatMap { ids =>
      for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator)
        yield (ids(i), ids(j)) -> jaccard(sh(ids(i).toInt), sh(ids(j).toInt))
    }.toMap
    val planted = familyPairs.filter { case (_, jac) => jac >= 0.5 && jac < 1.0 }
    Corpus(docs.toIndexedSeq, planted, familyPairs)
  }
}
