package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every draw comes from a SplittableRandom whose
  * seed mixes the run seed with a fixed salt per stream, so one seed always
  * gives the same inputs (file contents byte for byte) and the program only
  * ever sees the generated files.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Uniform draw in [lo, hi). */
  def between(r: SplittableRandom, lo: Double, hi: Double): Double = lo + r.nextDouble() * (hi - lo)

  /** A directory holding exactly one parquet file written from `rows`. */
  def writeParquet(spark: SparkSession, schema: StructType, rows: Seq[Row], dir: Path): Long = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + "_tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.option("compression", "snappy").mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(dir)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, dir.resolve("part-0.parquet"))
    rmtree(tmp)
    Files.size(dir.resolve("part-0.parquet"))
  }

  def rmtree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(x => Files.isRegularFile(x) && !x.getFileName.toString.startsWith(".") &&
        !x.getFileName.toString.startsWith("_"))
      .map(x => Files.size(x)).sum

  // ------------------------------------------------------------- people

  val peopleCols: Seq[String] =
    Seq("User Id", "First Name", "Last Name", "Email", "Phone", "Date of Birth", "Job Title")
  val peopleSchema: StructType = StructType(peopleCols.map(StructField(_, StringType, nullable = true)))

  private val firsts = Seq("Ada", "Grace", "Alan", "Edsger", "Barbara", "Tim", "Donald", "Frances",
    "John", "Margaret", "Ken", "Radia", "Leslie", "Shafi", "Niklaus", "Adele")
  private val lasts = Seq("Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Lee", "Knuth",
    "Allen", "Backus", "Hamilton", "Thompson", "Perlman", "Lamport", "Goldwasser", "Wirth", "Goldberg")
  val jobs: Seq[String] = Seq("Engineer", "Admiral", "Mathematician", "Professor", "Inventor",
    "Analyst", "Designer", "Manager")
  private val dobLo = LocalDate.parse("1950-01-01").toEpochDay
  private val dobHi = LocalDate.parse("2009-12-31").toEpochDay

  /** What the generator knows about one people input: the profile the
    * program must report, and for each row that survives cleaning its
    * birth date (epoch day) and job index, from which every query's
    * expected row count follows.
    */
  final case class People(
      name: String,
      format: String,
      dir: Path,
      bytes: Long,
      rows: Long,
      dupRows: Long,
      nullCounts: Map[String, Long],
      dupShare: Double,
      phoneNullShare: Double,
      otherNullShare: Double,
      cleanDob: Array[Long],
      cleanJob: Array[Int]) {

    def expected(lo: Long, hi: Long, job: Option[Int] = None): Long =
      cleanDob.indices.count(i => cleanDob(i) >= lo && cleanDob(i) <= hi &&
        job.forall(_ == cleanJob(i))).toLong
  }

  /** One people-shaped input with the reference's columns. Duplicates are
    * exact copies of other rows; Phone-only nulls survive cleaning as
    * "Unknown", nulls in any other column drop the row.
    */
  def people(spark: SparkSession, r: SplittableRandom, name: String, format: String, dir: Path,
      rows: Int, dupShare: Double, phoneNullShare: Double, otherNullShare: Double): People = {
    val nDup = math.round(rows * dupShare).toInt
    val base = (0 until rows - nDup).map { i =>
      val f = firsts(r.nextInt(firsts.size))
      val l = lasts(r.nextInt(lasts.size))
      val row = Array[String](s"$name-$i", f, l, s"${f.toLowerCase}.${l.toLowerCase}$i@x.com",
        "555-%04d".format(r.nextInt(10000)),
        LocalDate.ofEpochDay(dobLo + r.nextLong(dobHi - dobLo + 1)).toString,
        jobs(r.nextInt(jobs.size)))
      if (r.nextDouble() < phoneNullShare) row(4) = null
      if (r.nextDouble() < otherNullShare) row(Seq(1, 2, 3, 5, 6)(r.nextInt(5))) = null
      row
    }
    val all = (base ++ (0 until nDup).map(_ => base(r.nextInt(base.size)).clone())).toArray
    for (i <- all.indices.reverse) { // seeded Fisher-Yates: duplicates land anywhere
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
    }
    // the truth, computed here without Spark
    val keys = all.map(_.toSeq)
    val nullCounts = peopleCols.indices.map(c => peopleCols(c) -> all.count(_(c) == null).toLong).toMap
    val clean = keys.map(k => k.updated(4, Option(k(4)).getOrElse("Unknown")))
      .filter(_.forall(_ != null)).distinct
    Files.createDirectories(dir.getParent)
    val bytes =
      if (format == "csv") {
        Files.createDirectories(dir)
        val body = (peopleCols +: all.toSeq.map(_.toSeq.map(v => if (v == null) "" else v)))
          .map(_.mkString(",")).mkString("", "\n", "\n")
        val f = dir.resolve("part-0.csv")
        Files.write(f, body.getBytes(StandardCharsets.UTF_8))
        Files.size(f)
      } else writeParquet(spark, peopleSchema, all.toSeq.map(a => Row(a.toSeq: _*)), dir)
    People(name, format, dir, bytes, all.length, all.length - keys.distinct.length, nullCounts,
      dupShare, phoneNullShare, otherNullShare,
      clean.map(k => LocalDate.parse(k(5)).toEpochDay).toArray,
      clean.map(k => jobs.indexOf(k(6))).toArray)
  }

  def day(epochDay: Long): String = LocalDate.ofEpochDay(epochDay).toString
  def dobSpan: (Long, Long) = (dobLo, dobHi)

  // --------------------------------------------------------------- lake

  final case class Rec(id: Long, day: Int, amount: Double, sku: String, category: String, note: String)

  val lakeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("day", IntegerType, nullable = false),
    StructField("amount", DoubleType, nullable = false), StructField("sku", StringType, nullable = false),
    StructField("category", StringType, nullable = false), StructField("note", StringType, nullable = false)))

  val categories: Seq[String] = Seq("books", "games", "garden", "kitchen", "music", "sports", "tools", "toys")
  val skuSpace = 20000

  def rec(r: SplittableRandom, id: Long, day: Int): Rec = {
    val note = new String(Array.fill(32)(('a' + r.nextInt(26)).toChar))
    Rec(id, day, math.round(r.nextDouble() * 100000) / 100.0, s"sku-${r.nextInt(skuSpace)}",
      categories(r.nextInt(categories.size)), note)
  }

  def toRow(x: Rec): Row = Row(x.id, x.day, x.amount, x.sku, x.category, x.note)

  /** A daily batch over a table whose keys are [0, nextId): `newRows` rows
    * with fresh keys, `updRows` rows updating existing keys, drawn from the
    * newest `recentSpan` keys (recent) or from all of them (uniform).
    */
  def batch(r: SplittableRandom, day: Int, nextId: Long, newRows: Int, updRows: Int,
      recent: Boolean, recentSpan: Long): Seq[Rec] = {
    val lo = if (recent) math.max(0L, nextId - recentSpan) else 0L
    val upd = Iterator.continually(lo + r.nextLong(math.max(1L, nextId - lo)))
      .distinct.take(math.min(updRows.toLong, nextId - lo).toInt).toSeq
    (upd ++ (nextId until nextId + newRows)).map(k => rec(r, k, day))
  }

  // ---------------------------------------------------------- documents

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** A `documents` table with the shape of the sf0.1 fixture: 10-99 words
    * from a 30-word vocabulary, source = src(doc_id % 20), 40% en and
    * 15% each of zh/es/fr/de, and 5% near-duplicates (another document's
    * text plus " dup"), re-drawn per seed. Returns the parquet file's bytes.
    */
  def documents(spark: SparkSession, r: SplittableRandom, n: Int, dir: Path): Long = {
    val text = Array.tabulate(n)(_ => Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" "))
    val isDup = Array.fill(n)(r.nextDouble() < 0.05)
    val originals = text.indices.filterNot(isDup).toIndexedSeq
    val finalText = text.indices.map(i =>
      if (isDup(i)) text(originals(r.nextInt(originals.size))) + " dup" else text(i))
    val rows = finalText.indices.map { i =>
      Row(i.toLong, finalText(i), langs(r.nextInt(langs.size)), s"src${i % 20}", finalText(i).length.toLong)
    }
    writeParquet(spark, docSchema, rows, dir)
  }

}
