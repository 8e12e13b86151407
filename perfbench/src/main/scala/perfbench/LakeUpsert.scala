package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.Sources
import graft.lake.{FileEntry, VersionedTable}
import graft.query.QueryRunner

/** Writes beside reads in one layer: seeded daily batches upserted into one
  * `VersionedTable` (zone-map stats on `day`, a bloom on `sku`)
  * through `append`, `merge` and `upsertIfNew`, each commit followed by five
  * serving reads: point reads (`readEquals`), a key range (`readRange`)
  * and a day range (`readRangeOn`), or once per block a full-scan SQL
  * aggregate over `read`. The table starts at 128 files with narrow key
  * and day zones (one append, range-clustered on the key). Recent upserts
  * rewrite a few files and carry the rest; the uniform upsert in each
  * block of six commits touches nearly every file and leaves a few wide
  * ones, so `compactByRange` follows it and restores 128 clustered files.
  * `vacuum` runs once, at the end: a second `vacuum` on a table whose
  * manifests an earlier one deleted throws (it re-reads every version
  * below the retained ones), so periodic vacuuming would fail every run.
  * An independent in-memory model holds the latest-wins state of every
  * batch and checks every read.
  */
final class LakeUpsert extends Workload {
  val preloadRows = 160000
  val preloadFiles = 128
  /** Preloaded keys per generated day, so a preload file spans about one day. */
  val rowsPerDay = 1250
  val batchSizes = Seq(1000, 2000, 3000)
  val compactFiles = 128
  val retainVersions = 3
  /** Bloom size for files of about a thousand rows (~1% false positives). */
  val bloomBits = 1 << 14

  private val model = mutable.LongMap.empty[Gen.Rec]
  private var table: VersionedTable = null
  private var nextId = 0L
  private var lastDay = 0
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]
  private val batchLog = mutable.ArrayBuffer.empty[Map[String, Any]]

  // commit-side measurements for the traced report
  private val commitS, commitJobs, rewritten, carried, useful, rewrittenRows, commitMb =
    mutable.ArrayBuffer.empty[Double]
  private val compactS, compactMb, vacuumS, manifestS, scannedPerRead, pruneFrac =
    mutable.ArrayBuffer.empty[Double]

  private def open(root: Path): VersionedTable =
    VersionedTable(root.toString, "id", Seq("day"), Seq("sku"), bloomBits)

  private def fileBytes(f: FileEntry): Long = Files.size(Paths.get(new java.net.URI(f.path)))
  private def manifestBytes(root: String, v: Int): Long =
    Files.size(Paths.get(root, "_log", f"v$v%05d.json"))
  private def liveFiles: Seq[FileEntry] =
    if (table.currentVersion() == 0) Seq.empty else table.snapshot(table.currentVersion()).files

  /** Lands a batch as parquet; returns its path and bytes. */
  private def stage(spark: SparkSession, dir: Path, id: Long, rows: Seq[Gen.Rec]): (String, Long) = {
    val p = dir.resolve(s"b$id")
    (p.toString, Gen.writeParquet(spark, Gen.lakeSchema, rows.map(Gen.toRow), p))
  }

  def warmup(spark: SparkSession, dir: Path): Unit = {
    val r = Gen.rng(0, 21)
    val Seq((first, _), (second, rows)) = Seq(Gen.batch(r, 0, 0, 3000, 0, recent = true, 0),
      Gen.batch(r, 1, 3000, 500, 500, recent = false, 0)).zipWithIndex.map { case (rows, i) =>
      stage(spark, dir.resolve("staging"), -1 - i, rows)._1 -> rows
    }
    val t = open(dir.resolve("table"))
    t.append(Sources.parquet(spark, first).repartitionByRange(4, col("id")))
    t.merge(Sources.parquet(spark, second))
    t.upsertIfNew(Sources.parquet(spark, second), "feed", 1)
    t.readEquals(spark, "sku", rows.head.sku).collect()
    t.readRange(spark, 100, 200).collect()
    t.readRangeOn(spark, "day", 0, 0).collect()
    QueryRunner.register(t.read(spark), "lake")
    QueryRunner.run(spark, "SELECT category, count(*) AS n, sum(amount) AS s FROM lake GROUP BY category").collect()
    t.compactByRange(spark, 4)
    t.vacuum(1)
    t.tableCount()
  }

  /** Preloads the table (not timed): one append of `preloadRows` keys,
    * dated `rowsPerDay` keys to a day, clustered by key into `preloadFiles`
    * files.
    */
  def prepare(c: Ctx): Unit = {
    val r = Gen.rng(c.seed, 2)
    table = open(c.work.resolve("table"))
    val rows = Gen.batch(r, 0, 0, preloadRows, 0, recent = true, 0)
      .map(x => x.copy(day = (x.id / rowsPerDay).toInt))
    val (p, _) = stage(c.spark, c.work.resolve("staging"), -1, rows)
    table.append(Sources.parquet(c.spark, p).repartitionByRange(preloadFiles, col("id")))
    apply(rows)
  }

  private def apply(rows: Seq[Gen.Rec]): Unit = rows.foreach { x =>
    model(x.id) = x
    nextId = math.max(nextId, x.id + 1)
    lastDay = math.max(lastDay, x.day)
  }

  /** One block of commits (op, recent keys?). Recent-key upserts dominate,
    * as in daily feeds; the uniform one touches nearly every file and is
    * followed by a compaction.
    */
  private val plan = Seq("append" -> true, "upsertIfNew" -> true, "merge" -> true, "upsertIfNew" -> false,
    "merge" -> true, "upsertIfNew" -> true)

  def cycle(c: Ctx, k: Int): Unit = {
    val r = Gen.rng(c.seed, 2000 + k)
    val (kind, recent) = plan(k % plan.size)
    val size = (batchSizes((k + k / plan.size) % batchSizes.size) * Gen.between(r, 0.95, 1.05)).toInt
    val newShare = if (kind == "append") 1.0 else if (recent) 0.6 else 0.2
    val newRows = (size * newShare).toInt
    val batch = Gen.batch(r, lastDay + 1, nextId, newRows, size - newRows, recent, recentSpan = 3L * size)
    val (path, bytes) = stage(c.spark, c.work.resolve("staging"), k, batch)
    val existing = batch.count(x => model.contains(x.id))
    val before = liveFiles
    val v0 = table.currentVersion()
    val done = c.probe.op("write", kind) { o =>
      val updates = c.span("Sources.parquet", "io")(Sources.parquet(c.spark, path))
      c.span(s"VersionedTable.$kind", "lake") {
        kind match {
          case "append" => table.append(updates)
          case "merge" => table.merge(updates)
          case "upsertIfNew" => table.upsertIfNew(updates, "feed", k.toLong)
        }
      }
      o.rowsIn = batch.size
      o.bytesIn = bytes
    }.isDefined
    if (!done) return
    apply(batch)
    val o = c.probe.ops.last
    val v1 = table.currentVersion()
    if (v1 != v0 + 1) o.fail(s"commit moved the table from version $v0 to $v1")
    else {
      val after = table.snapshot(v1).files
      val keep = after.map(_.path).toSet
      val gone = before.filterNot(f => keep(f.path))
      val prev = before.map(_.path).toSet
      val added = after.filterNot(f => prev(f.path))
      val written = added.map(fileBytes).sum + manifestBytes(table.root, v1)
      o.bytesOut = written
      commitS += o.seconds
      rewritten += gone.size
      carried += (before.size - gone.size)
      rewrittenRows += gone.map(_.rows).sum.toDouble
      useful += existing
      commitMb += written / 1048576.0
      batchLog += Map("op" -> kind, "rows" -> batch.size, "recent" -> recent, "bytes" -> bytes,
        "live_files" -> after.size)
    }
    if (c.probe.traced) commitJobs += jobsOf(c, o)
    reads(c, k, r)
    if (!recent) compact(c)
  }

  private def vacuum(c: Ctx): Unit =
    c.probe.op("maint", "vacuum") { _ =>
      c.span("VersionedTable.vacuum", "lake")(table.vacuum(retainVersions))
    }.foreach(_ => vacuumS += c.probe.ops.last.seconds)

  private def jobsOf(c: Ctx, o: Op): Double = {
    c.probe.drain()
    c.probe.spans.filter(_.op == o.id).flatMap(s => c.probe.work.get(s.id)).map(_.jobs).sum.toDouble
  }

  /** `compactByRange` as a write op; records live bytes before over after. */
  private def compact(c: Ctx): Unit = {
    val beforeBytes = liveFiles.map(fileBytes).sum
    val v0 = table.currentVersion()
    c.probe.op("write", "compactByRange") { _ =>
      c.span("VersionedTable.compactByRange", "lake")(table.compactByRange(c.spark, compactFiles))
    }.foreach { _ =>
      val o = c.probe.ops.last
      val after = liveFiles
      val afterBytes = after.map(fileBytes).sum
      o.bytesOut = afterBytes + manifestBytes(table.root, table.currentVersion())
      compactS += o.seconds
      compactMb += o.bytesOut / 1048576.0
      if (table.currentVersion() != v0 + 1) o.fail("compactByRange did not commit")
      if (after.map(_.rows).sum != model.size) o.fail(s"compactByRange kept ${after.map(_.rows).sum} rows, model has ${model.size}")
      if (o.ok) spaceAmps += beforeBytes.toDouble / math.max(afterBytes, 1L)
    }
  }

  private def digest(rows: Iterable[(Long, Int, Double, String, String, String)]): (Long, Long) =
    (rows.size.toLong, rows.foldLeft(0L)((h, t) => h + t.hashCode.toLong * 0x9E3779B97F4A7C15L))

  private def tuple(x: Gen.Rec) = (x.id, x.day, x.amount, x.sku, x.category, x.note)
  private def tuple(r: Row) = (r.getAs[Long]("id"), r.getAs[Int]("day"), r.getAs[Double]("amount"),
    r.getAs[String]("sku"), r.getAs[String]("category"), r.getAs[String]("note"))

  /** The reads after commit `k`: point reads dominate, as in serving
    * traffic; one key range and a day range, or in the last cycle of a
    * block a full scan.
    */
  private def readKinds(k: Int): Seq[String] =
    Seq("readEquals", "readRange", "readEquals",
      if (k % plan.size == plan.size - 1) "sql_aggregate" else "readRangeOn", "readEquals")

  private def reads(c: Ctx, k: Int, r: java.util.SplittableRandom): Unit =
    for (kind <- readKinds(k)) {
      val live = if (c.probe.traced) {
        val t0 = System.nanoTime()
        val n = table.snapshot(table.currentVersion()).files.size
        manifestS += (System.nanoTime() - t0) / 1e9
        n
      } else 0
      kind match {
        case "readEquals" =>
          val sku = model.valuesIterator.drop(r.nextInt(model.size)).next().sku
          check(c, kind, live, table.readEquals(c.spark, "sku", sku), model.values.filter(_.sku == sku))
        case "readRange" =>
          val lo = r.nextLong(nextId)
          val hi = lo + nextId / 200
          check(c, kind, live, table.readRange(c.spark, lo, hi), model.values.filter(x => x.id >= lo && x.id <= hi))
        case "readRangeOn" =>
          val lo = r.nextInt(lastDay + 1)
          val hi = lo + 1
          check(c, kind, live, table.readRangeOn(c.spark, "day", lo, hi),
            model.values.filter(x => x.day >= lo && x.day <= hi))
        case "sql_aggregate" =>
          c.probe.op("read", kind) { o =>
            val df = c.span("VersionedTable.read", "lake")(table.read(c.spark))
            c.span("QueryRunner.register", "query")(QueryRunner.register(df, "lake"))
            val got = c.span("QueryRunner.run", "query") {
              QueryRunner.run(c.spark,
                "SELECT category, count(*) AS n, sum(amount) AS s FROM lake GROUP BY category").collect()
            }
            o.rowsOut = got.length
            got
          }.foreach { got =>
            val want = model.values.groupBy(_.category).map { case (k2, xs) => k2 -> (xs.size.toLong, xs.map(_.amount).sum) }
            val ok = got.length == want.size && got.forall { row =>
              want.get(row.getString(0)).exists { case (n, s) =>
                n == row.getLong(1) && math.abs(s - row.getDouble(2)) <= 1e-9 * math.max(1.0, math.abs(s))
              }
            }
            if (!ok) c.probe.ops.last.fail("aggregate differs from the model")
          }
          if (c.probe.traced) readStats(c, live)
      }
    }

  private def check(c: Ctx, kind: String, live: Int, df: => org.apache.spark.sql.DataFrame,
      want: => Iterable[Gen.Rec]): Unit = {
    c.probe.op("read", kind) { o =>
      val got = c.span(s"VersionedTable.$kind", "lake")(df)
      val rows = c.span("collect", "query")(got.collect())
      o.rowsOut = rows.length
      rows
    }.foreach { rows =>
      if (digest(rows.map(tuple)) != digest(want.map(tuple))) c.probe.ops.last.fail(s"$kind rows differ from the model")
    }
    if (c.probe.traced) readStats(c, live)
  }

  /** Files the last read scanned, from its plans, against the live file count. */
  private def readStats(c: Ctx, live: Int): Unit = {
    c.probe.drain()
    val o = c.probe.ops.last
    val spans = c.probe.spans.filter(_.op == o.id).map(_.id).toSet
    val files = c.probe.execs.filter(e => spans(c.probe.execSpan.getOrElse(e.execId, -1))).map(_.plan.scanFiles).sum
    scannedPerRead += files.toDouble
    pruneFrac += (if (live > 0) 1.0 - files.toDouble / live else 0.0)
  }

  /** The run's one vacuum, then the final state against the model. */
  def finish(c: Ctx): Unit = {
    vacuum(c)
    finalLiveFiles = liveFiles.size
    finalVersions = Files.list(Paths.get(table.root, "_log")).count().toInt
    c.probe.op("final", "final_state") { o =>
      val rows = table.read(c.spark).collect()
      if (digest(rows.map(tuple)) != digest(model.values.map(tuple)))
        o.fail(s"final read (${rows.length} rows) differs from the latest-wins model (${model.size} rows)")
      if (table.tableCount() != model.size) o.fail(s"tableCount ${table.tableCount()} != model ${model.size}")
    }
  }

  private var finalLiveFiles = 0
  private var finalVersions = 0

  def spaceAmp: Double = if (spaceAmps.isEmpty) 0.0 else Stats.median(spaceAmps.toSeq)
  val passCycles = plan.size

  def dials: Map[String, Any] = Map(
    "preload_rows" -> preloadRows, "preload_files" -> preloadFiles,
    "final_rows" -> model.size, "final_live_files" -> finalLiveFiles,
    "versions" -> Option(table).map(_.currentVersion()).getOrElse(0),
    "batches" -> batchLog.toSeq)

  private def avg(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  override def layerMetrics(c: Ctx, m: Metrics): Unit = {
    m.put("lake.commit_s", avg(commitS), "s")
    m.put("lake.commit_jobs", avg(commitJobs), "count")
    m.put("lake.files_rewritten", avg(rewritten), "count")
    m.put("lake.files_carried", avg(carried), "count")
    m.put("lake.rewrite_useful_frac", useful.sum / math.max(rewrittenRows.sum, 1.0), "ratio")
    m.put("lake.commit_mb_written", avg(commitMb), "MB")
    m.put("lake.manifest_s", avg(manifestS), "s")
    m.put("lake.files_scanned_per_read", avg(scannedPerRead), "count")
    m.put("lake.prune_frac", avg(pruneFrac), "ratio")
    m.put("lake.live_files", finalLiveFiles, "count")
    m.put("lake.versions", finalVersions, "count")
    m.put("lake.compact_s", avg(compactS), "s")
    m.put("lake.compact_mb_rewritten", avg(compactMb), "MB")
    m.put("lake.vacuum_s", avg(vacuumS), "s")
  }
}
