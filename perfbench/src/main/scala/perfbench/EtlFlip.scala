package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, PipelineResult}
import graft.config.LakeConfig
import graft.io.{Sinks, Sources}
import graft.quality.{Cleaner, Validator}
import graft.query.QueryRunner
import graft.transform.Derive

/** The paper's own traffic: a seeded sequence of `LakeConfig` jobs through
  * `Pipeline.run` over people-shaped CSV and Parquet inputs (so both flip
  * directions run), each followed by three serving reads of the flipped
  * output: the Athena `SELECT *` analogue and two filtered reads.
  *
  * The eight inputs cross duplicate share (low/high), null kind
  * (Phone-only heavy / other-column heavy) and format; each job's
  * `BETWEEN` window cycles through three selectivity strata. Exact values
  * are drawn from the seed, so every seed covers the same strata.
  */
final class EtlFlip extends Workload {
  val rowsPerInput = 10000
  private val inputs = mutable.ArrayBuffer.empty[Gen.People]
  private val outputs = mutable.ArrayBuffer.empty[(Path, String)]
  var spaceAmp = 0.0
  private val selectivity = mutable.ArrayBuffer.empty[Double]

  private def input(spark: SparkSession, r: java.util.SplittableRandom, dir: Path, i: Int, rows: Int): Gen.People = {
    val format = if (i % 2 == 0) "csv" else "parquet"
    val dupShare = if ((i / 2) % 2 == 0) Gen.between(r, 0.01, 0.05) else Gen.between(r, 0.10, 0.20)
    val phoneHeavy = (i / 4) % 2 == 0
    val phone = if (phoneHeavy) Gen.between(r, 0.05, 0.15) else Gen.between(r, 0.0, 0.02)
    val other = if (phoneHeavy) Gen.between(r, 0.0, 0.02) else Gen.between(r, 0.05, 0.15)
    Gen.people(spark, r, s"p$i", format, dir.resolve(s"in$i"), rows, dupShare, phone, other)
  }

  def warmup(spark: SparkSession, dir: Path): Unit = {
    val r = Gen.rng(0, 11)
    (0 until 2).map(i => input(spark, r, dir, i, 1000)).zipWithIndex.foreach { case (p, i) =>
      val out = dir.resolve(s"out$i").toString
      val res = new Pipeline(spark, QuietNotifier).run(
        LakeConfig(p.format, "people", "SELECT * FROM people WHERE `Date of birth` BETWEEN '1970-01-01' AND '1990-12-31'"),
        p.dir.toString, out)
      serve(spark, res.outputFormat, out, None).collect()
      serve(spark, res.outputFormat, out, Some("Engineer")).collect()
    }
  }

  def prepare(c: Ctx): Unit = {
    val r = Gen.rng(c.seed, 1)
    inputs ++= (0 until 8).map(i => input(c.spark, r, c.work.resolve("inputs"), i, rowsPerInput))
  }

  private def serve(spark: SparkSession, fmt: String, out: String, job: Option[String]): DataFrame = {
    QueryRunner.register(Sources.read(spark, fmt, out), "served")
    QueryRunner.run(spark, "SELECT * FROM served" + job.map(j => s" WHERE `Job Title` = '$j'").getOrElse(""))
  }

  def cycle(c: Ctx, k: Int): Unit = {
    val p = inputs(k % inputs.size)
    val r = Gen.rng(c.seed, 1000 + k)
    val (dLo, dHi) = Gen.dobSpan
    val sel = Seq(0.15, 0.45, 0.8)((k + k / inputs.size) % 3) * Gen.between(r, 0.95, 1.05)
    val len = (sel * (dHi - dLo)).toLong
    val lo = dLo + r.nextLong(dHi - dLo - len + 1)
    val hi = lo + len
    selectivity += sel
    val table = s"people_${k % inputs.size}"
    val cfg = LakeConfig(p.format, table,
      s"SELECT * FROM $table WHERE `Date of birth` BETWEEN '${Gen.day(lo)}' AND '${Gen.day(hi)}'")
    val out = c.work.resolve(s"out/j$k")
    var flipped = ""
    c.probe.op("write", "Pipeline.run") { o =>
      val res = if (c.probe.traced) tracedRun(c, cfg, p.dir.toString, out.toString)
        else new Pipeline(c.spark, QuietNotifier).run(cfg, p.dir.toString, out.toString)
      flipped = res.outputFormat
      o.rowsIn = p.rows
      o.bytesIn = p.bytes
      val prof = res.profile
      if (prof.rows != p.rows || prof.dupRows != p.dupRows || prof.cols != Gen.peopleCols.size ||
          prof.nullCounts != p.nullCounts)
        o.fail(s"profile $prof != generated (rows ${p.rows}, dups ${p.dupRows}, nulls ${p.nullCounts})")
    }.foreach { _ =>
      val o = c.probe.ops.last
      if (o.ok) {
        o.bytesOut = Gen.dirBytes(out)
        outputs += out -> flipped
      }
    }
    if (flipped.isEmpty) return
    // the full read and two filtered ones, on different job titles
    val reads = (None -> p.expected(lo, hi)) +: Seq(k, k + 4).map { j =>
      Some(Gen.jobs(j % Gen.jobs.size)) -> p.expected(lo, hi, Some(j % Gen.jobs.size))
    }
    for ((filter, want) <- reads) {
      c.probe.op("read", if (filter.isEmpty) "select_all" else "select_filtered") { o =>
        val rows = c.span("Sources.read", "io")(Sources.read(c.spark, flipped, out.toString))
        c.span("QueryRunner.register", "query")(QueryRunner.register(rows, "served"))
        val got = c.span("QueryRunner.run", "query") {
          QueryRunner.run(c.spark, "SELECT * FROM served" +
            filter.map(j => s" WHERE `Job Title` = '$j'").getOrElse("")).collect()
        }
        o.rowsOut = got.length
        if (got.length != want) o.fail(s"read back ${got.length} rows, expected $want")
      }
    }
  }

  /** `Pipeline.run`'s public calls, made here in the same order, one span each. */
  private def tracedRun(c: Ctx, cfg: LakeConfig, in: String, out: String): PipelineResult =
    c.span("Pipeline.run", "pipeline") {
      val raw = c.span("Sources.read", "io")(Sources.read(c.spark, cfg.fileType, in))
      val profile = c.span("Validator.profile", "quality")(Validator.profile(raw))
      val cleaned = c.span("Cleaner.clean", "quality")(Cleaner.clean(raw))
      c.span("QueryRunner.register", "query")(QueryRunner.register(cleaned, cfg.tableName))
      if (cleaned.columns.exists(_.equalsIgnoreCase("Date of Birth")))
        c.span("Derive.adultsOver", "pipeline")(Derive.adultsOver(Derive.age(cleaned)))
      val result = c.span("QueryRunner.run", "query")(QueryRunner.run(c.spark, cfg.psQuery))
      val fmt = c.span("Sinks.writeFlipped", "io")(Sinks.writeFlipped(result, cfg.fileType, out))
      QuietNotifier.send("Glue Job Success", s"Pipeline wrote $fmt output to $out")
      PipelineResult(profile, result, fmt)
    }

  /** Space amplification of the flipped outputs: bytes as written per byte
    * after `Sinks.compact` rewrites them, median over the first six jobs.
    */
  def finish(c: Ctx): Unit = {
    val ratios = outputs.take(6).map { case (out, fmt) =>
      val before = Gen.dirBytes(out)
      Sinks.compact(c.spark, out.toString, fmt)
      before.toDouble / math.max(Gen.dirBytes(out), 1L)
    }
    spaceAmp = if (ratios.isEmpty) 0.0 else Stats.median(ratios.toSeq)
  }

  val passCycles = 8

  def dials: Map[String, Any] = Map(
    "rows_per_input" -> rowsPerInput,
    "inputs" -> inputs.map(p => Map("format" -> p.format, "rows" -> p.rows, "bytes" -> p.bytes,
      "dup_share" -> p.dupShare, "phone_null_share" -> p.phoneNullShare,
      "other_null_share" -> p.otherNullShare)).toSeq,
    "selectivity" -> selectivity.toSeq)
}

/** Pipeline notifications are dropped: the benchmark reads results, not logs. */
object QuietNotifier extends graft.Notifier {
  def send(subject: String, message: String): Unit = ()
}
