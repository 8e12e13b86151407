package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.io.{Sinks, Sources}
import graft.query.QueryRunner

/** The LLM-data flagship: `q272_crawl_to_shards` (all nine stages) and its
  * daily-advance twin `q279_crawl_advance`, alternating, each run through
  * `SparkEntry.queries` on a seed-drawn `documents` fixture and written as
  * a shard manifest, which two serving reads then read back. Outputs are
  * checked against the queries' DuckDB oracle by `run.py`.
  */
final class CorpusShards extends Workload {
  val docs = 400
  val queries = Seq("q272_crawl_to_shards", "q279_crawl_advance")

  private var fixture: Path = null
  private var fixtureBytes = 0L
  var spaceAmp = 0.0
  private val outputs = mutable.ArrayBuffer.empty[Path]
  /** Distinct read-back renderings per query and read, with the ops that produced them. */
  private val seen = mutable.LinkedHashMap.empty[(String, String, String), mutable.ArrayBuffer[Int]]

  def warmup(spark: SparkSession, dir: Path): Unit = {
    Gen.documents(spark, Gen.rng(0, 31), 100, dir.resolve("docs").resolve("documents.parquet"))
    queries.foreach(warmRun(spark, dir, _))
  }

  private def warmRun(spark: SparkSession, dir: Path, q: String): Unit = {
    val out = dir.resolve(s"out_$q").toString
    Sinks.parquet(SparkEntry.queries(q)(spark, dir.resolve("docs").toString), out)
    QueryRunner.register(Sources.parquet(spark, out), "manifest")
    QueryRunner.run(spark, "SELECT * FROM manifest").collect()
  }

  def prepare(c: Ctx): Unit = {
    fixture = c.work.resolve("docs")
    fixtureBytes = Gen.documents(c.spark, Gen.rng(c.seed, 3), docs, fixture.resolve("documents.parquet"))
  }

  private def render(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).sorted.mkString("\n")

  /** The serving reads after each run, by name; `run.py` replays them on the oracle. */
  val reads = Seq(
    "select_all" -> "SELECT * FROM manifest",
    "select_filtered" -> "SELECT shard, n_docs, total_tokens FROM manifest WHERE shard % 2 = 0",
    "select_first" -> "SELECT first_id, last_id FROM manifest WHERE shard = 0")

  def cycle(c: Ctx, k: Int): Unit = {
    val q = queries(k % queries.size)
    val out = c.work.resolve(s"out/r$k")
    c.probe.op("write", q) { o =>
      c.span(q, "operators")(Sinks.parquet(SparkEntry.queries(q)(c.spark, fixture.toString), out.toString))
      o.rowsIn = docs
      o.bytesIn = fixtureBytes
    }.foreach { _ =>
      val o = c.probe.ops.last
      o.bytesOut = Gen.dirBytes(out)
      outputs += out
    }
    if (!Files.exists(out)) return
    for ((name, sql) <- reads) {
      c.probe.op("read", name) { o =>
        val df = c.span("Sources.read", "io")(Sources.parquet(c.spark, out.toString))
        c.span("QueryRunner.register", "query")(QueryRunner.register(df, "manifest"))
        val rows = c.span("QueryRunner.run", "query")(QueryRunner.run(c.spark, sql).collect())
        o.rowsOut = rows.length
        rows
      }.foreach(rows => seen.getOrElseUpdate((q, name, render(rows)), mutable.ArrayBuffer.empty) +=
        c.probe.ops.last.id)
    }
  }

  def finish(c: Ctx): Unit = {
    val ratios = outputs.take(4).map { out =>
      val before = Gen.dirBytes(out)
      Sinks.compact(c.spark, out.toString, "parquet")
      before.toDouble / math.max(Gen.dirBytes(out), 1L)
    }
    spaceAmp = if (ratios.isEmpty) 0.0 else Stats.median(ratios.toSeq)
    queries.foreach(q => Files.write(c.work.resolve(s"oracle_$q.sql"),
      SparkEntry.oracleSql(q).getBytes(StandardCharsets.UTF_8)))
  }

  /** What `run.py` checks against DuckDB: the fixture, each query's oracle
    * SQL, and every distinct read-back with the ops that returned it.
    */
  def oracleChecks: Map[String, Any] = Map(
    "fixture" -> fixture.resolve("documents.parquet").toString,
    "reads" -> reads.toMap,
    "outputs" -> seen.toSeq.map { case ((q, read, text), ops) =>
      Map("query" -> q, "read" -> read, "rows" -> text, "ops" -> ops.toSeq)
    })

  val passCycles = queries.size

  def dials: Map[String, Any] = Map("documents" -> docs, "fixture_bytes" -> fixtureBytes,
    "near_dup_share" -> 0.05)

  /** Task time of the flagship runs per flagship stage. A Spark stage is
    * attributed by the barrier it materializes (a localCheckpoint whose
    * parent RDDs run in the same stage): the barrier's call site names a
    * source line, and the `val` it assigns or the operator `def` it sits in
    * names the flagship stage. Everything else is unattributed.
    */
  override def layerMetrics(c: Ctx, m: Metrics): Unit = {
    val runs = math.max(c.probe.ops.count(_.kind == "write"), 1)
    val writeSpans = c.probe.spans.filter(s => c.probe.ops(s.op).kind == "write").map(_.id).toSet
    val sites = new CallSites(c.src)
    val byStage = mutable.LinkedHashMap(CorpusShards.stageNames.map(_ -> 0L): _*)
    var unattributed = 0L
    c.probe.stages.filter(st => writeSpans(st.span)).foreach { st =>
      val ids = st.rdds.map(_.id).toSet
      val built = st.rdds.filter(r => r.callSite.startsWith("localCheckpoint at ") && r.parents.exists(ids))
      built.sortBy(-_.id).headOption.flatMap(r => sites.stage(r.callSite)) match {
        case Some(s) => byStage(s) += st.taskMs
        case None => unattributed += st.taskMs
      }
    }
    byStage.foreach { case (s, ms) => m.put(s"operators.stage_task_s.$s", ms / 1e3 / runs, "s") }
    m.put("operators.unattributed_task_s", unattributed / 1e3 / runs, "s")
  }
}

object CorpusShards {
  val stageNames = Seq("extract_repair", "c4", "gopher", "simhash_dedup", "decontam", "pii", "mix", "shards")

  /** Flagship stage by the name of the frame a barrier is assigned to or
    * built in, first match wins.
    */
  val byName: Seq[(String, String)] = Seq(
    "flat" -> "c4", "surv" -> "gopher", "fps" -> "simhash_dedup", "deduped" -> "simhash_dedup",
    "benchStore" -> "decontam", "scrubbed" -> "pii", "ledger" -> "pii",
    "extractText" -> "extract_repair", "Mojibake" -> "extract_repair", "c4Clean" -> "c4",
    "gopher" -> "gopher", "simHash" -> "simhash_dedup", "NearDups" -> "simhash_dedup",
    "decontaminate" -> "decontam", "heldOutShingles" -> "decontam", "redactPii" -> "pii",
    "temperature" -> "mix", "shard" -> "shards")
}

/** Resolves "localCheckpoint at File.scala:123" call sites against the
  * program's sources to a flagship stage name.
  */
final class CallSites(src: Path) {
  private lazy val files: Map[String, Path] =
    Files.walk(src).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> p).toMap
  private val lines = mutable.HashMap.empty[Path, IndexedSeq[String]]
  private val Site = """\S+ at (\S+\.scala):(\d+)""".r
  private val ValDef = """^\s*(?:lazy\s+)?val\s+(\w+)\s*=.*""".r
  private val TopDef = """^  (?:\w+\s+)*def\s+(\w+).*""".r

  def stage(callSite: String): Option[String] = callSite match {
    case Site(file, line) =>
      files.get(file).flatMap { p =>
        val text = lines.getOrElseUpdate(p, Files.readAllLines(p).asScala.toIndexedSeq)
        val above = (line.toInt - 1 to math.max(0, line.toInt - 80) by -1).filter(text.indices.contains).map(text)
        val names = above.collectFirst { case ValDef(n) => n }.toSeq ++ above.collectFirst { case TopDef(n) => n }
        names.iterator.flatMap(n => CorpusShards.byName.collectFirst { case (k, s) if n.contains(k) => s }).nextOption()
      }
    case _ => None
  }
}
