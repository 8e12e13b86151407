package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What a workload shares with the harness. */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long, val work: Path,
    val src: Path) {
  def span[A](name: String, layer: String)(body: => A): A = probe.span(name, layer)(body)
}

/** One closed-loop workload with a single client: each op starts when the
  * previous one returns.
  */
trait Workload {
  /** The warm-up that ends set-up: generates a few thousand rows under
    * `dir` and runs every op kind of the workload on them once.
    */
  def warmup(spark: SparkSession, dir: Path): Unit
  /** Generates the measured inputs from the seed (not timed). */
  def prepare(c: Ctx): Unit
  /** Runs cycle `k`: one write-side op and the reads that follow it. */
  def cycle(c: Ctx, k: Int): Unit
  /** Final output checks and measurements after the window closes. */
  def finish(c: Ctx): Unit
  /** Stored bytes per byte of a freshly compacted copy. */
  def spaceAmp: Double
  /** Cycles in one pass of the workload's op pattern. A run holds at least
    * one pass, and the end-to-end metrics are measured over whole passes,
    * so every run weighs the same op mix.
    */
  def passCycles: Int
  /** Generator dials and input sizes for the result stamp. */
  def dials: Map[String, Any]
  /** Per-layer metrics this workload owns (traced runs). */
  def layerMetrics(c: Ctx, m: Metrics): Unit = ()
}

/** Entry point of the lake benchmark; `perfbench/run.py` builds and runs it.
  *
  * {{{
  *   Main --workload etl_flip --seed 1 --seconds 10 --trace 0 \
  *        --work <scratch dir> --out <result.json> --launched-ms <epoch ms> \
  *        --src <the program's src/main/scala, to name call sites>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val launchedMs = a("launched-ms").toLong
    val w: Workload = name match {
      case "etl_flip" => new EtlFlip
      case "lake_upsert" => new LakeUpsert
      case "corpus_shards" => new CorpusShards
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up, timed once and cold: JVM start + GraftSession + warm-up
    def log(msg: String): Unit = System.err.println(f"[perfbench] ${System.currentTimeMillis() - launchedMs}%7d ms $msg")
    log("setup")
    val jvmS = math.max(0L, System.currentTimeMillis() - launchedMs) / 1e3
    val t0 = System.nanoTime()
    val spark = GraftSession.get("perfbench")
    val t1 = System.nanoTime()
    w.warmup(spark, work.resolve("warmup"))
    val t2 = System.nanoTime()
    val sessionS = (t1 - t0) / 1e9
    val warmS = (t2 - t1) / 1e9
    val setupS = jvmS + sessionS + warmS

    val probe = new Probe(traced)
    probe.attach(spark)
    val c = new Ctx(spark, probe, seed, work.resolve("run"), Paths.get(a("src")))
    val tPrep = System.nanoTime()
    log("prepare")
    w.prepare(c)
    log("measure")
    val cpu0 = Main.cpuTicks()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var k = 0
    // the cycle in flight at the deadline completes, and so does a first pass
    while (System.nanoTime() < deadline || k < w.passCycles) { probe.cycle = k; w.cycle(c, k); k += 1 }
    val windowS = (System.nanoTime() - start) / 1e9
    val cpu1 = Main.cpuTicks()
    // share of the host's CPU time the hypervisor gave to other guests
    val stealFrac = (cpu1._1 - cpu0._1).toDouble / math.max(cpu1._2 - cpu0._2, 1L)
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val tFin = System.nanoTime()
    log("finish")
    w.finish(c)
    probe.drain()
    val finishS = (System.nanoTime() - tFin) / 1e9
    // let the context cleaner drop what the last ops released, then collect
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val m = new Metrics(probe, spark.sparkContext.defaultParallelism)
    val passes = k / w.passCycles * w.passCycles
    m.endToEnd(setupS, passes, w.spaceAmp, heapMb)
    m.put("setup.session_s", sessionS, "s")
    m.put("setup.warmup_s", warmS, "s")
    if (traced) {
      m.layers()
      m.put("lake.retained_storage_mb", storageMb, "MB")
      w.layerMetrics(c, m)
    }

    val ops = probe.ops
    val failures = ops.filterNot(_.ok).map(o => s"${o.name}#${o.id}: ${o.error}")
    // the ops behind each percentile: those of the whole passes
    val writes = ops.count(o => o.kind == "write" && o.cycle < passes)
    val reads = ops.count(o => o.kind == "read" && o.cycle < passes)
    val result = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "attempted" -> ops.size, "failed" -> failures.size, "failures" -> failures.take(20).toSeq,
      "metrics" -> m.values,
      "stamp" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.version"),
        "seed" -> seed, "run_seconds" -> seconds, "window_s" -> windowS,
        "prepare_s" -> (start - tPrep) / 1e9, "finish_s" -> finishS,
        "cycles" -> k, "pass_cycles" -> passes, "write_ops" -> writes, "read_ops" -> reads, "cpu_steal_frac" -> stealFrac,
        "write_tail_pct" -> Stats.tailRank(writes), "read_tail_pct" -> Stats.tailRank(reads),
        "setup_jvm_s" -> jvmS, "workload_dials" -> w.dials),
      "counts" -> (if (traced) m.opCounts else Seq.empty),
      "ops" -> ops.map(o => Seq(o.name, o.kind, o.cycle, o.seconds, o.ok)),
      "extra" -> (w match { case cs: CorpusShards => cs.oracleChecks; case _ => Map.empty[String, Any] }))
    Files.write(Paths.get(a("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(work.resolve("spans.jsonl"), probe.spans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    log("stop")
    spark.stop()
    log("done")
    // the program's non-daemon threads would keep the JVM alive for seconds
    sys.exit(0)
  }

  /** (steal, total) CPU ticks from /proc/stat; zeros where it does not exist. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case (a, b) => apply(Seq(a, b))
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= "\\u%04x".format(ch.toInt)
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
}
