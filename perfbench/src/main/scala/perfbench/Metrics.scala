package perfbench

import scala.collection.mutable

object Metrics {
  /** Per-layer metrics a single workload measures; the others report zero. */
  val owned: Seq[(String, String)] = Seq(
    "lake.commit_s" -> "s", "lake.commit_jobs" -> "count", "lake.files_rewritten" -> "count",
    "lake.files_carried" -> "count", "lake.rewrite_useful_frac" -> "ratio",
    "lake.commit_mb_written" -> "MB", "lake.manifest_s" -> "s", "lake.files_scanned_per_read" -> "count",
    "lake.prune_frac" -> "ratio", "lake.live_files" -> "count", "lake.versions" -> "count",
    "lake.compact_s" -> "s", "lake.compact_mb_rewritten" -> "MB", "lake.vacuum_s" -> "s") ++
    (CorpusShards.stageNames.map(s => s"operators.stage_task_s.$s" -> "s") :+
      ("operators.unattributed_task_s" -> "s"))
}

/** Turns the probe's ops, spans and counters into named metrics. */
final class Metrics(p: Probe, cores: Int) {
  val values = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  def put(name: String, value: Double, unit: String): Unit =
    values(name) = Map("value" -> value, "unit" -> unit)

  private def ops(kind: String): Seq[Op] = p.ops.toSeq.filter(_.kind == kind)
  private def nz(n: Int): Double = math.max(n, 1).toDouble

  /** `passCycles`: the leading cycles that form whole passes of the op
    * pattern. Every timing comes from them, so each run weighs the same op
    * mix whether or not one more cycle fitted in its window.
    */
  def endToEnd(setupS: Double, passCycles: Int, spaceAmp: Double, heapMb: Double): Unit = {
    val pass = p.ops.toSeq.filter(o => o.cycle < passCycles && o.kind != "final")
    val w = pass.filter(_.kind == "write").map(_.seconds)
    val r = pass.filter(_.kind == "read").map(_.seconds)
    val writes = pass.filter(o => o.kind == "write" && o.ok)
    put("setup_s", setupS, "s")
    put("write_p50_s", Stats.median(w), "s")
    // a tail is reported only where it differs in rank from the median
    Stats.tailRank(w.size).foreach(q => put("write_tail_s", Stats.pct(w, q), "s"))
    put("read_p50_s", Stats.median(r), "s")
    Stats.tailRank(r.size).foreach(q => put("read_tail_s", Stats.pct(r, q), "s"))
    put("rows_per_s", writes.map(_.rowsIn).sum / math.max(pass.map(_.seconds).sum, 1e-9), "rows/s")
    put("write_amp", writes.map(_.bytesOut).sum.toDouble / math.max(writes.map(_.bytesIn).sum, 1L), "ratio")
    put("space_amp", spaceAmp, "ratio")
    put("failed_frac", p.ops.count(!_.ok) / nz(p.ops.size), "ratio")
    put("retained_heap_mb", heapMb, "MB")
  }

  // ------------------------------------------------------------ traced

  private lazy val spanById = p.spans.map(s => s.id -> s).toMap
  private lazy val opKind = p.ops.map(o => o.id -> o.kind).toMap
  private def kindOf(span: Int): String =
    spanById.get(span).flatMap(s => opKind.get(s.op)).getOrElse("none")

  /** Spark work of every span whose op has this kind. */
  private def work(kind: String): Work = {
    val t = new Work
    p.work.foreach { case (s, x) =>
      if (kindOf(s) == kind) {
        t.jobs += x.jobs; t.stages += x.stages; t.tasks += x.tasks; t.taskFailures += x.taskFailures
        t.runMs += x.runMs; t.gcMs += x.gcMs; t.cpuNs += x.cpuNs; t.schedWaitMs += x.schedWaitMs
        t.scanTaskMs += x.scanTaskMs; t.shuffleWrite += x.shuffleWrite; t.shuffleRead += x.shuffleRead
        t.spill += x.spill; t.inBytes += x.inBytes; t.inRecords += x.inRecords
        t.barriers += x.barriers; t.barrierBytes += x.barrierBytes
      }
    }
    t
  }

  private def spansIn(layer: String, name: String => Boolean = _ => true): Seq[Span] =
    p.spans.toSeq.filter(s => s.layer == layer && name(s.name))

  /** Spark work attributed to the given spans (directly, not to their children). */
  def workOf(spans: Seq[Span]): Work = {
    val t = new Work
    spans.flatMap(s => p.work.get(s.id)).foreach { x =>
      t.jobs += x.jobs; t.stages += x.stages; t.tasks += x.tasks; t.runMs += x.runMs
      t.inBytes += x.inBytes; t.inRecords += x.inRecords
    }
    t
  }

  def execsOf(spans: Seq[Span]): Seq[Exec] = {
    val ids = spans.map(_.id).toSet
    p.execs.toSeq.filter(e => ids(p.execSpan.getOrElse(e.execId, -1)))
  }

  private def execsOfKind(kind: String): Seq[Exec] =
    p.execs.toSeq.filter(e => kindOf(p.execSpan.getOrElse(e.execId, -1)) == kind)

  /** The per-layer metrics every workload reports (zero where a layer is idle). */
  def layers(): Unit = {
    val nw = nz(ops("write").size)
    val nr = nz(ops("read").size)
    val all = p.ops.filter(o => o.kind == "write" || o.kind == "read")
    val nAll = nz(all.size)
    val ww = work("write")
    val rw = work("read")
    put("spark.jobs", ww.jobs / nw, "count")
    put("spark.stages", ww.stages / nw, "count")
    put("spark.tasks", ww.tasks / nw, "count")
    put("spark.sched_wait_s", ww.schedWaitMs / 1e3 / nw, "s")
    put("spark.task_run_s", ww.runMs / 1e3 / nw, "s")
    put("spark.task_cpu_s", ww.cpuNs / 1e9 / nw, "s")
    put("spark.gc_s", ww.gcMs / 1e3 / nw, "s")
    put("spark.shuffle_write_mb", ww.shuffleWrite / 1048576.0 / nw, "MB")
    put("spark.shuffle_read_mb", ww.shuffleRead / 1048576.0 / nw, "MB")
    put("spark.spill_mb", ww.spill / 1048576.0 / nw, "MB")
    put("spark.task_failures", (ww.taskFailures + rw.taskFailures) / nAll, "count")
    put("spark.read_jobs", rw.jobs / nr, "count")
    put("spark.read_stages", rw.stages / nr, "count")
    put("spark.read_task_run_s", rw.runMs / 1e3 / nr, "s")
    val wall = all.map(_.seconds).sum
    put("spark.core_util", (ww.runMs + rw.runMs) / 1e3 / (cores * math.max(wall, 1e-9)), "ratio")

    // io: Sources.read calls, scans of every op, writes of every op
    val reads = spansIn("io", _.startsWith("Sources."))
    put("io.read_call_s", reads.map(_.seconds).sum / nz(reads.size), "s")
    val ex = p.execs.toSeq
    val scanWork = work("write").scanTaskMs + work("read").scanTaskMs
    put("io.scan_mb", (ww.inBytes + rw.inBytes) / 1048576.0 / nAll, "MB")
    put("io.scan_rows", (ww.inRecords + rw.inRecords) / nAll, "rows")
    put("io.scan_files", ex.map(_.plan.scanFiles).sum / nAll, "count")
    put("io.scan_s", scanWork / 1e3 / nAll, "s")
    val writeEx = ex.filter(_.plan.writeFiles > 0)
    put("io.write_s", writeEx.map(_.durNs).sum / 1e9 / nw, "s")
    put("io.write_mb", writeEx.map(_.plan.writeBytes).sum / 1048576.0 / nw, "MB")
    put("io.write_rows", writeEx.map(_.plan.writeRows).sum / nw, "rows")
    put("io.write_files", writeEx.map(_.plan.writeFiles).sum / nw, "count")
    put("io.write_commit_s", writeEx.map(_.plan.commitMs).sum / 1e3 / nw, "s")

    // quality: per profile / per clean call
    val prof = spansIn("quality", _ == "Validator.profile")
    val pw = workOf(prof)
    put("quality.profile_s", prof.map(_.seconds).sum / nz(prof.size), "s")
    put("quality.profile_jobs", pw.jobs / nz(prof.size), "count")
    put("quality.profile_scan_mb", pw.inBytes / 1048576.0 / nz(prof.size), "MB")
    val sinks = execsOf(spansIn("io", _ == "Sinks.writeFlipped"))
    put("quality.dedup_rows_in", sinks.map(_.plan.dedupIn).sum / nz(sinks.size), "rows")
    put("quality.dedup_rows_out", sinks.map(_.plan.dedupOut).sum / nz(sinks.size), "rows")

    // query: planning phases of every execution, per op
    val qe = execsOfKind("write") ++ execsOfKind("read")
    put("query.analysis_s", qe.map(_.analysisMs).sum / 1e3 / nAll, "s")
    put("query.optimization_s", qe.map(_.optimizationMs).sum / 1e3 / nAll, "s")
    put("query.planning_s", qe.map(_.planningMs).sum / 1e3 / nAll, "s")
    put("query.exec_s", qe.map(_.durNs).sum / 1e9 / nAll, "s")
    put("query.executions", qe.size / nAll, "count")
    val re = execsOfKind("read")
    val returned = ops("read").map(_.rowsOut).sum
    put("query.rows_examined_per_row_returned", re.map(_.plan.scanRows).sum.toDouble / math.max(returned, 1L), "ratio")

    put("operators.barriers", ww.barriers / nw, "count")
    put("operators.barrier_mb", ww.barrierBytes / 1048576.0 / nw, "MB")
    Metrics.owned.foreach { case (n, unit) => put(n, 0.0, unit) }

    // self time per layer, per op
    val childCover = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    p.spans.foreach(s => if (s.parent >= 0) childCover(s.parent) += s.endNs - s.startNs)
    Seq("op", "pipeline", "io", "quality", "query", "lake", "operators").foreach { layer =>
      val self = p.spans.filter(_.layer == layer).map(s => s.endNs - s.startNs - childCover(s.id)).sum
      put(s"self_s.$layer", self / 1e9 / nAll, "s")
    }
  }

  /** Jobs and stages per op, in op order, for the run-to-run repeat check. */
  def opCounts: Seq[Seq[Any]] = {
    val byOp = mutable.HashMap.empty[Int, (Long, Long)].withDefaultValue((0L, 0L))
    p.work.foreach { case (s, x) =>
      spanById.get(s).foreach { sp =>
        val (j, st) = byOp(sp.op); byOp(sp.op) = (j + x.jobs, st + x.stages)
      }
    }
    p.ops.toSeq.map(o => Seq(o.name, byOp(o.id)._1, byOp(o.id)._2))
  }
}
