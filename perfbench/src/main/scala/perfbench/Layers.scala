package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.Instant

import org.json4s.{JDouble, JNull, JObject}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-layer metrics of one traced pass, from the engine's events. */
object Layers {
  val MB = 1048576.0

  def fromPass(s: PassStats, t: Tracer, pass: Int, gcMs: Long,
               alive: Set[Int], active: Int): Map[String, Double] = {
    val all = s.progress.toSeq
    val data = all.filter(_.numInputRows > 0)
    def p50(k: String) =
      Stats.median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble)
        .getOrElse(0.0)))
    val state = all.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    // Micro-batches become spans under the pass's consume span.
    val consume = t.spans.find(x => x.pass == pass &&
      x.name == "streaming.consume").map(_.id).getOrElse(0)
    val offsetNs = System.nanoTime() -
      System.currentTimeMillis() * 1000000L
    all.foreach { p =>
      val startNs = Instant.parse(p.timestamp).toEpochMilli * 1000000L +
        offsetNs
      val dur = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      val endNs = startNs + dur * 1000000L
      val id = t.add("streaming.batch", consume, startNs, endNs, pass)
      t.adopt(consume, id, startNs, endNs)
    }
    Map(
      "exec.jobs" -> s.jobs.toDouble,
      "exec.stages" -> s.stages.toDouble,
      "exec.tasks" -> s.tasks.toDouble,
      "exec.run_ms" -> s.runMs.toDouble,
      "exec.cpu_ms" -> s.cpuNs / 1e6,
      "exec.gc_ms" -> gcMs.toDouble,
      "exec.task_skew" -> s.taskSkew,
      "exec.failed_tasks" -> s.failedTasks.toDouble,
      "exec.peak_exec_memory_mb" -> s.peakExecMem / MB,
      "shuffle.write_bytes" -> s.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> s.shuffleRead.toDouble,
      "shuffle.fetch_wait_ms" -> s.fetchWaitMs.toDouble,
      "spill.bytes" -> s.spill.toDouble,
      "scan.bytes_read" -> s.bytesRead.toDouble,
      "scan.records_read" -> s.recordsRead.toDouble,
      "plan.analysis_ms" -> s.analysisMs.toDouble,
      "plan.optimization_ms" -> s.optimizationMs.toDouble,
      "plan.planning_ms" -> s.planningMs.toDouble,
      "functions.crypto_plans" -> s.cryptoPlans.toDouble,
      "lake.catalog_plans" -> s.lakePlans.toDouble,
      "pins.created" -> (s.pinned ++ alive).size.toDouble,
      "pins.released_in_call" -> (s.pinned intersect s.unpersisted).size.toDouble,
      "pins.alive_after" -> alive.size.toDouble,
      "pins.storage_peak_mb" -> s.storagePeak / MB,
      "streaming.batches" -> all.size.toDouble,
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.get_batch_ms_p50" -> p50("getBatch"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_memory_mb" -> state.map(_.memoryUsedBytes).sum / MB,
      "streaming.state_commit_ms_p50" -> Stats.median(data.map(
        _.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.active_after" -> active.toDouble,
      "ops.components_jobs" -> t.spans.filter(x => x.pass == pass &&
        x.name == "ops.components").map(x => s.jobsBySpan(x.id)).sum.toDouble)
  }
}

/** The trace artifact: every span of the run plus its metrics. Compare
  * two with `python3 perfbench/compare.py A.json B.json`. */
object Artifact {
  /** Metrics as a JSON object; a value that is not finite becomes null. */
  def numbers(metrics: Seq[(String, Double)]): JObject =
    JObject(metrics.map { case (k, v) =>
      k -> (if (v.isNaN || v.isInfinite) JNull else JDouble(v))
    }.toList)

  def write(o: Main.Opts, spans: Seq[Span], metrics: Map[String, Double]): File = {
    o.out.mkdirs()
    val f = new File(o.out, s"trace-${o.workload}-${o.seed}.json")
    val runId = s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}"
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val rows = spans.sortBy(_.startNs).map { s =>
      ("id" -> s.id) ~ ("name" -> s.name) ~ ("parent" -> s.parent) ~
        ("pass" -> s.pass) ~ ("start_ms" -> (s.startNs - t0) / 1e6) ~
        ("end_ms" -> (s.endNs - t0) / 1e6)
    }
    val body = ("workload" -> o.workload) ~ ("seed" -> o.seed) ~
      ("run_id" -> runId) ~ ("cores" -> o.cores) ~
      ("metrics" -> numbers(metrics.toSeq.sortBy(_._1))) ~
      ("spans" -> rows.toList)
    Files.write(f.toPath, compact(render(body)).getBytes(StandardCharsets.UTF_8))
    f
  }
}
