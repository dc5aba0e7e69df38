package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload envelope --seed 1 --seconds 10 --trace 0 \
  *   --cores 4 --work perfbench/work/x --out perfbench/out
  * }}}
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed`, the
  * metrics by name, and the failures found by the checks. With
  * `--trace 0` the metrics are the end-to-end ones, measured with
  * tracing off; with `--trace 1` they are the per-layer ones, and the
  * spans are written to `<out>/trace-<workload>-<seed>.json`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: File, out: File)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, new File(get("--work")),
      new File(get("--out")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  /** Setup rounds per run; `setup_s` is their median. */
  val SetupRounds = 3

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config(s"spark.sql.catalog.${Plans.LakeCatalog}",
        classOf[graft.sources.LakeCatalog].getName)
      .config(s"spark.sql.catalog.${Plans.LakeCatalog}.root",
        new File(work, "lake").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  final case class Timed(seconds: Double, rssMb: Double, steps: Seq[Double],
                         ops: Long, errors: Seq[String],
                         layer: Map[String, Double])

  def run(o: Opts): Int = {
    rmrf(o.work)
    o.work.mkdirs()
    val wl = Workload(o.workload, o.seed)
    val input = new File(o.work, "input")
    val guard = new Guard
    val errors = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var passNo = 0
    val tracer = new Tracer(false)

    def newSession(cores: Int): Unit = {
      if (spark != null) spark.stop()
      spark = session(cores, o.work)
      spark.sparkContext.addSparkListener(guard)
      tracer.bind(spark)
    }

    /** One pass plus its untimed aftermath: hygiene is recorded, then
      * restored, then the outputs are checked. With an engine, the pass
      * is traced; tracing stops with the clock, so the untimed work after
      * it (layer probes, checks) leaves no spans and no engine counts. */
    def onePass(engine: Option[Engine]): Timed = {
      passNo += 1
      val dir = new File(o.work, s"pass-$passNo")
      dir.mkdirs()
      val ctx = new Ctx(spark, tracer, dir, passNo)
      wl.prepare(ctx)
      val sc = spark.sparkContext
      val stats = engine.map { e =>
        e.register(spark)
        tracer.pass = passNo
        tracer.on = true
        e.reset()
      }
      val gc0 = Stats.gcMs()
      val rss = new RssSampler
      rss.start()
      val t0 = System.nanoTime()
      val out = tracer.span("pass")(wl.pass(ctx))
      val dt = (System.nanoTime() - t0) / 1e9
      val rssMb = rss.stop()
      val gcMs = Stats.gcMs() - gc0
      Bus.drain(sc)
      engine.foreach { e =>
        tracer.on = false
        tracer.pass = -1
        e.unregister(spark)
      }
      // Hygiene: measure what the pass left behind, then release it so
      // the next pass starts clean.
      val alive = sc.getPersistentRDDs.keySet.toSet
      val active = spark.streams.active.length
      val layer = stats.map { s =>
        Layers.fromPass(s, tracer, passNo, gcMs, alive, active) ++ out.layer()
      }.getOrElse(Map.empty)
      spark.streams.active.foreach(_.stop())
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Bus.drain(sc)
      val errs = out.check() ++ guardErrors(guard.drain(), wl)
      rmrf(dir)
      System.err.println(f"[perfbench] pass $passNo: $dt%.3f s, rss $rssMb%.0f MB, " +
        f"steps ${ctx.steps.map(s => f"$s%.0f").mkString(" ")} ms")
      Timed(dt, rssMb, ctx.steps.toSeq, out.ops, errs, layer)
    }

    /** Timed passes, back to back, until `seconds` of timed work and
      * at least two passes. */
    def loop(seconds: Double): Seq[Timed] = {
      val out = mutable.ArrayBuffer.empty[Timed]
      while (out.map(_.seconds).sum < seconds || out.size < 2)
        out += onePass(None)
      out.toSeq
    }

    try {
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val rounds = if (o.trace) 1 else SetupRounds
      val setups = (0 until rounds).map { r =>
        val t0 = System.nanoTime()
        newSession(o.cores)
        rmrf(input)
        input.mkdirs()
        wl.generate(spark, input)
        val warm = onePass(None)
        errors ++= warm.errors.map("warm-up: " + _)
        // The first round also pays JVM start.
        if (r == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9
      }
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      var attempted = 0L
      var failed = 0L
      def account(ts: Seq[Timed]): Unit = ts.foreach { t =>
        attempted += t.ops
        if (t.errors.nonEmpty) failed += t.ops
        errors ++= t.errors
      }
      if (!o.trace) {
        val ts = loop(o.seconds)
        account(ts)
        metrics ++= Seq(
          "setup_s" -> Stats.median(setups),
          "run_s" -> Stats.median(ts.map(_.seconds)),
          "step_ms_p50" -> Stats.pct(ts.flatMap(_.steps), 0.5))
      } else {
        // Untraced and traced passes alternate, so JIT warm-up moves both
        // alike; the ratio of their medians is the tracing overhead.
        val engine = new Engine(tracer)
        val plain = mutable.ArrayBuffer.empty[Timed]
        val traced = mutable.ArrayBuffer.empty[Timed]
        while ((plain ++ traced).map(_.seconds).sum < o.seconds || traced.size < 2) {
          plain += onePass(None)
          traced += onePass(Some(engine))
        }
        account((plain ++ traced).toSeq)
        val keys = traced.flatMap(_.layer.keys).distinct
        keys.foreach(k =>
          metrics(k) = Stats.median(traced.map(_.layer.getOrElse(k, 0.0)).toSeq))
        metrics("mem.peak_rss_mb") = Stats.median(plain.map(_.rssMb).toSeq)
        metrics("trace.overhead_ratio") =
          Stats.median(traced.map(_.seconds).toSeq) /
            Stats.median(plain.map(_.seconds).toSeq)
        // Untimed probes.
        val probeDir = new File(o.work, "probe")
        probeDir.mkdirs()
        val probes = wl.probes(new Ctx(spark, tracer, probeDir, 0))
        metrics ++= probes
        val probeOps = probes.getOrElse("probe.ops", 0.0).toLong
        val probeFailed = probes.getOrElse("probe.failed", 0.0).toLong
        metrics("e2e.op_fail_ratio") =
          (failed + probeFailed).toDouble / (attempted + probeOps).max(1L)
        // Single-thread baseline: one pass in a fresh local[nproc]
        // session, then one in a fresh local[1] session, same inputs.
        newSession(o.cores)
        val many = onePass(None)
        newSession(1)
        val one = onePass(None)
        errors ++= (many.errors ++ one.errors).map("baseline: " + _)
        metrics("exec.scaling_1_to_n") = one.seconds / many.seconds
        metrics("trace.passes") = traced.size.toDouble
        Artifact.write(o, tracer.spans, metrics.toMap)
      }
      val line = compact(render(
        ("correct" -> errors.isEmpty) ~
          ("attempted" -> attempted) ~
          ("failed" -> failed) ~
          ("metrics" -> Artifact.numbers(metrics.toSeq)) ~
          ("errors" -> errors.take(20).toList)))
      println(line)
      if (errors.isEmpty) 0 else 1
    } finally {
      if (spark != null) spark.stop()
      rmrf(o.work)
    }
  }

  /** The count-pruning guard: every pass ends in at least one terminal
    * action, none of them is a `count()`, and together they contain the
    * workload's required plan fragments. */
  def guardErrors(execs: Seq[Guard.Exec], wl: Workload): Seq[String] = {
    val counts = execs.filter(_.description.startsWith("count at"))
    val plans = execs.map(_.plan).mkString("\n")
    (if (execs.isEmpty) Seq("guard: no terminal action in the pass") else Nil) ++
      counts.map(e => s"guard: timed action is a count(): ${e.description}") ++
      wl.requiredPlanNames.filterNot(plans.contains)
        .map(n => s"guard: timed plans lack $n")
  }
}
