package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it
  * (0 for a pass root); `pass` groups the spans of one timed pass.
  */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long, pass: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Tracer {
  /** Local property carrying the innermost open span id, so the engine
    * listener can hang each Spark job under the span that started it. */
  val SpanProp = "perfbench.span"
  /** Job tag set around the benchmark's own terminal actions. */
  val TerminalTag = "perfbench-terminal"
}

/** Spans recorded from the benchmark's own files, around the calls into
  * each layer. Kept in memory; written out when the run ends. With
  * tracing off, `span` only runs its body.
  */
final class Tracer(@volatile var on: Boolean) {
  import Tracer._
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var sc: SparkContext = _
  /** Pass number stamped on new spans; negative = untimed work. */
  @volatile var pass: Int = -1

  def bind(spark: SparkSession): Unit = sc = spark.sparkContext

  private def current: Int = stack.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = current
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.toString).orNull)
        add(id, name, parent, t0, t1, pass)
      }
    }

  /** Adds a span observed elsewhere (a Spark job, a micro-batch);
    * returns its id. */
  def add(name: String, parent: Int, startNs: Long, endNs: Long,
          p: Int = pass): Int = {
    val id = synchronized { nextId += 1; nextId - 1 }
    add(id, name, parent, startNs, endNs, p)
    id
  }

  private def add(id: Int, name: String, parent: Int,
                  t0: Long, t1: Long, p: Int): Unit =
    synchronized { buf += Span(id, name, parent, t0, t1, p) }

  /** Moves the spans hanging under `from` whose midpoint lies in
    * [t0, t1] under `to`: a micro-batch span, added after the fact,
    * adopts the Spark jobs it ran. */
  def adopt(from: Int, to: Int, t0: Long, t1: Long): Unit = synchronized {
    buf.indices.foreach { i =>
      val s = buf(i)
      val mid = (s.startNs + s.endNs) / 2
      if (s.parent == from && s.id != to && mid >= t0 && mid <= t1)
        buf(i) = s.copy(parent = to)
    }
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Summed duration (s) of the spans called `name` in pass `p`. */
  def seconds(name: String, p: Int): Double =
    spans.filter(s => s.name == name && s.pass == p).map(_.ms).sum / 1e3

  def durationsMs(name: String, p: Int): Seq[Double] =
    spans.filter(s => s.name == name && s.pass == p).map(_.ms)

  /** Runs `body` as one of the benchmark's terminal actions: the SQL
    * executions it starts carry [[Tracer.TerminalTag]], which the guard
    * reads back to prove no timed action is a `count()`.
    */
  def terminal[T](spark: SparkSession)(body: => T): T = {
    val ctx = spark.sparkContext
    ctx.addJobTag(TerminalTag)
    try body finally ctx.removeJobTag(TerminalTag)
  }
}

/** Always-on, cheap: records the description and physical plan of every
  * SQL execution started by a terminal action, so each pass can assert
  * that its timed actions materialize the full result.
  */
final class Guard extends SparkListener {
  import Guard.Exec
  private val execs = mutable.ArrayBuffer.empty[Exec]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart
        if e.jobTags.contains(Tracer.TerminalTag) =>
      synchronized { execs += Exec(e.description, e.physicalPlanDescription) }
    case _ =>
  }

  /** Terminal executions since the last call. */
  def drain(): Seq[Exec] = synchronized {
    val out = execs.toList
    execs.clear()
    out
  }
}

object Guard {
  final case class Exec(description: String, plan: String)
}

/** Counters of one pass, filled from Spark's listener events. */
final class PassStats {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, peakExecMem = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var bytesRead, recordsRead = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var cryptoPlans, lakePlans = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]
  val pinned = mutable.Set.empty[Int]
  val unpersisted = mutable.Set.empty[Int]
  val blockBytes = mutable.Map.empty[String, Long]
  var storageBytes, storagePeak = 0L
  val jobsBySpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  /** max ÷ median task time in the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWallMs.isEmpty) 0.0
    else {
      val longest = stageWallMs.maxBy(_._2)._1
      val ts = taskMs.getOrElse(longest, mutable.ArrayBuffer.empty[Long])
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (ts.isEmpty || med <= 0) 0.0 else ts.max / med
    }
}

/** Traced runs only: Spark's own SparkListener, QueryExecutionListener
  * and StreamingQueryListener events, attributed per pass and, for jobs,
  * per benchmark span.
  */
final class Engine(tracer: Tracer) extends SparkListener {
  @volatile var cur = new PassStats
  // Spark event times are epoch ms; spans use the monotonic clock.
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val jobOpen = mutable.Map.empty[Int, (Long, Int)]

  def reset(): PassStats = synchronized { cur = new PassStats; cur }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    cur.jobs += 1
    cur.jobsBySpan(parent) += 1
    jobOpen(e.jobId) = (e.time, parent)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (t0, parent) =>
      tracer.add("exec.job", parent, t0 * 1000000L + offsetNs,
        e.time * 1000000L + offsetNs)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
        .foreach(r => cur.pinned += r.id)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      cur.stages += 1
      for (a <- s.submissionTime; b <- s.completionTime)
        cur.stageWallMs(s.stageId) = b - a
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    c.tasks += 1
    if (e.taskInfo.failed) c.failedTasks += 1
    c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized { cur.unpersisted += e.rddId }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val c = cur
        val key = info.blockId.name
        val now = info.memSize + info.diskSize
        c.storageBytes += now - c.blockBytes.getOrElse(key, 0L)
        if (now == 0) c.blockBytes.remove(key) else c.blockBytes(key) = now
        c.storagePeak = math.max(c.storagePeak, c.storageBytes)
      }
    }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = Engine.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
      if (Plans.hasCrypto(qe.executedPlan.toString)) cur.cryptoPlans += 1
      if (qe.logical.toString.contains(Plans.LakeCatalog)) cur.lakePlans += 1
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Engine.this.synchronized { cur.progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

object Plans {
  val CryptoNames = Seq("aes_ecb_encrypt", "aes_ecb_decrypt", "hmac_sha256")
  def hasCrypto(plan: String): Boolean = CryptoNames.exists(plan.contains)
  /** The catalog name `LakeCatalog` is registered under. */
  val LakeCatalog = "graft_lake"
}

/** Peak resident set size of this process, sampled from /proc. */
final class RssSampler {
  @volatile private var running = false
  @volatile private var peak = 0L
  private var thread: Thread = _

  private def rssBytes(): Long = {
    val f = java.nio.file.Paths.get("/proc/self/statm")
    if (!java.nio.file.Files.exists(f)) 0L
    else new String(java.nio.file.Files.readAllBytes(f)).trim
      .split("\\s+")(1).toLong * 4096L
  }

  def start(): Unit = {
    peak = rssBytes()
    running = true
    thread = new Thread(() => {
      while (running) {
        peak = math.max(peak, rssBytes())
        Thread.sleep(5)
      }
    }, "perfbench-rss")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stops sampling; returns the peak in MB. */
  def stop(): Double = {
    running = false
    thread.join()
    peak = math.max(peak, rssBytes())
    peak / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }
}
