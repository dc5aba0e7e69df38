package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.api.ops._
import graft.functions.GraftFunctions
import graft.streaming.Streams

import Envelope._

/** `envelope`: the reference pipeline. Publish seals each landing file
  * under its own KEK-wrapped data key; consume runs a file-source
  * stream, one file per trigger, through `Streams.decryptPipeline`.
  */
final class Envelope(seed: Long) extends Workload(seed) {
  // Traffic; NOTES.md gives the source of each figure.
  val Files = 4
  val PerFile = 2500
  val Users = 150
  val SigShare = 1.0 / 32
  val CtShare = 1.0 / 32
  val SpanDays = 30
  val MeanValue = 49.63
  val HourMs = 3600L * 1000L

  val EventSchema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("type", StringType),
    StructField("value", DoubleType), StructField("body", StringType)))
  val PayloadSchema =
    "id BIGINT, ts TIMESTAMP, user_id BIGINT, type STRING, value DOUBLE, body STRING"
  val LandingSchema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("value", BinaryType),
    StructField("attributes", MapType(StringType, StringType))))

  private var events: Array[Ev] = _
  private var deks: Array[Array[Byte]] = _
  private var kek: Array[Byte] = _
  private var plain: File = _
  /** Reference: window start (epoch ms) → untampered messages. */
  private var expected: Map[Long, Long] = _

  override def requiredPlanNames: Seq[String] =
    Seq("aes_ecb_encrypt", "hmac_sha256")

  def generate(spark: SparkSession, dir: File): Unit = {
    val g = new Gen(seed)
    kek = g.bytes(16)
    deks = Array.fill(Files)(g.bytes(16))
    val users = g.zipf(Users, 1.1)
    val types = Array("click", "purchase", "error", "signup", "view")
    val n = Files * PerFile
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    val stepMs = SpanDays * 24 * HourMs / n
    events = Array.tabulate(n) { i =>
      // Out of order only within the 10-minute watermark.
      val jitter = (g.rnd.nextDouble() * 9 * 60 * 1000).toLong
      val u = g.rnd.nextDouble()
      val tamper = if (u < SigShare) 1 else if (u < SigShare + CtShare) 2 else 0
      val value = math.max(1L,
        math.round(-MeanValue * math.log(1.0 - g.rnd.nextDouble()) * 100)) / 100.0
      Ev(i, t0 + i * stepMs + jitter, users.next(),
        types(g.rnd.nextInt(types.length)), value,
        g.word(g.pareto(32, 1.3, 4096)), tamper)
    }
    expected = events.filter(_.tamper == 0)
      .groupBy(e => e.tsMs / HourMs * HourMs)
      .map { case (w, es) => w -> es.length.toLong }
    plain = new File(dir, "plain")
    for (k <- 0 until Files) {
      val rows = events.slice(k * PerFile, (k + 1) * PerFile).toSeq.map(e =>
        Row(e.id, new java.sql.Timestamp(e.tsMs), e.user, e.typ, e.value,
          e.body))
      spark.createDataFrame(rows.asJava, EventSchema)
        .write.parquet(new File(plain, s"f$k/events.parquet").getPath)
    }
  }

  /** Tampering done in flight, between publisher and subscriber. */
  private def tamper(sealedDf: DataFrame, k: Int): DataFrame = {
    val slice = events.slice(k * PerFile, (k + 1) * PerFile)
    val sig = col("id").isin(slice.filter(_.tamper == 1).map(_.id).toSeq: _*)
    val ct = col("id").isin(slice.filter(_.tamper == 2).map(_.id).toSeq: _*)
    val attrs = when(sig, map(
      lit("wrapped_dek"), element_at(col("attributes"), "wrapped_dek"),
      lit("sig"), reverse(element_at(col("attributes"), "sig"))))
      .otherwise(col("attributes"))
    val value = when(ct, concat(flip(substring(col("value"), 1, 1)),
      expr("substring(value, 2)"))).otherwise(col("value"))
    sealedDf.select(col("id"), col("ts"), value.as("value"), attrs.as("attributes"))
  }

  private def flip(b: Column): Column =
    when(b === lit(Array[Byte](0)), lit(Array[Byte](1)))
      .otherwise(lit(Array[Byte](0)))

  /** Publish: seal each plaintext file and land it as one parquet file,
    * in order (the file source takes files oldest first). */
  private def publish(ctx: Ctx, landing: File, files: Int,
                      inFlight: (DataFrame, Int) => DataFrame): Unit = {
    landing.mkdirs()
    for (k <- 0 until files) {
      val rows = ctx.span("scan.tables")(
        graft.Tables(ctx.spark, new File(plain, s"f$k").getPath, "events"))
      val sealedDf = Streams.encryptMessages(rows, deks(k), kek)
      val stage = new File(ctx.dir, s"stage-${landing.getName}-$k")
      ctx.terminal(inFlight(sealedDf, k).coalesce(1).write.parquet(stage.getPath))
      val part = stage.listFiles.filter(_.getName.endsWith(".parquet")).head
      val dst = new File(landing, f"msg-$k%03d.parquet")
      require(part.renameTo(dst), s"cannot land $dst")
      dst.setLastModified(1700000000000L + k * 1000L)
      Main.rmrf(stage)
    }
  }

  /** Consume: one file per trigger through the decrypt pipeline into a
    * sink that collects every updated window. Closed loop: a batch
    * starts when the previous one has committed. */
  private def consume(ctx: Ctx, landing: File, ckpt: String): Consumed = {
    val spark = ctx.spark
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    // The plan of a batch that carried data: the trailing no-data batch
    // runs over an empty relation the optimizer prunes away.
    val query = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val plan = new java.util.concurrent.atomic.AtomicReference[String]("")
    val sink: (DataFrame, Long) => Unit = (batch, _) => {
      val rows = batch.collect()
      rows.foreach(r => got.put(r.getTimestamp(0).getTime, r.getLong(1)))
      Option(query.get).collect { case w: StreamingQueryWrapper => w }
        .flatMap(w => Option(w.streamingQuery.lastExecution))
        .filter(_ => rows.nonEmpty)
        .foreach(e => plan.set(e.executedPlan.toString))
    }
    val stream = spark.readStream.schema(LandingSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing.getPath)
    val q = ctx.terminal(Streams.decryptPipeline(stream, kek, PayloadSchema)
      .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).foreachBatch(sink).start())
    query.set(q)
    try q.awaitTermination()
    finally q.stop()
    Consumed(got.asScala.toMap, plan.get, q.recentProgress.toSeq)
  }

  def pass(ctx: Ctx): PassOut = {
    val landing = new File(ctx.dir, "landing")
    ctx.span("ops.seal")(publish(ctx, landing, Files, tamper))
    val c = ctx.span("streaming.consume")(consume(ctx, landing, ctx.path("ckpt")))
    val batchMs = c.progress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)
    ctx.steps ++= batchMs
    val n = events.length.toLong
    PassOut(n,
      check = () => check(ctx, landing, c),
      layer = () => {
        val open = timeOpen(ctx, landing)
        val seal = ctx.tracer.seconds("ops.seal", ctx.passNo)
        val cons = ctx.tracer.seconds("streaming.consume", ctx.passNo)
        Map("ops.seal_s" -> seal, "ops.open_s" -> open,
          "e2e.publish_msgs_per_s" -> n / seal,
          "e2e.consume_msgs_per_s" -> n / cons,
          "e2e.batch_ms_p50" -> Stats.pct(batchMs, 0.5),
          "e2e.batch_ms_p90" -> Stats.pct(batchMs, 0.9))
      })
  }

  private def check(ctx: Ctx, landing: File, c: Consumed): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (c.windows != expected) {
      val keys = (c.windows.keySet ++ expected.keySet).toSeq.sorted
      val bad = keys.filter(k => c.windows.get(k) != expected.get(k))
      errs += s"envelope: ${bad.size} of ${keys.size} window counts differ " +
        s"(first ${bad.head}: got ${c.windows.get(bad.head)}, want ${expected.get(bad.head)})"
    }
    Seq("aes_ecb_decrypt", "hmac_sha256").filterNot(c.plan.contains)
      .foreach(f => errs += s"guard: consume plan lacks $f")
    if (c.progress.count(_.numInputRows > 0) != Files)
      errs += s"envelope: ${c.progress.count(_.numInputRows > 0)} data batches, want $Files"
    // Every tampered message rejected, every clean one accepted.
    val verdict = ctx.spark.read.parquet(landing.getPath).openEnvelope(kek)
      .select("id", "verified").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val wrong = events.count(e => !verdict.get(e.id).contains(e.tamper == 0))
    if (wrong > 0) errs += s"envelope: $wrong messages with a wrong verdict"
    errs.toSeq
  }

  /** Batch `openEnvelope` over the pass's landing files, into `noop`. */
  private def timeOpen(ctx: Ctx, landing: File): Double = {
    val t0 = System.nanoTime()
    ctx.spark.read.parquet(landing.getPath).openEnvelope(kek)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Kernel costs over cached messages, and the poison-message probe. */
  override def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val landing = new File(ctx.dir, "landing")
    publish(ctx, landing, Files, (df, _) => df)
    val reps = 8
    val base = spark.read.parquet(landing.getPath)
      .crossJoin(spark.range(reps).toDF("rep"))
      .select(col("value"),
        unbase64(element_at(col("attributes"), "wrapped_dek")).as("wrapped"))
      .withColumn("dek", GraftFunctions.unwrap_dek(lit(kek), col("wrapped")))
      .withColumn("payload", GraftFunctions.aes_ecb_decrypt(col("value"), col("dek")))
      .cache()
    val n = base.count().toDouble
    def noop(cols: Column*): Double = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      base.select(cols: _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    })
    def perMsg(f: Column, inputs: String*): Double =
      (noop(f) - noop(inputs.map(col): _*)) / n
    val m = Map(
      "functions.encrypt_ns_per_msg" -> perMsg(
        GraftFunctions.aes_ecb_encrypt(col("payload"), col("dek")), "payload", "dek"),
      "functions.decrypt_ns_per_msg" -> perMsg(
        GraftFunctions.aes_ecb_decrypt(col("value"), col("dek")), "value", "dek"),
      "functions.hmac_ns_per_msg" -> perMsg(
        GraftFunctions.hmac_sha256(col("dek"), col("payload")), "dek", "payload"),
      "functions.unwrap_ns_per_msg" -> perMsg(
        GraftFunctions.unwrap_dek(lit(kek), col("wrapped")), "wrapped"))
    base.unpersist(blocking = true)
    m ++ poison(ctx)
  }

  /** One small batch whose final ciphertext block is corrupt, so its
    * padding no longer checks. The design says such a message should be
    * rejected; today the decrypt throws and the whole batch aborts. */
  private def poison(ctx: Ctx): Map[String, Double] = {
    val landing = new File(ctx.dir, "poison")
    val msgs = 64
    publish(ctx, landing, 1, (df, _) =>
      df.limit(msgs).select(col("id"), col("ts"),
        concat(expr("substring(value, 1, length(value) - 1)"),
          flip(expr("substring(value, -1, 1)"))).as("value"),
        col("attributes")))
    val aborted =
      try { consume(ctx, landing, ctx.path("poison-ckpt")); false }
      catch { case _: StreamingQueryException => true }
    Map("functions.poison_batch_aborts" -> (if (aborted) 1.0 else 0.0),
      "probe.ops" -> msgs.toDouble,
      "probe.failed" -> (if (aborted) msgs.toDouble else 0.0))
  }
}

object Envelope {
  /** tamper: 0 none, 1 signature flipped, 2 first ciphertext byte flipped. */
  final case class Ev(id: Long, tsMs: Long, user: Long, typ: String,
                      value: Double, body: String, tamper: Int)

  final case class Consumed(windows: Map[Long, Long], plan: String,
                            progress: Seq[StreamingQueryProgress])
}
