package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.ops._
import graft.sources.TxnLog

import LakeCdc._

/** `lake_cdc`: one client applies change batches (upserts and deletes on
  * Zipf-hot keys) to the head snapshot, writes part files and commits
  * each through `TxnLog`, then reads the head and older versions back
  * through `LakeCatalog` SQL. Closed loop, single client.
  */
final class LakeCdc(seed: Long) extends Workload(seed) {
  // Traffic; NOTES.md gives the source of each figure.
  val BaseRows = 15000
  val Customers = 1500
  val Batches = 6
  val ChangesPerBatch = 300
  val DeleteShare = 0.2
  val InsertShare = 0.25
  val CheckpointEvery = 4
  val Reads = 4

  val Schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** Per batch: upserted orders and deleted keys (disjoint). */
  private var batches: Array[(Array[Order], Array[Long])] = _
  /** Reference fold: the live rows at each version. */
  private var versions: Array[Map[Long, Order]] = _
  private var readPlan: Seq[Int] = _
  private var input: File = _

  def generate(spark: SparkSession, dir: File): Unit = {
    val g = new Gen(seed)
    val statuses = Array("F", "O", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    // 1995-01-01 plus up to 2404 days: the fixture's o_orderdate range.
    def order(k: Long) = Order(k, g.rnd.nextInt(Customers),
      statuses(g.rnd.nextInt(3)), (100000 + g.rnd.nextInt(49900000)) / 100.0,
      788918400000L + g.rnd.nextInt(2405) * 86400000L, prios(g.rnd.nextInt(5)))
    val base = Array.tabulate(BaseRows)(i => order(i.toLong))
    val hot = g.zipf(BaseRows, 1.05)
    var nextKey = BaseRows.toLong
    var live = base.map(o => o.key -> o).toMap
    val vs = mutable.ArrayBuffer(live)
    batches = Array.fill(Batches) {
      val seen = mutable.Set.empty[Long]
      val ups = mutable.ArrayBuffer.empty[Order]
      val dels = mutable.ArrayBuffer.empty[Long]
      while (ups.size + dels.size < ChangesPerBatch) {
        val u = g.rnd.nextDouble()
        if (u < InsertShare) { ups += order(nextKey); nextKey += 1 }
        else {
          val k = hot.next().toLong
          if (seen.add(k)) {
            if (u < InsertShare + DeleteShare) dels += k else ups += order(k)
          }
        }
      }
      live = live -- dels ++ ups.map(o => o.key -> o)
      vs += live
      (ups.toArray, dels.toArray)
    }
    versions = vs.toArray
    // Alternate the head with older versions.
    readPlan = (0 until Reads).map(i =>
      if (i % 2 == 0) Batches else g.rnd.nextInt(Batches))
    input = dir
    spark.createDataFrame(base.toSeq.map(_.row).asJava, Schema)
      .write.parquet(new File(dir, "orders.parquet").getPath)
    batches.zipWithIndex.foreach { case ((ups, _), i) =>
      spark.createDataFrame(ups.toSeq.map(_.row).asJava, Schema)
        .write.parquet(new File(dir, s"changes/b$i").getPath)
    }
  }

  private def table(ctx: Ctx) = s"orders_p${ctx.passNo}"
  private def tableBase(ctx: Ctx) =
    ctx.spark.conf.get("spark.sql.catalog.graft_lake.root") + "/" + table(ctx)

  /** Version 0, the base snapshot, is the same for every pass and is
    * written before the clock starts. */
  override def prepare(ctx: Ctx): Unit = {
    val tbase = tableBase(ctx)
    // Earlier passes' tables are done with.
    Option(new File(tbase).getParentFile.listFiles).foreach(
      _.filter(_.getName.startsWith("orders_p")).foreach(Main.rmrf))
    graft.Tables(ctx.spark, input.getPath, "orders").write.parquet(s"$tbase/v0")
    TxnLog.commit(ctx.spark, tbase, -1, TxnLog.partFiles(ctx.spark, tbase, "v0"))
  }

  def pass(ctx: Ctx): PassOut = {
    val spark = ctx.spark
    // Each pass gets its own table under the catalog root.
    val table = this.table(ctx)
    val tbase = tableBase(ctx)
    var live = TxnLog.partFiles(spark, tbase, "v0")
    var conflicts = 0
    val reads = mutable.ArrayBuffer.empty[(Int, Array[Row])]
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[Double]
    val logMs = mutable.ArrayBuffer.empty[Double]
    val resolveMs = mutable.ArrayBuffer.empty[Double]
    def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally into += (System.nanoTime() - t0) / 1e6
    }
    batches.zipWithIndex.foreach { case ((_, dels), i) =>
      val v = i + 1
      timed(commitMs)(ctx.step {
        ctx.span("ops.merge_upsert") {
          val head = ctx.span("scan.tables")(TxnLog.readAsOf(spark, tbase))
          val ups = spark.read.parquet(new File(input, s"changes/b$i").getPath)
          val next = head.mergeUpsert(ups, "o_orderkey")
            .deleteWhere(col("o_orderkey").isin(dels.toSeq: _*))
          ctx.terminal(next.write.parquet(s"$tbase/v$v"))
        }
        val adds = TxnLog.partFiles(spark, tbase, s"v$v")
        try timed(logMs)(ctx.span("lake.commit_log")(
          TxnLog.commit(spark, tbase, v - 1, adds, live)))
        catch {
          case e: TxnLog.VersionConflictException => conflicts += 1; throw e
        }
        live = adds
        if (v % CheckpointEvery == 0)
          ctx.span("lake.checkpoint")(TxnLog.checkpoint(spark, tbase, v))
      })
    }
    readPlan.foreach { v =>
      if (ctx.tracer.on)
        files += timed(resolveMs)(ctx.span("lake.resolve")(
          TxnLog.filesAsOf(spark, tbase, v))).size
      val sql = if (v == Batches) s"SELECT * FROM graft_lake.$table"
        else s"SELECT * FROM graft_lake.$table VERSION AS OF $v"
      val rows = timed(readMs)(ctx.step(ctx.span("lake.read")(
        ctx.terminal(spark.sql(sql).collect()))))
      reads += v -> rows
    }
    PassOut(Batches + Reads,
      check = () => check(reads.toSeq),
      layer = () => {
        val changeBytes = batches.map { case (ups, dels) =>
          ups.map(_.bytes).sum + dels.length * 8L }.sum
        val tableDir = new File(tbase)
        val onDisk = du(tableDir)
        val written = onDisk - du(new File(tableDir, "v0"))
        val liveBytes = live.map(f => new File(tableDir, f).length).sum
        Map(
          "ops.merge_upsert_s" -> ctx.tracer.seconds("ops.merge_upsert", ctx.passNo),
          "lake.commit_log_ms_p50" -> Stats.median(logMs.toSeq),
          "lake.checkpoint_ms" -> Stats.median(
            ctx.tracer.durationsMs("lake.checkpoint", ctx.passNo)),
          "lake.resolve_ms_p50" -> Stats.median(resolveMs.toSeq),
          "lake.files_per_read" -> Stats.median(files.toSeq),
          "lake.write_amplification" -> written.toDouble / changeBytes,
          "lake.space_amplification" -> onDisk.toDouble / liveBytes,
          "lake.conflicts" -> conflicts.toDouble,
          "e2e.commit_ms_p50" -> Stats.pct(commitMs.toSeq, 0.5),
          "e2e.commit_ms_p90" -> Stats.pct(commitMs.toSeq, 0.9),
          "e2e.read_ms_p50" -> Stats.pct(readMs.toSeq, 0.5),
          "e2e.read_ms_p90" -> Stats.pct(readMs.toSeq, 0.9))
      })
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else f.length

  /** Each read equals the fold of the change batches up to its version. */
  private def check(reads: Seq[(Int, Array[Row])]): Seq[String] =
    reads.flatMap { case (v, rows) =>
      val got = rows.map(r => Order(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getTimestamp(4).getTime, r.getString(5)))
      val want = versions(v)
      val byKey = got.map(o => o.key -> o).toMap
      if (got.length == want.size && byKey == want) None
      else Some(s"lake_cdc: read of v$v has ${got.length} rows " +
        s"(${(byKey.toSet diff want.toSet).size} differ), want ${want.size}")
    }
}

object LakeCdc {
  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         dateMs: Long, priority: String) {
    def row: Row = Row(key, cust, status, price,
      new java.sql.Timestamp(dateMs), priority)
    /** Logical size of the row as a change record. */
    def bytes: Long = 8 * 4 + status.length + priority.length
  }
}
