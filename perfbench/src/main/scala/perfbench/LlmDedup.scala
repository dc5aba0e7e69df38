package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.ops._

import LlmDedup._

/** `llm_dedup`: the corpus-cleaning chain, each public op run to its
  * materialized output: exact dedup → MinHash candidates → exact
  * Jaccard verification → connected components → one document per
  * component → duplicated-span filter → quality scores.
  */
final class LlmDedup(seed: Long) extends Workload(seed) {
  // Traffic; NOTES.md gives the source of each figure.
  val BaseDocs = 400
  val Vocab = 4000
  val Clusters = 16
  val GiantCluster = 16
  val CopyShare = 0.05
  val BoilerplateShare = 0.05
  val Threshold = 0.7
  val NumHashes = 60
  val Bands = 12
  val NGram = 6
  val MaxDupFrac = 0.2
  /** Language shares of the `documents` fixture (218/75/73/70/64 of 500). */
  val Langs = Seq("en" -> 218, "zh" -> 75, "es" -> 73, "de" -> 70, "fr" -> 64)
  val Sources = 20

  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private var docs: Array[Doc] = _
  private var byId: Map[Long, Doc] = _
  private var stopwords: Seq[String] = _
  private var corpus: File = _

  def generate(spark: SparkSession, dir: File): Unit = {
    val g = new Gen(seed)
    val vocab = Array.fill(Vocab)(g.word(3 + g.rnd.nextInt(7))).distinct
    val z = g.zipf(vocab.length, 1.1)
    stopwords = vocab.take(20).toSeq
    val boiler = Array.fill(20)(vocab(z.next()))
    // Lengths and cluster sizes come from quantile ladders, so every
    // seed has the same amount of text and the same planted pairs.
    val lengths = g.paretoLadder(BaseDocs, 20, 1.5, 400)
    val base = lengths.map { n =>
      val t = Array.fill(30 + n)(vocab(z.next()))
      if (g.rnd.nextDouble() < BoilerplateShare) t ++ boiler else t
    }
    // Near-duplicate clusters with skewed sizes, one of them giant.
    val sizes = GiantCluster +: g.paretoLadder(Clusters - 1, 1, 1.2, 12).map(2 + _)
    val seeds = g.rnd.shuffle(base.indices.toList).take(Clusters)
    val planted = mutable.ArrayBuffer.empty[(Array[String], Int)]
    base.indices.foreach { i =>
      planted += base(i) -> seeds.indexOf(i)
    }
    seeds.zip(sizes).zipWithIndex.foreach { case ((s, size), c) =>
      (1 until size).foreach { _ =>
        val t = base(s).clone()
        t.indices.foreach(j =>
          if (g.rnd.nextDouble() < 0.04) t(j) = vocab(z.next()))
        planted += t -> c
      }
    }
    val copies = Array.fill((planted.size * CopyShare).toInt)(
      planted(g.rnd.nextInt(planted.size)))
    val all = g.rnd.shuffle((planted ++ copies).toList)
    docs = all.zipWithIndex.map { case ((t, c), i) =>
      Doc(i.toLong, t.mkString(" "), c)
    }.toArray
    byId = docs.map(d => d.id -> d).toMap
    corpus = dir
    val langs = Langs.flatMap { case (l, w) => Seq.fill(w)(l) }.toArray
    val rows = docs.toSeq.map(d => Row(d.id, d.text,
      langs(g.rnd.nextInt(langs.length)), s"src${g.rnd.nextInt(Sources)}",
      d.text.length.toLong))
    spark.createDataFrame(rows.asJava, DocSchema)
      .write.parquet(new File(dir, "documents.parquet").getPath)
  }

  def jaccard(a: Doc, b: Doc): Double =
    (a.toks intersect b.toks).size.toDouble / (a.toks union b.toks).size

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A stage's materialized output, handed to the next stage in memory. */
  final class Out(val schema: StructType, val rows: Array[Row]) {
    def df(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    def longs(i: Int): Seq[Long] = rows.toSeq.map(_.getLong(i))
    def pairs: Seq[(Long, Long)] = rows.toSeq.map(r => r.getLong(0) -> r.getLong(1))
  }

  def pass(ctx: Ctx): PassOut = {
    val spark = ctx.spark
    def stage(span: String)(df: => DataFrame): Out =
      ctx.step(ctx.span(span) {
        val d = df
        new Out(d.schema, ctx.terminal(d.collect()))
      })
    val docsDf = ctx.span("scan.tables")(
      graft.Tables(spark, corpus.getPath, "documents"))
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("tokset", array_distinct(col("tokens")))
    val exact = stage("ops.dedup_exact")(
      docsDf.dedupExact(col("doc_id"), col("text")))
    val uniq = docsDf.join(exact.df(spark).select("doc_id"), Seq("doc_id"),
      "left_semi")
    val cand = stage("ops.minhash_candidates")(
      uniq.minhashCandidatePairs(col("doc_id"), col("tokset"), NumHashes, Bands))
    val verified = stage("ops.jaccard_verify") {
      // One block per candidate pair, so each pair is verified exactly.
      val c = cand.df(spark)
      val blk = col("d1") * lit(1L << 20) + col("d2")
      c.select(blk.as("blk"), col("d1").as("did"))
        .union(c.select(blk.as("blk"), col("d2").as("did")))
        .join(uniq.select(col("doc_id").as("did"), col("tokset")), "did")
        .jaccardPairs(col("did"), col("tokset"), col("blk"), Threshold)
        .dropDuplicates("d1", "d2")
    }
    val comps = stage("ops.components")(
      verified.df(spark).connectedComponentsStar("d1", "d2"))
    val kept = uniq.join(comps.df(spark).filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val filtered = stage("ops.dup_doc_filter")(
      kept.dupDocFilter(col("doc_id"), col("tokens"), NGram, MaxDupFrac))
    val quality = stage("ops.quality")(
      filtered.df(spark).qualityScores(col("doc_id"), col("tokens"),
        col("n_chars"), stopwords))
    val filteredIds = filtered.rows.map(_.getLong(filtered.schema.fieldIndex("doc_id")))
    PassOut(6,
      check = () => check(exact.longs(0), cand.pairs,
        verified.rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap,
        comps.pairs.toMap, filteredIds.toSet, quality.longs(0).toSet),
      layer = () => layer(ctx, exact.longs(0).toSet, cand.pairs.toSet,
        verified.pairs.toSet))
  }

  private def check(exact: Seq[Long], cand: Seq[(Long, Long)],
                    verified: Map[(Long, Long), Double], comp: Map[Long, Long],
                    filtered: Set[Long], quality: Set[Long]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    // Exact dedup: one group per distinct text, labelled by its min id.
    val want = docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
    if (exact.toSet != want || exact.size != want.size)
      errs += s"llm_dedup: exact dedup kept ${exact.size} docs, want ${want.size}"
    // Verification: exactly the candidates at or above the threshold.
    val wantVerified = cand.map { case (a, b) =>
      (a, b) -> round4(jaccard(byId(a), byId(b)))
    }.filter(_._2 >= Threshold).toMap
    if (verified.keySet != wantVerified.keySet)
      errs += s"llm_dedup: ${verified.size} verified pairs, want ${wantVerified.size}"
    val off = verified.count { case (p, j) =>
      wantVerified.get(p).forall(w => math.abs(w - j) > 1e-9) }
    if (off > 0) errs += s"llm_dedup: $off verified pairs with a wrong Jaccard"
    // Components: a plain union-find over the verified pairs, labelled
    // by the minimum id.
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    wantVerified.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantComp = parent.keys.toSeq.map(x => x -> find(x)).toMap
    if (comp != wantComp)
      errs += s"llm_dedup: components differ from union-find " +
        s"(${comp.values.toSet.size} vs ${wantComp.values.toSet.size})"
    // The final result covers exactly the documents the filter kept.
    if (filtered.isEmpty || quality != filtered)
      errs += s"llm_dedup: ${quality.size} scored docs, ${filtered.size} kept"
    errs.toSeq
  }

  private def layer(ctx: Ctx, exact: Set[Long], cand: Set[(Long, Long)],
                    verified: Set[(Long, Long)]): Map[String, Double] = {
    // Planted pairs: same cluster, both survive exact dedup, Jaccard at
    // or above the threshold.
    val planted = docs.filter(d => d.cluster >= 0 && exact(d.id))
      .groupBy(_.cluster).values.flatMap { ds =>
        for (a <- ds.toSeq; b <- ds.toSeq if a.id < b.id &&
          round4(jaccard(a, b)) >= Threshold) yield (a.id, b.id)
      }.toSet
    val t = ctx.tracer
    def s(n: String) = t.seconds(n, ctx.passNo)
    Map(
      "ops.dedup_exact_s" -> s("ops.dedup_exact"),
      "ops.minhash_candidates_s" -> s("ops.minhash_candidates"),
      "ops.jaccard_verify_s" -> s("ops.jaccard_verify"),
      "ops.components_s" -> s("ops.components"),
      "ops.dup_doc_filter_s" -> s("ops.dup_doc_filter"),
      "ops.quality_s" -> s("ops.quality"),
      "ops.candidate_pairs" -> cand.size.toDouble,
      "ops.verified_pairs" -> verified.size.toDouble,
      "ops.candidate_precision" ->
        (if (cand.isEmpty) 0.0 else verified.size.toDouble / cand.size),
      "ops.planted_recall" ->
        (if (planted.isEmpty) 0.0
         else (planted intersect verified).size.toDouble / planted.size))
  }
}

object LlmDedup {
  /** cluster: the planted near-duplicate cluster, or -1. */
  final case class Doc(id: Long, text: String, cluster: Int) {
    lazy val toks: Set[String] = text.split(" ").toSet
  }
}
