package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a timed pass hands back. `check` and `layer` run after the clock
  * stops: `check` compares the pass's outputs with an independent
  * reference computation, `layer` gives the per-layer counts only this
  * workload can produce.
  */
final case class PassOut(ops: Long,
                         check: () => Seq[String],
                         layer: () => Map[String, Double] = () => Map.empty)

/** The state one pass runs in. `dir` is fresh and removed after the
  * pass; `steps` collects the closed-loop step latencies of the pass.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val dir: File, val passNo: Int) {
  val steps = mutable.ArrayBuffer.empty[Double]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Times one closed-loop step (a micro-batch is timed by Spark). */
  def step[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps += (System.nanoTime() - t0) / 1e6
  }

  def terminal[T](body: => T): T = tracer.terminal(spark)(body)

  def path(name: String): String = new File(dir, name).getPath
}

abstract class Workload(val seed: Long) {
  /** Seeded inputs, written under `dir` and kept for the reference. */
  def generate(spark: SparkSession, dir: File): Unit

  /** Untimed per-pass preparation, run just before the clock starts. */
  def prepare(ctx: Ctx): Unit = ()

  /** One timed pass, run to the full materialized result. */
  def pass(ctx: Ctx): PassOut

  /** Untimed probes of a traced run (kernel costs, poison batch). */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty

  /** Plan fragments every timed pass must contain; checked by the guard. */
  def requiredPlanNames: Seq[String] = Nil
}

object Workload {
  val names = Seq("envelope", "llm_dedup", "lake_cdc")

  def apply(name: String, seed: Long): Workload = name match {
    case "envelope" => new Envelope(seed)
    case "llm_dedup" => new LlmDedup(seed)
    case "lake_cdc" => new LakeCdc(seed)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}
