package perfbench

import java.io.File

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark must time the full result. `count()` lets Catalyst
  * prune every expression the row count does not need, so a timed count
  * of the reference pipeline would never decrypt or verify anything.
  */
class GuardSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = new File("target/guard-spec")
  private var spark: SparkSession = _
  private val guard = new Guard

  override def beforeAll(): Unit = {
    Main.rmrf(work)
    spark = Main.session(2, work)
    spark.sparkContext.addSparkListener(guard)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Main.rmrf(work)
  }

  /** One timed pass; returns its terminal executions and the errors its
    * checks and the guard found. */
  private def onePass(name: String): (Seq[Guard.Exec], Seq[String]) = {
    val wl = Workload(name, 7L)
    val input = new File(work, s"$name-input")
    Main.rmrf(input)
    wl.generate(spark, input)
    val dir = new File(work, s"$name-pass")
    Main.rmrf(dir)
    dir.mkdirs()
    val ctx = new Ctx(spark, new Tracer(false), dir, 1)
    wl.prepare(ctx)
    val out = wl.pass(ctx)
    Bus.drain(spark.sparkContext)
    val execs = guard.drain()
    (execs, out.check() ++ Main.guardErrors(execs, wl))
  }

  test("envelope's timed consume plan decrypts and verifies") {
    // The envelope check fails with "guard: consume plan lacks ..." when
    // a data micro-batch's executed plan has no decrypt or no verify.
    val (_, errors) = onePass("envelope")
    assert(errors.isEmpty, errors)
  }

  test("no workload's timed action is a count()") {
    Workload.names.foreach { name =>
      val (execs, errors) = onePass(name)
      assert(execs.nonEmpty, s"$name has no terminal action")
      assert(!execs.exists(_.description.startsWith("count at")), name)
      assert(errors.isEmpty, s"$name: $errors")
    }
  }

  test("the guard flags a timed count()") {
    val tracer = new Tracer(false)
    tracer.terminal(spark)(spark.range(10).count())
    Bus.drain(spark.sparkContext)
    val errors = Main.guardErrors(guard.drain(), Workload("lake_cdc", 7L))
    assert(errors.exists(_.contains("count()")), errors)
  }
}
