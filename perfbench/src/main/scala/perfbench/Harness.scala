package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run: the session, the seed and the tracer. */
final case class Ctx(spark: SparkSession, seed: Long, trace: Trace)

/** One timed step of a pass: one call a user of the program would make. */
final case class StepSample(kind: String, seconds: Double, pass: Int, traced: Boolean, ok: Boolean)

/** Records the steps of the measured passes. A step's result is checked
  * after its clock stops; a throw or a failed check fails the step, and a
  * failed step counts toward `failed`.
  */
final class Recorder(ctx: Ctx) {
  val samples: mutable.ArrayBuffer[StepSample] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var pass = 0
  var recording = true
  var checksRun = 0

  /** Time `op` as one step of `kind`; `phase` names its Spark jobs. */
  def step[A](kind: String, phase: String)(op: => A)(check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val res =
      try Right(ctx.trace.phase(phase)(op))
      catch { case scala.util.control.NonFatal(e) => Left(s"$kind threw: $e") }
    val secs = (System.nanoTime() - t0) / 1e9
    val err = res match {
      case Left(msg) => Some(msg)
      case Right(a) =>
        try check(a)
        catch { case scala.util.control.NonFatal(e) => Some(s"$kind check threw: $e") }
    }
    if (recording) {
      samples += StepSample(kind, secs, pass, ctx.trace.on, err.isEmpty)
      err.foreach(m => failures += s"pass $pass: $m")
    } else err.foreach(m => failures += s"warm-up: $m")
    res.toOption
  }

  /** A check that is not tied to one step (end-of-pass state). */
  def check(what: String)(cond: => Option[String]): Unit = {
    val err =
      try cond
      catch { case scala.util.control.NonFatal(e) => Some(s"$what threw: $e") }
    if (recording) checksRun += 1
    err.foreach { m =>
      failures += s"pass $pass: $what: $m"
      if (recording) samples += StepSample("check:" + what, 0.0, pass, ctx.trace.on, ok = false)
    }
  }

  def of(traced: Boolean): Seq[StepSample] = samples.filter(s => s.traced == traced && !s.kind.startsWith("check:")).toSeq
}

/** A benchmark workload: seeded set-up, then passes of a fixed script. */
trait Workload {
  /** Step kinds, in pass order. */
  def kinds: Seq[String]
  /** Untimed warm-up before the timed passes (at least two passes run). */
  def warmupSeconds: Double = 5.0
  /** Generate the inputs from the seed and build what the passes use. */
  def setup(ctx: Ctx, dir: File): Unit
  /** One pass of the script; every step goes through `rec.step`. */
  def pass(ctx: Ctx, rec: Recorder): Unit
  /** The workload's own figures from the untraced passes (see BENCHMARK.json). */
  def workloadFigures(rec: Recorder): Map[String, Double]
  /** Per-layer figures from the traced passes. */
  def layerFigures(ctx: Ctx, rec: Recorder): Map[String, Double]
  /** Percentile and sample count behind each `*_tail_s` figure. */
  def tailDetail(rec: Recorder): Map[String, (Double, Double, Int)] = Map.empty
  /** Session settings the workload needs beyond the shared ones. */
  def sessionSettings: Seq[(String, String)] = Nil
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). NaN below 20 samples, where that
    * percentile would not reach the median.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n < 20) (Double.NaN, Double.NaN, n)
    else {
      val s = xs.sorted
      (s(n - 11), 100.0 * (n - 10) / n, n)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) Double.NaN
    else math.exp(xs.map(math.log).sum / xs.length)
}
