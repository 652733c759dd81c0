package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * One process, one closed-loop client. The workload is set up three times
  * (the median is `setup_s`), run untimed for at least two passes and
  * its `warmupSeconds` to warm up, then run in passes
  * until `--seconds` have elapsed. With `--trace 1` the passes alternate
  * untraced and traced, so the tracing overhead is measured within the run.
  * The last stdout line is the JSON result; its metric names and units come
  * from `BENCHMARK.json` in the working directory.
  */
object Main {
  val Setups = 3
  /** Spark phases reported per phase in the traced run, with the listener
    * phases each one sums.
    */
  val SparkPhases: Seq[(String, Seq[String])] = Seq(
    "etl_full" -> Seq("etl_full"), "etl_incr" -> Seq("etl_incr"), "etl_replay" -> Seq("etl_replay"),
    "lake_commit" -> Seq("lake_commit"),
    "lake_read" -> Seq("lake_agg", "lake_point", "lake_time_travel", "lake_cdf"),
    "neardup_global" -> Seq("neardup_global"), "neardup_blocked" -> Seq("neardup_blocked"),
    "neardup_minhash" -> Seq("neardup_minhash"), "ivf_topk" -> Seq("ivf_topk"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload: Workload = opts.get("workload") match {
      case Some("arrest_etl") => new ArrestEtl
      case Some("lake_dml") => new LakeDml
      case Some("neardup") => new NearDup
      case other => sys.error(s"unknown workload $other (arrest_etl, lake_dml, neardup)")
    }
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = new File(opts("out")).getAbsoluteFile
    val spec = new ObjectMapper().readTree(new File("BENCHMARK.json"))
    def metricsOf(key: String): Seq[(String, String)] =
      spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

    val work = new File(out, s"$name-$seed-${System.nanoTime()}")
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val settings = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> classOf[graft.fs.FastLocalFileSystem].getName,
      "spark.shuffle.sort.bypassMergeThreshold" -> "200",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> new File(work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "spark-warehouse").getPath,
      "spark.hadoop.hadoop.tmp.dir" -> new File(work, "hadoop-tmp").getPath) ++ workload.sessionSettings
    val spark = settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var exit = 0
    try {
      val trace = new Trace(spark.sparkContext)
      val ctx = Ctx(spark, seed, trace)
      val calPre = Calibrate.sample(cpus)
      // the first set-up also pays the session's first jobs; the median of
      // three leaves it out
      val setupTimes = (0 until Setups).map { i =>
        val t0 = System.nanoTime()
        workload.setup(ctx, new File(work, s"setup-$i"))
        (System.nanoTime() - t0) / 1e9
      }
      val rec = new Recorder(ctx)
      rec.recording = false
      val w0 = System.nanoTime()
      while (rec.pass < 2 || (System.nanoTime() - w0) / 1e9 < workload.warmupSeconds) {
        workload.pass(ctx, rec)
        rec.pass += 1
      }
      rec.pass = 0
      rec.recording = true
      // the storage leak is a per-layer figure: only the traced run waits
      // for the warm-up's unpersists, and later the timed passes', to settle
      def settledStorage(): Long = { System.gc(); Thread.sleep(500); Trace.storageBytes(spark.sparkContext) }
      val storage0 = if (traced) settledStorage() else 0L
      val t0 = System.nanoTime()
      while (rec.pass < (if (traced) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
        if (traced && rec.pass % 2 == 1) trace.enable() else trace.disable()
        workload.pass(ctx, rec)
        rec.pass += 1
      }
      val measuredS = (System.nanoTime() - t0) / 1e9
      trace.disable()
      val leak: Option[Long] = if (traced) Some(settledStorage() - storage0) else None
      val calPost = Calibrate.sample(cpus)

      def endToEnd(tr: Boolean): Map[String, Double] = {
        val s = rec.of(tr)
        val passes = s.groupBy(_.pass).values.toSeq
        Map(
          "setup_s" -> Stats.median(setupTimes),
          "pass_s" -> Stats.median(passes.map(_.map(_.seconds).sum)),
          "step_geomean_s" -> Stats.geomean(workload.kinds.map(k => Stats.median(s.filter(_.kind == k).map(_.seconds)))))
      }
      val e2e = endToEnd(tr = false)
      val figures = workload.workloadFigures(rec)
      val failed = rec.samples.count(!_.ok)
      val attempted = rec.samples.count(!_.kind.startsWith("check:")) + rec.checksRun
      val correct = rec.failures.isEmpty
      rec.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

      val reported: Map[String, Double] =
        if (!traced) e2e
        else {
          val tracedE2e = endToEnd(tr = true)
          val phase = SparkPhases.flatMap { case (p, parts) =>
            val st = parts.map(trace.phaseStats)
            val gap = parts.map(trace.driverGapSeconds).sum
            Seq(
              s"spark.$p.jobs" -> st.map(_.jobs).sum.toDouble,
              s"spark.$p.tasks" -> st.map(_.tasks).sum.toDouble,
              s"spark.$p.executor_cpu_s" -> st.map(_.executorCpuNs).sum / 1e9,
              s"spark.$p.shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
              s"spark.$p.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
              s"spark.$p.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
              s"spark.$p.gc_s" -> st.map(_.gcMs).sum / 1e3,
              s"spark.$p.driver_gap_s" -> gap)
          }
          figures ++ workload.layerFigures(ctx, rec) ++ phase ++ Map(
            "spark.storage_leak_bytes" -> leak.get.toDouble,
            "cal.single_s" -> math.max(calPre._1, calPost._1),
            "cal.multi_s" -> math.max(calPre._2, calPost._2)) ++
            Seq("pass_s", "step_geomean_s").map(m => s"overhead.$m" -> (tracedE2e(m) - e2e(m)))
        }
      val wanted = metricsOf(if (traced) "per_layer" else "end_to_end")
      val unknown = reported.keySet -- wanted.map(_._1)
      require(unknown.isEmpty, s"metrics missing from BENCHMARK.json: ${unknown.mkString(", ")}")
      // a layer the workload does not drive did no work: it reports 0
      val values = wanted.map { case (m, u) =>
        val v = reported.getOrElse(m, 0.0)
        m -> (if (v.isNaN || v.isInfinite) 0.0 else v, u)
      }
      val badE2e = if (traced) Nil else wanted.filter { case (m, _) => !(e2e.getOrElse(m, Double.NaN) > 0) }
      require(badE2e.isEmpty, s"end-to-end metrics not measured: ${badE2e.map(_._1).mkString(", ")}")

      // everything, for the artifact; the figures also go to stdout
      val tails = workload.tailDetail(rec)
      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "measured_s" -> measuredS, "passes" -> rec.pass, "client" -> "closed loop, 1 client",
        "spark_settings" -> settings.filterNot(_._1.endsWith(".dir")).toMap,
        "setup_times_s" -> setupTimes, "calibration_s" -> Map("pre" -> calPre, "post" -> calPost),
        "workload_figures" -> figures,
        "tails" -> tails.map { case (k, (v, p, n)) => k -> Map("value" -> v, "percentile" -> p, "samples" -> n) },
        "storage_leak_bytes" -> leak.getOrElse(null), "failures" -> rec.failures.toSeq,
        "steps" -> rec.samples.map(s => Map("kind" -> s.kind, "pass" -> s.pass, "traced" -> s.traced, "s" -> s.seconds, "ok" -> s.ok)),
        "metrics" -> values.toMap.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      val tag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
      FileUtils.writeStringToFile(new File(out, s"result-$tag.json"), Json.of(detail), "UTF-8")
      if (traced) FileUtils.writeStringToFile(new File(out, s"spans-$tag.json"), trace.toJson, "UTF-8")
      figures.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"# $name $k = $v%.6g") }
      tails.foreach { case (k, (_, p, n)) => println(f"# $name $k is p$p%.1f of $n samples") }
      println(Json.of(mutable.LinkedHashMap(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(values.map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      spark.stop()
      FileUtils.deleteDirectory(work)
    }
    System.exit(exit)
  }
}

/** Host-contention sentinel (the idea of `graft.Bench.calibrate`): a fixed
  * pure-JVM spin timed on one thread and on all cores. Flat samples mean a
  * quiet host; a stretched all-cores sample means co-tenants held cores.
  */
object Calibrate {
  @volatile private var sink = 0L
  private def spin(iters: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    x
  }

  def sample(threads: Int): (Double, Double) = {
    val n = 100000000
    val t0 = System.nanoTime()
    sink = spin(n)
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pool = (0 until threads).map { _ => val t = new Thread(() => { sink = spin(n) }); t.start(); t }
    pool.foreach(_.join())
    (single, (System.nanoTime() - t1) / 1e9)
  }
}

/** JSON for the result line and the artifacts: Scala maps, sequences and
  * pairs become Java ones for Jackson.
  */
object Json {
  private val mapper = new ObjectMapper()
  def of(v: Any): String = mapper.writeValueAsString(toJava(v))
  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case (a, b) => toJava(Seq(a, b))
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }
}
