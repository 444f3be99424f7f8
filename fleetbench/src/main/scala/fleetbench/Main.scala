package fleetbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.spark.Sessions

/** The fleet benchmark: one workload per invocation, on `local[nproc]`.
  *
  * {{{
  * fleetbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Untraced (`--trace 0`): set-up is repeated [[SetupReps]] times (session
  * start and standing state; input generation excluded) and its median
  * reported; after the workload's warm-up jobs, jobs run back to back for
  * `--seconds` (at least the workload's `minSamples` of them),
  * each timed from its input files to its written and checked output.
  *
  * Traced (`--trace 1`): after one set-up, half the time runs untraced jobs
  * (Spark listener counters, overhead baseline) and half runs the same job
  * with a span around every layer call; per-layer metrics are medians of
  * per-job self time over the traced jobs.
  *
  * Every line but the last is a human-readable report; the last line is
  * one JSON object: {"correct", "attempted", "failed", "metrics"}, where
  * attempted and failed count warm-up and measured jobs alike. */
object Main {
  val SetupReps = 5

  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("job_s", "s", "lower"))

  val PerLayer: Seq[Metric] = Seq(
    Metric("store.read_s", "s", "lower"),
    Metric("store.write_s", "s", "lower"),
    Metric("store.doc_bytes", "bytes", "lower"),
    Metric("sources.side_tables_s", "s", "lower"),
    Metric("ops.enrich_s", "s", "lower"),
    Metric("sources.poll_s", "s", "lower"),
    Metric("sources.poll_devices", "count", "lower"),
    Metric("sources.poll_failed", "count", "lower"),
    Metric("sources.walk_rows", "count", "lower"),
    Metric("sources.poll_wait_s", "s", "lower"),
    Metric("sources.poll_overlap", "ratio", "higher"),
    Metric("sources.snmp_parse_s", "s", "lower"),
    Metric("ops.merge_s", "s", "lower"),
    Metric("ops.merge_hit_ratio", "ratio", "higher"),
    Metric("ops.snapshot_s", "s", "lower"),
    Metric("ops.upsert_s", "s", "lower"),
    Metric("ops.update_sheet_s", "s", "lower"),
    Metric("ops.upsert_rows", "count", "lower"),
    Metric("pipeline.run_s", "s", "lower"),
    Metric("tickets.find_s", "s", "lower"),
    Metric("tickets.extract_s", "s", "lower"),
    Metric("tickets.render_s", "s", "lower"),
    Metric("tickets.hit_ratio", "ratio", "higher"),
    Metric("queries.pairs_s", "s", "lower"),
    Metric("queries.candidate_pairs", "count", "lower"),
    Metric("queries.pair_precision", "ratio", "higher"),
    Metric("queries.edit_recall", "ratio", "higher"),
    Metric("ops.cc_s", "s", "lower"),
    Metric("ops.clusters", "count", "higher"),
    Metric("spark.jobs", "count", "lower"),
    Metric("spark.tasks", "count", "lower"),
    Metric("spark.task_run_s", "s", "lower"),
    Metric("spark.task_gc_s", "s", "lower"),
    Metric("spark.shuffle_write_mb", "MB", "lower"),
    Metric("spark.spill_mb", "MB", "lower"),
    Metric("spark.rows_read_per_result", "ratio", "lower"),
    Metric("spark.busy_frac", "ratio", "higher"),
    Metric("spark.storage_mb", "MB", "lower"),
    Metric("bench.gen_s", "s", "lower"),
    Metric("bench.check_s", "s", "lower"),
    Metric("bench.trace_overhead_s", "s", "lower"))

  /** Per-layer time metrics read from span self time. */
  private val SpanMetrics: Seq[String] = Seq("store.read", "store.write",
    "sources.side_tables", "ops.enrich", "sources.poll", "sources.snmp_parse", "ops.merge",
    "ops.snapshot", "ops.upsert", "ops.update_sheet", "pipeline.run", "tickets.find",
    "tickets.extract", "tickets.render", "queries.pairs", "ops.cc", "bench.check")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traces: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(need("workload"), need("seed").toLong, seconds, trace,
      Paths.get(need("work")).toAbsolutePath, Paths.get(m.getOrElse("traces", need("work"))).toAbsolutePath)
  }

  /** Fixed single-thread integer loop: its wall time depends only on the
    * effective clock, so two sets of runs can be compared on host state. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def say(s: String): Unit = println(s"[fleetbench] $s")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads(o.workload, o.seed, o.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val loadBefore = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    cpuProbe()
    val probeBefore = cpuProbe()
    val off = new Tracer(false)

    var spark: SparkSession = null
    var listener: SparkMetrics = null
    var genS = 0.0
    var warmFailures = 0
    val reps = if (o.trace) 1 else SetupReps
    val setupSamples = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, o.work)
      listener = new SparkMetrics
      spark.sparkContext.addSparkListener(listener)
      if (rep == 1) {
        val g0 = System.nanoTime()
        wl.gen(spark)
        genS = secs(g0)
      }
      wl.setup(spark, off)
      secs(t0) - (if (rep == 1) genS else 0.0)
    }
    // warm-up jobs on the session the timed phase uses; the first is far
    // slower than the jobs after it
    val w0 = System.nanoTime()
    (0 until wl.warmups).foreach { w =>
      Try(wl.job(spark, 1000000 + w, off)) match {
        case Success(r) if r.ok => ()
        case Success(r) => warmFailures += 1; System.err.println(s"warm-up check failed: ${r.detail}")
        case Failure(e) => warmFailures += 1; System.err.println(s"warm-up failed: $e")
      }
    }
    val warmS = secs(w0)
    say(s"host nproc=$cpus load_avg_before=$loadBefore cpu_probe_before_s=$probeBefore")
    say(s"workload=${wl.name} seed=${o.seed} trace=${if (o.trace) 1 else 0} ${wl.describe}")

    /** Run jobs back to back for `budget` seconds (at least `min`). */
    def phase(budget: Double, min: Int, tr: Tracer, k0: Int): (Seq[Double], Seq[JobResult]) = {
      val times = ArrayBuffer.empty[Double]
      val results = ArrayBuffer.empty[JobResult]
      val t0 = System.nanoTime()
      var k = k0
      while (secs(t0) < budget || times.length < min) {
        tr.run = k
        val j0 = System.nanoTime()
        val r = Try(wl.job(spark, k, tr)) match {
          case Success(r) => r
          case Failure(e) => JobResult(ok = false, s"threw $e")
        }
        times += secs(j0)
        if (!r.ok) System.err.println(s"job $k failed: ${r.detail}")
        results += r
        k += 1
      }
      (times.toSeq, results.toSeq)
    }

    val sc = spark.sparkContext
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(m: Metric, v: Double): Unit = metrics(m.name) = (v, m.unit)
    val byName = (EndToEnd ++ PerLayer).map(m => m.name -> m).toMap

    val (attempted, failed) = if (!o.trace) {
      val c0 = SimDeviceClient.snap()
      val s0 = listener.snap(sc)
      val (times, results) = phase(o.seconds, wl.minSamples, off, 0)
      val dc = SimDeviceClient.snap() - c0
      val ds = listener.snap(sc) - s0
      val storage = SparkMetrics.storageMb(sc)
      val nFailed = results.count(!_.ok)
      val setupS = Stats.median(setupSamples)
      val jobS = Stats.median(times)
      say(f"setup_s=$setupS%.4f s (median of ${setupSamples.length} set-ups: " +
        setupSamples.map(x => f"$x%.3f").mkString(", ") +
        f"; input generation excluded, gen_s=$genS%.3f; ${wl.warmups} warm-up jobs after set-up took $warmS%.3f s)")
      say(f"job_s=$jobS%.5f s (median of ${times.length} jobs, p25=${Stats.percentile(times, 25)}%.5f, p75=${Stats.percentile(times, 75)}%.5f; " +
        times.map(x => f"$x%.3f").mkString(", ") + ")")
      say(f"failed_frac=${nFailed.toDouble / times.length}%.4f ($nFailed of ${times.length}; warm-up failures $warmFailures)")
      say(f"storage_mb=$storage%.3f MB (cached/checkpointed blocks at the end of the timed phase)")
      say(f"per job: spark_jobs=${ds.jobs.toDouble / times.length}%.1f tasks=${ds.tasks.toDouble / times.length}%.1f " +
        f"device_polls=${dc.calls.toDouble / times.length}%.1f poll_wait_s=${dc.waitNs / 1e9 / times.length}%.3f")
      put(byName("setup_s"), setupS)
      put(byName("job_s"), jobS)
      (times.length + wl.warmups, nFailed + warmFailures)
    } else {
      val half = math.max(1.0, o.seconds / 2.0)
      val s0 = listener.snap(sc)
      val (plainTimes, plainResults) = phase(half, wl.minSamples, off, 0)
      val ds = listener.snap(sc) - s0
      val storage = SparkMetrics.storageMb(sc)
      val tr = new Tracer(true)
      val c0 = SimDeviceClient.snap()
      val (tracedTimes, tracedResults) = phase(half, wl.minSamples, tr, plainTimes.length)
      val dc = SimDeviceClient.snap() - c0
      val nPlain = plainTimes.length.toDouble
      val nTraced = tracedTimes.length.toDouble

      val byRun = Tracer.selfSecondsByRun(tr.all)
      val runs = tracedResults.indices.map(_ + plainTimes.length)
      def spanMedian(span: String): Double = {
        val per = byRun.getOrElse(span, Map.empty[Int, Double])
        Stats.median(runs.map(r => per.getOrElse(r, 0.0)))
      }
      SpanMetrics.foreach(sp => put(byName(s"${sp}_s"), spanMedian(sp)))
      def countSum(k: String) = tracedResults.map(_.counts.getOrElse(k, 0.0)).sum
      def countMedian(k: String) = Stats.median(tracedResults.map(_.counts.getOrElse(k, 0.0)))
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      put(byName("store.doc_bytes"), countMedian("store.doc_bytes"))
      put(byName("sources.poll_devices"), dc.calls / nTraced)
      put(byName("sources.poll_failed"), dc.failed / nTraced)
      put(byName("sources.walk_rows"), dc.rows / nTraced)
      put(byName("sources.poll_wait_s"), dc.waitNs / 1e9 / nTraced)
      put(byName("sources.poll_overlap"),
        ratio(dc.waitNs / 1e9 / nTraced, spanMedian("sources.poll")))
      put(byName("ops.merge_hit_ratio"), ratio(countSum("ops.merge_hits"), countSum("ops.merge_selected")))
      put(byName("ops.upsert_rows"), countMedian("ops.upsert_rows"))
      put(byName("tickets.hit_ratio"), ratio(countSum("tickets.hits"), countSum("tickets.lookups")))
      put(byName("queries.candidate_pairs"), countMedian("queries.candidate_pairs"))
      put(byName("queries.pair_precision"),
        ratio(countSum("queries.true_pairs"), countSum("queries.candidate_pairs")))
      put(byName("queries.edit_recall"),
        ratio(countSum("queries.edits_found"), countSum("queries.edits_planted")))
      put(byName("ops.clusters"), countMedian("ops.clusters"))
      val plainWall = plainTimes.sum
      put(byName("spark.jobs"), ds.jobs / nPlain)
      put(byName("spark.tasks"), ds.tasks / nPlain)
      put(byName("spark.task_run_s"), ds.runMs / 1e3 / nPlain)
      put(byName("spark.task_gc_s"), ds.gcMs / 1e3 / nPlain)
      put(byName("spark.shuffle_write_mb"), ds.shuffleWriteBytes / 1e6 / nPlain)
      put(byName("spark.spill_mb"), ds.spillBytes / 1e6 / nPlain)
      put(byName("spark.rows_read_per_result"),
        ratio(ds.recordsRead.toDouble, plainResults.map(_.counts.getOrElse("bench.result_rows", 0.0)).sum))
      put(byName("spark.busy_frac"), ratio(ds.runMs / 1e3, plainWall * cpus))
      put(byName("spark.storage_mb"), storage)
      put(byName("bench.gen_s"), genS)
      val overhead = Stats.median(tracedTimes) - Stats.median(plainTimes)
      put(byName("bench.trace_overhead_s"), overhead)
      val spanFile = o.traces.resolve(s"${wl.name}-seed${o.seed}.spans.jsonl")
      Files2.write(spanFile, Tracer.toJsonLines(tr.all).mkString("", "\n", "\n"))
      say(f"traced ${tracedTimes.length} jobs (median ${Stats.median(tracedTimes)}%.5f s) vs " +
        f"${plainTimes.length} untraced (median ${Stats.median(plainTimes)}%.5f s): tracing overhead $overhead%.5f s per job")
      say(s"spans: ${tr.all.length} written to $spanFile")
      val all = plainResults ++ tracedResults
      (all.length + wl.warmups, all.count(!_.ok) + warmFailures)
    }

    val probeAfter = cpuProbe()
    say(s"host cpu_probe_after_s=$probeAfter load_avg_after=${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}")
    val wanted = if (o.trace) PerLayer else EndToEnd
    metrics.foreach { case (k, (v, u)) => if (o.trace) say(s"$k=$v $u") }
    val missing = wanted.map(_.name).filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: $missing")
    val json = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(wanted.map { m =>
        val (v, u) = metrics(m.name)
        m.name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    spark.stop()
    println(json)
    System.out.flush()
    sys.exit(0)
  }
}
