package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One latency sample: `rows` input rows whose results were committed and
  * readable `ms` after their input was handed to the pipeline. */
final case class Sample(ms: Double, rows: Long)

/** What one pass of a workload did: wall time, input rows, latency samples. */
final case class PassResult(seconds: Double, rows: Long, samples: Seq[Sample])

/** Output checks of a workload: failures (empty when correct), the
  * duplicate recall, and details for the run's artifact. */
final case class CheckResult(failures: Seq[String], dupRecall: Double, details: Seq[(String, String)])

/** State shared by the harness and the workloads of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val work: File) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  private var dirs = 0
  private val t0 = System.nanoTime()

  /** Progress line on stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench: [${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  /** A fresh directory under the run's work directory. */
  def dir(name: String): String = {
    dirs += 1
    val d = new File(work, f"$name-$dirs%03d")
    d.mkdirs()
    d.getPath
  }

  /** One counted operation: an exception fails it and the run goes on. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: $e"
        System.err.println(s"perfbench: operation failed: $name: $e")
        None
    }
  }

  /** Times `f`, inside a span when the pass is traced. */
  def span[T](tr: Option[Tracer], name: String)(f: => T): (T, Double) = tr match {
    case Some(t) => t.span(name)(f)
    case None =>
      val t0 = System.nanoTime()
      val v = f
      (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** A benchmark workload. `land` generates the seeded inputs and lands them
  * (it runs several times during set-up, each time into fresh storage);
  * `pass` is one unit of work over a landing (the first one is the
  * untimed warm-up); `check` verifies the outputs of the most recent pass. */
trait Workload {
  type Landing
  /** The generated input relations for `seed`. */
  def inputs(seed: Long): Seq[Gen.Source]
  def land(): Landing
  def release(l: Landing): Unit = ()
  def pass(l: Landing, tr: Option[Tracer]): PassResult
  def check(l: Landing): CheckResult
}

object Main {
  /** End-to-end metrics and units, in BENCHMARK.json order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "rows_per_s" -> "rows/s", "delivery_p50_ms" -> "ms",
    "delivery_p90_ms" -> "ms", "dup_recall" -> "ratio", "peak_rss_mb" -> "MB")

  /** Per-layer metrics and units, in BENCHMARK.json order. */
  val perLayer: Seq[(String, String)] = Seq(
    "gsmls.clean.self_s" -> "s", "gsmls.clean.cpu_s" -> "s", "gsmls.clean.rows" -> "rows",
    "relational.dedup.self_s" -> "s", "relational.dedup.shuffle_write_mb" -> "MB",
    "relational.dedup.keep_ratio" -> "ratio",
    "io.jdbc_write.self_s" -> "s", "io.jdbc_write.rows" -> "rows", "io.quarantine.rows" -> "rows",
    "io.jdbc_read.self_s" -> "s", "io.jdbc_read.rows" -> "rows",
    "images.doc_write.self_s" -> "s", "images.docs" -> "count",
    "streaming.start_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.data_trigger_ratio" -> "ratio",
    "similarity.lsh.self_s" -> "s", "similarity.lsh.jobs" -> "count",
    "similarity.lsh.shuffle_write_mb" -> "MB", "similarity.lsh.spill_mb" -> "MB",
    "similarity.lsh.pairs" -> "count",
    "curation.components.self_s" -> "s", "curation.components.jobs" -> "count",
    "curation.components.shuffle_write_mb" -> "MB", "curation.components.count" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.peak_exec_mem_mb" -> "MB", "spark.task_failures" -> "count",
    "trace.overhead_s" -> "s")

  /** Number of set-up repetitions whose median `setup_s` reports. */
  val landings = 3

  /** Ids per input covered by the generator determinism check. */
  val checksumIds = 200L

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val results = new File(opts("results"))
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStart) / 1e3

    val ctx = new Ctx(spark, seed, cores, work)
    val wl: Workload = workload match {
      case "backfill"     => new Backfill(ctx)
      case "deliveries"   => new Deliveries(ctx)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failures = mutable.ArrayBuffer[String]()
    val details = mutable.ArrayBuffer[(String, String)]()

    // ---- set-up: land the seeded inputs several times, warm up once ----
    // Generator determinism, on the rows of each input's first ids: the
    // same seed gives the same content, another seed does not. Computing
    // these first also warms the generator code, and the sentinel warms
    // Spark's job path, before anything is timed.
    def sum(s: Long) = wl.inputs(s).map(_.checksum(checksumIds)).mkString("/")
    val sums = Seq(sum(seed), sum(seed))
    if (sums.distinct.size != 1) failures += s"seed $seed gave differing contents: ${sums.mkString(", ")}"
    if (sum(seed + 1) == sums.head)
      failures += s"seeds $seed and ${seed + 1} gave identical content"
    details += "input_checksum" -> Json.str(sums.head)
    sentinel(spark, cores)
    var landing = Option.empty[wl.Landing]
    val landS = (1 to landings).map { _ =>
      landing.foreach(wl.release)
      val t0 = System.nanoTime()
      landing = Some(wl.land())
      val s = (System.nanoTime() - t0) / 1e9
      ctx.log(f"landed in $s%.2fs")
      s
    }
    val w0 = System.nanoTime()
    wl.pass(landing.get, None)
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx.log(f"warmed up in $warmS%.2fs")
    val setupS = sessionS + Stats.median(landS) + warmS
    ctx.attempted = 0
    ctx.failed = 0

    // ---- timed passes ----
    val plain = mutable.ArrayBuffer[PassResult]()
    val tracedPasses = mutable.ArrayBuffer[(PassResult, Tracer)]()
    val sentinelBefore = sentinel(spark, cores)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline || (traced && tracedPasses.isEmpty)) {
      if (traced && i % 2 == 1) {
        val tr = new Tracer(spark, s"$workload-s$seed-p$i", new GroupListener, new ProgressListener,
          tracedPasses.map(_._2.spans.size).sum)
        spark.sparkContext.addSparkListener(tr.jobs)
        spark.streams.addListener(tr.streams)
        val r = wl.pass(landing.get, Some(tr))
        Trace.drain(spark)
        spark.sparkContext.removeSparkListener(tr.jobs)
        spark.streams.removeListener(tr.streams)
        passTotals(tr)
        tracedPasses += ((r, tr))
      } else plain += wl.pass(landing.get, None)
      ctx.log(s"pass $i done")
      i += 1
    }
    val sentinelAfter = sentinel(spark, cores)
    val check = wl.check(landing.get)
    ctx.log("checked")
    failures ++= check.failures
    details ++= check.details

    // ---- metrics ----
    val runS = Stats.median(plain.map(_.seconds).toSeq)
    val samples = plain.flatMap(_.samples).toSeq
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> setupS,
        "run_s" -> runS,
        "rows_per_s" -> plain.head.rows / runS,
        "delivery_p50_ms" -> Stats.weightedPercentile(samples, 0.5),
        "delivery_p90_ms" -> Stats.weightedPercentile(samples, 0.9),
        "dup_recall" -> check.dupRecall,
        "peak_rss_mb" -> peakRssMb())
      else perLayer.map(_._1).map {
        case "trace.overhead_s" => "trace.overhead_s" ->
          (Stats.median(tracedPasses.map(_._1.seconds).toSeq) - runS)
        case name => name -> Stats.median(tracedPasses.map(_._2.metrics.getOrElse(name, 0.0)).toSeq)
      }
    val units = (endToEnd ++ perLayer).toMap
    val correct = failures.isEmpty

    // ---- artifact: everything needed to explain the numbers ----
    results.mkdirs()
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed), "cores" -> Json.num(cores.toLong),
      "correct" -> correct.toString, "failures" -> Json.arr(failures.map(Json.str).toSeq),
      "errors" -> Json.arr(ctx.errors.map(Json.str).toSeq),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "landing_s" -> Json.arr(landS.map(Json.num)), "warmup_s" -> Json.num(warmS))),
      "contention_sentinel_s" -> Json.obj(Seq(
        "before" -> Json.num(sentinelBefore), "after" -> Json.num(sentinelAfter))),
      "pass_s" -> Json.arr(plain.map(p => Json.num(p.seconds)).toSeq),
      "traced_pass_s" -> Json.arr(tracedPasses.map(p => Json.num(p._1.seconds)).toSeq),
      "latency_ms" -> Json.arr(samples.map(x => Json.num(x.ms))),
      "checks" -> Json.obj(details.toSeq),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) })))
    Files.write(new File(results, s"$tag.json").toPath, artifact.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(new File(results, s"$tag-spans.json").toPath,
      Trace.spansJson(tracedPasses.flatMap(_._2.spans).toSeq).getBytes(StandardCharsets.UTF_8))
    failures.foreach(f => System.err.println(s"perfbench: CHECK FAILED: $f"))
    System.err.println(s"perfbench: artifact ${new File(results, s"$tag.json")}")

    spark.stop()
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
      }))))
  }

  /** Pass-wide values of a traced pass: the dedup keep ratio over every
    * dedup call, and the engine-wide counters, leaving out the jobs the
    * tracer itself ran to time lazy prefixes. */
  private def passTotals(tr: Tracer): Unit = {
    for (in <- tr.metrics.get("relational.dedup.rows_in") if in > 0)
      tr.add("relational.dedup.keep_ratio", tr.metrics("relational.dedup.rows_out") / in)
    val c = tr.jobs.total(g => !g.contains(":prefix#"))
    tr.add("spark.jobs", c.jobs.toDouble)
    tr.add("spark.tasks", c.tasks.toDouble)
    tr.add("spark.executor_cpu_s", c.cpuNs / 1e9)
    tr.add("spark.gc_s", c.gcMs / 1e3)
    tr.add("spark.shuffle_write_mb", c.shuffleWriteBytes / Trace.MB)
    tr.add("spark.spill_mb", c.spillBytes / Trace.MB)
    tr.add("spark.peak_exec_mem_mb", c.peakExecMemBytes / Trace.MB)
    tr.add("spark.task_failures", c.taskFailures.toDouble)
  }

  /** Fixed-work CPU sentinel: a hash-sum over `spark.range`, one task per
    * core, no IO. Recorded before and after the timed passes as evidence
    * of contention on the machine; it never adjusts a metric. */
  def sentinel(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 24000000L, 1L, cores)
      .select(sum(pmod(xxhash64(col("id")), lit(1000000L))))
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** VmHWM of this JVM, which in local mode also hosts the executors and
    * the embedded Derby sink. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The latency by which a share `q` of all rows was committed: the
    * samples sorted by latency give a cumulative row share per sample, and
    * `q` is interpolated linearly between the two samples around it, so the
    * value moves smoothly as the row counts move. */
  def weightedPercentile(samples: Seq[Sample], q: Double): Double = {
    val s = samples.sortBy(_.ms)
    val total = s.map(_.rows).sum.toDouble
    val cum = s.scanLeft(0.0)(_ + _.rows / total).tail
    val i = cum.indexWhere(_ >= q)
    if (s.isEmpty) Double.NaN
    else if (i <= 0) s.head.ms
    else s(i - 1).ms + (q - cum(i - 1)) / (cum(i) - cum(i - 1)) * (s(i).ms - s(i - 1).ms)
  }
}
