package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Task counters summed over the jobs of one job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var taskFailures = 0L
}

/** Tallies task metrics per job group (`spark.jobGroup.id` of the job
  * that ran the stage). */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, Counters]()

  private def group(name: String): Counters = synchronized(groups.getOrElseUpdate(name, new Counters))

  /** Counters summed over every group whose name passes `keep`. */
  def total(keep: String => Boolean): Counters = synchronized {
    val t = new Counters
    for ((_, c) <- groups.filter { case (g, _) => keep(g) }) {
      t.jobs += c.jobs
      t.tasks += c.tasks
      t.cpuNs += c.cpuNs
      t.gcMs += c.gcMs
      t.shuffleWriteBytes += c.shuffleWriteBytes
      t.spillBytes += c.spillBytes
      t.peakExecMemBytes = math.max(t.peakExecMemBytes, c.peakExecMemBytes)
      t.taskFailures += c.taskFailures
    }
    t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    group(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c = group(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }
}

/** Keeps every streaming progress report. */
final class ProgressListener extends StreamingQueryListener {
  private val reports = mutable.ArrayBuffer[StreamingQueryProgress]()
  def progress: Seq[StreamingQueryProgress] = synchronized(reports.toList)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { reports += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A lazy plan run to the noop sink: rows, seconds and task counters. */
final case class Prefix(rows: Long, seconds: Double, jobs: Counters)

/** Span recorder for one traced pass. Spans are recorded only around the
  * benchmark's calls into the engine's layers and kept in memory; the
  * harness writes them out when the run ends. The jobs a span runs carry
  * the job group `name#id`, so the [[GroupListener]] counters split by
  * span. Layer metrics of the pass go to `metrics`. */
final class Tracer(spark: SparkSession, val runId: String, val jobs: GroupListener,
                   val streams: ProgressListener, firstId: Int) {
  val spans = mutable.ArrayBuffer[Span]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  private var open = List.empty[(Int, String)]

  def add(name: String, v: Double): Unit = metrics(name) = metrics.getOrElse(name, 0.0) + v

  def span[T](name: String)(f: => T): (T, Double) = {
    val id = firstId + spans.size + open.size
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val sc = spark.sparkContext
    open = (id, s"$name#$id") :: open
    sc.setJobGroup(open.head._2, name)
    val t0 = System.nanoTime()
    try {
      val v = f
      val t1 = System.nanoTime()
      spans += Span(id, name, t0, t1, parent, runId)
      (v, (t1 - t0) / 1e9)
    } finally {
      open = open.tail
      open.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, g)
        case None         => sc.clearJobGroup()
      }
    }
  }

  /** Runs the lazy `df` to the noop sink inside a span named
    * `name:prefix`. Used to time a cumulative prefix of a lazy plan. */
  def prefix(name: String, df: DataFrame): Prefix = {
    val obs = Observation()
    val id = firstId + spans.size + open.size
    val (_, s) = span(s"$name:prefix") {
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    Trace.drain(spark)
    Prefix(obs.get("n").asInstanceOf[Long], s, jobs.total(_ == s"$name:prefix#$id"))
  }

  /** Counters of every span named `name` so far in the pass. */
  def counters(name: String): Counters = {
    Trace.drain(spark)
    jobs.total(_.startsWith(s"$name#"))
  }
}

object Trace {
  val MB = 1024.0 * 1024.0

  /** Waits until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def spansJson(spans: Seq[Span]): String = spans.map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
      "parent" -> Json.num(s.parent), "run_id" -> Json.str(s.runId)))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
