package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.gsmls.Pipeline
import graft.gsmls.Schemas._
import graft.operators.Relational
import graft.streaming.Streaming

/** `deliveries`: a closed loop of small RES/TAX deliveries, one client.
  * Each delivery lands as one parquet file in its type's landing
  * directory and is drained by `Streaming.runAvailableNow` from that
  * type's checkpoint, with `Pipeline.forType` as the clean step; the next
  * delivery lands only after the drain returns. The landing directories
  * grow during a pass, so costs that scale with delivery history show in
  * the tail latency. */
final class Deliveries(ctx: Ctx) extends Workload {
  import ctx.spark

  val types: Seq[PropType] = Seq(RES, TAX)
  /** Deliveries per pass and rows per delivery. RES, the largest feed,
    * sends two of every three deliveries, so the median delivery is a RES
    * drain rather than the boundary between the two types' costs. */
  val perPass = 9
  val rowsPerDelivery = 500L
  val schedule: Seq[PropType] = Seq.tabulate(perPass)(d => if (d % 3 == 2) TAX else RES)

  type Landing = String // staging directory: <type>/DELIVERY=<n>/<one parquet file>

  private var sinks = Map.empty[PropType, String]

  /** One type's delivery stream. Row `r` belongs to the type's `j`-th
    * delivery, `j = r / rowsPerDelivery`, which is delivery `DELIVERY` of
    * the schedule; a fifth of the rows after the first delivery redeliver
    * the key of an earlier row, with a later OFFSET. */
  private def stream(pt: PropType, seed: Long): Gen.Source = {
    val m = rowsPerDelivery
    val global = schedule.indices.filter(schedule(_) == pt).map(_.toLong).toArray
    Gen.Source(global.length * m, Gen.listingSchema(pt).add("DELIVERY", LongType, nullable = false), { r =>
      val j = r / m
      val k = if (j > 0 && Gen.below(5, seed, "redeliver" + pt.name, r) == 0) Gen.below(j * m, seed, "which", r) else r
      Seq(Row.fromSeq(Gen.listing(pt, seed, k, r).toSeq :+ global(j.toInt)))
    })
  }

  def inputs(seed: Long): Seq[Gen.Source] = types.map(stream(_, seed))

  def land(): Landing = {
    val dir = ctx.dir("staging")
    for (pt <- types)
      stream(pt, ctx.seed).frame(spark).repartition(col("DELIVERY")).write.partitionBy("DELIVERY")
        .parquet(s"$dir/${pt.name}")
    dir
  }

  private def staged(l: Landing, d: Int): File = {
    val dir = new File(s"$l/${schedule(d).name}/DELIVERY=$d")
    val files = dir.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(files.length == 1, s"delivery $d: expected one staged file, found ${files.length}")
    files.head
  }

  def pass(l: Landing, tr: Option[Tracer]): PassResult = {
    val root = ctx.dir("deliveries")
    val landing = types.map(pt => pt -> s"$root/landing/${pt.name}").toMap
    sinks = types.map(pt => pt -> s"$root/sink/${pt.name}").toMap
    landing.values.foreach(p => new File(p).mkdirs())
    val tmp = new File(s"$root/incoming")
    tmp.mkdirs()
    val calls = Array.fill(perPass)(0L)
    val t0 = System.nanoTime()
    val samples = (0 until perPass).flatMap { d =>
      val pt = schedule(d)
      val key = Gen.keyColumn(pt)
      // land: copy outside the watched directory, then rename into it
      val part = new File(tmp, f"d$d%05d.parquet").toPath
      Files.copy(staged(l, d).toPath, part)
      Files.move(part, new File(landing(pt), f"d$d%05d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
      val landed = System.nanoTime()
      calls(d) = System.currentTimeMillis()
      // The sink's order column is the delivery number: every drain
      // commits exactly the one delivery landed before it.
      val clean: DataFrame => DataFrame = tr match {
        case None => b => Pipeline.forType(pt)(b).withColumn("DELIVERY", lit(d.toLong))
        case Some(t) => b => {
          val dedup = t.prefix("relational.dedup", b)
          val clean = t.prefix("gsmls.clean", Pipeline.forType(pt)(b))
          t.add("gsmls.clean.self_s", clean.seconds - dedup.seconds)
          t.add("gsmls.clean.rows", clean.rows.toDouble)
          Pipeline.forType(pt)(b).withColumn("DELIVERY", lit(d.toLong))
        }
      }
      ctx.op(s"drain delivery $d") {
        ctx.span(tr, "streaming.drain") {
          Streaming.runAvailableNow(
            Streaming.parquetSource(spark, landing(pt), Gen.listingSchema(pt)), clean,
            Streaming.StreamConfig(Seq(key), "OFFSET", sinks(pt), s"$root/checkpoint/${pt.name}"))
        }
        Sample((System.nanoTime() - landed) / 1e6, rowsPerDelivery)
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    tr.foreach(t => streamingLayer(t, calls))
    PassResult(seconds, perPass * rowsPerDelivery, samples)
  }

  /** Per-trigger stage durations from the progress reports, summed per
    * delivery (one query run each) and reported as medians per delivery. */
  private def streamingLayer(t: Tracer, calls: Array[Long]): Unit = {
    Trace.drain(spark)
    val runs = t.streams.progress.groupBy(_.runId).values.toSeq
      .map(_.sortBy(p => Instant.parse(p.timestamp).toEpochMilli))
      .sortBy(ps => Instant.parse(ps.head.timestamp).toEpochMilli)
    def perDelivery(f: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] => Double) =
      Stats.median(runs.map(f))
    def stage(name: String) = perDelivery(_.map(p =>
      Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)).sum)
    if (runs.size == calls.length)
      t.add("streaming.start_ms", Stats.median(runs.zip(calls).map { case (ps, c) =>
        (Instant.parse(ps.head.timestamp).toEpochMilli - c).toDouble }))
    t.add("streaming.latest_offset_ms", stage("latestOffset"))
    t.add("streaming.query_planning_ms", stage("queryPlanning"))
    t.add("streaming.add_batch_ms", stage("addBatch"))
    t.add("streaming.wal_commit_ms", stage("walCommit"))
    t.add("streaming.commit_offsets_ms", stage("commitOffsets"))
    t.add("streaming.triggers", perDelivery(_.size.toDouble))
    val all = runs.flatten
    t.add("streaming.data_trigger_ratio", all.count(_.numInputRows > 0).toDouble / all.size)
  }

  def check(l: Landing): CheckResult = {
    val failures = Seq.newBuilder[String]
    var redelivered = 0L
    var collapsed = 0L
    for (pt <- types) {
      val key = Gen.keyColumn(pt)
      val delivered = spark.read.parquet(s"$l/${pt.name}").drop("DELIVERY")
      val expected = Pipeline.forType(pt)(Relational.dedupKeepLast(delivered, Seq(key), col("OFFSET")))
      val view = Streaming.dedupedView(spark, sinks(pt), Seq(key), "DELIVERY")
        .select(expected.columns.map(c => col(s"`$c`")): _*)
      // exceptAll both ways, as multisets on the driver
      def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
      val (want, got) = (bag(expected), bag(view))
      val missing = want.toSeq.flatMap { case (r, n) => Seq.fill(n - got.getOrElse(r, 0))(r) }
      val extra = got.toSeq.flatMap { case (r, n) => Seq.fill(n - want.getOrElse(r, 0))(r) }
      if (missing.nonEmpty || extra.nonEmpty)
        failures += s"${pt.name}: deduped view differs from keep-last + clean over all deliveries: " +
          s"${missing.size} rows missing, ${extra.size} unexpected"
      // dup recall: redelivered keys whose view row is exactly their last delivery
      val src = stream(pt, ctx.seed)
      val at = src.schema.fieldIndex(key)
      val again = (0L until src.n).flatMap(src.rows).groupBy(_.getString(at)).filter(_._2.size > 1).keySet
      val k = expected.columns.indexOf(key)
      val wrong = (missing ++ extra).map(_(k).toString).toSet
      redelivered += again.size
      collapsed += (again -- wrong).size
    }
    CheckResult(failures.result(), collapsed.toDouble / redelivered,
      Seq("redelivered_keys" -> Json.num(redelivered), "deliveries_per_pass" -> Json.num(perPass.toLong)))
  }
}
