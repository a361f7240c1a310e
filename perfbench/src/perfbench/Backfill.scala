package perfbench

import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gsmls.Pipeline
import graft.gsmls.Schemas._
import graft.io.Jdbc
import graft.operators.{ImagesDoc, Relational}

object Derby {
  /** Drops the in-memory database `url` (if present) so each pass starts
    * empty and earlier passes do not pin tables on the heap. */
  def reset(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () } // 08006 on drop, XJ004 when absent

  def create(url: String): String = {
    reset(url)
    DriverManager.getConnection(s"$url;create=true").close()
    url
  }
}

/** One landed listing input: its parquet path and row count. */
final case class Input(path: String, rows: Long)

/** `backfill`: the nightly batch. Every property type of a multi-day
  * scrape is landed as parquet (consumer schema + OFFSET); one pass loads
  * the five types in turn, each `dedupKeepLast` -> `Pipeline.forType` ->
  * `Jdbc.writeWithQuarantine` into its `*_PROPERTIES` table, RES also
  * writes its image documents, and then the relist near-dup stage
  * ([[NearDup]]) resolves re-listed properties. */
final class Backfill(ctx: Ctx) extends Workload {
  import ctx.spark

  /** Distinct keys per type; about 25% more rows are redeliveries. */
  val keys: Seq[(PropType, Long)] =
    Seq(RES -> 2000L, MUL -> 500L, LND -> 400L, RNT -> 500L, TAX -> 1000L)

  type Landing = (Map[PropType, Input], Corpus)

  private val nearDup = new NearDup(ctx)

  private val db = "jdbc:derby:memory:perfbench_backfill"
  private var out = ""

  private def table(pt: PropType) = s"${pt.name}_PROPERTIES"

  def inputs(seed: Long): Seq[Gen.Source] =
    keys.map { case (pt, n) => Gen.backfill(pt, seed, n) } :+ nearDup.source(seed)

  def land(): Landing = {
    val dir = ctx.dir("landing")
    val listings = keys.map { case (pt, n) =>
      val p = s"$dir/${pt.name}"
      Gen.backfill(pt, ctx.seed, n).frame(spark).write.parquet(p)
      pt -> Input(p, n + (0L until n).count(Gen.redelivered(pt, ctx.seed, _)))
    }.toMap
    (listings, nearDup.land())
  }

  override def release(l: Landing): Unit = nearDup.release(l._2)

  def pass(l: Landing, tr: Option[Tracer]): PassResult = {
    val (listings, corpus) = l
    Derby.create(db)
    out = ctx.dir("backfill-out")
    val t0 = System.nanoTime()
    val samples = keys.map { case (pt, n) =>
      ctx.op(s"load ${pt.name}")(load(pt, n, listings(pt), tr))
      Sample((System.nanoTime() - t0) / 1e6, listings(pt).rows)
    }
    nearDup.run(corpus, s"$out/neardup", tr)
    val docs = corpus.truth.size.toLong
    PassResult((System.nanoTime() - t0) / 1e9, listings.values.map(_.rows).sum + docs,
      samples :+ Sample((System.nanoTime() - t0) / 1e6, docs))
  }

  private def load(pt: PropType, nKeys: Long, in: Input, tr: Option[Tracer]): Unit = {
    val key = Gen.keyColumn(pt)
    val raw = spark.read.parquet(in.path)
    val deduped = Relational.dedupKeepLast(raw, Seq(key), col("OFFSET"))
    val cleaned = Pipeline.forType(pt)(deduped)
    // Traced: time each cumulative prefix of the lazy plan; a layer's self
    // time is the difference between successive prefixes.
    val prefixS = tr.map { t =>
      val scan = t.prefix("scan", raw)
      val dedup = t.prefix("relational.dedup", deduped)
      val clean = t.prefix("gsmls.clean", cleaned)
      t.add("relational.dedup.self_s", dedup.seconds - scan.seconds)
      t.add("relational.dedup.shuffle_write_mb", (dedup.jobs.shuffleWriteBytes - scan.jobs.shuffleWriteBytes) / Trace.MB)
      t.add("relational.dedup.rows_in", scan.rows.toDouble)
      t.add("relational.dedup.rows_out", dedup.rows.toDouble)
      t.add("gsmls.clean.self_s", clean.seconds - dedup.seconds)
      t.add("gsmls.clean.cpu_s", (clean.jobs.cpuNs - dedup.jobs.cpuNs) / 1e9)
      t.add("gsmls.clean.rows", clean.rows.toDouble)
      (dedup.seconds, clean.seconds)
    }
    val ((written, quarantined), writeS) = ctx.span(tr, "io.jdbc_write") {
      Jdbc.writeWithQuarantine(cleaned, Gen.valid(pt), db, table(pt), s"$out/quarantine/${pt.name}")
    }
    if (written + quarantined != nKeys)
      throw new IllegalStateException(s"${pt.name}: $written loaded + $quarantined quarantined != $nKeys keys")
    tr.foreach { t =>
      // the sink runs two jobs over the cleaned input: valid rows to JDBC,
      // the rest to the parquet quarantine
      t.add("io.jdbc_write.self_s", writeS - 2 * prefixS.get._2)
      t.add("io.jdbc_write.rows", written.toDouble)
      t.add("io.quarantine.rows", quarantined.toDouble)
    }
    if (pt == RES) {
      val docs = ImagesDoc.assembleDocuments(
        ImagesDoc.explodeImages(deduped, key, "IMAGES", "CONDITION", lit("images")))
      val (_, docS) = ctx.span(tr, "images.doc_write")(ImagesDoc.writeDocuments(docs, s"$out/docs"))
      tr.foreach { t =>
        t.add("images.doc_write.self_s", docS - prefixS.get._1)
        t.add("images.docs", spark.read.text(s"$out/docs").count().toDouble)
      }
    }
  }

  // ---- output checks on the most recent pass ----

  /** A column of the cleaned output that differs between deliveries of a key. */
  private def versionColumn(pt: PropType) = pt match {
    case RNT => "RENTMONTHPERLSE"
    case TAX => "SALEPRICE"
    case _   => "LISTING_REMARKS"
  }

  def check(l: Landing): CheckResult = {
    val loads = checkLoads(l._1)
    val nd = nearDup.check(l._2, s"$out/neardup")
    CheckResult(loads.failures ++ nd.failures, nd.dupRecall, loads.details ++ nd.details)
  }

  private def checkLoads(l: Map[PropType, Input]): CheckResult = {
    val failures = Seq.newBuilder[String]
    var nRedelivered = 0L
    var collapsed = 0L
    for ((pt, nKeys) <- keys) {
      val key = Gen.keyColumn(pt)
      val version = versionColumn(pt)
      val flags = Seq("CONDITION", "SHORT_SALE", "INVESTMENT_SALE")
      def rows(df: DataFrame, quarantined: Boolean) = df.select(
        (Seq(col(key), col(version).cast("string"), lit(quarantined)) ++
          flags.map(f => if (df.columns.contains(f)) col(f).cast("string") else lit(null).cast("string"))): _*)
        .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3), r.getString(4),
          r.getString(5)))
      val got = rows(Jdbc.read(spark, db, table(pt)), quarantined = false) ++
        rows(spark.read.parquet(s"$out/quarantine/${pt.name}"), quarantined = true)
      val want = Pipeline.forType(pt)(Relational.dedupKeepLast(spark.read.parquet(l(pt).path), Seq(key),
        col("OFFSET"))).select(col(key), col(version).cast("string")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val byKey = got.groupBy(_._1)
      if (got.length != nKeys || byKey.size != nKeys)
        failures += s"${pt.name}: ${got.length} loaded+quarantined rows, ${byKey.size} keys, want $nKeys"
      val stale = byKey.count { case (k, rs) => rs.exists(r => Option(r._2) != Option(want.getOrElse(k, "?"))) }
      if (stale > 0) failures += s"${pt.name}: $stale keys carry another delivery's $version than the last"

      def sameKeys(what: String, flagged: Iterable[String], planted: Long => Boolean): Unit = {
        val truth = (0L until nKeys).filter(planted).map(Gen.key(pt, _)).toSet
        val g = flagged.toSet
        if (g != truth) failures += s"${pt.name}: $what: ${(g -- truth).size} keys unexpected, " +
          s"${(truth -- g).size} keys missing"
      }
      sameKeys("quarantine", got.filter(_._3).map(_._1), Gen.plantedInvalid(ctx.seed, _))
      if (pt == RES || pt == MUL) {
        sameKeys("fixer-upper flags", got.filter(_._4 == "Fixer Upper").map(_._1), Gen.plantedFixer(ctx.seed, _))
        sameKeys("short-sale flags", got.filter(_._5 == "true").map(_._1), Gen.plantedShortSale(ctx.seed, _))
      }
      if (pt == RES || pt == MUL || pt == LND)
        sameKeys("investment-seller flags", got.filter(_._6 == "true").map(_._1), Gen.plantedInvestor(ctx.seed, _))

      // dup recall: redelivered keys that come out once, as their last delivery
      val again = (0L until nKeys).filter(Gen.redelivered(pt, ctx.seed, _)).map(Gen.key(pt, _))
      nRedelivered += again.size
      collapsed += again.count(k => byKey.get(k).exists(rs => rs.length == 1 &&
        Option(rs.head._2) == Option(want.getOrElse(k, "?"))))
    }
    // image documents: one per RES listing, with every image of its last delivery
    val nRes = keys.head._2
    val wantImages = (0L until nRes).map { k =>
      1 + Gen.below(6, ctx.seed, "IMAGES", if (Gen.redelivered(RES, ctx.seed, k)) k + nRes else k)
    }.sum
    val docs = spark.read.text(s"$out/docs")
    val gotDocs = docs.count()
    val gotImages = docs.agg(sum(size(split(col("value"), "https://img\\.example/")) - 1)).head().getLong(0)
    if (gotDocs != nRes || gotImages != wantImages)
      failures += s"RES image documents: $gotDocs docs / $gotImages images, want $nRes / $wantImages"
    CheckResult(failures.result(), collapsed.toDouble / nRedelivered, Seq(
      "redelivered_keys" -> Json.num(nRedelivered), "redelivered_keys_collapsed" -> Json.num(collapsed),
      "image_docs" -> Json.num(gotDocs)))
  }
}
