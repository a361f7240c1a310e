package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Jdbc
import graft.operators.{Curation, Relational, Similarity}

/** A landed remarks corpus: its Derby URL, the DOC_ID range, and the
  * planted truth (family, listing date, remarks per DOC_ID). */
final case class Corpus(url: String, lo: Long, hi: Long, truth: Map[Long, (Long, String, String)])

/** The relist near-dup stage of `backfill`: near-duplicate resolution over
  * the remarks of re-listed properties, read back from a Derby table.
  * Within a family every relist edits a few words of the previous
  * listing's remarks, so hop-1 pairs pass the Jaccard threshold and longer
  * hops do not; only the transitive closure puts a whole chain in one
  * component. One run: `Jdbc.readPartitioned` -> `Similarity.lshJaccard` ->
  * `Curation.connectedComponents` -> a canonical (earliest) listing per
  * component with `Relational.dedupKeepFirst`; pairs, components and
  * canonical listings are committed as parquet. */
final class NearDup(ctx: Ctx) {
  import ctx.spark

  val families = 450L
  val maxChain = 7
  val words = 40
  val editsPerHop = 2
  val shingleN = 3
  val numHashes = 24
  val rowsPerBand = 3
  val bucketCap = 100
  val threshold = 0.7

  private val table = "LISTING_REMARKS"
  private val corpusSchema = StructType(Seq(StructField("DOC_ID", LongType, nullable = false),
    StructField("MLSNUM", StringType), StructField("LISTDATE", StringType),
    StructField("REMARKS", StringType), StructField("FAMILY", LongType, nullable = false)))

  private var landed = 0

  /** Listings of relisted properties: family `f` has 1 to `maxChain`
    * listings; listing `h` of a family re-edits `editsPerHop` word
    * positions of listing `h - 1`. */
  def source(seed: Long): Gen.Source = {
    val (words, maxChain, editsPerHop) = (this.words, this.maxChain, this.editsPerHop)
    Gen.Source(families, corpusSchema, { f =>
      val text = Array.tabulate(words)(p => Gen.word(Gen.hash(seed, "word", f, p, 0)))
      val start = LocalDate.of(2018, 1, 1).plusDays(Gen.below(1500, seed, "date", f))
      (0 to Gen.below(maxChain, seed, "chain", f).toInt).map { h =>
        for (e <- 0 until editsPerHop if h > 0) {
          val p = Gen.below(words, seed, "pos", f, h, e).toInt
          text(p) = Gen.word(Gen.hash(seed, "word", f, p, h))
        }
        Row((f * maxChain + h) * 48271L % 2147483647L, (f + 3000000L).toString,
          start.plusDays(h * 45 + Gen.below(30, seed, "date", f, h)).toString, text.mkString(" "), f)
      }
    })
  }

  def land(): Corpus = {
    landed += 1
    val url = Derby.create(s"jdbc:derby:memory:perfbench_relist$landed")
    val gen = source(ctx.seed).frame(spark).cache()
    // the program receives the listings without their family labels
    Jdbc.append(gen.drop("FAMILY"), url, table)
    val rows = gen.collect()
    gen.unpersist()
    val truth = rows.map(r => r.getLong(0) -> ((r.getLong(4), r.getString(2), r.getString(3)))).toMap
    Corpus(url, truth.keys.min, truth.keys.max, truth)
  }

  def release(l: Corpus): Unit = Derby.reset(l.url)

  /** One near-dup run over `l`, committing its outputs under `out`. */
  def run(l: Corpus, out: String, tr: Option[Tracer]): Unit = {
    val docs = Jdbc.readPartitioned(spark, l.url, table, "DOC_ID", l.lo, l.hi + 1, ctx.cores)
    val readS = tr.map { t =>
      val read = t.prefix("io.jdbc_read", docs)
      t.add("io.jdbc_read.self_s", read.seconds)
      t.add("io.jdbc_read.rows", read.rows.toDouble)
      read.seconds
    }
    val pairs = ctx.op("lshJaccard") {
      val (p, s) = ctx.span(tr, "similarity.lsh") {
        Similarity.lshJaccard(docs, "DOC_ID", "REMARKS", shingleN, numHashes, rowsPerBand,
          bucketCap, threshold)
      }
      tr.foreach(t => t.add("similarity.lsh.self_s", s - readS.get))
      p
    }
    val comps = pairs.flatMap(p => ctx.op("connectedComponents") {
      ctx.span(tr, "curation.components")(Curation.connectedComponents(docs, "DOC_ID", p))._1
    })
    for (p <- pairs; c <- comps) ctx.op("canonical") {
      val joined = docs.join(c, "DOC_ID")
      val canonical = Relational.dedupKeepFirst(joined, Seq("component"), col("LISTDATE"))
      tr.foreach { t =>
        val join = t.prefix("components.join", joined)
        val canon = t.prefix("relational.dedup", canonical)
        t.add("relational.dedup.self_s", canon.seconds - join.seconds)
        t.add("relational.dedup.shuffle_write_mb",
          (canon.jobs.shuffleWriteBytes - join.jobs.shuffleWriteBytes) / Trace.MB)
        t.add("relational.dedup.rows_in", join.rows.toDouble)
        t.add("relational.dedup.rows_out", canon.rows.toDouble)
        t.add("curation.components.count", canon.rows.toDouble)
      }
      ctx.span(tr, "commit") {
        p.write.parquet(s"$out/pairs")
        c.write.parquet(s"$out/components")
        canonical.write.parquet(s"$out/canonical")
      }
    }
    tr.foreach { t =>
      val lsh = t.counters("similarity.lsh")
      val cc = t.counters("curation.components")
      t.add("similarity.lsh.jobs", lsh.jobs.toDouble)
      t.add("similarity.lsh.shuffle_write_mb", lsh.shuffleWriteBytes / Trace.MB)
      t.add("similarity.lsh.spill_mb", lsh.spillBytes / Trace.MB)
      t.add("similarity.lsh.pairs", spark.read.parquet(s"$out/pairs").count().toDouble)
      t.add("curation.components.self_s", t.spans.filter(_.name == "curation.components").map(_.seconds).sum)
      t.add("curation.components.jobs", cc.jobs.toDouble)
      t.add("curation.components.shuffle_write_mb", cc.shuffleWriteBytes / Trace.MB)
    }
    pairs.foreach(_.unpersist())
  }

  // ---- output checks on the outputs under `out` ----

  private def shingles(text: String): Set[String] =
    text.split("\\s+", -1).sliding(shingleN).filter(_.length == shingleN).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size
    BigDecimal(inter.toDouble / (a.size + b.size - inter)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def check(l: Corpus, out: String): CheckResult = {
    val failures = Seq.newBuilder[String]
    val sh = l.truth.map { case (id, (_, _, text)) => id -> shingles(text) }
    val pairs = spark.read.parquet(s"$out/pairs").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val comp = spark.read.parquet(s"$out/components").collect()
      .map(r => r.getAs[Long]("DOC_ID") -> r.getAs[Long]("component")).toMap
    val canonical = spark.read.parquet(s"$out/canonical").collect()
      .map(r => r.getAs[Long]("component") -> r.getAs[Long]("DOC_ID"))

    // union-find on the driver over the returned pairs
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b, _) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    if (comp.size != l.truth.size || l.truth.keys.exists(id => comp.get(id) != Some(find(id))))
      failures += s"components differ from a union-find over the ${pairs.length} returned pairs"
    val badJaccard = pairs.count { case (a, b, j) => j != jaccard(sh(a), sh(b)) || j < threshold }
    if (badJaccard > 0) failures += s"$badJaccard pairs' Jaccard differs from an exact recomputation"
    val members = comp.groupBy(_._2).map { case (c, m) => c -> m.keys.toSeq }
    val mixed = members.count(_._2.map(id => l.truth(id)._1).distinct.size > 1)
    if (mixed > 0) failures += s"$mixed components span two planted families"
    val earliest = members.map { case (c, m) => c -> m.minBy(id => l.truth(id)._2) }
    if (canonical.length != members.size || canonical.exists { case (c, id) => earliest.get(c) != Some(id) })
      failures += s"canonical listings are not the earliest listing of each of ${members.size} components"

    // recall over planted near-duplicate pairs (same family, exact Jaccard >= threshold)
    val planted = l.truth.groupBy(_._2._1).values.toSeq.flatMap { fam =>
      fam.keys.toSeq.sorted.combinations(2).collect {
        case Seq(a, b) if jaccard(sh(a), sh(b)) >= threshold => (a, b)
      }
    }
    val found = planted.count { case (a, b) => comp.get(a) == comp.get(b) }
    CheckResult(failures.result(), found.toDouble / planted.size, Seq(
      "docs" -> Json.num(l.truth.size.toLong), "planted_pairs" -> Json.num(planted.size.toLong),
      "returned_pairs" -> Json.num(pairs.length.toLong), "components" -> Json.num(members.size.toLong)))
  }
}
