package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.gsmls.Schemas
import graft.gsmls.Schemas._

/** Seeded generator of MLS-shaped inputs.
  *
  * Every value is a function of (seed, column name, row identity) through
  * xxhash64 (Spark's `XXH64`), evaluated per id of a `spark.range`, so the
  * content depends only on the seed, never on partitioning or scheduling.
  * Listing columns are exactly `Schemas.consumerSchema(pt)` (what the
  * consumer receives off the wire) plus `OFFSET`, the delivery-log
  * position that orders redeliveries.
  *
  * Free text is built from consonant-vowel pseudo-words. Such words cannot
  * contain any cleaning trigger ("reo", "llc", "inc", "as is", "short sale",
  * ...), so the only rows the cleaning stages flag are the planted ones.
  */
object Gen {
  /** Non-negative xxhash64 of (seed, salt, parts). */
  def hash(seed: Long, salt: String, parts: Long*): Long =
    parts.foldLeft(XXH64.hashLong(salt.hashCode.toLong, seed))((h, p) => XXH64.hashLong(p, h)) &
      Long.MaxValue

  /** Integer in [0, n). */
  def below(n: Long, seed: Long, salt: String, parts: Long*): Long = hash(seed, salt, parts: _*) % n

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"

  /** Pseudo-word for a non-negative hash: two or three consonant-vowel
    * syllables, drawn from about 350,000 words. */
  def word(h: Long): String = {
    val sb = new StringBuilder
    var x = h
    val syllables = if (h % 7 < 5) 3 else 2
    for (_ <- 0 until syllables) {
      sb.append(consonants((x % 14).toInt)).append(vowels((x / 14 % 5).toInt))
      x /= 70
    }
    sb.toString
  }

  def words(n: Int, seed: Long, salt: String, part: Long): String =
    (1 to n).map(i => word(hash(seed, salt, part, i))).mkString(" ")

  val keyColumn: Map[PropType, String] =
    Map(RES -> "MLSNUM", MUL -> "MLSNUM", LND -> "MLSNUM", RNT -> "MLSNUM", TAX -> "AUTOROW")

  /** The column a planted invalid row carries "N/A" in; the load's
    * validity rule rejects exactly those rows. */
  val priceColumn: Map[PropType, String] =
    Map(RES -> "LISTPRICE", MUL -> "LISTPRICE", LND -> "LISTPRICE", RNT -> "LP", TAX -> "SALEPRICE")

  /** Key value of key index 0 per type (key = keyBase + index). */
  val keyBase: Map[PropType, Long] =
    Map(RES -> 3000000L, MUL -> 4000000L, LND -> 5000000L, RNT -> 6000000L, TAX -> 1L)

  def key(pt: PropType, k: Long): String = (k + keyBase(pt)).toString

  /** Load validity per type, on the cleaned frame. */
  def valid(pt: PropType): Column = pt match {
    case TAX => coalesce(col("SALEPRICE").rlike("^[0-9]+$"), lit(false))
    case _   => coalesce(col(priceColumn(pt)) > 0, lit(false))
  }

  // key-level plants (identical in every version of a key)
  def plantedInvalid(seed: Long, k: Long): Boolean = below(100, seed, "invalid", k) == 0
  def plantedFixer(seed: Long, k: Long): Boolean = below(100, seed, "fixer", k) < 3
  def plantedShortSale(seed: Long, k: Long): Boolean =
    below(100, seed, "short", k) == 3 && !plantedFixer(seed, k)
  def plantedNotShortSale(seed: Long, k: Long): Boolean =
    below(100, seed, "short", k) == 4 && !plantedFixer(seed, k)
  def plantedInvestor(seed: Long, k: Long): Boolean = below(100, seed, "investor", k) < 5

  private val fixerPhrases = Seq("fixer upper", "handyman special", "needs work",
    "sold as-is", "investor special", "bring your tools")
  private val captions = Seq("Kitchen", "Living Room", "Bedroom 1", "Master Bath",
    "Exterior Front", "Garage", "Basement", "Dining Room", "Back Yard", "Floor Plan")
  private val styles = Seq("Colonial", "Ranch", "SplitLev", "CapeCod", "OneFloor", "TwnIntUn",
    "HighRise", "MultiFlr", "Victorian")
  private val counts = Seq("ROOMS", "BEDS", "BATHS", "GARAGECAP", "PARKNBRAVAIL", "FIREPLACES",
    "NUMUNITS", "NUMLOTS", "LENGTHOFLEASE", "DAYSONMARKET")
  private val mdy = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")
  private val epoch = LocalDateTime.of(2015, 1, 1, 0, 0)

  private def cap(s: String) = s"${s.head.toUpper}${s.tail}"

  /** MLS-shaped value of column `c` for the row with key index `k` and
    * delivery-log position `off`. Address-like columns depend on the key
    * only; prices and remarks change with every delivery of the key. */
  private def value(pt: PropType, c: String, seed: Long, k: Long, off: Long): String = {
    def kb(n: Long) = below(n, seed, c, k)
    def vb(n: Long) = below(n, seed, c, off)
    def num(lo: Long, n: Long) = (vb(n) + lo).toString
    def pick(opts: Seq[String], h: Long) = opts((h % opts.size).toInt)
    def list(opts: Seq[String]) = opts.filter(o => below(2, seed, c, off, o.hashCode) == 0).mkString(",")
    val price = below(9000, seed, "price", k) * 100 + 50000 + vb(20) * 500
    c match {
      case _ if c == keyColumn(pt) => key(pt, k)
      case "LISTPRICE" | "LP" | "SALEPRICE" =>
        if (plantedInvalid(seed, k)) "N/A" else (if (c == "LP") price / 100 else price).toString
      case "ORIGLISTPRICE" | "PRIORSALEAMT" | "EQVALUE" => (price + kb(50) * 1000).toString
      case "SALESPRICE" | "RENTPRICEORIG" | "RENTMONTHPERLSE" => (price - vb(30) * 100).toString
      case _ if c.startsWith("ASSESS") || c.contains("ASSESSMENT") || c == "TAXAMOUNT" ||
        c == "TAXES" || c.startsWith("INCOME") || c == "EXPENSEOPERATING" => s"${kb(90000) + 1000}.0"
      case "APPFEE" | "ASSOCFEE" => num(0, 800)
      case "SCRAPED_DATE" => LocalDateTime.of(2024, 3, 1, 0, 0).plusSeconds(off).toString.replace('T', ' ')
      case _ if c.endsWith("DATE") || c == "DATEMODIFIED" =>
        if (vb(20) == 0) null else epoch.plusMinutes(vb(60L * 24 * 3000)).format(mdy)
      case "SP/LP%" | "RP/LP%" => s"${num(90, 20)}.${num(0, 10)}%"
      case "LOTSIZE" => kb(4) match {
        case 0 => s"${num(40, 160)}x${num(60, 200)}"
        case 1 => s"${num(3000, 40000)} SF"
        case 2 => s"${num(0, 4)}.${num(1, 9)} AC"
        case _ => "IRREG"
      }
      case "ACRES" => s"0.${num(10, 89)}"
      case "YEARBUILT" => num(1900, 124)
      case "TAXYEAR" | "TAXYR" | "RATIOYR" => num(2018, 6)
      case "TAXRATE" | "RATE" | "RATIO" => s"2.${num(100, 899)}"
      case _ if counts.exists(c.contains) || c == "OWNERS" => if (vb(40) == 0) null else num(0, 9)
      case "SQFTAPPROX" | "SQFTBLDG" => num(600, 4000)
      case "REMARKSPUBLIC" =>
        val plant =
          if (plantedFixer(seed, k)) Some(pick(fixerPhrases, hash(seed, "fixerphrase", k)))
          else if (plantedShortSale(seed, k)) Some("short sale")
          else if (plantedNotShortSale(seed, k)) Some("not a short sale")
          else None
        (Seq(words(8 + vb(12).toInt, seed, "remarks", off)) ++ plant :+ words(3, seed, "tail", off))
          .mkString(" ")
      case "REMARKSAGENT" | "SHOWSPECIAL" | "PROPERTYDESC" | "BUILDINGDESC" =>
        if (vb(10) == 0) null else words(2 + vb(5).toInt, seed, c, off)
      case "OWNERNAME" =>
        if (plantedInvestor(seed, k)) cap(words(1, seed, "firm", k)) + " Holdings LLC"
        else words(2, seed, "owner", k).split(' ').map(cap).mkString(" ")
      case "OWNER" | "PRIOROWNER" | "AGENTSELLNAME" | "OFFICESELLNAME" => words(2, seed, c, k).toUpperCase
      case "TOWN" => cap(words(1, seed, "town", kb(60))) + (if (kb(5) == 0) s".(${kb(8999) + 1000})*" else "")
      case "COUNTY" | "LOCCITY" | "MAILCITY" | "SUBDIVISION" => cap(words(1, seed, c, kb(60)))
      case "STREETNAME" | "LOCSTREET" | "MAILSTREET" =>
        cap(words(1, seed, c, k)) + " St" + (if (kb(9) == 0) "*" else "")
      case "ZIPCODE" | "LOCZIP" | "MAILZIP" => f"07${kb(999)}%03d"
      case "TAXID" | "PARCEL_NO" => f"${kb(9999)}%04d-${kb(99999)}%05d-0000-${kb(999)}%05d-0000"
      case "STYLEPRIMARY_SHORT" => pick(styles, kb(1L << 30))
      case "STYLE_SHORT" => list(styles)
      case "FLOORS_SHORT" => list(Seq("Wood", "Tile", "Carpet", "Vinyl"))
      case "UTILITIES_SHORT" => list(Seq("Gas", "Electric", "Cable"))
      case "WATER_SHORT" => pick(Seq("Public", "Public,Filter", "Well", "Private", "Assoctn"), kb(1L << 30))
      case "POOL_SHORT" => if (kb(8) == 0) "Y" else "N"
      case "IMAGES" =>
        (1 to 1 + vb(6).toInt).map { i =>
          s"'${pick(captions, hash(seed, "caption", off, i))} $i': 'https://img.example/$k/$i.jpg'"
        }.mkString("{", ", ", "}")
      case "LATITUDE" => f"40.${kb(999999)}%06d"
      case "LONGITUDE" => f"-74.${kb(999999)}%06d"
      case "MLS" => "GSMLS"
      case "QTR" => num(1, 4)
      case "PROP_CLASS" => pt.name
      case "CONDITION" => null
      case "STATUS_SHORT" => pick(Seq("A", "UC", "S", "W"), vb(1L << 30))
      case _ if c.endsWith("_SHORT") => list(Seq("Aba", "Bedo", "Kira", "Lomu", "Nepa", "Sute"))
      case _ if c.contains("CODE") || c.contains("NUM") || c.contains("ID") || c.startsWith("LOT") ||
        c.startsWith("BLOCK") || c.startsWith("AGENT") || c.startsWith("OFFICE") || c.startsWith("COMP") ||
        c == "AUTOROW" || c == "MAP" || c.contains("DEED") =>
        kb(9999).toString + (if (kb(13) == 0) "*" else "")
      case _ => words(1, seed, c, kb(500))
    }
  }

  /** Columns that are never null in the generator (keys, the validity
    * column, and the columns that carry plants or ordering). */
  private def neverNull(pt: PropType, c: String) =
    c == keyColumn(pt) || c == priceColumn(pt) || c == "REMARKSPUBLIC" || c == "OWNERNAME" ||
      c == "IMAGES" || c == "SCRAPED_DATE"

  def listingSchema(pt: PropType): StructType =
    StructType(Schemas.consumerSchema(pt).fields :+ StructField("OFFSET", LongType, nullable = false))

  /** The consumer-shaped row of key index `k` delivered at `off`. About 3%
    * of the other values are null, to exercise the sentinel fill. */
  def listing(pt: PropType, seed: Long, k: Long, off: Long): Row =
    Row.fromSeq(Schemas.consumerSchema(pt).fieldNames.toSeq.map { c =>
      if (!neverNull(pt, c) && below(33, seed, "null" + c, off) == 0) null
      else value(pt, c, seed, k, off)
    } :+ off)

  /** A generated input relation: the rows made from each id of
    * `spark.range(n)` by `rows`. */
  final case class Source(n: Long, schema: StructType, rows: Long => Seq[Row]) {
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(spark.range(n).rdd.flatMap(id => rows(id.longValue)), schema)

    /** Row count and an order-independent content hash of the rows of the
      * first `ids` ids, computed on the driver from the same row function. */
    def checksum(ids: Long): String = {
      var count = 0L
      var sum = BigInt(0)
      for (id <- 0L until math.min(n, ids); r <- rows(id)) {
        count += 1
        sum += scala.util.hashing.MurmurHash3.seqHash(r.toSeq)
      }
      s"$count:$sum"
    }
  }

  /** A backfill landing: `nKeys` keys, about a quarter redelivered once
    * with a later OFFSET and new prices/remarks. */
  def backfill(pt: PropType, seed: Long, nKeys: Long): Source =
    Source(nKeys, listingSchema(pt), { k =>
      val first = listing(pt, seed, k, k)
      if (redelivered(pt, seed, k)) Seq(first, listing(pt, seed, k, k + nKeys)) else Seq(first)
    })

  def redelivered(pt: PropType, seed: Long, k: Long): Boolean =
    below(4, seed, "redeliver" + pt.name, k) == 0
}
