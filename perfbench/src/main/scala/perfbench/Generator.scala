package perfbench

import java.io.ByteArrayOutputStream
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPOutputStream

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.schema.ExportSchema

/** One source event of the sf0.1 `events` table. */
final case class SourceEvent(id: Long, micros: Long, userId: Long,
                             eventType: String, value: Double, props: String)

/** One export window: its gzipped JSON bundle as served on the wire and
  * what the warehouse must hold once it is loaded. */
final case class Window(start: Instant, end: Instant, gz: Array[Byte],
                        rows: Long, expectedRows: Seq[String])

/** Seeded generator of hauser-shape export records.
  *
  * Records are derived from the sf0.1 `events` table: the event time, user
  * and type come from the table; every other base field and the
  * `evt_`/`page_`/`user_` custom variables are drawn from a random stream
  * keyed by (seed, event id), so the same seed gives the same bytes.
  * Some string values carry commas, quotes, CR/LF and NUL bytes, so the
  * transform's sanitizing and the CSV stage's RFC4180 quoting do real work.
  *
  * The expected staged row of every record is rendered here, from the
  * hauser staging rules, without any program code: a timestamp is RFC3339
  * with microseconds and trailing zeros trimmed, a whole double loses its
  * ".0", CR/LF become spaces and NUL is dropped, an absent field is empty,
  * and the custom variables become one JSON object. */
final class Generator(seed: Long, events: IndexedSeq[SourceEvent]) {

  import Generator._

  private val mapper = new ObjectMapper()
  private val fields = ExportSchema.canonical(includeMobile = false)

  /** `count` windows of `hours` hours each, starting at `from`. */
  def windows(from: Instant, hours: Int, count: Int): Seq[Window] =
    (0 until count).map { w =>
      val start = from.plusSeconds(3600L * hours * w)
      val end = start.plusSeconds(3600L * hours)
      val lo = start.getEpochSecond * 1000000L
      val hi = end.getEpochSecond * 1000000L
      // `events` is in event-time order, as the export API returns records
      val recs = events.filter(e => e.micros >= lo && e.micros < hi).map { e =>
        record(e, new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ e.id))
      }
      val buf = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(buf)
      val gen = mapper.getFactory.createGenerator(gz)
      gen.writeStartArray()
      recs.foreach(mapper.writeTree(gen, _))
      gen.writeEndArray()
      gen.close()
      Window(start, end, buf.toByteArray, recs.size, recs.map(expected))
    }

  /** The export record of one source event. */
  private def record(e: SourceEvent, rng: java.util.SplittableRandom): ObjectNode = {
    val micros = e.micros
    val o = mapper.createObjectNode()
    def pick(xs: IndexedSeq[String]) = xs(rng.nextInt(xs.size))
    val session = e.userId * 1000 + rng.nextInt(50)
    val page = session * 100 + rng.nextInt(20)
    o.put("IndvId", e.userId)
    o.put("UserId", e.userId)
    o.put("SessionId", session)
    o.put("PageId", page)
    o.put("UserCreated", rfc3339(1672531200000000L + e.userId * 86400000000L))
    o.put("UserAppKey", s"app-${e.userId}")
    o.put("UserDisplayName", pick(Names))
    o.put("UserEmail", s"user${e.userId}@example.com")
    o.put("EventStart", rfc3339(micros))
    o.put("EventType", e.eventType)
    if (rng.nextInt(4) == 0) o.put("EventSubType", "dom")
    if (e.eventType == "click") {
      o.put("EventTargetText", pick(TargetTexts))
      o.put("EventTargetSelector", pick(Selectors))
    }
    o.put("EventPageOffset", rng.nextInt(600000).toLong)
    o.put("EventSessionOffset", rng.nextInt(3600000).toLong)
    o.put("EventModFrustrated", rng.nextInt(2).toLong)
    o.put("EventModDead", rng.nextInt(2).toLong)
    o.put("EventModError", if (e.eventType == "error") 1L else 0L)
    o.put("EventModSuspicious", 0L)
    if (e.eventType == "error") {
      o.put("EventVarErrorKind", pick(ErrorKinds))
      o.put("EventWebSourceFileUrl", s"https://cdn.example.com/app.${rng.nextInt(9)}.js")
    }
    o.put("EventFirstInputDelay", rng.nextInt(300).toLong)
    // sf0.1 values are 2-decimal; every tenth is whole, which Go prints
    // without the fraction
    o.put("EventCumulativeLayoutShift",
      if (rng.nextInt(10) == 0) math.rint(e.value) else e.value)
    o.put("SessionStart", rfc3339(micros - rng.nextInt(1800) * 1000000L))
    o.put("PageName", pick(Pages))
    o.put("PageStart", rfc3339(micros - rng.nextInt(600) * 1000000L -
      rng.nextInt(1000) * 1000L))
    o.put("PageDuration", rng.nextInt(600000).toLong)
    o.put("PageActiveDuration", rng.nextInt(300000).toLong)
    o.put("PageUrl", s"https://shop.example.com/${pick(Pages).toLowerCase}" +
      s"?ref=mail,promo&id=${rng.nextInt(1000)}")
    o.put("PageRefererUrl", "https://www.example.org/search?q=\"shoes\"")
    o.put("PageIp", s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}")
    o.put("PageLatLong", f"${rng.nextInt(180) - 90}%d.${rng.nextInt(100)}%02d," +
      f"${rng.nextInt(360) - 180}%d.${rng.nextInt(100)}%02d")
    o.put("PageUserAgent", pick(Agents))
    o.put("PageBrowser", pick(Browsers))
    o.put("PageBrowserVersion", s"${100 + rng.nextInt(30)}.0.${rng.nextInt(9999)}")
    o.put("PageDevice", "Desktop")
    o.put("PagePlatform", "Web")
    o.put("PageOperatingSystem", pick(Systems))
    o.put("PageScreenWidth", 1920L)
    o.put("PageScreenHeight", 1080L)
    o.put("PageViewportWidth", 1200L + rng.nextInt(700))
    o.put("PageViewportHeight", 700L + rng.nextInt(380))
    o.put("PageNumEvents", rng.nextInt(500))
    o.put("PageNumDerivedEvents", rng.nextInt(50))
    o.put("PageNumInfos", rng.nextInt(5).toLong)
    o.put("PageNumWarnings", rng.nextInt(3).toLong)
    o.put("PageNumErrors", if (e.eventType == "error") 1L else 0L)
    o.put("PageClusterId", rng.nextInt(40).toLong)
    o.put("PageMaxScrollDepthPercent", rng.nextInt(101).toLong)
    o.put("LoadDomContentTime", rng.nextInt(3000).toLong)
    o.put("LoadEventTime", rng.nextInt(5000).toLong)
    o.put("LoadFirstPaintTime", rng.nextInt(2000).toLong)
    if (rng.nextInt(3) == 0) o.put("LoadLargestPaintTime", rng.nextInt(4000).toLong)
    if (e.eventType == "purchase") {
      o.put("ReqUrl", "https://api.example.com/v1/orders")
      o.put("ReqMethod", "POST")
      o.put("ReqStatus", 201L)
    }
    // custom variables, in the key order the export API sends them
    o.put("evt_k_int", propK(e.props))
    o.put("evt_note_str", pick(Notes))
    if (rng.nextInt(2) == 0) o.put("evt_step.index_int", rng.nextInt(8))
    o.put("page_section_str", pick(Sections))
    o.put("user_plan.tier_str", pick(Tiers))
    o.put("user_score_real", rng.nextInt(10000) / 100.0)
    o
  }

  /** The staged row of one record, columns joined by \u0001. */
  private def expected(o: ObjectNode): String = {
    val custom = mapper.createObjectNode()
    o.fieldNames().forEachRemaining { k =>
      if (!fields.exists(_.sourceName == k)) custom.set(k, o.get(k))
    }
    fields.map { f =>
      if (f.sourceName == "CustomVars") mapper.writeValueAsString(custom)
      else Option(o.get(f.sourceName)).map { v =>
        f.dataType.typeName match {
          case "timestamp" => goMicros(Instant.parse(v.asText()))
          case "double" => goNumber(v.asDouble())
          case "string" => v.asText().replaceAll("[\n\r]", " ").replace("\u0000", "")
          case _ => v.asText()
        }
      }.getOrElse("")
    }.mkString(Sep)
  }
}

object Generator {
  val Sep = "\u0001"

  private val Names = IndexedSeq("Ada Lovelace", "Hopper, Grace",
    "O'Neil \"Jack\"", "Zoë Ünal", "Bob")
  private val TargetTexts = IndexedSeq("Add to cart",
    "Buy now\nand save", "Sign up, it's \"free\"", "Next\r\npage",
    "Download\u0000 report", "OK")
  private val Selectors = IndexedSeq("div.cart > button.add",
    "a[href=\"/checkout\"]", "form#signup input, button")
  private val ErrorKinds = IndexedSeq("TypeError", "NetworkError",
    "ReferenceError: x, y")
  private val Pages = IndexedSeq("Home", "Cart", "Checkout", "Search", "Product")
  private val Agents = IndexedSeq(
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Safari/605.1.15")
  private val Browsers = IndexedSeq("Chrome", "Safari", "Firefox")
  private val Systems = IndexedSeq("Linux", "macOS", "Windows")
  private val Notes = IndexedSeq("first visit", "line one\nline two",
    "said \"hi\", left", "tab\there")
  private val Sections = IndexedSeq("hero", "footer", "nav")
  private val Tiers = IndexedSeq("free", "pro", "team")

  private val SecondFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  def rfc3339(micros: Long): String =
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L).toString

  /** Go's RFC3339Micro in UTC: microseconds, trailing zeros trimmed, no
    * fraction at all on a whole second. */
  def goMicros(t: Instant): String = {
    val frac = f"${t.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
    SecondFmt.format(t) + (if (frac.isEmpty) "" else "." + frac) + "Z"
  }

  /** Go's %v of a float64 for the magnitudes generated here. */
  def goNumber(d: Double): String =
    if (d == math.rint(d)) d.toLong.toString else d.toString

  private def propK(props: String): Int =
    "\\d+".r.findFirstIn(props).map(_.toInt).getOrElse(0)

  /** The sf0.1 `events` of [`from`, `until`) in event-time order, with
    * their timestamp read as epoch micros whatever physical type the parquet
    * file uses. */
  def readEvents(spark: SparkSession, sfDir: String, from: Instant,
                 until: Instant): IndexedSeq[SourceEvent] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val micros = raw.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    raw.select(col("event_id"), micros.as("micros"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .where(col("micros") >= from.getEpochSecond * 1000000L &&
        col("micros") < until.getEpochSecond * 1000000L)
      .orderBy(col("micros"), col("event_id"))
      .collect().map(r => SourceEvent(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5)))
      .toIndexedSeq
  }
}
