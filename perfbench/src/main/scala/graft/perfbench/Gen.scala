package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded input generator plus the model the output checks compare against.
  *
  * Produces Ad-Manager-shaped nested line-item documents (FIXTURES.md B1,
  * the `line_item` service of `ad_manager_config.json`). Day 0 delivers
  * every initial key; each later day delivers a fixed share of live keys
  * with changed attributes and grown cumulative counters, plus new keys.
  * Each document carries 0..`maxList` targeted locations, ad units and
  * custom fields, so a share 1/(maxList+1) of the lists is empty. From
  * `driftDay` on, every document carries one extra top-level field.
  *
  * Everything is a pure function of the seed and the call sequence, and the
  * rendered bytes are built by hand (no map iteration order), so the same
  * seed gives byte-identical files. Counter magnitudes are chosen so that
  * CSV schema inference sees the same column types on every day.
  */
final case class GenParams(
    initialKeys: Int,
    changedShare: Double,
    newShare: Double,
    maxList: Int,
    driftDay: Int
)

/** One line item as the engine's warehouse will hold it (model state). */
final case class Item(
    orderId: Long,
    id: Long,
    rev: Int,
    status: String,
    micro: Long,
    impressions: Long,
    clicks: Long,
    viewable: Long,
    dImpressions: Long,
    dClicks: Long,
    dViewable: Long,
    locations: Int,
    adUnits: Int,
    customFields: Int
) {
  def name: String = s"li-${id - Gen.IdBase}-r$rev"

  /** The checked projection of an active warehouse row, in [[Gen.CheckedCols]] order. */
  def checked: String =
    Seq(id, orderId, name, status, micro, impressions, clicks, viewable, dImpressions, dClicks, dViewable).mkString("|")
}

final class Gen(seed: Long, val p: GenParams) {
  import Gen._

  private val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
  private var nextKey = 0L
  private var dayNo = -1

  /** Live items by id: the model of the warehouse's active rows. */
  val live: mutable.LinkedHashMap[Long, Item] = mutable.LinkedHashMap.empty
  /** Cumulative counters at each key's last delivery: the delta state store. */
  private val state = mutable.HashMap.empty[Long, (Long, Long, Long)]

  /** Model totals over every delivered document. */
  var historyRows = 0L
  var sumDImpressions = 0L
  var sideLocations = 0L
  var sideAdUnits = 0L
  var sideCustomFields = 0L

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def newItem(): Item = {
    val k = nextKey; nextKey += 1
    Item(
      orderId = OrderBase + k / 4, id = IdBase + k, rev = 0, status = pick(Statuses),
      micro = 100000L + rnd.nextInt(9900000), impressions = 2200000000L + rnd.nextInt(1000000),
      clicks = rnd.nextInt(100000).toLong, viewable = rnd.nextInt(1000000).toLong,
      0, 0, 0, 0, 0, 0)
  }

  private def changed(it: Item): Item =
    it.copy(
      rev = it.rev + 1,
      status = pick(Statuses),
      micro = if (rnd.nextInt(4) == 0) 100000L + rnd.nextInt(9900000) else it.micro,
      impressions = it.impressions + 1 + rnd.nextInt(50000),
      clicks = it.clicks + rnd.nextInt(2000),
      viewable = it.viewable + rnd.nextInt(20000))

  /** Draw list lengths, apply the delta model, and record the delivery. */
  private def deliver(it0: Item): Item = {
    val it1 = it0.copy(
      locations = rnd.nextInt(p.maxList + 1), adUnits = rnd.nextInt(p.maxList + 1),
      customFields = rnd.nextInt(p.maxList + 1))
    val (pi, pc, pv) = state.getOrElse(it1.id, (0L, 0L, 0L))
    val it = it1.copy(dImpressions = it1.impressions - pi, dClicks = it1.clicks - pc, dViewable = it1.viewable - pv)
    state(it.id) = (it.impressions, it.clicks, it.viewable)
    live(it.id) = it
    historyRows += 1
    sumDImpressions += it.dImpressions
    sideLocations += it.locations; sideAdUnits += it.adUnits; sideCustomFields += it.customFields
    it
  }

  /** The next day's delivered documents (day 0: every initial key). */
  def nextDay(): Seq[Item] = {
    dayNo += 1
    val out =
      if (dayNo == 0) Seq.fill(p.initialKeys)(newItem())
      else {
        val nChanged = math.round(live.size * p.changedShare).toInt
        val nNew = math.max(1, math.round(live.size * p.newShare).toInt)
        val ids = live.keysIterator.toVector
        rnd.shuffle(ids).take(nChanged).sorted.map(id => changed(live(id))) ++ Seq.fill(nNew)(newItem())
      }
    out.map(deliver)
  }

  def day: Int = dayNo

  /** The delivered documents as a JSON array, one document per line. */
  def renderDocs(items: Seq[Item], day: Int): Array[Byte] = {
    val sb = new StringBuilder("[\n")
    items.zipWithIndex.foreach { case (it, i) =>
      if (i > 0) sb.append(",\n")
      renderDoc(sb, it, day)
    }
    sb.append("\n]\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def renderDoc(sb: StringBuilder, it: Item, day: Int): Unit = {
    val k = it.id - IdBase
    val h = (k * 31 + it.rev).toInt & 0x7fffffff
    sb.append(s"""{"orderId":${it.orderId},"id":${it.id},"name":"${it.name}","orderName":"ord-${it.orderId - OrderBase}",""")
    sb.append(s""""lineItemType":"${LineTypes(h % LineTypes.size)}","priority":${1 + h % 16},"status":"${it.status}","isArchived":false,""")
    sb.append(s""""costPerUnit":{"currencyCode":"${Currencies(h % Currencies.size)}","microAmount":${it.micro}},""")
    sb.append(s""""primaryGoal":{"goalType":"LIFETIME","unitType":"IMPRESSIONS","units":${10000 + h % 990000}},""")
    sb.append(s""""impressionsDelivered":${it.impressions},"clicksDelivered":${it.clicks},""")
    sb.append(s""""videoCompletionsDelivered":${h % 1000},"videoStartsDelivered":${h % 5000},"viewableImpressionsDelivered":${it.viewable},""")
    sb.append(s""""startDateTime":{"date":{"year":${2023 + h % 3},"month":${1 + h % 12},"day":${1 + h % 28}},"hour":${h % 24},"minute":${h % 60},"second":0,"timeZoneId":"${Zones(h % Zones.size)}"},""")
    sb.append(s""""endDateTime":{"date":{"year":${2026 + h % 3},"month":${1 + h % 12},"day":${1 + h % 28}},"hour":23,"minute":59,"second":0,"timeZoneId":"${Zones(h % Zones.size)}"},""")
    sb.append(""""targeting":{"geoTargeting":{"targetedLocations":[""")
    sb.append((0 until it.locations).map { j =>
      val parent = if (j == 0) "null" else (2458 + h % 7).toString
      s"""{"id":${2458 + (h + j) % 500},"type":"${LocTypes((h + j) % LocTypes.size)}","canonicalParentId":$parent,"displayName":"loc-${(h + j) % 500}"}"""
    }.mkString(","))
    sb.append("""]},"inventoryTargeting":{"targetedAdUnits":[""")
    sb.append((0 until it.adUnits).map(j => s"""{"adUnitId":"${77000 + (h + j) % 900}","includeDescendants":${(h + j) % 2 == 0}}""").mkString(","))
    sb.append("""]}},"customFieldValues":[""")
    sb.append((0 until it.customFields).map(j => s"""{"customFieldId":${901 + j},"value":{"value":"tier-${(h + j) % 5}"}}""").mkString(","))
    sb.append(s"""],"notes":"SENSITIVE-$k"""")
    if (day >= p.driftDay) sb.append(s""","deliveryRateType":"${if (h % 2 == 0) "EVENLY" else "FRONTLOADED"}"""")
    sb.append("}")
  }

  /** Flat change rows (JSON lines) for the streaming and serving warehouses. */
  def renderFlat(items: Seq[Item], insrtTs: String): Array[Byte] = {
    val sb = new StringBuilder
    items.foreach { it =>
      sb.append(s"""{"line_item_id":${it.id},"order_id":${it.orderId},"line_item_name":"${it.name}","status":"${it.status}",""")
      sb.append(s""""costperunit_microamount":${it.micro},"impressions_delivered":${it.impressions},"clicks_delivered":${it.clicks},""")
      sb.append(s""""viewable_impressions_delivered":${it.viewable},"delta_impressions_delivered":${it.dImpressions},""")
      sb.append(s""""delta_clicks_delivered":${it.dClicks},"delta_viewable_impressions_delivered":${it.dViewable},"insrt_ts":"$insrtTs"}""")
      sb.append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

object Gen {
  val IdBase = 5000000000L
  val OrderBase = 7000000000L
  private val Statuses = Vector("DELIVERING", "READY", "PAUSED", "COMPLETED")
  private val LineTypes = Vector("STANDARD", "SPONSORSHIP", "PRICE_PRIORITY", "NETWORK")
  private val Currencies = Vector("USD", "MYR", "SGD")
  private val Zones = Vector("Asia/Kuala_Lumpur", "UTC", "Asia/Singapore")
  private val LocTypes = Vector("COUNTRY", "REGION", "CITY")

  /** Warehouse columns the checks compare, in [[Item.checked]] order. */
  val CheckedCols: Seq[String] = Seq(
    "line_item_id", "order_id", "line_item_name", "status", "costperunit_microamount",
    "impressions_delivered", "clicks_delivered", "viewable_impressions_delivered",
    "delta_impressions_delivered", "delta_clicks_delivered", "delta_viewable_impressions_delivered")

  /** Schema of the flat change rows [[Gen.renderFlat]] writes. */
  val FlatSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(CheckedCols.map {
      case c @ ("line_item_name" | "status") => StructField(c, StringType)
      case c => StructField(c, LongType)
    } :+ StructField("insrt_ts", TimestampType))
  }

  def write(path: Path, bytes: Array[Byte]): Long = {
    Files.createDirectories(path.getParent)
    // land atomically: a watching stream must never see a half-written file
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}
