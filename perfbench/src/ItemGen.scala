package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, ObjectNode}
import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** One generated item plus the fields the search oracle evaluates. */
final case class GenItem(id: String, collection: String, datetimeUs: Option[Long],
                         cloudCover: Option[Double], bbox: Array[Double], json: String)

/** Seeded STAC item generator over the committed fixture collections.
  *
  * Every item is a replica of one fixture item with a unique id, unique
  * asset and link hrefs (so Parquet dictionaries cannot collapse the
  * table), a coordinate offset applied to `geometry` and `bbox`, a
  * datetime offset applied to `datetime` / `start_datetime` /
  * `end_datetime`, and a fresh `eo:cloud_cover` where the fixture has
  * one. Item `k` of stream `s` depends only on (seed, s, k).
  *
  * Fixture collections with 3-D bboxes are left out: the mixed table
  * would hold 2-D and 3-D bboxes together, which Normalize refuses (as
  * the reference does). */
final class ItemGen(dataDir: java.io.File, seed: Long) {
  private val mapper = new ObjectMapper()

  private val templates: IndexedSeq[ObjectNode] = {
    val files = Option(dataDir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith(".json")).sortBy(_.getName)
    val items = files.toIndexedSeq.flatMap { f =>
      val root = mapper.readTree(f)
      if (root.isArray) root.elements().asScala.collect { case o: ObjectNode => o }
      else Iterator.empty // collection documents, not items
    }
    items.filter(_.get("bbox").size() == 4)
  }
  require(templates.nonEmpty, s"no fixture items under $dataDir")

  def collections: Seq[String] = templates.map(_.get("collection").asText()).distinct.sorted
  val allTemplates: IndexedSeq[Int] = templates.indices
  def templatesOf(collection: String): IndexedSeq[Int] =
    templates.indices.filter(i => templates(i).get("collection").asText() == collection)

  private val TwoYearsSec = 2L * 365 * 86400

  /** Item `k` of `stream`, a replica of template `(k + o) mod |pool|`
    * of `pool` for a seeded offset `o`: every run holds each template in
    * the same proportion, so the work per item does not vary by seed. */
  def item(stream: Int, k: Int, pool: IndexedSeq[Int] = allTemplates): GenItem = {
    val offset = new java.util.SplittableRandom(ItemGen.mix(seed, stream.toLong, -1L)).nextInt(pool.size)
    val t = templates(pool((k + offset) % pool.size))
    val rng = new java.util.SplittableRandom(ItemGen.mix(seed, stream.toLong, k.toLong))
    val node = t.deepCopy()
    val id = s"${t.get("id").asText()}~$stream.$k"
    node.put("id", id)

    val bb = t.get("bbox").elements().asScala.map(_.asDouble()).toArray
    def range(lo: Double, hi: Double, limit: Double): Double =
      if (lo >= hi) 0.0 else math.max(lo, -limit) + rng.nextDouble() * (math.min(hi, limit) - math.max(lo, -limit))
    val antimeridian = bb(0) > bb(2)
    val dx = if (antimeridian) 0.0 else range(-180 - bb(0), 180 - bb(2), 30)
    val dy = range(-90 - bb(1), 90 - bb(3), 15)
    val bbox = Array(bb(0) + dx, bb(1) + dy, bb(2) + dx, bb(3) + dy)
    val bboxNode = node.putArray("bbox")
    bbox.foreach(v => bboxNode.add(v))
    Option(node.get("geometry")).filter(_.isObject).foreach(g =>
      shiftCoords(g.get("coordinates"), dx, dy))

    val props = node.get("properties").asInstanceOf[ObjectNode]
    val dtShift = rng.nextLong(2 * TwoYearsSec) - TwoYearsSec
    Seq("datetime", "start_datetime", "end_datetime").foreach { k =>
      Option(props.get(k)).filter(_.isTextual).foreach(v =>
        props.put(k, ItemGen.shiftTime(v.asText(), dtShift)))
    }
    val datetimeUs = Option(props.get("datetime")).filter(_.isTextual)
      .map(v => ItemGen.epochMicros(v.asText()))
    val cloud =
      if (props.has("eo:cloud_cover")) {
        val c = math.round(rng.nextDouble() * 10000) / 100.0
        props.put("eo:cloud_cover", c)
        Some(c)
      } else None

    val suffix = s"r=$stream.$k"
    def rehref(o: JsonNode): Unit = Option(o.get("href")).filter(_.isTextual).foreach { h =>
      val s = h.asText()
      o.asInstanceOf[ObjectNode].put("href", s + (if (s.contains("?")) "&" else "?") + suffix)
    }
    Option(node.get("assets")).filter(_.isObject).foreach(_.elements().asScala.foreach(rehref))
    Option(node.get("links")).filter(_.isArray).foreach(_.elements().asScala.foreach(rehref))

    GenItem(id, t.get("collection").asText(), datetimeUs, cloud, bbox,
      mapper.writeValueAsString(node))
  }

  private def shiftCoords(n: JsonNode, dx: Double, dy: Double): Unit = n match {
    case a: ArrayNode if a.size() >= 2 && a.get(0).isNumber =>
      a.set(0, DoubleNode.valueOf(a.get(0).asDouble() + dx))
      a.set(1, DoubleNode.valueOf(a.get(1).asDouble() + dy))
    case a: ArrayNode => a.elements().asScala.foreach(shiftCoords(_, dx, dy))
    case _ =>
  }

  /** One replica of every template: covers every field any item has. */
  def coverage(stream: Int): IndexedSeq[GenItem] =
    templates.indices.map(i => item(stream, i, IndexedSeq(i)))
}

object ItemGen {
  /** Write items as ndjson; returns the file's byte count. */
  def writeNdjson(file: java.io.File, items: Seq[GenItem]): Long = {
    file.getParentFile.mkdirs()
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)
    var bytes = 0L
    try items.foreach { it =>
      val b = (it.json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write(b); bytes += b.length
    } finally out.close()
    bytes
  }

  /** SplitMix64 finalizer over the three coordinates of an item. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def parse(s: String): OffsetDateTime =
    OffsetDateTime.parse(if (s.length > 10 && s.charAt(10) == ' ') s.updated(10, 'T') else s)

  def epochMicros(s: String): Long = {
    val i = parse(s).toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Shift an RFC 3339 timestamp by whole seconds, keeping its date/time
    * separator, fractional digits and offset spelling. */
  def shiftTime(s: String, seconds: Long): String = {
    val t = parse(s).plusSeconds(seconds)
    val minus = s.lastIndexOf('-')
    val offsetStart = math.max(s.lastIndexWhere(c => c == 'Z' || c == 'z' || c == '+'),
      if (minus > 10) minus else -1)
    val dot = s.indexOf('.')
    val frac = if (dot < 0 || dot > offsetStart) 0 else offsetStart - dot - 1
    val pattern = "yyyy-MM-dd" + (if (s.charAt(10) == ' ') "' '" else "'T'") + "HH:mm:ss" +
      (if (frac > 0) "." + "S" * frac else "")
    t.format(DateTimeFormatter.ofPattern(pattern)) + s.substring(offsetStart)
  }
}
