package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.stac.{Cql2, GeoParquetCovering, Stac}

/** A CQL2 search and its oracle: plain arithmetic over the generated
  * items' collection, datetime, `eo:cloud_cover` and bbox rectangle. */
final case class Query(collection: Option[String] = None, fromUs: Option[Long] = None,
                       untilUs: Option[Long] = None, cloudBelow: Option[Double] = None,
                       window: Option[Array[Double]] = None, ids: Option[Seq[String]] = None) {

  def matches(it: GenItem): Boolean =
    collection.forall(_ == it.collection) &&
      fromUs.forall(f => it.datetimeUs.exists(_ >= f)) &&
      untilUs.forall(u => it.datetimeUs.exists(_ < u)) &&
      cloudBelow.forall(c => it.cloudCover.exists(_ < c)) &&
      window.forall(w => it.bbox(0) <= w(2) && it.bbox(2) >= w(0) && it.bbox(1) <= w(3) && it.bbox(3) >= w(1)) &&
      ids.forall(_.contains(it.id))

  def cql2(m: ObjectMapper): String = {
    def prop(name: String) = m.createObjectNode().put("property", name)
    def pred(op: String, name: String)(lit: ObjectNode => Unit): ObjectNode = {
      val n = m.createObjectNode().put("op", op)
      val args = n.putArray("args")
      args.add(prop(name))
      val holder = m.createObjectNode()
      lit(holder)
      args.add(holder.get("v"))
      n
    }
    def ts(us: Long) = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L)).toString
    val parts = Seq(
      collection.map(c => pred("=", "collection")(_.put("v", c))),
      fromUs.map(f => pred(">=", "datetime")(_.putObject("v").put("timestamp", ts(f)))),
      untilUs.map(u => pred("<", "datetime")(_.putObject("v").put("timestamp", ts(u)))),
      cloudBelow.map(c => pred("<", "eo:cloud_cover")(_.put("v", c))),
      window.map(w => pred("s_intersects", "bbox") { h =>
        val arr = h.putObject("v").putArray("bbox"); w.foreach(x => arr.add(x))
      }),
      ids.map(xs => pred("in", "id") { h =>
        val arr = h.putArray("v"); xs.foreach(x => arr.add(x))
      })).flatten
    val root =
      if (parts.size == 1) parts.head
      else {
        val n = m.createObjectNode().put("op", "and")
        val args = n.putArray("args")
        parts.foreach(args.add)
        n
      }
    m.writeValueAsString(root)
  }
}

/** A stream of seeded CQL2 searches over a GeoParquet table that set-up
  * writes. Each search is GeoParquetCovering.read → where(Cql2.filter)
  * → Stac.stacTableToItems. Fixed per-query costs (listing and footers,
  * CQL2 translation, planning over the wide STAC schema, scheduling,
  * egress codegen) dominate: the opposite of bulk_roundtrip. */
final class Search(b: Bench) extends Workload {
  import Search._
  private val spark = b.spark
  private val mapper = new ObjectMapper()
  private val path = b.file("search/table").getAbsolutePath
  private var table = IndexedSeq.empty[GenItem]
  private var inputBytes = 0L
  private var last: (Query, Vector[String]) = (Query(), Vector.empty)
  private var hits = Map.empty[Int, Int]
  private val in = b.file("search/table.ndjson").getAbsolutePath
  private var reps = 0

  def prepare(): Unit = {
    val items = (0 until Items).map(b.gen.item(Stream, _))
    inputBytes = ItemGen.writeNdjson(new java.io.File(in), items)
    table = items.map(_.copy(json = null))
  }

  /** Write the table, then the warm pass: one checked search of each
    * shape. */
  def setup(): Double = {
    val out = b.fresh("search/table")
    val (_, writeMs) = b.timedMs(Stac.parseStacNdjsonToParquet(spark, Seq(in), out))
    reps += 1
    writeMs + (1 to Shapes).map { s =>
      val i = -Shapes * reps - s
      val ms = search(i)
      check(i)
      ms
    }.sum
  }

  /** Query `i`: shape i mod 4, parameters seeded by (seed, i). */
  def query(i: Int): Query = {
    val rng = new java.util.SplittableRandom(ItemGen.mix(b.o.seed, QueryStream, i.toLong))
    def any(p: GenItem => Boolean): GenItem = Iterator.continually(table(rng.nextInt(table.size))).filter(p).next()
    def around(it: GenItem, half: Double): Array[Double] = {
      val (cx, cy) = ((it.bbox(0) + it.bbox(2)) / 2, (it.bbox(1) + it.bbox(3)) / 2)
      Array(cx - half, cy - half, cx + half, cy + half)
    }
    Math.floorMod(i, Shapes) match {
      case 0 => // collection + calendar month + bbox + cloud cover
        val a = any(it => it.cloudCover.isDefined && it.datetimeUs.isDefined)
        val t = java.time.Instant.ofEpochSecond(a.datetimeUs.get / 1000000L).atZone(java.time.ZoneOffset.UTC)
        val month = t.toLocalDate.withDayOfMonth(1).atStartOfDay(java.time.ZoneOffset.UTC)
        def us(z: java.time.ZonedDateTime) = z.toEpochSecond * 1000000L
        Query(collection = Some(a.collection), fromUs = Some(us(month)), untilUs = Some(us(month.plusMonths(1))),
          cloudBelow = Some(math.ceil(a.cloudCover.get) + 1 + rng.nextInt(30)),
          window = Some(around(a, 2 + rng.nextDouble() * 6)))
      case 1 => // bbox window
        Query(window = Some(around(any(_ => true), 0.5 + rng.nextDouble() * 1.5)))
      case 2 => // id lookup: two present ids and one absent
        Query(ids = Some(Seq(any(_ => true).id, any(_ => true).id, s"absent-${rng.nextInt(1000000)}")))
      case _ => // datetime range
        val center = Math.floorDiv(any(_.datetimeUs.isDefined).datetimeUs.get, 1000000L) * 1000000L
        val half = (1 + rng.nextInt(48)) * 3600L * 1000000L
        Query(fromUs = Some(center - half), untilUs = Some(center + half))
    }
  }

  private def search(i: Int): Double = {
    val q = query(i)
    val json = q.cql2(mapper)
    val (items, ms) = b.timedMs {
      val df = b.trace("GeoParquetCovering.read")(GeoParquetCovering.read(spark, path))
      val f = b.trace("Cql2.filter")(Cql2.filter(json))
      b.trace("Stac.stacTableToItems")(Stac.stacTableToItems(df.where(f)).toVector)
    }
    last = (q, items)
    ms
  }

  def op(i: Int): Double = search(i)

  def check(i: Int): Unit = {
    val (q, items) = last
    val got = items.map(s => mapper.readTree(s).get("id").asText())
    val want = table.filter(q.matches).map(_.id)
    if (got.size != got.distinct.size || got.toSet != want.toSet)
      throw new CheckFailed(s"search $i returned ${got.size} ids, oracle ${want.size}: ${q.cql2(mapper)}")
    hits += i -> want.size
  }

  def inputs: (Int, Long) = (table.size, inputBytes)

  def storedBytesPerInputByte: Double =
    Files.bytes(new java.io.File(path), _.endsWith(".parquet")).toDouble / inputBytes

  def layers(traced: Seq[Sample]): Map[String, Double] = {
    def spanMs(name: String) = Stats.median(b.trace.seconds(name).map(_ * 1000))
    val tableBytes = Files.bytes(new java.io.File(path), _.endsWith(".parquet")).toDouble
    val n = math.max(traced.size, 1).toDouble
    val counts = traced.flatMap(s => b.opCounts(s.op))
    val planMs = traced.map(s => b.opActions.getOrElse(s.op, Nil).map(_.planMs).sum)
    val itemsMs = b.trace.spans.filter(_.name == "Stac.stacTableToItems").map(s => s.op -> s.seconds * 1000).toMap
    val hitCount = traced.map(s => hits.getOrElse(s.op, 0)).sum
    Map(
      "GeoParquetCovering.read_ms" -> spanMs("GeoParquetCovering.read"),
      "Cql2.translate_ms" -> spanMs("Cql2.filter"),
      "Denormalize.items_ms_per_search" -> spanMs("Stac.stacTableToItems"),
      "Denormalize.jobs_per_call" -> b.spanCounts(traced, "Stac.stacTableToItems").map(_.jobs.get).sum / n,
      "search.plan_ms" -> Stats.median(planMs),
      "search.exec_ms" -> Stats.median(traced.zip(planMs).map { case (s, p) => itemsMs.getOrElse(s.op, 0.0) - p }),
      "search.bytes_read_ratio" -> counts.map(_.bytesRead.get).sum / (tableBytes * n),
      "search.rows_scanned_per_hit" -> counts.map(_.recordsRead.get).sum.toDouble / math.max(hitCount, 1),
      "search.tasks_per_query" -> counts.map(_.tasks.get).sum / n) ++ new DeltaSync(b).run()
  }
}

object Search {
  val Stream = 0
  val QueryStream = 7L
  val Items = 1000
  val Shapes = 4
}
