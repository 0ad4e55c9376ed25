package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.stac.{Denormalize, GeoParquetWriter, JsonEquals, Normalize, Stac, StacJsonReader, Wkb}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** ndjson → GeoParquet (default InferFull) → ndjson over one batch of
  * mixed-collection items. Work grows with the data, so the data-path
  * kernels (JSON/WKB codec, inference, normalize, Parquet write,
  * denormalize) do most of it: at 8,000 items about two thirds of a
  * round trip, against about one third of fixed per-call cost. */
final class BulkRoundtrip(b: Bench) extends Workload {
  import BulkRoundtrip._
  private val spark = b.spark
  private val mapper = new ObjectMapper()

  private var items = IndexedSeq.empty[GenItem]
  private var warm = IndexedSeq.empty[GenItem]
  private var inputBytes = 0L
  private val input = b.file("bulk/input.ndjson").getAbsolutePath
  private val warmIn = b.file("bulk/warm.ndjson").getAbsolutePath

  def prepare(): Unit = {
    items = (0 until Items).map(b.gen.item(Stream, _))
    inputBytes = ItemGen.writeNdjson(new java.io.File(input), items)
    warm = (0 until Items).map(b.gen.item(WarmStream, _))
    ItemGen.writeNdjson(new java.io.File(warmIn), warm)
  }

  /** The warm pass: one checked round trip of a batch of other items of
    * the same size, so three set-ups take the operation through most of
    * its JIT warm-up before the timed loop starts. */
  def setup(): Double = {
    val (gpq, out) = (b.fresh("bulk/warm-gpq"), b.fresh("bulk/warm-out"))
    val (_, ms) = b.timedMs {
      Stac.parseStacNdjsonToParquet(spark, Seq(warmIn), gpq)
      Stac.stacTableToNdjson(spark.read.parquet(gpq), out)
    }
    compare(warm, new java.io.File(out))
    ms
  }

  def op(i: Int): Double = {
    val out = b.fresh("bulk/gpq")
    val back = b.fresh("bulk/ndjson")
    val (_, writeMs) = b.timedMs(b.trace("Stac.parseStacNdjsonToParquet")(
      Stac.parseStacNdjsonToParquet(spark, Seq(input), out)))
    val (_, readMs) = b.timedMs(b.trace("Stac.stacTableToNdjson")(
      Stac.stacTableToNdjson(spark.read.parquet(out), back)))
    System.err.println(s"[perfbench] op $i ingest $writeMs ms, export $readMs ms")
    writeMs + readMs
  }

  def check(i: Int): Unit = compare(items, b.file("bulk/ndjson"))

  /** Every output item equals its input item under the json_equals rules. */
  private def compare(expected: Seq[GenItem], dir: java.io.File): Unit = {
    val byId = expected.iterator.map(it => it.id -> it.json).toMap
    val lines = Files.parts(dir, ".txt").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    }
    // items are compared in parallel; the check is outside the timed regions
    val ids = java.util.Arrays.stream(lines.toArray).parallel()
      .map[String](compareLine(byId, _)).collect(java.util.stream.Collectors.toList[String]())
      .asScala.toVector
    if (ids.distinct.size != ids.size)
      throw new CheckFailed(s"round trip returned ${ids.size - ids.distinct.size} items twice")
    if (ids.size != expected.size)
      throw new CheckFailed(s"round trip returned ${ids.size} of ${expected.size} items")
  }

  /** One output line against its input item; returns the item's id. */
  private def compareLine(byId: Map[String, String], line: String): String = {
    val got = mapper.readTree(line)
    val id = got.get("id").asText()
    val want = byId.getOrElse(id, throw new CheckFailed(s"unexpected item $id"))
    try JsonEquals.assertEqual(mapper.readTree(want), got)
    catch { case e: AssertionError => throw new CheckFailed(s"item $id: ${e.getMessage}") }
    id
  }

  def inputs: (Int, Long) = (items.size, inputBytes)

  def storedBytesPerInputByte: Double =
    Files.bytes(b.file("bulk/gpq"), _.endsWith(".parquet")).toDouble / inputBytes

  def layers(traced: Seq[Sample]): Map[String, Double] = {
    val ingestGroups = b.spanCounts(traced, "Stac.parseStacNdjsonToParquet")
    val readAmp = ingestGroups.map(_.bytesRead.get).sum.toDouble / (inputBytes * math.max(traced.size, 1))
    def callMs(name: String) = Stats.median(b.trace.seconds(name).map(_ * 1000))
    staged() ++ wkb() ++ Map(
      "ingest.read_amplification" -> readAmp,
      "Stac.parseStacNdjsonToParquet_ms" -> callMs("Stac.parseStacNdjsonToParquet"),
      "Stac.stacTableToNdjson_ms" -> callMs("Stac.stacTableToNdjson"))
  }

  /** Each layer timed on its own with its input materialized first
    * (Spark is lazy: a plan-building call alone times only the plan). */
  private def staged(): Map[String, Double] = {
    val t = b.trace
    t.enabled = true
    t.op = -1
    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def jobs(span: String): Double = { b.counters.settle(); b.counters.counts(t.group(span)).jobs.get.toDouble }
    try {
      val (_, codecMs) = b.timedMs(t("StacJsonReader.codec")(noop(StacJsonReader.readItemStrings(spark, Seq(input)).toDF())))
      val (raw, readPlanMs) = b.timedMs(t("StacJsonReader.read")(StacJsonReader.read(spark, Seq(input))))
      val (_, parseMs) = b.timedMs(t("StacJsonReader.parse")(
        noop(StacJsonReader.read(spark, Seq(input), StacJsonReader.Explicit(raw.schema)))))
      val persisted = raw.persist(StorageLevel.MEMORY_AND_DISK)
      persisted.count()
      val (norm, normPlanMs) = b.timedMs(t("Normalize")(Normalize(persisted)))
      val (_, normExecMs) = b.timedMs(t("Normalize.exec")(noop(norm)))
      val normP = norm.persist(StorageLevel.MEMORY_AND_DISK)
      normP.count()
      val out = b.fresh("bulk/staged-gpq")
      val (_, writeMs) = b.timedMs(t("GeoParquetWriter.write")(GeoParquetWriter.write(normP, out)))
      normP.unpersist(); persisted.unpersist()
      val table = spark.read.parquet(out).persist(StorageLevel.MEMORY_AND_DISK)
      table.count()
      val (_, exportMs) = b.timedMs(t("Denormalize.writeNdjson")(Denormalize.writeNdjson(table, b.fresh("bulk/staged-out"))))
      table.unpersist()
      val parts = Files.parts(new java.io.File(out), ".parquet")
      val rowGroups = parts.map(p => ParquetFooter.rowGroups(p)).sum
      Map(
        "StacJsonReader.read_plan_s" -> readPlanMs / 1000,
        "StacJsonReader.codec_s" -> codecMs / 1000,
        "StacJsonReader.parse_s" -> parseMs / 1000,
        "StacJsonReader.eager_jobs" -> jobs("StacJsonReader.read"),
        "Normalize.plan_s" -> normPlanMs / 1000,
        "Normalize.eager_jobs" -> jobs("Normalize"),
        "Normalize.exec_s" -> normExecMs / 1000,
        "GeoParquetWriter.write_s" -> writeMs / 1000,
        "GeoParquetWriter.bytes_written" -> parts.map(_.length).sum.toDouble,
        "GeoParquetWriter.files_written" -> parts.size.toDouble,
        "GeoParquetWriter.row_groups_written" -> rowGroups.toDouble,
        "Denormalize.export_s" -> exportMs / 1000)
    } finally t.enabled = false
  }

  /** Single-thread codec throughput over the batch's geometries, each
    * coded [[WkbPasses]] times. */
  private def wkb(): Map[String, Double] = {
    val geoms = items.map(it => mapper.readTree(it.json).get("geometry").toString)
    val (wkbs, encMs) = b.timedMs((1 to WkbPasses).map(_ => geoms.map(Wkb.geoJsonToWkb)).last)
    val (_, decMs) = b.timedMs((1 to WkbPasses).foreach(_ => wkbs.foreach(Wkb.wkbToGeoJson)))
    Map("Wkb.encode_geoms_per_s" -> geoms.size * WkbPasses / (encMs / 1000),
      "Wkb.decode_geoms_per_s" -> geoms.size * WkbPasses / (decMs / 1000))
  }
}

object BulkRoundtrip {
  val Stream = 0
  val WarmStream = 1
  val Items = 8000
  val WkbPasses = 5
}

/** Row-group count from a Parquet footer. */
object ParquetFooter {
  def rowGroups(f: java.io.File): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size() finally r.close()
  }
}
