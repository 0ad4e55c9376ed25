package perfbench

import graft.stac.{Cql2, Normalize, PortableDelta, StacJsonReader}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** The Delta sync pass of the traced `search` run: small append commits
  * to one table, each followed by a read. A commit is one ndjson batch →
  * StacJsonReader.read(Explicit) → Normalize(bboxDims = 4) →
  * PortableDelta.writeStac(append); a read is PortableDelta.snapshot plus
  * a readTableWhere CQL2 count. The table is backfilled in one commit
  * and checkpointed first, so every read replays a checkpoint plus a JSON
  * tail, as on a long-lived table; with delta.checkpointInterval = 5
  * every fifth commit writes a checkpoint. Each batch holds new items of
  * one collection, so per-file stats can skip the other collections'
  * files. Every commit is checked: the read saw the committed version,
  * its count equals the oracle's, and the row count equals the items
  * committed; at the end the version and the id set must match. */
final class DeltaSync(b: Bench) {
  import DeltaSync._
  private val spark = b.spark
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val collections = b.gen.collections.toIndexedSeq
  private val path = b.file("delta/table").getAbsolutePath
  private var schema: StructType = _
  private val items = ArrayBuffer.empty[GenItem]
  private var inputBytes = 0L
  private var version = -1L
  private var batches = 0

  /** Write batch `n` (one collection's new items) as ndjson, untimed. */
  private def batchFile(n: Int): (String, IndexedSeq[GenItem]) = {
    val pool = b.gen.templatesOf(collections(n % collections.size))
    val batch = (0 until BatchItems).map(k => b.gen.item(Stream, n * BatchItems + k, pool))
    val f = b.file(s"delta/batches/$n.ndjson")
    inputBytes += ItemGen.writeNdjson(f, batch)
    (f.getAbsolutePath, batch.map(_.copy(json = null)))
  }

  private def commit(file: String, mode: String): Long = {
    val raw = b.trace("StacJsonReader.read")(StacJsonReader.read(spark, Seq(file), StacJsonReader.Explicit(schema)))
    val norm = b.trace("Normalize")(Normalize(raw, bboxDims = Some(4)))
    b.trace("PortableDelta.writeStac")(PortableDelta.writeStac(norm, path, mode = mode))
  }

  /** The read after a commit: the batch's collection since its median
    * datetime. */
  private def readQuery(batch: Seq[GenItem]): Query = {
    val dated = batch.flatMap(_.datetimeUs).sorted
    Query(collection = Some(batch.head.collection),
      fromUs = dated.lift(dated.size / 2).map(us => Math.floorDiv(us, 1000000L) * 1000000L))
  }

  /** Backfill, set the checkpoint interval and checkpoint; then [[Cycles]]
    * traced, checked commit+read cycles. Returns the layer metrics. */
  def run(): Map[String, Double] = {
    Files.delete(b.file("delta"))
    val cov = b.file("delta/schema.ndjson")
    ItemGen.writeNdjson(cov, b.gen.coverage(SchemaStream))
    schema = StacJsonReader.read(spark, Seq(cov.getAbsolutePath)).schema
    val backfill = (0 until BackfillItems).map(b.gen.item(BackfillStream, _))
    val f = b.file("delta/backfill.ndjson")
    inputBytes = ItemGen.writeNdjson(f, backfill)
    items ++= backfill.map(_.copy(json = null))
    commit(f.getAbsolutePath, "error")
    PortableDelta.setTableProperties(spark, path, Map("delta.checkpointInterval" -> CheckpointInterval.toString))
    version = PortableDelta.checkpoint(spark, path)

    val t = b.trace
    val commitMs, checkpointMs, readMs, pruned = ArrayBuffer.empty[Double]
    (0 until Cycles).foreach { k =>
      t.op = OpBase + k
      t.enabled = true
      val (fk, batch) = batchFile(k)
      batches += 1
      val q = readQuery(batch)
      val (v, cMs) = b.timedMs(commit(fk, "append"))
      val ((seen, n), rMs) = b.timedMs {
        val snap = t("PortableDelta.snapshot")(PortableDelta.snapshot(spark, path))
        (snap.version, t("PortableDelta.readTableWhere")(
          PortableDelta.readTableWhere(spark, path, Cql2.filter(q.cql2(mapper))).count()))
      }
      t.enabled = false
      version = v
      items ++= batch
      if (k > 0) { // the first cycle warms the path
        (if (v % CheckpointInterval == 0) checkpointMs else commitMs) += cMs
        readMs += rMs
      }
      val snap = PortableDelta.snapshot(spark, path)
      pruned += PortableDelta.statsPrune(spark, snap, Cql2.filter(q.cql2(mapper)))._2.toDouble / snap.files.size
      check(k, q, seen, n)
    }
    finish()

    val log = new java.io.File(path, "_delta_log")
    // the commit's parse runs inside writeStac; stage it on its own
    val parse = (0 until 3).map { k =>
      b.timedMs(StacJsonReader.read(spark, Seq(b.file(s"delta/batches/$k.ndjson").getAbsolutePath),
        StacJsonReader.Explicit(schema)).write.format("noop").mode("overwrite").save())._2 / 1000
    }
    def spanMs(name: String) =
      Stats.median(t.spans.filter(s => s.name == name && s.op > OpBase).map(_.seconds * 1000).toSeq)
    Map(
      "StacJsonReader.parse_s" -> Stats.median(parse),
      "Normalize.plan_s" -> spanMs("Normalize") / 1000,
      "PortableDelta.commit_ms" -> Stats.median(commitMs.toSeq),
      "PortableDelta.checkpoint_commit_ms" -> Stats.median(checkpointMs.toSeq),
      "PortableDelta.read_ms" -> Stats.median(readMs.toSeq),
      "PortableDelta.snapshot_ms" -> spanMs("PortableDelta.snapshot"),
      "PortableDelta.read_where_ms" -> spanMs("PortableDelta.readTableWhere"),
      "PortableDelta.stats_pruned_ratio" -> Stats.mean(pruned.toSeq),
      "PortableDelta.live_files" -> PortableDelta.snapshot(spark, path).files.size.toDouble,
      "PortableDelta.log_bytes" -> Files.bytes(log).toDouble,
      "PortableDelta.checkpoints" -> Files.list(log, n => n.contains(".checkpoint.") && n.endsWith(".parquet")).size.toDouble,
      "PortableDelta.stored_bytes_per_input_byte" -> Files.bytes(new java.io.File(path)).toDouble / inputBytes)
  }

  private def check(k: Int, q: Query, seen: Long, n: Long): Unit = {
    if (seen != version) throw new CheckFailed(s"delta read saw version $seen, commit returned $version")
    val want = items.count(q.matches)
    if (n != want) throw new CheckFailed(s"delta read after commit $k counted $n rows, oracle $want")
    val rows = PortableDelta.readTable(spark, path).count()
    if (rows != items.size) throw new CheckFailed(s"delta table holds $rows rows, committed ${items.size}")
  }

  /** Versions: backfill, properties, then one per append. */
  private def finish(): Unit = {
    val ids = PortableDelta.readTable(spark, path).select("id").collect().map(_.getString(0))
    if (ids.length != items.size || ids.toSet != items.map(_.id).toSet)
      throw new CheckFailed(s"delta table id set differs from the ${items.size} committed ids")
    if (version != 1 + batches)
      throw new CheckFailed(s"delta table at version $version after $batches appends")
  }
}

object DeltaSync {
  val Stream = 20
  val BackfillStream = 21
  val SchemaStream = 22
  val BackfillItems = 200
  val BatchItems = 100
  val CheckpointInterval = 5
  val Cycles = 11
  /** Span op ids of the pass, clear of the timed loop's. */
  val OpBase = 1000000
}

