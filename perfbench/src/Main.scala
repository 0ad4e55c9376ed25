package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: File, data: File, cores: Int)

/** One successful timed operation and the time its program calls took. */
final case class Sample(op: Int, traced: Boolean, opMs: Double)

/** A correctness check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One workload: input generation, set-up (repeated; the last
  * repetition's state is what the timed loop uses), the timed operation,
  * and the untimed checks. */
trait Workload {
  /** Untimed: generate the seeded inputs and write them as ndjson. */
  def prepare(): Unit
  /** Build the workload's state and make one checked warm pass; returns
    * the milliseconds spent in its calls into the program (input
    * generation and checks sit outside them). */
  def setup(): Double
  /** Run operation `i`; returns the milliseconds spent in its calls into
    * the program (only those sit inside the timed regions). */
  def op(i: Int): Double
  /** Untimed check of operation `i`'s output; throws [[CheckFailed]]. */
  def check(i: Int): Unit
  def storedBytesPerInputByte: Double
  /** Items and ndjson bytes of the input the timed loop works on. */
  def inputs: (Int, Long)
  /** Per-layer metrics from the traced operations plus any staged pass. */
  def layers(traced: Seq[Sample]): Map[String, Double]
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    val code =
      try run(spark, o)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("data")), need("cores").toInt)
  }

  private def session(o: Opts): SparkSession = {
    val local = new File(o.work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(spark: SparkSession, o: Opts): Int = {
    val b = new Bench(spark, o)
    val w: Workload = o.workload match {
      case "bulk_roundtrip" => new BulkRoundtrip(b)
      case "search" => new Search(b)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (_, prepMs) = b.timedMs(w.prepare())
    System.err.println(s"[perfbench] prepare $prepMs ms")
    val setupS = (1 to SetupReps).map(_ => w.setup() / 1000)
    System.err.println(s"[perfbench] setup_s ${setupS.mkString(" ")}")

    val samples = ArrayBuffer.empty[Sample]
    var attempted, failed = 0
    var mismatch = Option.empty[String]
    var measuredS = 0.0
    val jvm = new JvmMeter
    jvm.start()
    var i = 0
    while (measuredS < o.seconds && mismatch.isEmpty) {
      // in the traced run, operations alternate between traced and
      // untraced, with the phase flipped every four operations, so each
      // of the four query shapes is seen both ways
      val traced = o.trace && (i + i / 4) % 2 == 0
      b.trace.enabled = traced
      b.trace.op = i
      if (traced) {
        // the SQL actions of set-up and of untraced operations are not
        // this operation's: drop them before it starts
        b.counters.settle()
        b.counters.drainActions()
      }
      attempted += 1
      val t0 = System.nanoTime()
      val ok =
        try {
          val ms = b.trace("op")(w.op(i))
          samples += Sample(i, traced, ms)
          measuredS += ms / 1000
          System.err.println(s"[perfbench] op $i $ms ms")
          true
        } catch {
          case e: Exception =>
            // a failed operation spends measuring time but yields no sample
            failed += 1
            measuredS += (System.nanoTime() - t0) / 1e9
            System.err.println(s"[perfbench] op $i failed: $e")
            false
        } finally b.trace.enabled = false
      if (ok) {
        if (traced) {
          b.counters.settle()
          b.opActions(i) = b.counters.drainActions()
        }
        val (_, checkMs) = b.timedMs(try w.check(i) catch { case e: Exception => mismatch = Some(e.toString) })
        System.err.println(s"[perfbench] check $i $checkMs ms")
      }
      i += 1
    }
    val values: Map[String, Double] =
      if (!o.trace) endToEnd(w, samples.toSeq, setupS)
      else {
        val traced = samples.filter(_.traced).toSeq
        val plain = samples.filterNot(_.traced).toSeq
        val overheadMs = Stats.median(traced.map(_.opMs)) - Stats.median(plain.map(_.opMs))
        val loop = b.sparkTotals(traced) ++ Map(
          "jvm.gc_s" -> jvm.gcSeconds / math.max(samples.size, 1),
          "jvm.peak_heap_mb" -> jvm.peakHeapMb,
          "trace.overhead_ms" -> overheadMs,
          "trace.overhead_ratio" -> overheadMs / Stats.median(plain.map(_.opMs)))
        // the layer passes run checked work of their own
        try loop ++ w.layers(traced)
        catch { case e: CheckFailed => mismatch = Some(e.getMessage); loop }
      }
    mismatch.foreach(m => System.err.println(s"[perfbench] check failed: $m"))
    if (o.trace) b.trace.write(new File(o.work, "spans.jsonl"), new File(o.work, "self_s.json"))
    val correct = mismatch.isEmpty && failed == 0 && samples.nonEmpty
    val body = values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString(",")
    val (items, bytes) = w.inputs
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""inputs":{"items":$items,"ndjson_bytes":$bytes},"setup_reps_s":[${setupS.map(Stats.num).mkString(",")}],""" +
      s""""values":{$body}}""")
    if (correct) 0 else 1
  }

  private def endToEnd(w: Workload, s: Seq[Sample], setupS: Seq[Double]): Map[String, Double] =
    Map(
      "setup_s" -> Stats.median(setupS),
      "op_p50_ms" -> Stats.median(s.map(_.opMs)),
      "ops_per_s" -> s.size / (s.map(_.opMs).sum / 1000),
      "stored_bytes_per_input_byte" -> w.storedBytesPerInputByte)
}

/** Shared state of one run: the session, generator, tracer and counters. */
final class Bench(val spark: SparkSession, val o: Opts) {
  val gen = new ItemGen(o.data, o.seed)
  val trace = new Tracer(spark.sparkContext)
  val counters = new SparkCounters
  if (o.trace) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }

  val opActions = scala.collection.mutable.Map.empty[Int, Seq[Action]]

  def file(rel: String): File = new File(o.work, rel)

  /** A path under the work directory, emptied first. */
  def fresh(rel: String): String = {
    val f = file(rel)
    Files.delete(f)
    f.getAbsolutePath
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Spark totals of the traced operations, per operation. */
  def sparkTotals(traced: Seq[Sample]): Map[String, Double] = {
    val cs = traced.flatMap(s => opCounts(s.op))
    val n = math.max(traced.size, 1).toDouble
    Map(
      "spark.executor_cpu_s" -> cs.map(_.cpuNs.get).sum / 1e9 / n,
      "spark.jobs" -> cs.map(_.jobs.get).sum / n,
      "spark.tasks" -> cs.map(_.tasks.get).sum / n,
      "spark.shuffle_bytes" -> cs.map(_.shuffleBytes.get).sum / n,
      "spark.peak_task_mem_mb" -> cs.map(_.peakTaskMem.get).maxOption.getOrElse(0L) / 1048576.0)
  }

  /** Counters of every span of operation `op`. */
  def opCounts(op: Int): Seq[Counts] =
    counters.groups.collect { case (g, c) if g.startsWith(s"$op/") => c }.toSeq

  /** Counters of the span `span` in each traced operation. */
  def spanCounts(traced: Seq[Sample], span: String): Seq[Counts] =
    traced.map(s => counters.counts(s"${s.op}/$span"))
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }

  /** Bytes of the files under `dir` whose name passes `keep`. */
  def bytes(dir: File, keep: String => Boolean = _ => true): Long =
    if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty[File]).map(bytes(_, keep)).sum
    else if (dir.isFile && keep(dir.getName)) dir.length()
    else 0L

  def list(dir: File, keep: String => Boolean): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.sortBy(_.getName).flatMap(list(_, keep))
    else if (dir.isFile && keep(dir.getName)) Seq(dir)
    else Nil

  /** Visible part files of a Spark output directory. */
  def parts(dir: File, suffix: String): Seq[File] =
    list(dir, n => n.endsWith(suffix) && !n.startsWith(".") && !n.startsWith("_"))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
