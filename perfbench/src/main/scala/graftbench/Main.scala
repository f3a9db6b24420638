package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line options (passed by run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, records: Path, data: Path, tiers: Path, hashes: Path,
                      sourceStamp: String, commit: String, pin: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.toSeq.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Path.of(get("work")), Path.of(get("out")), Path.of(get("records")), Path.of(get("data")),
      Path.of(get("tiers")), Path.of(get("hashes")),
      kv.getOrElse("source-stamp", "unknown"), kv.getOrElse("commit", "unknown"),
      kv.get("pin").contains("1"))
  }
}

/** The Spark session every workload runs in: `graft.Bench`'s settings at
  * local[nproc], with all scratch space inside the run's work directory.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def start(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One timed pass: its wall time, the items it processed, the per-operation
  * latencies that feed op_p50_s/op_p90_s, and (on a traced pass) its
  * per-layer metrics.
  */
final case class PassSample(wall: Double, items: Double, ops: Seq[Double], traced: Boolean,
                            layers: Map[String, Double])

/** What a workload hands back to [[Main]]. */
final case class Outcome(setupS: Seq[Double], passes: Seq[PassSample],
                         extraLayers: Map[String, Double], record: Map[String, Any])

/** Shared state of one run, given to the workload. */
final class Ctx(val opts: Opts) {
  val t0: Long = System.nanoTime()
  val spans = new Spans(t0)
  private var attempts = 0L
  private val failures = ArrayBuffer.empty[String]
  def attempted: Long = attempts
  def failed: Long = failures.size.toLong
  def failureLog: Seq[String] = failures.toSeq

  /** Count one operation; a false check or an exception counts as failed. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempts += 1
    val good = try ok catch {
      case e: Exception =>
        log(s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    if (!good) { failures += what; log(s"check failed: $what") }
    good
  }

  def log(msg: String): Unit = System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def time[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  /** Run passes until `seconds` have elapsed (at least one pass). On a
    * traced run, passes alternate untraced and traced, and there are at
    * least two.
    */
  def measure(pass: (Int, Boolean) => PassSample): Seq[PassSample] = {
    val start = System.nanoTime()
    val out = ArrayBuffer.empty[PassSample]
    def elapsed = (System.nanoTime() - start) / 1e9
    while (out.isEmpty || elapsed < opts.seconds || (opts.trace && out.size < 2)) {
      val i = out.size
      out += pass(i, opts.trace && i % 2 == 1)
    }
    out.toSeq
  }

  /** Median of each layer metric over the traced passes. */
  def layerMedians(passes: Seq[PassSample]): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    traced.flatMap(_.layers.keys).distinct.map { k =>
      k -> Stats.median(traced.flatMap(_.layers.get(k)))
    }.toMap
  }
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "items_per_s" -> "1/s",
    "op_p50_s" -> "s", "op_p90_s" -> "s", "peak_rss_mb" -> "MB")

  private def e2e(passes: Seq[PassSample], setup: Double): Map[String, Double] = Map(
    "setup_s" -> setup,
    "pass_s" -> Stats.median(passes.map(_.wall)),
    "items_per_s" -> passes.map(_.items).sum / passes.map(_.wall).sum,
    "op_p50_s" -> Stats.median(passes.flatMap(_.ops)),
    "op_p90_s" -> Stats.p90(passes.flatMap(_.ops)),
    "peak_rss_mb" -> Proc.peakRssMb)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val ctx = new Ctx(opts)
    val startedAt = System.currentTimeMillis() / 1000.0
    val driftStart = Drift.sample()
    val workload: Workload = opts.workload match {
      case "ingest-delta" => new IngestDelta
      case "contract" => new Contract
      case other => sys.error(s"unknown workload $other")
    }
    val outcome = workload.run(ctx)
    val driftEnd = Drift.sample()
    val setup = Stats.median(outcome.setupS)

    val untraced = outcome.passes.filterNot(_.traced)
    val base = e2e(if (untraced.nonEmpty) untraced else outcome.passes, setup)
    val metrics: Map[String, (Double, String)] =
      if (!opts.trace) EndToEnd.map { case (k, u) => k -> (base(k), u) }.toMap
      else {
        val traced = e2e(outcome.passes.filter(_.traced), setup)
        val overhead = Seq("pass_s", "items_per_s", "op_p50_s", "op_p90_s").map { k =>
          s"trace.overhead.$k" -> traced(k) / base(k)
        }
        val layers = PerLayer.complete(
          ctx.layerMedians(outcome.passes) ++ outcome.extraLayers ++ overhead ++ Map(
            "drift.cpu_ruler_s" -> driftStart("cpu_ruler_s").asInstanceOf[Double],
            "drift.mem_ruler_s" -> driftStart("mem_ruler_s").asInstanceOf[Double]))
        layers.map { case (k, v) => k -> (v, PerLayer.unit(k)) }
      }

    val failed = ctx.failed
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.writeString(opts.out, Json(result) + "\n")

    // The run record: everything above plus raw samples, spans and drift.
    val record = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "commit" -> opts.commit, "started_at" -> startedAt,
      "environment" -> Drift.environment(opts.sourceStamp),
      "drift_start" -> driftStart, "drift_end" -> driftEnd,
      "result" -> result,
      "setup_samples_s" -> outcome.setupS,
      "passes" -> outcome.passes.map(p => Map("wall_s" -> p.wall, "items" -> p.items,
        "ops_s" -> p.ops, "traced" -> p.traced, "layers" -> p.layers)),
      "failures" -> ctx.failureLog,
      "spans" -> ctx.spans.records) ++ outcome.record
    Files.createDirectories(opts.records)
    val stamp = java.time.LocalDateTime.now().toString.replace(":", "").replace(".", "")
    Files.writeString(opts.records.resolve(
      s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}-$stamp.json"), Json(record) + "\n")
    ctx.log(s"done: attempted=${ctx.attempted} failed=$failed")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
