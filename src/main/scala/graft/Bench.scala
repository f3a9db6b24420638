package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry.queries entry against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A failing query is recorded as an error (negative time + errors map)
  * instead of being silently swallowed, and flips the exit code.
  *
  * Timing protocol: one untimed compile pass over all queries, then
  * SPARK_GRAFT_BENCH_REPS full passes (default 5), each pass's query
  * order cyclically shifted by `(pass-1) * N / reps`; each query's
  * headline number is the lower-middle MEDIAN of its reps. A variance
  * guard then re-runs any query whose median exceeds
  * SPARK_GRAFT_BENCH_HEALTH (default 2.0) times its own min, in up to
  * SPARK_GRAFT_BENCH_GUARD (default 3) extra passes over just those
  * queries. The history of each rule is in CHANGELOG.md.
  *
  * The full artifact (SPARK_GRAFT_BENCH_OUT, default
  * bench_full_latest.json) holds per-query medians, mins, the pass-1
  * map ("first_rep" after the warm pass, "cold" without it), every
  * rep's time ("reps_by_query") and JIT/GC deltas ("jit_ms"/"gc_ms"),
  * per-pass /proc/loadavg and two machine-speed rulers ("calib_sec",
  * an integer-mix kernel; "calib_mem_sec", a 1 GB memory sweep —
  * divide two artifacts by a ruler's ratio to compare drift windows),
  * per-query median/min "health", the guard's re-runs and the errors.
  *
  * STDOUT carries only a COMPACT line (total plus the slowest queries,
  * errors first) packed under 1700 chars: the recorder keeps just the
  * last 2000 chars of stdout, so a longer line loses its head.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
  * SPARK_DRIVER_MEM, SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_BENCH_WARM=0
  * (skip the compile pass), SPARK_GRAFT_BENCH_GUARD,
  * SPARK_GRAFT_BENCH_HEALTH, SPARK_GRAFT_BENCH_OUT,
  * SPARK_GRAFT_BENCH_ONLY=qNN,qMM (query filter) and
  * SPARK_GRAFT_BENCH_DIAG=1 (per-rep lines to stderr).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // dimension/sketch tables up to tens of MB broadcast instead of
      // shuffling both sides — standard production setting for executors
      // with this much memory (local[32]/128 GiB here)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // The generated-class cache is bounded by this STATIC conf
      // (default 100 entries); 20k keeps every query's compiled stages
      // resident across the interleaved passes.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      // catalog-table queries (q253/q254 bucketed layouts) use explicit
      // external paths, but pin the warehouse to a scratch dir anyway so
      // no spark-warehouse/ directory ever appears in the repo cwd
      // (scratchIndexDir registers the JVM-exit delete — no /tmp residue)
      .config("spark.sql.warehouse.dir",
        graft.queries.Fixtures.scratchIndexDir("graft-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // All JSON numbers go through Locale.ROOT: the f"" interpolator uses
    // the JVM default locale, which under e.g. de_DE emits comma decimal
    // separators — invalid JSON in the driver's parsed stdout line.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // Untimed warmup: JIT the parquet reader, codegen, and noop-sink paths
    // so the first timed query doesn't absorb one-time JVM costs.
    try Tables.lineitem(spark, sfDir).limit(1000)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Optional comma-separated query filter for local iteration, e.g.
    // SPARK_GRAFT_BENCH_ONLY=q18_total_results,q22_download_path
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val diag = sys.env.get("SPARK_GRAFT_BENCH_DIAG").contains("1")
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def loadAvg: String =
      try java.nio.file.Files.readString(
        java.nio.file.Path.of("/proc/loadavg")).trim.split(" ").head
      catch { case _: Throwable => "?" }
    // Fixed CPU reference kernel, timed once per pass: the artifact
    // carries its own machine-speed ruler. Pure integer mix, JIT-warmed
    // once, single-threaded.
    def calibSec: Double = {
      def mix(n: Long): Long = {
        var z = 0L; var i = 0L
        while (i < n) {
          z += (i ^ (z >>> 13)) * 0x9E3779B97F4A7C15L
          i += 1
        }
        z
      }
      mix(5000000L) // warm the JIT on the same code path
      val t0 = System.nanoTime()
      val sink = mix(50000000L)
      val s = (System.nanoTime() - t0) / 1e9
      if (sink == 42L) System.err.println("") // defeat DCE
      s
    }
    // Second ruler: MEMORY-BANDWIDTH reference kernel — sequential
    // sweeps over a 256 MB long array (far past LLC), the DRAM-traffic
    // dimension the int-mix ruler misses. Allocated ONCE and pinned for
    // the run, so no 256 MB of garbage is collected during a timed rep.
    val calibMemBuf = new Array[Long](32 << 20)
    def calibMemSec: Double = {
      var warm = 0L
      var i = 0
      while (i < calibMemBuf.length) { warm += calibMemBuf(i); i += 1 }
      val t0 = System.nanoTime()
      var sink = 0L
      var p = 0
      while (p < 4) { // 4 sequential sweeps = ~1 GB of traffic
        var j = 0
        while (j < calibMemBuf.length) { sink += calibMemBuf(j); j += 1 }
        p += 1
      }
      val s = (System.nanoTime() - t0) / 1e9
      if ((sink | warm) == 42L) System.err.println("") // defeat DCE
      s
    }

    // lower-middle median: reps=3 -> 2nd smallest, reps=2 -> min, reps=1 -> the value
    def median(ts: Vector[Double]): Double = ts.sorted.apply((ts.size - 1) / 2)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt.max(1)
    // One untimed compile pass before the timed reps: with the enlarged
    // codegen cache above, all Janino / C2 compilation lands ahead of
    // the first timed rep. Disable with SPARK_GRAFT_BENCH_WARM=0.
    val warm = !sys.env.get("SPARK_GRAFT_BENCH_WARM").contains("0")

    var errors = List.empty[(String, String)]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Chronological per-query rep times (appended in run order), plus the
    // matching JIT/GC deltas so every recorded second is attributable.
    val timesByQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val jitByQuery = scala.collection.mutable.Map.empty[String, Vector[Long]]
    val gcByQuery = scala.collection.mutable.Map.empty[String, Vector[Long]]
    val loadByPass = scala.collection.mutable.ArrayBuffer.empty[String]
    val calibByPass = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calibMemByPass = scala.collection.mutable.ArrayBuffer.empty[Double]
    var warmSec = 0.0
    if (warm) {
      val w0 = System.nanoTime()
      selected.foreach { case (name, fn) =>
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case _: Throwable => () } // errors re-surface in the timed reps
        GraftCache.releaseAll(spark)
        spark.catalog.clearCache()
      }
      warmSec = (System.nanoTime() - w0) / 1e9
      if (diag) System.err.println(
        "BENCHDIAG warm pass " + num(warmSec) + " s (untimed, compile-only)")
    }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                repLabel: String): Unit = {
      val (j0, g0) = (jitMs, gcMs)
      val t0 = System.nanoTime()
      // noop sink forces full materialization of every output column;
      // count() would let Catalyst prune the very expressions under test.
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        errors ::= (name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val (jd, gd) = (jitMs - j0, gcMs - g0)
      if (diag)
        System.err.println(f"BENCHDIAG $name%-28s $repLabel ${sec}%7.3f s  jit=+${jd}%5d ms  gc=+${gd}%4d ms")
      // operators persist their sketch tables; release them between
      // runs so caches don't accumulate across 160+ queries and every
      // rep measures the same cold-cache plan
      GraftCache.releaseAll(spark)
      spark.catalog.clearCache()
      timesByQuery(name) = timesByQuery.getOrElse(name, Vector.empty) :+ (if (ok) sec else -sec)
      jitByQuery(name) = jitByQuery.getOrElse(name, Vector.empty) :+ jd
      gcByQuery(name) = gcByQuery.getOrElse(name, Vector.empty) :+ gd
    }
    def recordPassRulers(): Unit = {
      loadByPass += loadAvg
      calibByPass += calibSec
      calibMemByPass += calibMemSec
    }
    (1 to reps).foreach { rep =>
      recordPassRulers()
      // Deterministic per-pass rotation (see scaladoc): pass p runs the
      // query list cyclically shifted by (p-1)*N/reps, so a recurring
      // ambient-load window that occupies the same WALL-CLOCK stretch of
      // every pass hits a different block of query identities each time.
      val shift = if (selected.isEmpty) 0 else ((rep - 1) * selected.size / reps) % selected.size
      val passOrder = selected.drop(shift) ++ selected.take(shift)
      if (diag) System.err.println(
        f"BENCHDIAG pass $rep loadavg=${loadByPass.last} calib=${calibByPass.last}%.3f s calib_mem=${calibMemByPass.last}%.3f s shift=$shift")
      passOrder.foreach { case (name, fn) => timeOne(name, fn, s"rep$rep") }
    }
    // ---- VARIANCE GUARD: a query whose median exceeds the health bound
    // times its min after the main passes gets extra full reps appended
    // to its rep vector until the recomputed median settles under the
    // bound or the guard budget runs out.
    def health(name: String): Double = {
      val ts = timesByQuery(name)
      // errored: distinct sentinel (-1), NOT 1.0 — an errored query must
      // never read as "perfectly stable" in the health map; it stays out
      // of the guard/n_unstable (the negative median is its own flag)
      if (ts.exists(_ < 0)) -1.0
      else median(ts) / math.max(ts.min, 1e-9)
    }
    val guardMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_GUARD", "3").toInt
    val healthBound = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEALTH", "2.0").toDouble
    var guardPasses = 0
    var guarded = Set.empty[String]
    var offenders = selected.filter { case (n, _) => health(n) > healthBound }
    while (guardPasses < guardMax && offenders.nonEmpty) {
      recordPassRulers()
      guardPasses += 1
      guarded ++= offenders.map(_._1)
      if (diag) System.err.println(
        f"BENCHDIAG guard pass $guardPasses loadavg=${loadByPass.last} calib=${calibByPass.last}%.3f s: " +
          offenders.map(_._1).mkString(","))
      offenders.foreach { case (name, fn) => timeOne(name, fn, s"guard$guardPasses") }
      offenders = offenders.filter { case (n, _) => health(n) > healthBound }
    }
    // An errored rep is negative; if ANY rep errored the query's headline
    // stays negative (error marker), else aggregate over the good reps.
    def agg(name: String, f: Vector[Double] => Double): Double = {
      val ts = timesByQuery(name)
      if (ts.exists(_ < 0)) ts.min else f(ts)
    }
    val results = selected.map { case (name, _) => name -> agg(name, median) }
    val mins = selected.map { case (name, _) => name -> agg(name, _.min) }
    // Pass-1 per-query times: post-compile "first_rep" when the warm pass
    // ran, genuine "cold" when it didn't.
    val coldTimes = selected.map { case (name, _) => name -> timesByQuery(name).head }
    val firstRepKey = if (warm) "first_rep" else "cold"

    def numMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + esc(k) + "\":" + num(v) }.mkString("{", ",", "}")
    def vecMap[T](m: Seq[(String, Vector[T])])(fmt: T => String): String =
      m.map { case (k, vs) => "\"" + esc(k) + "\":" + vs.map(fmt).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val qs = numMap(results)
    val minJson = numMap(mins)
    val cold = numMap(coldTimes)
    val repsJson = vecMap(selected.map { case (n, _) => n -> timesByQuery(n) })(num)
    val jitJson = vecMap(selected.map { case (n, _) => n -> jitByQuery(n) })(_.toString)
    val gcJson = vecMap(selected.map { case (n, _) => n -> gcByQuery(n) })(_.toString)
    val loadJson = loadByPass.map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")
    val calibJson = calibByPass.map(num).mkString("[", ",", "]")
    val calibMemJson = calibMemByPass.map(num).mkString("[", ",", "]")
    // Per-query median/min health AFTER the guard: 1.0 = perfectly
    // stable; >2.0 = the guard ran out of budget with the query still
    // inflated (the record says so instead of hiding it); -1 = the
    // query ERRORED (unmeasured, see "errors"/negative median).
    val healthJson = numMap(selected.map { case (n, _) => n -> health(n) })
    val guardedJson = guarded.toSeq.sorted
      .map(n => "\"" + esc(n) + "\"").mkString("[", ",", "]")
    val errJson = errors.map { case (k, m) => "\"" + esc(k) + "\":\"" + esc(m) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"agg":"median","min":$minJson,"$firstRepKey":$cold,"reps":$reps,"warm_pass":$warm,"warm_sec":${num(warmSec)},"guard_passes":$guardPasses,"guard_requeried":$guardedJson,"health":$healthJson,"reps_by_query":$repsJson,"jit_ms":$jitJson,"gc_ms":$gcJson,"loadavg":$loadJson,"calib_sec":$calibJson,"calib_mem_sec":$calibMemJson,"errors":$errJson,"sf":"${esc(sfDir)}"}"""
    // STDOUT LINE MUST FIT THE RECORDER'S 2000-CHAR TAIL BUFFER: a
    // COMPACT line (summary + the slowest queries, greedily packed to a
    // 1700-byte cap that leaves room for sbt's trailing "[success]" line);
    // the FULL evidence line goes to the artifact named in "full".
    // Errored queries (negative median) are packed first so a failure is
    // never pushed out of the visible window.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
    val ranked = results.sortBy { case (n, v) => (if (v < 0) 0 else 1, -v.abs) }
    val budget = 1700
    val nUnstable = selected.count { case (n, _) => health(n) > healthBound }
    val prefix = s"""{"metric":"total","value":${num(total)},"unit":"sec","agg":"median","reps":$reps,"n_queries":${results.size},"n_errors":${errors.size},"guard_passes":$guardPasses,"n_unstable":$nUnstable,"full":"${esc(outPath)}","sf":"${esc(sfDir)}","queries":{"""
    val suffix = "}}"
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = prefix.length + suffix.length
    ranked.foreach { case (n, v) =>
      val e = "\"" + esc(n) + "\":" + num(v)
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
    }
    println(prefix + entries.mkString(",") + suffix)
    // Durable full artifact: regression tracking reads this committed file
    // (per-rep times, jit/gc deltas, loadavg, calib ruler — see scaladoc).
    try java.nio.file.Files.writeString(java.nio.file.Path.of(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
