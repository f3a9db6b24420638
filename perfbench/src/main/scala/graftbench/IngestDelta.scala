package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.app.Jobs
import graft.fetch.Downloader
import graft.fetch.Downloader.DownloadTask
import graft.functions.{TextFunctions => T}
import graft.operators.{DeltaOps, ParsePipeline}
import graft.sources.{CsvMeta, PageSource}
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fetch stub: always succeeds with `Jobs.stubFetch`'s bytes, and counts
  * its calls.
  */
object CountingFetch {
  val calls = new AtomicLong
  val fetch: String => Array[Byte] = { url =>
    calls.incrementAndGet()
    Jobs.stubFetch(url)
  }
  def expected(url: String): Array[Byte] = Jobs.stubFetch(url)
}

/** `ingest-delta`: repeated `graft.app.Jobs.delta` passes over a seeded,
  * evolving page listing ([[PageGen]]). Set-up is the cold metadata-only
  * ingest of the starting listing (repeated into fresh directories, the
  * median is reported) plus untimed JIT-warming passes. A pass is one
  * `Jobs.delta` call per product type, all four types in turn; each call is
  * one operation, and every call is checked. On a traced run, whole passes
  * alternate untraced and traced, so both cover the same types.
  */
final class IngestDelta extends Workload {
  import IngestDelta._

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = Session.start(o.work)
    val gen = new PageGen(o.seed, PagesPerType)
    val pagesRoot = o.work.resolve("pages")
    gen.writeAll(pagesRoot)
    ctx.log(s"listing: ${gen.totalRows} rows on ${PageGen.Types.map(gen.totalPages).sum} pages")

    // Set-up: the cold metadata-only ingest, repeated into fresh work dirs.
    var wd: Path = null
    val setupS = (1 to SetupRepeats).map { k =>
      wd = o.work.resolve(s"ingest-$k")
      val (counts, sec) = ctx.time(PageGen.Types.map { t =>
        val state = new StateStore(spark, s"$wd/state")
        val pages = PageSource.fixtureScan(spark, t, pagesRoot.resolve(t).toString, 1, gen.totalPages(t))
        t -> Jobs.runPipeline(spark, state, wd.toString, t, pages, Jobs.stubFetch, metadataOnly = true)._1
      })
      counts.foreach { case (t, n) => ctx.check(s"cold ingest $t rows")(n == gen.rows(t)) }
      ctx.log(f"cold ingest $k: $sec%.3f s")
      sec
    }
    (1 until SetupRepeats).foreach(k => deleteTree(o.work.resolve(s"ingest-$k")))

    val live = new Live(ctx, spark, gen, pagesRoot, wd)
    val (_, warmS) = ctx.time((1 to WarmPasses).foreach(i => live.pass(-i, traced = false)))
    ctx.log(f"warm passes: $warmS%.3f s")
    val probe = if (o.trace) Some(new Probe(spark)) else None
    val passes = ctx.measure((i, traced) => live.pass(i, traced, probe))
    live.finalCheck()
    Outcome(setupS.map(_ + warmS), passes, Map.empty,
      Map("setup_cold_ingest_s" -> setupS, "setup_warm_passes_s" -> warmS))
  }
}

object IngestDelta {
  val PagesPerType = 30
  val SetupRepeats = 3
  val WarmPasses = 1
  /** The order the product types take turns in within a pass: head-insert
    * and tail-append types alternate.
    */
  val TypeTurns = Seq("life", "nonlife", "health", "life_list")
  /** `Downloader.download`'s default rate (requests per second). */
  val FetchRate = 10.0

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = if (Files.exists(src)) {
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { f =>
      val d = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(d) else Files.copy(f, d)
    } finally s.close()
  }

  /** The live work directory the timed passes ingest into, with the running
    * totals the checks compare against.
    */
  final class Live(ctx: Ctx, spark: SparkSession, gen: PageGen, pagesRoot: Path, wd: Path) {
    private val downloaded = scala.collection.mutable.Map(PageGen.Types.map(_ -> Set.empty[String]): _*)
    private var totalDownloaded = 0L

    private def pagesDir(t: String) = pagesRoot.resolve(t).toString

    /** Pass `i`: add new documents to every product type, then run
      * `Jobs.delta` for each type in turn. The pass's wall time is the sum of
      * the four calls; the checks after each call are not timed.
      */
    def pass(i: Int, traced: Boolean, probe: Option[Probe] = None): PassSample = {
      val added = gen.advance(pagesRoot, i, TypeTurns)
      val probed = if (traced) TypeTurns.map(t => layerProbe(i, t, added(t)._1.size)) else Seq.empty
      // On a traced pass the runtime counters cover the four calls only, not
      // the checks between them.
      val active = probe.filter(_ => traced)
      active.foreach(_.start())
      val (walls, deltas) = TypeTurns.map { t =>
        val before = active.map(_.read())
        val c0 = CountingFetch.calls.get
        val (_, wall) = ctx.time(ctx.check(s"pass $i $t returned counts") {
          val (n, ok, bad) = Jobs.delta(spark, wd.toString, t, pagesDir(t), gen.totalPages(t), CountingFetch.fetch)
          n == added(t)._1.size && ok == n && bad == 0
        })
        val delta = active.map(_.read() - before.get)
        val calls = CountingFetch.calls.get - c0
        ctx.check(s"pass $i $t time >= rate floor")(wall >= (calls - 1) / FetchRate)
        checkAfterPass(i, t, added(t)._1)
        (wall, delta)
      }.unzip
      active.foreach(_.stop())
      val wall = walls.sum
      val runtime = deltas.flatten.reduceOption(_ + _).map(_.metrics(Session.cores)).getOrElse(Map.empty)
      val passLayers =
        if (!traced) Map.empty[String, Double]
        else {
          val sum = probed.flatMap(_.keys).distinct.map(k => k -> probed.map(_.getOrElse(k, 0.0)).sum).toMap
          val spanSum = sum.collect { case (k, v) if k.endsWith("_s") && k != "fetch.rate_floor_s" => v }.sum
          sum.filterNot(_._1.startsWith("raw.")) ++ runtime ++ Map(
            "app.pass_s" -> wall,
            "app.glue_s" -> (wall - spanSum),
            "sources.pages_changed_ratio" ->
              TypeTurns.map(added(_)._2).sum.toDouble / TypeTurns.map(gen.totalPages).sum,
            "operators.delta_new_ratio" -> sum("raw.delta_rows") / math.max(1.0, sum("operators.parse_rows")),
            "sources.csv_write_amp" -> sum("raw.csv_io_bytes") / math.max(1.0, sum("raw.csv_new_bytes")))
        }
      PassSample(wall, gen.totalRows.toDouble, walls, traced, passLayers)
    }

    /** Checks after each `Jobs.delta` call, against the generator's totals. */
    private def checkAfterPass(i: Int, t: String, want: Seq[String]): Unit = {
      val lines = Files.readAllLines(Path.of(Jobs.csvPath(wd.toString, t)), StandardCharsets.UTF_8).asScala
      val urlIdx = CsvMeta.columns(t).indexOf("document_url")
      val urls = lines.iterator.drop(1).map(_.split(",", -1)(urlIdx)).toSet
      ctx.check(s"pass $i $t csv rows")(lines.size - 1 == gen.rows(t))
      ctx.check(s"pass $i $t csv distinct urls")(urls.size == gen.rows(t) && gen.urls(t).forall(urls))
      val dir = wd.resolve("downloads").resolve(t)
      val files = if (Files.exists(dir)) {
        val s = Files.list(dir)
        try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
      } else Set.empty[String]
      val fresh = files -- downloaded(t)
      val contents = fresh.map(f => new String(Files.readAllBytes(dir.resolve(f)), StandardCharsets.UTF_8))
      ctx.check(s"pass $i $t downloads")(fresh.size == want.size &&
        contents == want.map(u => new String(CountingFetch.expected(u), StandardCharsets.UTF_8)).toSet)
      downloaded(t) = files
      totalDownloaded += want.size
      ctx.check(s"pass $i completed-set size")(
        new StateStore(spark, s"$wd/state").completed.count() == totalDownloaded)
    }

    def finalCheck(): Unit = PageGen.Types.foreach { t =>
      ctx.check(s"final $t csv rows (Spark read)")(
        CsvMeta.count(spark, Jobs.csvPath(wd.toString, t)) == gen.rows(t))
    }

    /** The traced pass's layer spans for type `t`: each public layer call
      * `Jobs.delta` makes, timed on this pass's inputs before the real pass
      * runs. Each stage's output is cached so that a span holds only its own
      * layer's work; write-side calls go to a scratch copy of the state and
      * CSV. Every value is additive over the types of a pass; the `raw.`
      * ones feed the pass's ratios.
      */
    private def layerProbe(i: Int, t: String, want: Int): Map[String, Double] = {
      val scratch = ctx.opts.work.resolve(s"probe-$i")
      copyTree(wd.resolve("state"), scratch.resolve("state"))
      copyTree(wd.resolve("metadata"), scratch.resolve("metadata"))
      val spans = scala.collection.mutable.Map.empty[String, Span]
      def span[T](name: String)(body: => T): T = {
        val r = ctx.spans(name, i, s"probe:$t")(body)
        spans(name) = ctx.spans.all.last
        r
      }
      def sec(name: String) = spans(name).seconds
      val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_ONLY) }

      val pages = keep(PageSource.fixtureScan(spark, t, pagesDir(t), 1, gen.totalPages(t)).toDF())
      span("sources.page_scan")(pages.count())
      val parsed = keep(ParsePipeline.parse(spark, pages.as(Encoders.product[ParsePipeline.PageHtml]), t))
      val parsedRows = span("operators.parse")(parsed.count()).toDouble
      val csv = scratch.resolve("metadata").resolve(s"${t}_products.csv").toString
      val existing = keep(CsvMeta.loadExistingUrls(spark, csv))
      span("sources.existing_urls")(existing.count())
      val fresh = keep(DeltaOps.delta(parsed.where(col("document_url").isNotNull), existing, "document_url"))
      val freshRows = span("operators.delta")(fresh.count())
      val state = new StateStore(spark, scratch.resolve("state").toString)
      // The task frame `Jobs.runPipeline` builds, with scratch destinations.
      val tasks = fresh.select(col("document_url").as("url"),
        concat(lit(s"$scratch/downloads/$t/"), T.sanitizeFilename(coalesce(col("document_filename"),
          T.filenameFromUrl(col("document_url")), T.urlHash(col("document_url")).cast("string"))))
          .as("destination"))
      val pending = keep(state.filterPending(tasks, "url"))
      span("state.filter_pending")(pending.count())
      val c0 = CountingFetch.calls.get
      val results = keep(Downloader.download(pending.as(Encoders.product[DownloadTask]),
        CountingFetch.fetch).toDF())
      span("fetch.download")(results.count())
      val calls = CountingFetch.calls.get - c0
      val floor = math.max(0L, calls - 1) / FetchRate
      span("state.commit")(state.markCompleted(results.where(col("success")).select("url")))
      val size0 = Files.size(Path.of(csv))
      span("sources.csv_append")(CsvMeta.append(fresh, t, csv))
      val newCsvBytes = (Files.size(Path.of(csv)) - size0).toDouble
      cached.foreach(_.unpersist())
      deleteTree(scratch)
      ctx.check(s"pass $i probe delta rows")(freshRows == want)
      ctx.check(s"pass $i fetch.download_s >= fetch.rate_floor_s")(sec("fetch.download") >= floor)
      Map(
        "sources.page_scan_s" -> sec("sources.page_scan"),
        "operators.parse_s" -> sec("operators.parse"),
        "operators.parse_rows" -> parsedRows,
        "sources.existing_urls_s" -> sec("sources.existing_urls"),
        "operators.delta_s" -> sec("operators.delta"),
        "raw.delta_rows" -> freshRows.toDouble,
        "state.filter_pending_s" -> sec("state.filter_pending"),
        "state.commit_s" -> sec("state.commit"),
        "state.write_mb" -> spans("state.commit").ioWriteB / 1e6,
        "fetch.download_s" -> sec("fetch.download"),
        "fetch.calls" -> calls.toDouble,
        "fetch.rate_floor_s" -> floor,
        "sources.csv_append_s" -> sec("sources.csv_append"),
        "raw.csv_io_bytes" -> spans("sources.csv_append").ioWriteB,
        "raw.csv_new_bytes" -> newCsvBytes)
    }
  }
}
