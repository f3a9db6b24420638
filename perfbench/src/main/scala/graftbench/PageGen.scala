package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** A seeded, evolving insurance-product listing for the incremental-ingest
  * workload: four product types, each a paginated table of `rowsPerPage`
  * rows in the cell layouts the parse kernels expect (see the repository's
  * FIXTURES.md). Every row has a unique document link, so the delta of a
  * pass is exactly the rows that pass added.
  *
  * Between passes the site gains a few documents per type. `life` and
  * `health` list new documents first, so every later page shifts; `nonlife`
  * and `life_list` append at the end, so only the last page changes.
  * Everything is a function of `seed`: the same seed yields byte-identical
  * pages.
  */
final class PageGen(val seed: Long, pagesPerType: Int, val rowsPerPage: Int = 60) {
  import PageGen._

  private val listing: Map[String, ArrayBuffer[Long]] = Types.map { t =>
    t -> ArrayBuffer.range(0L, pagesPerType.toLong * rowsPerPage)
  }.toMap
  private val nextId = scala.collection.mutable.Map(Types.map(t => t -> pagesPerType.toLong * rowsPerPage): _*)

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L))

  def rows(t: String): Int = listing(t).size
  def totalRows: Int = Types.map(rows).sum
  def totalPages(t: String): Int = (rows(t) + rowsPerPage - 1) / rowsPerPage

  /** The absolute document URL the parser extracts for row `id`. */
  def url(t: String, id: Long): String = t match {
    case "life_list" if id % 3 == 0 => s"$BaseUrl/files/w$seed-$id.xlsx"
    case _ => s"$BaseUrl/documents/$t/$seed-$id.${if (t == "nonlife") "xlsx" else "pdf"}"
  }

  private def path(u: String) = u.stripPrefix(BaseUrl)

  private def rowHtml(t: String, id: Long): String = {
    val r = rng(Types.indexOf(t).toLong, id)
    def of(xs: Seq[String]) = xs(r.nextInt(xs.size))
    def date = f"${1 + r.nextInt(28)}%02d-${1 + r.nextInt(12)}%02d-${2012 + r.nextInt(13)}"
    val fy = { val y = 2012 + r.nextInt(13); s"FY $y-${(y + 1) % 100}" }
    val insurer = s"${of(Insurers)} ${of(Suffixes)}"
    val product = s"${of(Words)} ${of(Words)} Plan $id"
    val archive = if (r.nextInt(4) == 0) "Archived" else "Non-Archived"
    val link = s"<a href='${path(url(t, id))}'>Doc $t $id</a>"
    val cells = t match {
      case "life" => Seq(Checkbox, archive, fy, insurer, product, s"${100 + r.nextInt(900)}L$id" + "V01",
        of(LifeTypes), s"$date $date", if (r.nextBoolean()) date else "", of(Seq("Protection", "Savings", "Retirement")),
        of(Seq("Par", "Non Par", "Non PAR", "NA")), of(Seq("Individual", "Group", "Both")),
        if (r.nextInt(3) == 0) "" else s"remark ${r.nextInt(1000)}", link)
      case "health" => Seq(Checkbox, archive, fy, insurer, s"HLT${id}V0${r.nextInt(9)}", product,
        if (r.nextInt(4) == 0) "" else date, link, of(HealthTypes))
      case "nonlife" => Seq(Checkbox, archive, if (r.nextInt(6) == 0) "" else (id + 1).toString, fy,
        insurer, product, of(NonlifeTypes), s"NL-$id", if (r.nextInt(4) == 0) "" else date, link)
      case "life_list" =>
        val doc = if (id % 3 == 0) s"<span onclick=\"window.open('${path(url(t, id))}')\">view</span>" else link
        Seq(Checkbox, archive, s"Product list ${of(Words)} $id", if (r.nextInt(4) == 0) "" else date,
          if (r.nextInt(5) == 0) "" else s"sub ${of(Words)}", doc)
    }
    cells.map(c => s"<td>$c</td>").mkString("<tr>", "", "</tr>")
  }

  def pageHtml(t: String, page: Int): String = {
    val ids = listing(t).slice((page - 1) * rowsPerPage, page * rowsPerPage)
    ids.map(rowHtml(t, _)).mkString(
      s"<html><body><div class='portlet'><table class='table data-table'><tbody>\n", "\n",
      s"\n</tbody></table><div class='pagination'><span class='active'>$page</span></div></div></body></html>\n")
  }

  def writePage(dir: Path, t: String, page: Int): Unit =
    Files.write(dir.resolve(s"page_$page.html"), pageHtml(t, page).getBytes(StandardCharsets.UTF_8))

  def writeAll(root: Path): Unit = Types.foreach { t =>
    val d = Files.createDirectories(root.resolve(t))
    (1 to totalPages(t)).foreach(writePage(d, t, _))
  }

  /** Add pass `pass`'s new documents to each of `types`, rewrite the pages
    * they changed, and return the new rows' URLs and the number of pages
    * rewritten, per type.
    */
  def advance(root: Path, pass: Int, types: Seq[String] = Types): Map[String, (Seq[String], Int)] =
    types.map { t =>
      val n = 1 + rng(-1L, pass.toLong, Types.indexOf(t).toLong).nextInt(4)
      val ids = (0 until n).map(_ => { val id = nextId(t); nextId(t) = id + 1; id })
      val firstChanged =
        if (HeadInsert(t)) { listing(t).insertAll(0, ids.reverse); 1 }
        else { val p = listing(t).size / rowsPerPage + 1; listing(t) ++= ids; p }
      val d = root.resolve(t)
      (firstChanged to totalPages(t)).foreach(writePage(d, t, _))
      t -> (ids.map(url(t, _)), totalPages(t) - firstChanged + 1)
    }.toMap

  /** Every URL currently listed for `t`. */
  def urls(t: String): Seq[String] = listing(t).toSeq.map(url(t, _))
}

object PageGen {
  val Types: Seq[String] = Seq("life", "health", "nonlife", "life_list")
  val HeadInsert: Set[String] = Set("life", "health")
  val BaseUrl = "https://example.invalid"
  private val Checkbox = "<input type='checkbox'/>"
  private val Insurers = Seq("Acme", "Bharat", "Canopy", "Delta", "Everest", "Future", "Guardian", "Horizon")
  private val Suffixes = Seq("Life", "General", "Health", "Assurance")
  private val Words = Seq("Secure", "Smart", "Gold", "Star", "Family", "Care", "Shield", "Wealth", "Term", "Plus")
  private val LifeTypes = Seq("Term", "Endowment", "ULIP", "Annuity", "Add On", "Add-on")
  private val HealthTypes = Seq("Indemnity", "Benefit", "Top Up", "Critical Illness")
  private val NonlifeTypes = Seq("Motor", "Fire", "Marine", "Engineering", "Liability")
}
