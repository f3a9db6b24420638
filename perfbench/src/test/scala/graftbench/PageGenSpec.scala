package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class PageGenSpec extends AnyFunSuite {
  private def withDir[T](body: java.nio.file.Path => T): T = {
    val root = Files.createTempDirectory("pagegen")
    try body(root) finally IngestDelta.deleteTree(root)
  }

  private def snapshot(seed: Long): Seq[String] = withDir { root =>
    val g = new PageGen(seed, pagesPerType = 3, rowsPerPage = 10)
    g.writeAll(root)
    g.advance(root, 0)
    g.advance(root, 1, Seq("nonlife"))
    PageGen.Types.flatMap(t => (1 to g.totalPages(t)).map(p =>
      new String(Files.readAllBytes(root.resolve(t).resolve(s"page_$p.html")), "UTF-8")))
  }

  test("the same seed generates byte-identical pages") {
    assert(snapshot(7) == snapshot(7))
  }

  test("a different seed generates different pages") {
    val (a, b) = (snapshot(7), snapshot(8))
    assert(a.size == b.size)
    assert(a.zip(b).forall { case (x, y) => x != y })
  }

  test("head-insert types shift every page, tail-append types only the last") { withDir { root =>
    val g = new PageGen(1, pagesPerType = 4, rowsPerPage = 10)
    g.writeAll(root)
    val added = g.advance(root, 0)
    assert(added("life")._2 == g.totalPages("life"))
    assert(added("health")._2 == g.totalPages("health"))
    assert(added("nonlife")._2 == 1)
    assert(added("life_list")._2 == 1)
    PageGen.Types.foreach(t => assert(g.rows(t) == 40 + added(t)._1.size))
  } }

  test("every listed row has a distinct document URL") {
    val g = new PageGen(3, pagesPerType = 2)
    PageGen.Types.foreach { t =>
      val urls = g.urls(t)
      assert(urls.distinct.size == urls.size)
    }
  }
}
