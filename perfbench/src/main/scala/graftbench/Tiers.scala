package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The frozen contract query lists (perfbench/contract_tiers.tsv): every
  * query with its tier, stratum (family module) and its sf0.1 median in
  * the committed full-bench record, and whether it is in the sample a run
  * times.
  */
final case class TierEntry(tier: String, family: String, query: String, medianS: Double, sampled: Boolean)

object Tiers {
  def load(path: Path): Seq[TierEntry] =
    Files.readAllLines(path).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty || l.startsWith("tier\t"))
      .map(_.split("\t")).map(a => TierEntry(a(0), a(1), a(2), a(3).toDouble, a(4) == "1"))

  /** Pinned content hashes (perfbench/expected_hashes.tsv): key -> hash. */
  def hashes(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  /** A seeded permutation (Fisher-Yates over a SplittableRandom). */
  def shuffle[T](xs: Seq[T], seed: Long): Seq[T] = {
    val r = new java.util.SplittableRandom(seed)
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
