package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 11.0)
    assert(Stats.p90(xs) == 10.0)
    assert(math.abs(Stats.p90(Seq(1.0, 2.0, 3.0, 4.0)) - 3.7) < 1e-12)
  }

  test("an empty sample is rejected") {
    intercept[IllegalArgumentException](Stats.median(Seq.empty))
  }

  test("content hashes ignore row order") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val a = Seq((1, "x"), (2, "y"), (2, "y")).toDF("k", "v")
      val b = Seq((2, "y"), (1, "x"), (2, "y")).toDF("k", "v").repartition(3)
      val c = Seq((1, "x"), (2, "y")).toDF("k", "v")
      assert(ContentHash(a) == ContentHash(b))
      assert(ContentHash(a) != ContentHash(c))
    } finally spark.stop()
  }
}
