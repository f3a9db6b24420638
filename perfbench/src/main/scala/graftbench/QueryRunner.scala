package graftbench

import java.nio.file.{Files, Path}

import graft.{GraftCache, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Runs contract queries the way `graft.Bench` does: build the DataFrame
  * (the query lambda, which may run eager jobs), write it to the noop sink,
  * then release every operator-held cache.
  */
final class QueryRunner(ctx: Ctx, spark: SparkSession, dir: String) {
  private val all = SparkEntry.queries

  /** (lambda seconds, execute seconds) of one run of query `name`; a traced
    * pass records both as spans.
    */
  def time(name: String, pass: Int, traced: Boolean): (Double, Double) = {
    val fn = all(name)
    def span[T](layer: String)(body: => T): (T, Double) =
      if (traced) ctx.time(ctx.spans(layer, pass, name)(body)) else ctx.time(body)
    try {
      val (df, lambdaS) = span("queries.lambda")(fn(spark, dir))
      val (_, execS) = span("queries.exec")(df.write.format("noop").mode("overwrite").save())
      (lambdaS, execS)
    } finally release()
  }

  def release(): Unit = {
    GraftCache.releaseAll(spark)
    spark.catalog.clearCache()
  }

  /** The cold pass: each query's content hash against the pinned one (key
    * `<prefix>:<query>`). In pin mode the hashes are recorded instead.
    * Returns the pass's wall time.
    */
  def hashPass(prefix: String, names: Seq[String], pinned: Map[String, String],
               pin: Option[Path]): Double = {
    val (lines, sec) = ctx.time(names.map { n =>
      val key = s"$prefix:$n"
      var got = ""
      ctx.check(s"hash $key") {
        try {
          got = ContentHash(all(n)(spark, dir))
        } finally release()
        pin.isDefined || pinned.get(key).contains(got)
      }
      if (pin.isEmpty && !pinned.get(key).contains(got))
        ctx.log(s"hash mismatch $key: got $got, pinned ${pinned.getOrElse(key, "none")}")
      s"$key\t$got"
    })
    pin.foreach(p => Files.writeString(p, lines.mkString("", "\n", "\n"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND))
    sec
  }
}
