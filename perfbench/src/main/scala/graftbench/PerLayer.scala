package graftbench

/** The per-layer metric names a traced run prints (the `per_layer` list of
  * BENCHMARK.json). Every traced run prints all of them; a metric of a
  * layer the workload does not exercise reads 0.
  */
object PerLayer {
  val Ingest: Seq[String] = Seq(
    "app.pass_s", "app.glue_s",
    "sources.page_scan_s", "sources.pages_changed_ratio", "sources.existing_urls_s",
    "sources.csv_append_s", "sources.csv_write_amp",
    "operators.parse_s", "operators.parse_rows", "operators.delta_s", "operators.delta_new_ratio",
    "state.filter_pending_s", "state.commit_s", "state.write_mb",
    "fetch.download_s", "fetch.calls", "fetch.rate_floor_s")

  val Contract: Seq[String] = Seq("queries.lambda_s", "queries.exec_s", "contract.short_s",
    "contract.heavy_s", "contract.heavy.q157_training_manifest_s", "contract.heavy.q25_minhash_neardups_s")

  def names: Seq[String] =
    Counters.metricNames ++ Ingest ++ Contract ++
      Seq("pass_s", "items_per_s", "op_p50_s", "op_p90_s").map(m => s"trace.overhead.$m") ++
      Seq("drift.cpu_ruler_s", "drift.mem_ruler_s")

  def unit(name: String): String =
    if (name.startsWith("trace.overhead.") || name.endsWith("_ratio") || name.endsWith("_amp") ||
      name.endsWith("core_util")) "ratio"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else "count"

  /** Exactly the listed names: missing ones read 0, unlisted ones are dropped. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
}
