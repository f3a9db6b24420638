package graftbench

/** `contract`: passes over the frozen sample of the contract queries
  * (perfbench/contract_tiers.tsv) on the sf0.01 test tables, through the noop
  * sink exactly as `graft.Bench` runs them. Short-tier queries (bench median
  * under 0.5 s) are bound by planning and scheduling: their latencies are
  * the workload's op_p50_s/op_p90_s. The heavy-tier sample is the curation
  * job (q157) and the q25 near-dup pass. The seed sets each pass's query
  * order. Set-up is the first, cold pass, which checks every query's
  * content hash, and untimed warm passes for the JIT.
  */
final class Contract extends Workload {
  import Contract._

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = Session.start(o.work)
    val dir = o.data.toString
    val sample = Tiers.load(o.tiers).filter(_.sampled)
    val tierOf = sample.map(e => e.query -> e.tier).toMap
    val names = sample.map(_.query)
    val runner = new QueryRunner(ctx, spark, dir)
    val coldS = runner.hashPass("contract", Tiers.shuffle(names, o.seed), Tiers.hashes(o.hashes),
      if (o.pin) Some(o.hashes) else None)
    ctx.log(f"cold hash pass over ${names.size} queries: $coldS%.3f s")

    val probe = if (o.trace) Some(new Probe(spark)) else None
    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    def pass(i: Int, traced: Boolean): PassSample = {
      val active = probe.filter(_ => traced)
      active.foreach(_.start())
      val before = active.map(_.read())
      val times = Tiers.shuffle(names, o.seed * 1000003L + i).map { q =>
        var t = (0.0, 0.0)
        ctx.check(s"pass $i $q ran") { t = runner.time(q, i, traced); true }
        if (i >= 0) perQuery(q) :+= t._1 + t._2
        q -> t
      }.toMap
      val layers = active.map { p =>
        val d = p.read() - before.get
        p.stop()
        d.metrics(Session.cores) ++ Map(
          "queries.lambda_s" -> times.values.map(_._1).sum, "queries.exec_s" -> times.values.map(_._2).sum)
      }.getOrElse(Map.empty)
      val walls = times.map { case (q, (l, e)) => q -> (l + e) }
      PassSample(walls.values.sum, names.size.toDouble,
        walls.collect { case (q, s) if tierOf(q) == "short" => s }.toSeq, traced, layers)
    }
    val (_, warmS) = ctx.time((1 to WarmPasses).foreach(k => pass(-k, traced = false)))
    ctx.log(f"warm passes: $warmS%.3f s")
    val passes = ctx.measure(pass)
    val medians = perQuery.toMap.map { case (q, ts) => q -> Stats.median(ts) }
    def tierSum(t: String) = medians.collect { case (q, m) if tierOf(q) == t => m }.sum
    Outcome(Seq(coldS + warmS), passes,
      Map("contract.short_s" -> tierSum("short"), "contract.heavy_s" -> tierSum("heavy")) ++
        medians.collect { case (q, m) if tierOf(q) == "heavy" => s"contract.heavy.${q}_s" -> m },
      Map("query_medians_s" -> medians, "setup_cold_pass_s" -> coldS, "setup_warm_passes_s" -> warmS))
  }
}

object Contract {
  val WarmPasses = 2
}
