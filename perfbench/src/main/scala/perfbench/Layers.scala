package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans in [[Trace]].
  *
  * Layers are named after the engine's modules. Totals are per traced
  * pass, so a run that fits more passes reports the same figures. Only
  * ops of traced passes count; [[Main.passes]] alternates traced and
  * untraced passes, and the two pass walls give the cost of tracing. */
object Layers {
  val ModuleLayers: Seq[String] = Seq("operators", "functions", "nlp", "sim")
  val CatalogKinds: Seq[String] = Seq("create", "insert", "alter", "rowlevel",
    "branch", "rollback", "vacuum", "attach_read", "export", "import")
  /** Keys whose shuffle volume and exchange count are reported one by
    * one: the ANN, k-means and MinHash keys whose "win at scale" claims
    * (arg-min/max instead of row_number windows; treeAggregate GD
    * steps) were never measured. */
  val WatchedKeys: Seq[String] = Seq("sim_ann_ivf", "sim_ann_lsh",
    "ml_kmeans_step", "dedup_minhash", "dedup_minhash_incremental")

  private def median(xs: Seq[Double]): Double = Stats.pct(xs, 0.5)

  def apply(res: Outcome): Map[String, Double] = {
    val traced = res.ops.filter(_.traced)
    val nPass = math.max(1, res.passes.count(_._2)).toDouble
    val opById = traced.map(o => o.id -> o).toMap
    def within(o: Op, t: Long): Boolean = t >= o.t0Ms && t <= o.t1Ms
    def opAt(t: Long): Option[Op] = traced.find(within(_, t))

    val jobs = Trace.jobs.asScala.toSeq.filter(j => opById.contains(j.op))
    val stageById = Trace.stages.asScala.map(s => s.id -> s).toMap
    val stageOp: Map[Int, Int] =
      jobs.flatMap(j => j.stages.map(_ -> j.op)).toMap
    val stages = stageOp.keys.toSeq.flatMap(stageById.get)
    val stagesOf: Map[Int, Seq[Trace.Stage]] =
      stages.groupBy(s => stageOp(s.id))
    val plans = Trace.plans.asScala.toSeq.filter(p => opAt(p.t0Ms).nonEmpty)
    val batches = Trace.batches.asScala.toSeq.filter(b => opAt(b.t0Ms).nonEmpty)
    val m = Map.newBuilder[String, Double]
    def per(name: String, v: Double): Unit = m += name -> v / nPass

    per("plans.analysis_ms", plans.map(_.analysisMs).sum.toDouble)
    per("plans.optimization_ms", plans.map(_.optimizationMs).sum.toDouble)
    per("plans.planning_ms", plans.map(_.planningMs).sum.toDouble)
    per("plans.exchanges", plans.map(_.exchanges).sum.toDouble)
    per("plans.self_s", plans.map(p =>
      p.analysisMs + p.optimizationMs + p.planningMs).sum / 1e3)

    val scans = stages.filter(_.inputBytes > 0)
    per("sources.input_bytes", stages.map(_.inputBytes).sum.toDouble)
    per("sources.input_rows", stages.map(_.inputRows).sum.toDouble)
    val listing = jobs.filter(_.desc.toLowerCase.contains("listing leaf files"))
    per("sources.listing_jobs", listing.size.toDouble)
    per("sources.scan_stage_s", scans.map(s => s.t1Ms - s.t0Ms).sum / 1e3)

    for (mod <- ModuleLayers) {
      val ops = traced.filter(_.module == mod)
      val st = ops.flatMap(o => stagesOf.getOrElse(o.id, Nil))
      per(s"$mod.task_run_s", st.map(_.runMs).sum / 1e3)
      per(s"$mod.task_cpu_s", st.map(_.cpuNs).sum / 1e9)
      per(s"$mod.gc_s", st.map(_.gcMs).sum / 1e3)
      per(s"$mod.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble)
      per(s"$mod.shuffle_read_bytes", st.map(_.shuffleRead).sum.toDouble)
      per(s"$mod.spill_bytes", st.map(_.spill).sum.toDouble)
      per(s"$mod.stages", st.size.toDouble)
      per(s"$mod.tasks", st.map(_.tasks).sum.toDouble)
      m += s"$mod.task_skew" -> median(ops.flatMap { o =>
        stagesOf.getOrElse(o.id, Nil).maxByOption(s => s.t1Ms - s.t0Ms)
          .map(s => Trace.stageTasks(s.id)).filter(_.nonEmpty).map { ts =>
            val med = median(ts.map(_.toDouble))
            if (med <= 0) 1.0 else ts.max / med
          }
      })
    }

    for (k <- CatalogKinds)
      m += s"catalog.${k}_ms" -> median(traced.filter(_.kind == k).map(_.ms))
    val reads = traced.filter(_.kind == "attach_read")
    val readListings = listing.count(j => opById.get(j.op).exists(_.kind == "attach_read"))
    m += "catalog.listings_per_read" ->
      (if (reads.isEmpty) 0.0 else readListings.toDouble / reads.size)
    for (k <- Seq("revisions", "files_written", "bytes_written"))
      m += s"catalog.$k" -> (res.extra.get(s"catalog.$k") match {
        case Some(x: Double) => x
        case _ => 0.0
      })

    def dur(b: Trace.Batch, k: String): Double = b.durations.getOrElse(k, 0L).toDouble
    per("streaming.batches", batches.size.toDouble)
    per("streaming.input_rows", batches.map(_.inputRows).sum.toDouble)
    for ((name, key) <- Seq("latest_offset_ms" -> "latestOffset",
        "get_batch_ms" -> "getBatch", "query_planning_ms" -> "queryPlanning",
        "add_batch_ms" -> "addBatch", "wal_commit_ms" -> "walCommit",
        "commit_offsets_ms" -> "commitOffsets"))
      per(s"streaming.$name", batches.map(dur(_, key)).sum)
    per("streaming.state_commit_ms", batches.map(_.stateCommitMs).sum.toDouble)
    m += "streaming.state_rows" -> median(batches.map(_.stateRows.toDouble))
    m += "streaming.state_memory_bytes" -> median(batches.map(_.stateMemory.toDouble))
    m += "streaming.empty_batch_frac" -> (if (batches.isEmpty) 0.0
      else batches.count(_.inputRows == 0).toDouble / batches.size)

    // self time: an op's span minus the part its jobs cover
    val jobsOf = jobs.groupBy(_.op)
    def outsideJobs(o: Op): Double = {
      val inJobs = Trace.unionMs(jobsOf.getOrElse(o.id, Nil).map(j =>
        (math.max(j.t0Ms, o.t0Ms), math.min(j.t1Ms, o.t1Ms))))
      math.max(0L, (o.t1Ms - o.t0Ms) - inJobs) / 1e3
    }
    per("driver.outside_jobs_s", traced.map(outsideJobs).sum)
    per("catalog.self_s", traced.filter(_.module == "catalog")
      .map(outsideJobs).sum)
    per("streaming.self_s", batches.map(b =>
      dur(b, "triggerExecution") - dur(b, "addBatch")).sum / 1e3)
    per("driver.jobs", jobs.size.toDouble)

    // per execution of each watched key the run has (see `--keys`):
    // median shuffle bytes written and exchanges in its executed plans
    for (k <- WatchedKeys; runs = traced.filter(_.name == k) if runs.nonEmpty) {
      m += s"key.$k.shuffle_write_bytes" -> median(runs.map(o =>
        stagesOf.getOrElse(o.id, Nil).map(_.shuffleWrite).sum.toDouble))
      m += s"key.$k.exchanges" -> median(runs.map(o =>
        plans.filter(p => within(o, p.t0Ms)).map(_.exchanges).sum.toDouble))
    }

    val on = res.passes.filter(_._2).map(_._1)
    val off = res.passes.filterNot(_._2).map(_._1)
    m += "trace.wall_s" -> median(on)
    // 0 when the run had time for one (traced) pass only
    m += "trace.overhead_pct" -> (if (off.isEmpty) 0.0
      else 100 * (median(on) - median(off)) / median(off))
    m.result()
  }
}
