package perfbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run. Times are per-run medians over the
  * operations that entered the layer; counts are summed over the run;
  * ratios divide summed counts. A layer the workload never enters reads 0
  * — the predicted-flat evidence. */
object Layers {
  import Main.Ops

  /** Span names whose self time is reported as `<name>.self_s`. */
  val SelfSpans = Seq("sources.fetch", "ingest.run_once", "ingest.changefeed",
    "ingest.ivm", "ext.MergeTable.upsert", "ext.MergeTable.upsert_mor",
    "ext.MergeTable.maintain", "ext.MergeTable.read_keys",
    "ext.MergeTable.scan", "ext.DedupIndex.admit", "ext.NearDupIndex.admit",
    "ext.IvfPqIndex.search")
  val PhaseOps = Seq("batch", "lookup", "scan", "search")

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] =
    Seq("sources.fetch.self_s", "sources.api_calls", "sources.cache_hits",
      "sources.failed", "sources.cache_hit_ratio",
      "ingest.run_once.self_s", "ingest.rows_valid", "ingest.rows_invalid",
      "ingest.changefeed.self_s", "ingest.changefeed.rows", "ingest.ivm.self_s") ++
    Seq("self_s", "buckets_rewritten", "files_read", "files_written",
      "rows_matched", "rows_inserted", "write_amp")
      .map("ext.MergeTable.upsert." + _) ++
    Seq("ext.MergeTable.upsert_mor.self_s", "ext.MergeTable.maintain.self_s",
      "ext.MergeTable.maintain.runs", "ext.MergeTable.files_live",
      "ext.MergeTable.versions", "ext.MergeTable.read_keys.self_s",
      "ext.MergeTable.scan.self_s",
      "plans.lookup.files_read", "plans.lookup.rows_read_per_row",
      "plans.scan.files_read", "plans.scan.rows_read",
      "ext.DedupIndex.admit.self_s", "ext.DedupIndex.admitted_ratio",
      "ext.NearDupIndex.admit.self_s", "ext.NearDupIndex.admitted_ratio",
      "ext.IvfPqIndex.search.self_s", "ext.index_files_live",
      "ext.IvfPqIndex.recall_at_10") ++
    Ops.flatMap(op => Seq("jobs", "tasks", "job_s", "driver_gap_s",
      "executor_cpu_s", "shuffle_bytes").map(m => s"spark.$op.$m")) ++
    PhaseOps.flatMap(op => Seq("analysis_s", "optimization_s", "planning_s")
      .map(m => s"spark.$op.$m")) ++
    Ops.flatMap(op => Seq("read_ops", "write_ops", "bytes_read",
      "bytes_written").map(m => s"core.fs.$op.$m")) ++
    Seq("setup.session_s", "setup.generate_s", "setup.build_s",
      "setup.warmup_s", "trace.overhead_frac")

  def unit(name: String): String = name match {
    case "peak_rss_mb" => "MiB"
    case "ops_per_s" => "1/s"
    case n if n.endsWith("_ms") || n == "cpu_ms_per_op" => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("bytes") || n.contains(".bytes_") => "bytes"
    case n if n.endsWith("_ratio") || n.endsWith("_frac") ||
      n.endsWith("_amp") || n.endsWith("_per_row") ||
      n.endsWith("recall_at_10") || n == "stored_bytes_per_input_byte" => "ratio"
    case _ => "count"
  }

  def apply(setups: Seq[Array[Double]], overhead: Double,
      end: Map[String, Double]): ListMap[String, Double] = {
    val spans = Trace.store.spans.filter(_.opId > 0)
    val self = SpanStore.selfTimes(spans)
    // per operation instance: self seconds per span name
    val selfByOp = spans.groupBy(_.opId).values.map(_.groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 })
    val c = Trace.counters
    def ratio(a: String, b: String) =
      if (c(b) == 0) 0.0 else c(a).toDouble / c(b)
    val ops = Trace.ops.groupBy(_.kind)
    def perOp(kind: String)(f: OpRec => Double): Double =
      Stats.medianOr0(ops.getOrElse(kind, Nil).map(f).toSeq)
    // listener times are epoch ms; an operation owns what starts inside it
    def within(o: OpRec, ms: Long) =
      ms >= math.floor(Trace.toMs(o.startNs)) && ms <= math.ceil(Trace.toMs(o.endNs))
    val lj = Trace.jobs
    val jobOp = lj.jobs.flatMap { case (id, j) =>
      Trace.ops.find(within(_, j.startMs)).map(id -> _.id) }
    val jobsByOp = lj.jobs.toSeq.filter(j => jobOp.contains(j._1))
      .groupBy(j => jobOp(j._1)).map { case (op, js) => op -> js.map(_._2) }
    def stageSum(o: OpRec, m: collection.Map[Int, Long]) = m.collect {
      case (s, v) if lj.stageJob.get(s).flatMap(jobOp.get).contains(o.id) => v
    }.sum
    val qes = Trace.qes.qes.toSeq
    def qesOf(o: OpRec) = qes.filter(q => within(o, q.endMs))
    def jobSecs(o: OpRec) = SpanStore.covered(
      jobsByOp.getOrElse(o.id, Nil).map(j => (j.startMs, j.endMs)),
      math.floor(Trace.toMs(o.startNs)).toLong,
      math.ceil(Trace.toMs(o.endNs)).toLong) / 1e3
    val m = collection.mutable.LinkedHashMap.empty[String, Double]
    SelfSpans.foreach(n => m(s"$n.self_s") =
      Stats.medianOr0(selfByOp.flatMap(_.get(n)).toSeq))
    Seq("sources.api_calls", "sources.cache_hits", "sources.failed",
      "ingest.rows_valid", "ingest.rows_invalid", "ingest.changefeed.rows",
      "ext.MergeTable.maintain.runs").foreach(n => m(n) = c(n).toDouble)
    Seq("buckets_rewritten", "files_read", "files_written", "rows_matched",
      "rows_inserted").foreach { k =>
      m(s"ext.MergeTable.upsert.$k") = c(s"ext.MergeTable.upsert.$k").toDouble }
    m("sources.cache_hit_ratio") = ratio("sources.cache_hits", "sources.requested")
    m("ext.MergeTable.upsert.write_amp") = ratio("upsert.bytes_added", "upsert.bytes_in")
    m("ext.DedupIndex.admitted_ratio") = ratio("dedup.admitted", "dedup.offered")
    m("ext.NearDupIndex.admitted_ratio") = ratio("neardup.admitted", "neardup.offered")
    Seq("ext.MergeTable.files_live", "ext.MergeTable.versions",
      "ext.index_files_live", "ext.IvfPqIndex.recall_at_10")
      .foreach(n => m(n) = end.getOrElse(n, 0.0))
    m("plans.lookup.files_read") = perOp("lookup")(o =>
      qesOf(o).map(_.filesRead).sum.toDouble)
    m("plans.lookup.rows_read_per_row") = perOp("lookup")(o =>
      qesOf(o).map(_.rowsRead).sum.toDouble)
    m("plans.scan.files_read") = perOp("scan")(o =>
      qesOf(o).map(_.filesRead).sum.toDouble)
    m("plans.scan.rows_read") = perOp("scan")(o =>
      qesOf(o).map(_.rowsRead).sum.toDouble)
    Ops.foreach { op =>
      m(s"spark.$op.jobs") = perOp(op)(o => jobsByOp.getOrElse(o.id, Nil).size)
      m(s"spark.$op.tasks") = perOp(op)(o => stageSum(o, lj.stageTasks).toDouble)
      m(s"spark.$op.job_s") = perOp(op)(jobSecs)
      m(s"spark.$op.driver_gap_s") = perOp(op)(o =>
        (o.endNs - o.startNs) / 1e9 - jobSecs(o))
      m(s"spark.$op.executor_cpu_s") = perOp(op)(o =>
        stageSum(o, lj.stageCpuNs) / 1e9)
      m(s"spark.$op.shuffle_bytes") = perOp(op)(o =>
        stageSum(o, lj.stageShuffleBytes).toDouble)
    }
    PhaseOps.foreach { op =>
      Seq("analysis", "optimization", "planning").foreach { ph =>
        m(s"spark.$op.${ph}_s") = perOp(op)(o =>
          qesOf(o).map(_.phaseMs.getOrElse(ph, 0L)).sum / 1e3)
      }
    }
    Ops.foreach { op =>
      Seq("read_ops", "write_ops", "bytes_read", "bytes_written").zipWithIndex
        .foreach { case (k, i) => m(s"core.fs.$op.$k") = perOp(op)(_.fs(i).toDouble) }
    }
    Seq("session", "generate", "build", "warmup").zipWithIndex.foreach {
      case (k, i) => m(s"setup.${k}_s") = Stats.median(setups.map(_(i)))
    }
    m("trace.overhead_frac") = overhead
    val missing = names.filterNot(m.contains)
    require(missing.isEmpty, s"per-layer metrics not computed: $missing")
    ListMap(names.map(n => n -> m(n)): _*)
  }
}
