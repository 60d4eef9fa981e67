package perfbench

/** Per-layer metrics of a traced run, computed from the spans and listener
  * counters of its traced passes and averaged over those passes. A layer
  * a workload does not call reads 0. */
object Layers {
  val ExtOps = Seq("curate", "neardup", "simjoin", "substr_dedup", "tfidf",
    "semdedup", "ivf", "dedup_exact", "doc_pack", "doc_mix", "quality", "media")

  /** Every per-layer metric, in output order, with its unit. */
  val Names: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.job_s" -> "s", "spark.driver_gap_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.core_busy" -> "ratio",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.peak_task_mem_mb" -> "MB",
      "spark.exchanges" -> "count", "spark.broadcasts" -> "count",
      "spark.input_mb" -> "MB", "spark.output_mb" -> "MB", "spark.task_skew" -> "ratio",
      "pipeline.run_s" -> "s", "pipeline.overhead_s" -> "s", "pipeline.archive_s" -> "s",
      "pipeline.retries" -> "count", "pipeline.stages_skipped" -> "count") ++
    Seq("products", "orders", "order_items").flatMap(j =>
      Seq(s"etl.${j}_s", s"etl.$j.compute_job_s", s"etl.$j.lake_job_s", s"etl.$j.driver_s")
        .map(_ -> "s")) ++
    Seq("etl.incr.compute_job_s" -> "s", "etl.incr.lake_job_s" -> "s",
      "etl.incr.driver_s" -> "s", "etl.rows_valid" -> "count",
      "etl.rows_rejected" -> "count", "etl.rows_per_s" -> "1/s",
      "lake.commits" -> "count", "lake.commit_job_s" -> "s", "lake.write_job_s" -> "s",
      "lake.touched_parts_job_s" -> "s", "lake.files_added" -> "count",
      "lake.files_removed" -> "count", "lake.rows_rewritten_per_row_changed" -> "ratio",
      "lake.live_files" -> "count", "lake.data_mb" -> "MB", "lake.log_mb" -> "MB",
      "lake.log_files" -> "count", "lake.checkpoints" -> "count", "lake.open_s" -> "s",
      "lake.point_read_s" -> "s", "lake.time_travel_s" -> "s", "lake.changes_s" -> "s",
      "lake.files_scanned_per_point_read" -> "count", "lake.prune_ratio" -> "ratio",
      "streaming.drain_s" -> "s", "streaming.trigger_s" -> "s",
      "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
      "streaming.planning_s" -> "s", "streaming.start_stop_s" -> "s",
      "streaming.batches" -> "count",
      "sql.register_s" -> "s", "sql.count_s" -> "s", "sql.top_products_s" -> "s") ++
    ExtOps.flatMap(op => Seq(s"ext.${op}_s" -> "s", s"ext.$op.jobs" -> "count",
      s"ext.$op.exchanges" -> "count", s"ext.$op.shuffle_mb" -> "MB")) ++
    Seq("ext.neardup_recall" -> "ratio", "ext.semdedup_recall" -> "ratio",
      "load_s" -> "s", "incr_s" -> "s", "query_s" -> "s",
      "ingest_p50_s" -> "s", "ingest_tail_s" -> "s", "read_p50_s" -> "s",
      "read_tail_s" -> "s", "lake_bytes_per_input_byte" -> "ratio",
      "failed_ratio" -> "ratio", "trace.run_s" -> "s")

  private val MB = 1024.0 * 1024.0

  private def dur(s: Span): Double = s.wallNs / 1e9

  private def unionS(js: Seq[JobRec], lo: Long, hi: Long): Double =
    Tracer.unionMs(js.map(j => Tracer.clip((j.start, j.end), lo, hi))) / 1e3

  /** Span time split into lake jobs (`graft:` job descriptions), other
    * (compute) jobs, and the driver time outside any job. */
  private def split(t: Tracer, ss: Seq[Span]): (Double, Double, Double) =
    ss.map { s =>
      val js = t.jobsUnder(s)
      val (lake, compute) = js.partition(_.desc.startsWith("graft:"))
      (unionS(compute, s.start, s.end), unionS(lake, s.start, s.end),
        dur(s) - unionS(js, s.start, s.end))
    }.foldLeft((0.0, 0.0, 0.0)) { case (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3) }

  private def onePass(t: Tracer, ctx: Ctx, p: Span, pass: Int,
      cores: Int): Map[String, Double] = {
    val wallMs = (p.end - p.start).toDouble
    val sub = t.subtree(p)
    val inPass = t.spans.toSeq.filter(s => sub(s.id))
    def named(n: String) = inPass.filter(_.name == n)
    def total(n: String) = named(n).map(dur).sum
    def meanOf(n: String) = Stats.mean(named(n).map(dur))
    val js = t.jobsUnder(p)
    val ts = t.tasksOf(js)
    val st = t.stagesOf(js)
    val (shuffles, broadcasts) = t.exchanges(js)
    val longest = st.filter(s => s.end > s.start).sortBy(s => s.start - s.end).headOption
    val skew = longest.map { s =>
      val d = ts.filter(_.stage == s.id).map(_.durMs.toDouble)
      if (d.isEmpty) 0.0 else d.max / math.max(1.0, Stats.median(d))
    }.getOrElse(0.0)
    def byDesc(prefix: String) = unionS(js.filter(_.desc.startsWith(prefix)), p.start, p.end)

    val engine = Map(
      "spark.jobs" -> js.size.toDouble, "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.job_s" -> unionS(js, p.start, p.end),
      "spark.driver_gap_s" -> (wallMs / 1e3 - unionS(js, p.start, p.end)),
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.core_busy" -> ts.map(_.runMs).sum / math.max(1.0, wallMs * cores),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> ts.map(_.spill).sum / MB,
      "spark.peak_task_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / MB),
      "spark.exchanges" -> shuffles.toDouble, "spark.broadcasts" -> broadcasts.toDouble,
      "spark.input_mb" -> ts.map(_.inBytes).sum / MB,
      "spark.output_mb" -> ts.map(_.outBytes).sum / MB,
      "spark.task_skew" -> skew)

    val runs = named("pipeline.run")
    val pipeline = Map(
      "pipeline.run_s" -> runs.map(dur).sum,
      "pipeline.overhead_s" -> runs.map(r => dur(r) -
        Tracer.unionMs(t.children(r).map(c => (c.start, c.end))) / 1e3).sum,
      "pipeline.archive_s" -> total("pipeline.archive"))

    val etl = Seq("products", "orders", "order_items").flatMap { j =>
      val (c, l, d) = split(t, named(s"etl.$j"))
      Seq(s"etl.${j}_s" -> total(s"etl.$j"), s"etl.$j.compute_job_s" -> c,
        s"etl.$j.lake_job_s" -> l, s"etl.$j.driver_s" -> d)
    }.toMap ++ {
      val (c, l, d) = split(t, inPass.filter(_.name.startsWith("etl.incr.")))
      Map("etl.incr.compute_job_s" -> c, "etl.incr.lake_job_s" -> l, "etl.incr.driver_s" -> d)
    }

    val rowsChanged = ctx.notes.get("lake.rows_changed").flatMap(_.get(pass)).getOrElse(0.0)
    val lakeRows = t.tasksOf(js.filter(_.desc.startsWith("graft:"))).map(_.outRecords).sum
    val lake = Map(
      "lake.commit_job_s" -> byDesc("graft:commit-"),
      "lake.write_job_s" -> byDesc("graft:writeData"),
      "lake.touched_parts_job_s" -> byDesc("graft:touchedParts"),
      "lake.rows_rewritten_per_row_changed" ->
        (if (rowsChanged > 0) lakeRows / rowsChanged else 0.0),
      "lake.open_s" -> meanOf("lake.open"),
      "lake.point_read_s" -> meanOf("lake.point_read"),
      "lake.time_travel_s" -> meanOf("lake.time_travel"),
      "lake.changes_s" -> meanOf("lake.changes"))

    val prog = t.progress.toSeq.filter(x => x.at >= p.start && x.at <= p.end)
    def progS(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val drain = total("cdc.drain")
    val streaming = Map(
      "streaming.drain_s" -> drain,
      "streaming.trigger_s" -> progS("triggerExecution"),
      "streaming.add_batch_s" -> progS("addBatch"),
      "streaming.wal_commit_s" -> progS("walCommit"),
      "streaming.planning_s" -> progS("queryPlanning"),
      "streaming.start_stop_s" -> (if (drain > 0) drain - progS("triggerExecution") else 0.0),
      "streaming.batches" -> prog.size.toDouble)

    val sql = Map("sql.register_s" -> total("sql.register"),
      "sql.count_s" -> total("sql.count"), "sql.top_products_s" -> total("sql.top_products"))

    val ext = ExtOps.flatMap { op =>
      val ss = named(s"ext.$op")
      val ej = ss.flatMap(t.jobsUnder)
      Seq(s"ext.${op}_s" -> ss.map(dur).sum, s"ext.$op.jobs" -> ej.size.toDouble,
        s"ext.$op.exchanges" -> t.exchanges(ej)._1.toDouble,
        s"ext.$op.shuffle_mb" -> t.tasksOf(ej).map(_.shuffleWrite).sum / MB)
    }.toMap

    val notes = ctx.notes.collect { case (k, v) if v.contains(pass) => k -> v(pass) }
    engine ++ pipeline ++ etl ++ lake ++ streaming ++ sql ++ ext ++ notes
  }

  /** Mean over the traced passes of each per-layer metric. */
  def compute(t: Tracer, ctx: Ctx, passes: Seq[(Int, Span)], cores: Int): Map[String, Double] = {
    val per = passes.map { case (i, p) => onePass(t, ctx, p, i, cores) }
    per.flatMap(_.keys).distinct.map(k => k -> Stats.mean(per.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** The span tree of the traced passes with each span's self time (its
    * wall minus the part its children cover) and the Spark counters of
    * the jobs attributed to it or below it. Wall, self and children times
    * here are all on the millisecond clock, so self + children = wall
    * exactly. */
  def traceJson(t: Tracer, passes: Seq[Span]): String = {
    def wall(s: Span) = (s.end - s.start) / 1e3
    val spans = t.spans.toSeq.map { s =>
      val js = t.jobsUnder(s)
      val ts = t.tasksOf(js)
      val childMs = Tracer.unionMs(t.children(s).map(c => (c.start, c.end)))
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "wall_s" -> wall(s),
        "self_s" -> (s.end - s.start - childMs) / 1e3,
        "jobs" -> js.size, "tasks" -> ts.size,
        "job_s" -> unionS(js, s.start, s.end),
        "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
        "exchanges" -> t.exchanges(js)._1,
        "lake_jobs" -> js.map(_.desc).filter(_.startsWith("graft:"))
          .map(_.split(':')(1)).groupBy(identity).map { case (k, v) => k -> v.size })
    }
    val check = passes.map { p =>
      val kids = t.children(p)
      val childS = Tracer.unionMs(kids.map(c => (c.start, c.end))) / 1e3
      Map("pass_span" -> p.id, "wall_s" -> wall(p), "self_s" -> (wall(p) - childS),
        "children_s" -> childS, "children_sum_s" -> kids.map(wall).sum)
    }
    Json(Map("passes" -> check, "spans" -> spans))
  }
}
