package graftbench

/** Every per-layer metric a traced run prints, with its unit. A workload
  * that bypasses a layer reports 0 for that layer's metrics. */
object Layers {
  /** SCD2 engine steps, keyed by the `scd2 <label>` job descriptions the
    * engine sets; `other` is any unknown `scd2 …` label, `unlabelled` any
    * job without one. */
  val steps: Seq[String] = Seq("state_local", "state_source", "step1_snapshot", "step2_delta1",
    "step2_append", "step3_probe", "step3_inline", "step4_latest_pk", "deletes",
    "full_write", "full_latest_pk", "other", "unlabelled")

  def stepOf(desc: String): String =
    if (desc == null || !desc.startsWith("scd2 ")) "unlabelled"
    else desc.stripPrefix("scd2 ") match {
      case d if d.startsWith("state: local") => "state_local"
      case d if d.startsWith("state: source") => "state_source"
      case d if d.startsWith("step1:") => "step1_snapshot"
      case "step2: delta_1 write" => "step2_delta1"
      case "step2: history append" => "step2_append"
      case "step3: strange-pk probe" => "step3_probe"
      case d if d.startsWith("step3: inline") => "step3_inline"
      case d if d.startsWith("step4:") => "step4_latest_pk"
      case d if d.startsWith("step3.5:") => "deletes"
      case "full-load: history write" => "full_write"
      case "full-load: latest_pk rebuild" => "full_latest_pk"
      case _ => "other"
    }

  /** Steps whose jobs read the source table. */
  val sourceSteps: Set[String] =
    Set("state_source", "step1_snapshot", "step2_delta1", "step3_inline", "full_write")

  val maintainers: Seq[String] = Seq("scd2_stream", "dedup_ingest", "hll_ingest")
  val operators: Seq[String] =
    Seq("exact", "minhash_lsh", "ngram_jaccard", "tfidf_cosine", "containment", "clusters")

  val all: Seq[(String, String)] =
    steps.flatMap(s => Seq(s"scd2.$s.jobs" -> "count", s"scd2.$s.wall_s" -> "s", s"scd2.$s.task_s" -> "s")) ++
      Seq("scd2.jobs_per_sync" -> "count", "scd2.jobs_per_noop" -> "count",
        "scd2.driver_s" -> "s", "scd2.overlap_s" -> "s",
        "scd2.strange_found_ratio" -> "ratio", "scd2.noop_hit_ratio" -> "ratio",
        "noop_sync_s.p50" -> "s", "read_s.p50" -> "s", "write_amp" -> "ratio",
        "store.bytes_written_per_sync" -> "bytes", "store.files_written_per_sync" -> "count",
        "store.write_ops_per_sync" -> "count", "store.read_ops_per_sync" -> "count",
        "store.history_versions" -> "count", "store.history_dirs" -> "count",
        "store.manifest_bytes" -> "bytes", "store.delta_log_files" -> "count",
        "store.read_plan_s" -> "s", "store.read_exec_s" -> "s") ++
      Seq("history", "aux", "graft_log", "delta_log", "log").map(c => s"store.dest_bytes.$c" -> "bytes") ++
      Seq("sources.resolve_s" -> "s", "sources.scan_bytes_per_sync" -> "bytes",
        "sources.scan_rows_per_sync" -> "count",
        "graft.syncall.round_s" -> "s", "graft.syncall.overlap" -> "ratio",
        "graft.syncall.busy_cores" -> "ratio",
        "spark.jobs" -> "count", "spark.tasks" -> "count",
        "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.spill_bytes" -> "bytes",
        "spark.shuffle_write_bytes" -> "bytes",
        "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes") ++
      maintainers.flatMap(d => Seq(s"streaming.$d.trigger_ms" -> "ms",
        s"streaming.$d.latest_offset_ms" -> "ms", s"streaming.$d.add_batch_ms" -> "ms",
        s"streaming.$d.planning_ms" -> "ms", s"streaming.$d.offset_commit_ms" -> "ms",
        s"streaming.$d.jobs_per_drop" -> "count", s"streaming.$d.startup_s" -> "s",
        s"streaming.$d.state_bytes" -> "bytes")) ++
      operators.flatMap(o => Seq(s"operators.$o.wall_s" -> "s", s"operators.$o.jobs" -> "count",
        s"operators.$o.shuffle_bytes" -> "bytes", s"operators.$o.rows_out" -> "count")) ++
      Seq("call_s.tail" -> "s", "host.probe_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** scd2.* step metrics of a set of sync jobs (totals). */
  def reportSteps(jobs: Seq[JobRec], m: Metrics): Unit =
    jobs.groupBy(j => stepOf(j.desc)).foreach { case (s, js) =>
      val a = JobAgg(js)
      m.add(s"scd2.$s.jobs", "count", a.count)
      m.add(s"scd2.$s.wall_s", "s", a.unionS)
      m.add(s"scd2.$s.task_s", "s", a.taskS)
    }
}
