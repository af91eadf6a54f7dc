package perfbench

/** The metrics a run prints on its last line, with their units. The
  * lists here and in BENCHMARK.json must agree (MetricsSpec checks). */
object Metrics {

  /** Printed by every untraced run, on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cycle_s" -> "s",
    "op_geomean_s" -> "s")

  private val fmts = Seq("flat", "csv", "xml")
  private val packs = Seq("Relational", "EventOps", "Dedup", "TextAnalysis",
    "Multimodal", "Pipeline")
  private val verbs = Seq("Snapshots.append", "Snapshots.upsert", "Snapshots.delete",
    "Snapshots.update", "Snapshots.compact", "GraftSql.insert", "GraftSql.merge",
    "SnapshotSource.epoch")

  /** Printed by every traced run; a layer the workload does not use
    * reads 0. */
  val perLayer: Seq[(String, String)] =
    fmts.flatMap(f => Seq(s"Pipe.$f.partitions" -> "count",
      s"Pipe.$f.read_bytes_s" -> "s", s"Pipe.$f.decode_s" -> "s",
      s"Pipe.$f.read_amplification" -> "ratio", s"Pipe.$f.write_bytes_s" -> "s",
      s"Pipe.$f.encode_s" -> "s")) ++
    Seq("Pipe.hash_floor_s" -> "s", "Pipe.source_floor_s" -> "s",
      "Merge.concat_s" -> "s", "Merge.parts" -> "count",
      "FlatFilterEval.filter_read_s" -> "s", "FlatFilterEval.rows_out_ratio" -> "ratio",
      "FlatFilterEval.bytes_read_ratio" -> "ratio") ++
    packs.flatMap(p => Seq(s"operators.$p.build_s" -> "s", s"operators.$p.plan_s" -> "s",
      s"operators.$p.exec_s" -> "s", s"operators.$p.build_jobs" -> "count",
      s"operators.$p.exec_jobs" -> "count")) ++
    Seq("catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
      "catalyst.planning_s" -> "s") ++
    verbs.flatMap(v => Seq(s"$v.p50_s" -> "s", s"$v.jobs" -> "count",
      s"$v.fs_ops" -> "count", s"$v.bytes_written_ratio" -> "ratio")) ++
    Seq("GraftSql.insert.overhead_s" -> "s", "GraftSql.merge.overhead_s" -> "s") ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets").map(p => s"SnapshotSource.stream.${p}_ms" -> "ms") ++
    Seq("Snapshots.read.head_plan_s" -> "s", "Snapshots.read.head_exec_s" -> "s",
      "Snapshots.read.travel_plan_s" -> "s", "Snapshots.read.travel_exec_s" -> "s",
      "Snapshots.read.pruned_files_ratio" -> "ratio", "Snapshots.read.fs_ops" -> "count",
      "Snapshots.files_live" -> "count", "Snapshots.files_total" -> "count",
      "Snapshots.metadata_bytes" -> "bytes") ++
    Seq("executor.tasks" -> "count", "executor.busy_share" -> "ratio",
      "executor.gc_s" -> "s", "executor.shuffle_write_mb" -> "MB",
      "executor.spill_mb" -> "MB", "setup.session_s" -> "s",
      "setup.generate_s" -> "s", "setup.warm_s" -> "s",
      "trace.overhead_ratio" -> "ratio")

  /** The last stdout line: exactly correct / attempted / failed / metrics. */
  def resultLine(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (n, v, u) =>
        s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
      }.mkString("{", ", ", "}}")
}
