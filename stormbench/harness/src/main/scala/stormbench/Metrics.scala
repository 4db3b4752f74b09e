package stormbench

import org.apache.spark.sql.SparkSession

/** Per-layer metric sets derived from spans. Layers a workload does not
  * exercise report 0 (for example the streaming phases of a pipeline run). */
object Metrics {

  /** Layers only the pipeline workload exercises. */
  val PipelineLayers: Seq[String] = Seq("pipeline.update_s", "pipeline.tile_view_s",
    "pipeline.facility_view_s", "pipeline.admin_view_s", "pipeline.cci_s",
    "pipeline.track_view_s", "pipeline.report_s", "pipeline.report_jobs",
    "ops.probability_join_s", "ops.admin_overlay_s", "io.write_s", "io.files_written",
    "io.mb_written")

  def engine(s: Span, cores: Int): Map[String, Double] = s.engine match {
    case Some((a, b)) =>
      val wallMs = (s.end.wallMs - s.start.wallMs).toDouble
      val taskMs = (b.taskMs - a.taskMs).toDouble
      Map(
        "engine.jobs" -> (b.jobs - a.jobs).toDouble,
        "engine.stages" -> (b.stages - a.stages).toDouble,
        "engine.tasks" -> (b.tasks - a.tasks).toDouble,
        "engine.task_s" -> taskMs / 1e3,
        "engine.task_cpu_s" -> (b.taskCpuNs - a.taskCpuNs) / 1e9,
        "engine.core_busy_share" -> (if (wallMs > 0) taskMs / (wallMs * cores) else 0.0),
        "engine.driver_only_s" ->
          (wallMs - EngineStats.jobUnionMs(s.start.wallMs, s.end.wallMs)) / 1e3,
        "engine.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
        "engine.shuffle_write_mb" -> (b.shuffleWriteBytes - a.shuffleWriteBytes) / 1048576.0,
        "engine.spill_mb" -> (b.spillBytes - a.spillBytes) / 1048576.0)
    case None => Map.empty
  }

  /** Codegen compiles are exact (histogram count); the compile time is
    * count x the histogram's mean over the span (the reservoir keeps a
    * sample, not a sum). JIT time is the CompilationMXBean's total. */
  def codegen(s: Span): Map[String, Double] = {
    val n = (s.end.codegenCompiles - s.start.codegenCompiles).toDouble
    Map(
      "engine.codegen_compiles" -> n,
      "engine.codegen_s" -> n * s.end.codegenMeanMs / 1e3,
      "engine.jit_s" -> (s.end.jitMs - s.start.jitMs) / 1e3)
  }

  /** Streaming phases summed over one span (a pass over the gates);
    * `gateWallS` is the summed gate wall of that pass. */
  def streaming(s: Option[Span], gateWallS: Double): Map[String, Double] = {
    val (a, b) = s.flatMap(_.stream).getOrElse((StreamStats.Snap(0, 0, 0, 0, Map.empty, 0, 0),
      StreamStats.Snap(0, 0, 0, 0, Map.empty, 0, 0)))
    def dur(k: String) = (b.durMs.getOrElse(k, 0L) - a.durMs.getOrElse(k, 0L)) / 1e3
    val batches = (b.batches - a.batches).toDouble
    Map(
      "streaming.queries_started" -> (b.started - a.started).toDouble,
      "streaming.microbatches" -> batches,
      "streaming.empty_batch_share" ->
        (if (batches > 0) (b.emptyBatches - a.emptyBatches) / batches else 0.0),
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.outside_batches_s" ->
        (if (s.isDefined) gateWallS - dur("triggerExecution") else 0.0),
      "streaming.state_commit_s" -> (b.stateCommitMs - a.stateCommitMs) / 1e3,
      "streaming.state_rows" -> (b.stateRows - a.stateRows).toDouble)
  }

  /** Effective engine configuration of the session the workload measured. */
  def config(spark: SparkSession): Map[String, String] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.session.timeZone", "spark.local.dir",
      "spark.hadoop.fs.file.impl", "spark.extraListeners",
      "spark.sql.streaming.streamingQueryListeners", "spark.ui.enabled")
    val conf = spark.conf
    keys.map(k => k -> conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
      .getOrElse("<default>")).toMap ++ Map(
      "jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jvm.cores" -> Runtime.getRuntime.availableProcessors.toString,
      "java.io.tmpdir" -> System.getProperty("java.io.tmpdir"))
  }
}
