package stormbench

import graft.io.DataStore
import graft.ops.{AdminOverlay, SpatialJoin}
import graft.pipeline.{ImpactPipeline, Reports}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `mainland` workload: the production CLI
  * (`graft.Main.run`, in-process) over the generated `ingest/` tree --
  * `initialize` once, then one `update` per 6-hourly forecast while the
  * catalog grows by one row per forecast. */
final class Pipeline(cfg: Config) {
  private val root = cfg.data.toAbsolutePath.toString
  private val ingest = cfg.data.resolve("ingest")
  private val manifest = Reports.fromJson(Files.readString(cfg.data.resolve("manifest.json")))
  private val storm = manifest("storm").toString
  private val countries = manifest("countries").asInstanceOf[Map[String, Any]]
  private val forecasts = manifest("forecasts").asInstanceOf[Seq[Any]]
    .map(_.asInstanceOf[Map[String, Any]]).map(f => (f("key").toString, f("date").toString))
  private def spark: SparkSession = SparkSession.active
  private val tracer = new Tracer(spark, cfg.traced)

  /** Country the traced run's direct layer calls use: the largest. */
  private val layerCountry = countries.maxBy { case (_, v) =>
    v.asInstanceOf[Map[String, Any]]("tiles").asInstanceOf[Number].longValue() }._1

  private def main(args: String*): Int = graft.Main.run(args.toArray)

  /** Stages the catalog as it stands at forecast k (`catalog_steps`), or
    * holding forecast k alone (`catalog_single`, for a rerun of k). */
  private def stageCatalog(dir: String, k: Int): Unit =
    Files.copy(ingest.resolve(f"$dir/$k%04d.parquet"),
      ingest.resolve("storm_catalog.parquet"), StandardCopyOption.REPLACE_EXISTING)

  /** One `Main --type update` of forecast k, timed as span `name`. */
  private def update(name: String, k: Int, extra: String*): Map[String, Any] = {
    val (key, date) = forecasts(k)
    val before = if (cfg.traced) storeUsage() else (0L, 0L)
    val code = tracer.span(name, key) {
      main(Seq("--type", "update", "--root", root, "--date", date, "--storm", storm) ++ extra: _*)
    }
    val after = if (cfg.traced) storeUsage() else (0L, 0L)
    Map("key" -> key, "exit" -> code,
      "files_written" -> (after._2 - before._2), "bytes_written" -> (after._1 - before._1))
  }

  def run(): Map[String, Any] = {
    // set-up: let Main build its session. A patch call without --columns is
    // rejected right after the session exists, before any pipeline work.
    main("--type", "patch", "--root", root)
    if (SparkSession.getActiveSession.isEmpty)
      throw new IllegalStateException("graft.Main built no session during set-up")
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()

    val start = System.nanoTime()
    val initCode = tracer.span("initialize") {
      main(Seq("--type", "initialize", "--root", root, "--admin", "1", "2", "--countries") ++
        countries.keys.toSeq.sorted: _*)
    }
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var k = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // the cold forecast and at least one warm one, then more while the
    // measured window (from initialize on) is shorter than --seconds
    while (k < forecasts.size && (k < 2 || elapsed < cfg.seconds)) {
      stageCatalog("catalog_steps", k)
      runs += update("forecast", k)
      k += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9

    val forecastSpans = tracer.byName("forecast")
    val metrics = Map(
      "initialize_s" -> tracer.byName("initialize").head.wallS,
      "cold_s" -> forecastSpans.head.wallS,
      "cycle_s" -> Stats.median(forecastSpans.drop(1).map(_.wallS)),
      "peak_rss_mb" -> ProcSnap.statusMb("VmHWM"))

    // traced runs: the layer calls on the first warm forecast's inputs, then
    // that forecast rerun alone, traced and untraced: the tracing overhead
    val (layers, reruns) = if (!cfg.traced) (Map.empty[String, Double], Nil) else {
      val runLog = spark.read.parquet(s"$root/run_log")
        .select(col("forecast_time"), col("runtime_seconds")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      layerCalls(forecasts(1)._1)
      stageCatalog("catalog_single", 1)
      val traced = update("rerun-traced", 1, "--rewrite", "1")
      val untraced = tracer.detached(update("rerun-untraced", 1, "--rewrite", "1"))
      (layerMetrics(runs.toSeq, runLog), Seq(traced, untraced))
    }
    val units = runs.toSeq ++ reruns
    Map("ready_ms" -> readyMs, "metrics" -> metrics, "layers" -> layers,
      "residue" -> Residue.measure(spark, cfg.tmp),
      "units" -> runs.toSeq, "reruns" -> reruns, "initialize_exit" -> initCode,
      "attempted" -> (1 + units.size),
      "failed" -> ((if (initCode != 0) 1 else 0) + units.count(_("exit") != 0)),
      "timed_s" -> timedS, "config" -> Metrics.config(spark))
  }

  def write(path: Path, result: Map[String, Any]): Unit = tracer.write(path, result)

  /** Bytes and files under the store's output dirs (everything but ingest). */
  private def storeUsage(): (Long, Long) = {
    val s = Files.list(cfg.data)
    try s.iterator().asScala.filter(p => p.getFileName.toString != "ingest")
      .map(Residue.dirUsage).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    finally s.close()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Direct calls of the pipeline, ops and io layers on this forecast's
    * inputs for one country, each materialised through the noop sink. */
  private def layerCalls(key: String): Unit = {
    val c = layerCountry
    val store = new DataStore(root)
    val probe = new DataStore(cfg.data.resolve("store-out-probe").toAbsolutePath.toString)
    val tiles = store.readParquet(spark, s"mercator_views/${c}_14.parquet").cache()
    val env = store.readParquet(spark, s"ingest/envelopes/${storm}_$key.parquet").cache()
    tiles.count(); env.count()
    val admins = store.readParquet(spark, s"admin_views/${c}_admin1.parquet")
      .select(col("tile_id").as("id"), col("name"), col("geometry"))
    val admin2 = store.readParquet(spark, s"ingest/${c}_admin2.parquet")
    val tracks = store.readParquet(spark, s"ingest/tracks/${storm}_$key.parquet")
    val kinds = Seq("school" -> "school_id", "hc" -> "hc_id", "shelter" -> "shelter_id",
      "wash" -> "wash_id")
    def facilities(kind: String) = store.readParquet(spark, s"${kind}_views/${c}_$kind.parquet")
    tracer.span("layers", key) {
      tracer.span("ops.probability_join", key) {
        noop(SpatialJoin.probabilityByThreshold(tiles, "geometry", env, "geometry",
          keepZeroRows = true))
      }
      tracer.span("pipeline.tile_view", key) { noop(ImpactPipeline.tileView(tiles, env)) }
      val tv = ImpactPipeline.tileView(tiles, env).cache()
      tv.count()
      val fvs = tracer.span("pipeline.facility_view", key) {
        kinds.map { case (kind, id) =>
          val fv = ImpactPipeline.facilityView(facilities(kind), env, id)
          noop(fv); kind -> fv
        }.toMap
      }
      val av = tracer.span("pipeline.admin_view", key) {
        val av = ImpactPipeline.adminView(tv, tiles.select("tile_id", "id"), admins)
        noop(av); av
      }
      val (cciTiles, cciAdmin) = tracer.span("pipeline.cci", key) {
        val (a, b) = ImpactPipeline.cciViews(tv, tiles)
        noop(a); noop(b); (a, b)
      }
      tracer.span("pipeline.track_view", key) {
        noop(ImpactPipeline.trackView(env, facilities("school"), facilities("hc"),
          Some(facilities("shelter")), Some(facilities("wash")), tiles))
      }
      val prevRel = s"reports_json/${c}_${storm}_${Reports.previousDate(key)}.json"
      val previous = if (store.exists(prevRel)) Reports.fromJson(store.readText(prevRel))
        else Map.empty[String, Any]
      val names = admins.select("id", "name").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      tracer.span("pipeline.report", key) {
        Reports.doReport(tv, av, fvs.get("school"), fvs.get("hc"), fvs.get("shelter"),
          fvs.get("wash"), cciTiles, cciAdmin, names, Some(tracks), None, c, storm, key,
          previous)
      }
      tracer.span("ops.admin_overlay", key) {
        noop(AdminOverlay.assign(tiles.drop("id"), admin2))
      }
      tracer.span("io.write", key) {
        probe.writePartitionedCsv(tv, "mercator_impact_views", "wind_threshold",
          th => s"${c}_$th.csv")
        probe.writeParquet(tv, "tile_view.parquet")
      }
      tv.unpersist(blocking = true)
    }
    tiles.unpersist(blocking = true); env.unpersist(blocking = true)
  }

  private def layerMetrics(runs: Seq[Map[String, Any]],
                           runLog: Seq[(String, Double)]): Map[String, Double] = {
    val cold = tracer.byName("forecast").head
    // the first warm forecast, which every traced run of a seed executes
    // identically: its counts repeat exactly
    val first = tracer.byName("forecast")(1)
    def layer(name: String) = tracer.byName(name).head.wallS
    val reportJobs = tracer.byName("pipeline.report").head.engine
      .map { case (a, b) => (b.jobs - a.jobs).toDouble }.getOrElse(0.0)
    val overhead = tracer.byName("rerun-traced").head.wallS -
      tracer.byName("rerun-untraced").head.wallS
    Metrics.engine(first, cfg.cores) ++ Metrics.codegen(cold) ++ Map(
      "pipeline.update_s" -> runLog.filter(_._1 == first.unit).map(_._2).head,
      "pipeline.tile_view_s" -> layer("pipeline.tile_view"),
      "pipeline.facility_view_s" -> layer("pipeline.facility_view"),
      "pipeline.admin_view_s" -> layer("pipeline.admin_view"),
      "pipeline.cci_s" -> layer("pipeline.cci"),
      "pipeline.track_view_s" -> layer("pipeline.track_view"),
      "pipeline.report_s" -> layer("pipeline.report"),
      "pipeline.report_jobs" -> reportJobs,
      "ops.probability_join_s" -> layer("ops.probability_join"),
      "ops.admin_overlay_s" -> layer("ops.admin_overlay"),
      "io.write_s" -> layer("io.write"),
      "io.files_written" -> runs(1)("files_written").asInstanceOf[Long].toDouble,
      "io.mb_written" -> runs(1)("bytes_written").asInstanceOf[Long] / 1048576.0,
      "io.forks" -> (first.end.forks - first.start.forks).toDouble,
      "trace.overhead_s" -> overhead,
    ) ++ Metrics.streaming(None, 0.0)
  }
}
