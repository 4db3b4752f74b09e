package stormbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

object Gates {
  /** The gates measured, one per streaming mechanism: windowed and session
    * state, stateless dedup, stream-stream and stream-static joins,
    * foreachBatch merge, watermark and late drop. */
  val Names: Seq[String] = Seq("s01_stream_window", "s02_stream_dedup", "s04_stream_session",
    "s05_stream_interval_join", "s08_stream_cdc_merge", "s30_stream_late_drop",
    "s35_stream_static_join")
  /** Warm passes measured at least, after the cold one. */
  val WarmPasses = 2
  /** Verification steps (write + oracle check) timed per run. */
  val VerifyRepeats = 3
}

/** The `stream-gates` workload: the [[Gates.Names]] gates of
  * `SparkEntry.queries`, in name order, on a session built the way
  * `graft.Bench` builds its own. The first (cold) run of each gate is
  * written out and checked against its DuckDB oracle
  * (`tools/check_oracle.py`); every later pass compares each gate's row
  * count and order-independent digest with that verified result. */
final class Gates(cfg: Config) {
  private val data = cfg.data.toAbsolutePath.toString
  private var sessionRef: SparkSession = _
  private def spark: SparkSession = sessionRef
  private val tracer = new Tracer(spark, cfg.traced)
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  /** graft.Bench's engine: local[cores], shuffle partitions = cores, the
    * 64k AQE coalesce floor, the 8192-entry codegen cache, the nio local
    * FS, UI off; temp and local dirs inside the run directory. */
  private def session(): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val s = graft.io.NioLocalFs.configure(SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", tmp)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.geo.GeoFunctions.ensureRegistered(s)
    s
  }

  /** Bench's between-run hygiene: drop cached plans and persisted blocks. */
  private def dropPersisted(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[stormbench] FAILED $what")
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: scala.collection.Seq[_] => a.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  /** (row count, digest of the sorted per-row hashes). */
  private def digest(rows: Array[Row]): (Long, String) = {
    val hs = rows.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r))).sorted
    (rows.length.toLong, "%08x".format(scala.util.hashing.MurmurHash3.arrayHash(hs)))
  }

  /** One pass over the gates: name -> (schema, rows) of each gate that ran. */
  private def pass(unit: String, gates: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, (StructType, Array[Row]))] = tracer.span("pass", unit) {
    gates.flatMap { case (name, fn) =>
      attempted += 1
      dropPersisted()
      try tracer.span("gate", name) {
        val df = fn(spark, data)
        Some(name -> (df.schema, df.collect()))
      } catch { case NonFatal(e) => fail(s"$name $unit: $e"); None }
    }
  }

  def run(): Map[String, Any] = {
    sessionRef = session()
    val readyMs = System.currentTimeMillis()
    val gates = Gates.Names.sorted.map(n => n -> graft.SparkEntry.queries(n))

    // cold: the first run of each gate in the JVM
    val cold = pass("cold", gates)

    // initialize: write the cold results, check them against their
    // oracles and keep the verified count + digest as the reference; three
    // times, initialize_s is the median
    val reference = mutable.HashMap.empty[String, (Long, String)]
    (1 to Gates.VerifyRepeats).foreach { i =>
      tracer.span("initialize", s"verify$i") {
        verify(cfg.data.resolve(s"verify$i"), gates.map(_._1), cold, reference)
      }
    }

    def checked(unit: String): Unit = pass(unit, gates).foreach { case (name, (_, rows)) =>
      val got = digest(rows)
      reference.get(name) match {
        case Some(ref) if ref == got => ()
        case Some(ref) => fail(s"$name $unit: rows/digest $got != verified $ref")
        case None => fail(s"$name $unit: no verified reference")
      }
    }
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var n = 0
    while (n < Gates.WarmPasses || elapsed < cfg.seconds) { n += 1; checked(s"warm$n") }
    val timedS = elapsed
    val passes = tracer.byName("pass")

    val metrics = Map(
      "initialize_s" -> Stats.median(tracer.byName("initialize").map(_.wallS)),
      "cold_s" -> passes.head.wallS,
      "cycle_s" -> Stats.median(passes.drop(1).map(_.wallS)),
      "peak_rss_mb" -> ProcSnap.statusMb("VmHWM"))
    // traced runs: one more pass traced, then one untraced
    val overheadS = if (!cfg.traced) 0.0 else {
      checked("overhead-traced")
      tracer.detached(checked("overhead-untraced"))
      val last = tracer.byName("pass").takeRight(2)
      last(0).wallS - last(1).wallS
    }
    val layers = if (cfg.traced) layerMetrics(overheadS) else Map.empty[String, Double]
    Map("ready_ms" -> readyMs, "metrics" -> metrics, "layers" -> layers,
      "residue" -> Residue.measure(spark, cfg.tmp),
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "gates" -> gates.map(_._1), "timed_s" -> timedS, "config" -> Metrics.config(spark))
  }

  def write(path: Path, result: Map[String, Any]): Unit = tracer.write(path, result)

  /** Writes the cold results under `dir`, runs their oracle check and
    * records each verified gate's count + digest in `reference`. */
  private def verify(dir: Path, names: Seq[String],
                     cold: Seq[(String, (StructType, Array[Row]))],
                     reference: mutable.Map[String, (Long, String)]): Unit = {
    cold.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(dir.resolve("oracle_sql.json"), graft.pipeline.Reports.toJson(oracle))
    val statuses = tracer.span("oracle_check") { checkOracle(dir) }
    cold.foreach { case (name, (_, rows)) =>
      attempted += 1
      statuses.get(name) match {
        case Some(s) if (s.startsWith("MATCH") || s.startsWith("ROWS_ONLY")) && !s.contains("DRIFT") =>
          reference(name) = digest(rows)
        case other => fail(s"$name oracle (${dir.getFileName}): ${other.getOrElse("no verdict")}")
      }
    }
  }

  /** Runs the repository's oracle checker; returns gate -> verdict. */
  private def checkOracle(dir: Path): Map[String, String] = {
    val pb = new ProcessBuilder("python3", cfg.checkout.resolve("tools/check_oracle.py").toString,
      data, dir.toAbsolutePath.toString)
      .directory(cfg.checkout.toFile).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    if (code != 0) fail(s"check_oracle.py exited $code: ${out.takeRight(2000)}")
    out.linesIterator.flatMap { line =>
      line.split(": ", 2) match {
        case Array(k, v) if !k.startsWith(" ") && k.nonEmpty => Some(k -> v)
        case _ => None
      }
    }.toMap
  }

  private def layerMetrics(overheadS: Double): Map[String, Double] = {
    val passes = tracer.byName("pass")
    val warm = passes(1)
    val gatesOfPass = tracer.byName("gate").filter(_.parent == warm.id)
    val forks = (warm.end.forks - warm.start.forks).toDouble
    Metrics.engine(warm, cfg.cores) ++ Metrics.codegen(passes.head) ++
      Metrics.streaming(Some(warm), gatesOfPass.map(_.wallS).sum) ++
      Metrics.PipelineLayers.map(_ -> 0.0) ++ Map(
        "io.forks" -> forks,
        "trace.overhead_s" -> overheadS)
  }
}
