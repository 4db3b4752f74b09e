package stormbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process-level readings taken at span boundaries: codegen, JIT, GC, RSS
  * and the kernel's fork counter. Cheap enough to take untraced too. */
final case class ProcSnap(wallNs: Long, wallMs: Long, codegenCompiles: Long,
                          codegenMeanMs: Double, jitMs: Long, gcMs: Long,
                          forks: Long, rssMb: Double)

object ProcSnap {
  private lazy val codegenHist =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  def take(): ProcSnap = {
    val h = codegenHist
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    ProcSnap(System.nanoTime(), System.currentTimeMillis(), h.getCount,
      h.getSnapshot.getMean, ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gc, forks(), statusMb("VmRSS"))
  }

  /** `processes` in /proc/stat: forks since boot (kernel-wide). */
  def forks(): Long = try {
    Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("processes ")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  } catch { case _: java.io.IOException => 0L }

  def statusMb(key: String): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  } catch { case _: java.io.IOException => 0.0 }
}

/** One timed bench call. `parent` is the enclosing span's id (0 = the run);
  * `unit` names the forecast or gate the call belongs to. */
final case class Span(id: Int, parent: Int, name: String, unit: String,
                      start: ProcSnap, end: ProcSnap,
                      engine: Option[(EngineStats.Snap, EngineStats.Snap)],
                      stream: Option[(StreamStats.Snap, StreamStats.Snap)],
                      ok: Boolean, note: String) {
  def wallS: Double = (end.wallNs - start.wallNs) / 1e9
}

/** Keeps spans in memory; written once when the run ends. With `traced`
  * set, every span boundary first drains the listener bus (a marker job
  * in its own job group) so the listener counters are complete. */
final class Tracer(spark: => SparkSession, val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List(0)
  /** Set inside [[detached]]: the run behaves as an untraced one. */
  private var paused = false
  private def tracing = traced && !paused

  private def drain(): Unit = if (tracing) {
    val sc = spark.sparkContext
    val before = EngineStats.snapshot().markers
    sc.setJobGroup(EngineStats.MarkerGroup, "listener-bus drain marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (EngineStats.snapshot().markers <= before && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Waits until every started streaming query has reported termination,
    * so its progress events have all been counted. */
  def drainStreams(): Unit = if (tracing) {
    val deadline = System.nanoTime() + 10000000000L
    def pending = { val s = StreamStats.snapshot(); s.terminated < s.started }
    while (pending && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Times `body` as one span; a Throwable marks the span failed and is
    * rethrown, never swallowed. */
  def span[T](name: String, unit: String = "")(body: => T): T = {
    drain()
    val id = nextId; nextId += 1
    val parent = stack.head
    stack = id :: stack
    val e0 = if (traced) Some(EngineStats.snapshot()) else None
    val s0 = if (traced) Some(StreamStats.snapshot()) else None
    val p0 = ProcSnap.take()
    var ok = false
    var note = ""
    try { val r = body; ok = true; r }
    catch { case t: Throwable => note = s"${t.getClass.getSimpleName}: ${t.getMessage}"; throw t }
    finally {
      val p1 = ProcSnap.take()
      drain(); drainStreams()
      stack = stack.tail
      spans += Span(id, parent, name, unit, p0, p1,
        e0.map(_ -> EngineStats.snapshot()), s0.map(_ -> StreamStats.snapshot()), ok, note)
    }
  }

  /** Runs `body` as an untraced run would: both listeners off their buses
    * and no drains at span boundaries. Comparing a unit run inside and
    * outside of this gives the tracing overhead. */
  def detached[T](body: => T): T = {
    val sc = spark.sparkContext
    val (engine, stream) = (Attached.engine, Attached.stream)
    engine.foreach(sc.removeSparkListener)
    stream.foreach(spark.streams.removeListener)
    paused = true
    try body
    finally {
      paused = false
      engine.foreach(sc.addSparkListener)
      stream.foreach(spark.streams.addListener)
    }
  }

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: Path, extra: Map[String, Any]): Unit = {
    val rows = spans.map { s =>
      val base = Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "unit" -> s.unit, "wall_s" -> s.wallS, "ok" -> s.ok, "note" -> s.note,
        "start_ms" -> s.start.wallMs, "end_ms" -> s.end.wallMs,
        "codegen_compiles" -> (s.end.codegenCompiles - s.start.codegenCompiles),
        "jit_ms" -> (s.end.jitMs - s.start.jitMs), "gc_ms" -> (s.end.gcMs - s.start.gcMs),
        "forks" -> (s.end.forks - s.start.forks), "rss_mb" -> s.end.rssMb)
      val eng = s.engine.map { case (a, b) => Map[String, Any](
        "jobs" -> (b.jobs - a.jobs), "stages" -> (b.stages - a.stages),
        "tasks" -> (b.tasks - a.tasks), "task_ms" -> (b.taskMs - a.taskMs)) }
      val str = s.stream.map { case (a, b) => Map[String, Any](
        "microbatches" -> (b.batches - a.batches), "queries" -> (b.started - a.started)) }
      base ++ eng.map(e => Map("engine" -> e)).getOrElse(Map.empty) ++
        str.map(e => Map("streaming" -> e)).getOrElse(Map.empty)
    }
    // each job attributed to its action's call site through its SQL execution
    val sites = if (!traced) Map.empty[String, Any] else Map("call_sites" ->
      EngineStats.callSites().map { case (site, (n, ms)) => site -> Map("jobs" -> n, "job_ms" -> ms) })
    Files.writeString(path,
      graft.pipeline.Reports.toJson(extra ++ sites ++ Map("spans" -> rows.toSeq)) + "\n")
  }
}

/** Residue a run leaves behind: bytes and files under the temp dir,
  * persisted RDDs, temp views (memory sinks register as temp views) and
  * streams still active. */
object Residue {
  def dirUsage(dir: Path): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def measure(spark: SparkSession, tmp: Path): Map[String, Double] = {
    val (bytes, files) = dirUsage(tmp)
    val views = spark.catalog.listTables().collect().count(_.isTemporary)
    val memSinks = spark.streams.active.length
    Map(
      "io.tmp_residue_mb" -> bytes / 1048576.0,
      "residue.tmp_files" -> files.toDouble,
      "residue.persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      "residue.temp_views" -> views.toDouble,
      "residue.active_streams" -> memSinks.toDouble)
  }
}

object Stats {
  /** Median; NaN for an empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
