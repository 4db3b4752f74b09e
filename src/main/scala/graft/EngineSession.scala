package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one engine configuration: every main and the test suite get their
  * session here, so the CLI, correctness runs and benchmarks execute the
  * same engine. The values are defaults only: a `spark.*` key the
  * deployment already set (spark-submit `--conf`/`--master`, or `-D`)
  * wins over them.
  *
  *  - `local[cores]`, shuffle partitions = cores: `cores` is
  *    SPARK_GRAFT_CPUS, else every processor the JVM sees;
  *  - AQE coalesce floor 64k: Spark's 1m default is tuned for byte-bound
  *    stages, and coalesces the CPU-dense but byte-light text kernels
  *    (5k docs ≈ 1.5 MB) to ONE post-shuffle task. At production scale
  *    the parallelism-first target dwarfs any floor;
  *  - generated-code cache 8192 entries: the default 100 is evicted by a
  *    many-query run (~300 gates × ~10 codegen fragments), so every reuse
  *    re-generated and re-compiled its class and timed reps measured the
  *    compiler, not the plan. Static conf, so it can only be set here,
  *    before the context starts;
  *  - UTC session time zone, UI off;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet ships as
  *    TIMESTAMP(NANOS) in some generations, which Spark reads only as a
  *    long (see `SparkEntry.t`);
  *  - the shell-free local filesystem ([[graft.io.NioLocalFs]]);
  *  - [[graft.geo.GraftExtensions]]: the ST_ and text functions and the
  *    spatial join strategy in this session and every `newSession()` of it.
  */
object EngineSession {

  /** Local cores of the engine (SPARK_GRAFT_CPUS, else all processors). */
  private val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine defaults, with local and temp files under `localDir`. */
  def defaults(localDir: String): Map[String, String] = graft.io.NioLocalFs.settings ++ Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.local.dir" -> localDir)

  /** The settings a session runs with: `wanted`, except where `deployed`
    * already holds the key — the deployed value wins. */
  def merge(deployed: Map[String, String], wanted: Map[String, String]): Map[String, String] =
    wanted ++ deployed

  /** The running session if there is one (a second main called in-process
    * must not rewrite its conf), else a new engine session with temp and
    * local files under `localDir` and `overrides` on top of the defaults. */
  def build(localDir: String = System.getProperty("java.io.tmpdir"),
            overrides: Map[String, String] = Map.empty): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse {
      new java.io.File(localDir).mkdirs()
      System.setProperty("java.io.tmpdir", localDir)
      val deployed = new SparkConf().getAll.toMap
      merge(deployed, defaults(localDir) ++ overrides)
        .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
        .withExtensions(new graft.geo.GraftExtensions)
        .getOrCreate()
    }

  /** `/dev/shm/name` where a tmpfs is mounted there, else the JVM's tmpdir:
    * stream checkpoints, state stores and spills of the benchmark mains
    * then measure the operators, not the block device. */
  def shmDir(name: String): String =
    if (new java.io.File("/dev/shm").isDirectory) s"/dev/shm/$name"
    else System.getProperty("java.io.tmpdir")
}
