package stormbench

import java.nio.file.{Path, Paths}

final case class Config(workload: String, data: Path, out: Path, checkout: Path,
                        seconds: Double, traced: Boolean, cores: Int, tmp: Path)

/** JVM entry of the benchmark (launched by run.py, which owns inputs,
  * output checks and the result line):
  *
  * {{{
  * stormbench.Run --workload mainland|stream-gates --data DIR
  *   --out result.json --checkout DIR --seconds S --trace 0|1
  * }}}
  *
  * Every argument is required. Traced runs attach the listeners from
  * outside, through `spark.extraListeners` and
  * `spark.sql.streaming.streamingQueryListeners` set as system properties
  * before any session exists. */
object Run {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = a("trace") == "1"
    val cfg = Config(
      workload = a("workload"),
      data = Paths.get(a("data")).toAbsolutePath,
      out = Paths.get(a("out")).toAbsolutePath,
      checkout = Paths.get(a("checkout")).toAbsolutePath,
      seconds = a("seconds").toDouble,
      traced = traced,
      cores = Runtime.getRuntime.availableProcessors,
      tmp = Paths.get(System.getProperty("java.io.tmpdir")))
    if (traced) {
      System.setProperty("spark.extraListeners", classOf[EngineListener].getName)
      System.setProperty("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamListener].getName)
    }
    val code = try {
      cfg.workload match {
        case "mainland" =>
          val p = new Pipeline(cfg); p.write(cfg.out, p.run())
        case "stream-gates" =>
          val g = new Gates(cfg); g.write(cfg.out, g.run())
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      0
    } catch {
      case t: Throwable =>
        System.err.println(s"[stormbench] run aborted: $t")
        t.printStackTrace()
        1
    }
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }
}
