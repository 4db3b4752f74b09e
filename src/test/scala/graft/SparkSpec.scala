package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM): the engine
  * session every main builds, so all suites exercise the engine's actual
  * configuration, extensions and file scheme. */
object TestSpark {
  /** The suite's declared departures from the engine defaults. */
  val overrides: Map[String, String] = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    // bucketed-table suites write managed tables; keep them out of the repo
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString,
    // Pin the AT-SCALE plan shapes for every suite: Spread.ifNarrow
    // fires only in the single-small-file regime (a no-op on
    // production-partitioned input), so plan-shape budgets assert the
    // plan a real corpus gets. Results are spread-invariant; SpreadSpec
    // toggles this to cover the narrow-regime behaviour.
    "spark.graft.spread" -> "false")

  lazy val spark: SparkSession = {
    val s = EngineSession.build(overrides = overrides)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
