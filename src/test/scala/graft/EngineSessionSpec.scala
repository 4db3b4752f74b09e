package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one engine session: deployed settings win over its defaults, the
  * test session is that engine plus its declared overrides, its
  * extensions reach sub-sessions, gates leave the session as they found
  * it, and no other code path builds a session. */
class EngineSessionSpec extends SparkSpec {

  import spark.implicits._

  test("a deployed key wins over the engine default; other defaults stay") {
    val deployed = Map("spark.master" -> "local[2]", "spark.sql.shuffle.partitions" -> "7")
    val merged = EngineSession.merge(deployed, EngineSession.defaults("/x"))
    assert(merged("spark.master") == "local[2]")
    assert(merged("spark.sql.shuffle.partitions") == "7")
    assert(merged("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(merged("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(merged("spark.local.dir") == "/x")
    assert(EngineSession.merge(Map.empty, Map("k" -> "v")) == Map("k" -> "v"))
  }

  test("the test session runs the engine defaults except its declared overrides") {
    val deployed = new SparkConf().getAll.toMap
    val expected = EngineSession.merge(deployed,
      EngineSession.defaults(System.getProperty("java.io.tmpdir")) ++ TestSpark.overrides)
    EngineSession.defaults("").keys.foreach { k =>
      assert(spark.conf.get(k) == expected(k), s"$k")
    }
    // Spark qualifies the warehouse path with its scheme
    (TestSpark.overrides - "spark.sql.warehouse.dir").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  test("a second build in the same JVM returns the running session untouched") {
    val before = spark.conf.getAll
    assert(EngineSession.build(overrides = Map("spark.sql.shuffle.partitions" -> "3")) eq spark)
    assert(spark.conf.getAll == before)
  }

  test("a newSession() resolves the injected functions and plans the spatial join") {
    val sub = spark.newSession()
    val row = sub.sql(
      """SELECT st_intersects(st_box(0D, 0D, 2D, 2D), st_box(1D, 1D, 3D, 3D)),
        |       ws_token_count('a b  c')""".stripMargin).head()
    assert(row.getBoolean(0) && row.getInt(1) == 3)
    val box = (x: Double) => graft.geo.Geo.toWkb(graft.geo.Geo.box(x, x, x + 1, x + 1))
    val left = sub.createDataFrame((0 until 20).map(i => (i, box(i * 0.5)))).toDF("lid", "lg")
    val right = sub.createDataFrame((0 until 5).map(i => (i, box(i * 2.0)))).toDF("rid", "rg")
    val plan = left.join(right, call_function("st_intersects", $"lg", $"rg"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastSpatialJoin"), plan)
  }

  test("gates leave the session's strategies, conf and function registry unchanged") {
    // the smallest inputs g08 (customer + supplier geo layers) and q12
    // (events via the two-vintage reader) need
    val dir = Files.createTempDirectory("graft-state-leak").toString
    spark.range(1, 1601).select($"id".as("c_custkey"), ($"id" % 97 * 10.5).as("c_acctbal"))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(1, 21).select($"id".as("s_suppkey")).write.parquet(s"$dir/supplier.parquet")
    spark.range(1, 201).select($"id".as("event_id"),
        timestamp_seconds(lit(1704067200L) + $"id" * 3600).as("ts"),
        ($"id" % 7).as("user_id"), lit("click").as("event_type"),
        ($"id" % 13).cast("double").as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    def snapshot() = (spark.experimental.extraStrategies, spark.conf.getAll,
      spark.sessionState.functionRegistry.listFunction().toSet)
    val before = snapshot()
    Seq("g08_strategy_join", "q12_lag_delta").foreach { name =>
      assert(SparkEntry.queries(name)(spark, dir).collect().nonEmpty, name)
      assert(snapshot() == before, name)
    }
  }

  test("EngineSession is the only place a session is built") {
    // needles split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val context = "new " + "SparkContext"
    val strategies = "extraStrategies" + " ="
    def scalaFiles(root: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val main = scalaFiles("src/main/scala")
    val test = scalaFiles("src/test/scala")
    assert(main.exists(_.endsWith("graft/EngineSession.scala")))
    def offenders(files: Seq[Path], needles: String*): Seq[String] = files.filter { p =>
      val text = Files.readString(p)
      needles.exists(text.contains)
    }.map(_.toString)
    assert(offenders(main.filterNot(_.endsWith("graft/EngineSession.scala")), builder, context)
      .isEmpty)
    assert(offenders(test, builder, context).isEmpty)
    assert(offenders(main ++ test, strategies).isEmpty)
  }
}
