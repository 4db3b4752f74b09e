package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  test("writeOrderedMicrobatch leaves no staging dir in the temp dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged(): Int = Option(tmp.list()).map(_.count(_.startsWith("graft-mb"))).getOrElse(0)
    val before = staged()
    val in = java.nio.file.Files.createTempDirectory("graft-drops").toString
    Streaming.writeOrderedMicrobatch(spark.range(0, 3).toDF("id"), in, 0)
    Streaming.writeOrderedMicrobatch(spark.range(3, 6).toDF("id"), in, 1)
    assert(staged() == before)
    assert(new java.io.File(in).list().sorted.toSeq == Seq("b0.parquet", "b1.parquet"))
    assert(spark.read.parquet(in).count() == 6)
  }

  test("file-source stream with AvailableNow converges to the batch answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-08-01 00:10:00"), "click", 1.0),
      (2L, java.sql.Timestamp.valueOf("2026-08-01 05:00:00"), "click", 2.0),
      (3L, java.sql.Timestamp.valueOf("2026-08-02 00:30:00"), "view", 5.0)
    ).toDF("event_id", "ts", "event_type", "value")
    events.write.parquet(s"$dir/drop1")

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = Streaming.availableNowFileStream(spark, s"$dir/drop1", schema)
    val out = Streaming.runAvailableNow(
      Streaming.windowedEventCounts(stream), s"t_${System.nanoTime()}")
      .select("window_start", "event_type", "n", "total")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    assert(out == Set(
      (java.sql.Timestamp.valueOf("2026-08-01 00:00:00"), "click", 2L, 3.0),
      (java.sql.Timestamp.valueOf("2026-08-02 00:00:00"), "view", 1L, 5.0)))
  }

  test("streaming dedup emits first occurrences only (append mode)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
    Seq((1L, "A", "click"), (2L, "A", "click"), (3L, "A", "view"), (4L, "B", "click"))
      .toDF("event_id", "storm", "event_type").write.parquet(s"$dir/drop1")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("storm", StringType),
      StructField("event_type", StringType)))
    val stream = Streaming.availableNowFileStream(spark, s"$dir/drop1", schema)
    val out = Streaming.runAvailableNow(
      Streaming.dedupedStream(stream, Seq("storm", "event_type")),
      s"t_${System.nanoTime()}", outputMode = "append")
      .as[(String, String)].collect().toSet
    assert(out == Set(("A", "click"), ("A", "view"), ("B", "click")))
  }

  test("latestChangePerKey: stateful max_by keeps the winning change per key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cdc").toString
    Seq(
      (1L, "a1", 10L, false), (1L, "a2", 20L, false), // seq 20 wins
      (2L, "b1", 15L, true),  (2L, "b0", 5L, false),  // delete wins at seq 15
      (3L, "c1", 1L, false)
    ).toDF("k", "name", "seq", "del").write.parquet(s"$dir/drop1")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("name", StringType),
      StructField("seq", LongType), StructField("del", BooleanType)))
    val stream = Streaming.availableNowFileStream(spark, s"$dir/drop1", schema)
    val out = Streaming.runAvailableNow(
      Streaming.latestChangePerKey(stream, Seq("k"), "seq"),
      s"t_${System.nanoTime()}", outputMode = "complete")
      .select("k", "name", "seq", "del")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(out == Set((1L, "a2", 20L, false), (2L, "b1", 15L, true), (3L, "c1", 1L, false)))
  }

  test("funnelStream: 3-step state machine in event-time order, strict progression") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-funnel").toString
    Seq(
      // user 1 converts; click BEFORE the first view must not count
      (1L, "click", 5L), (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: purchase before click -> no step 3
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      // user 3: no view at all
      (3L, "click", 10L), (3L, "purchase", 20L),
      // user 4: equal timestamps are NOT strict progression
      (4L, "view", 10L), (4L, "click", 10L)
    ).toDF("user_id", "event_type", "us").write.parquet(s"$dir/drop1")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("us", LongType)))
    import spark.implicits._
    val stream = Streaming.availableNowFileStream(spark, s"$dir/drop1", schema)
      .as[Streaming.FunnelEvent]
    val out = Streaming.runAvailableNow(
      Streaming.funnelStream(stream, Seq("view", "click", "purchase")),
      s"t_${System.nanoTime()}", outputMode = "update")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
      .groupBy(_._1).map { case (u, rows) => u -> rows.last }
    assert(out(1L) == ((1L, Some(10L), Some(20L), Some(30L))))
    assert(out(2L) == ((2L, Some(10L), Some(20L), None)))
    assert(out(3L) == ((3L, None, None, None)))
    assert(out(4L) == ((4L, Some(10L), None, None)))
  }

  test("newForecastsOnly: custom keyed state suppresses replays across microbatches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-state").toString
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val schema = StructType(Seq(
      StructField("storm", StringType), StructField("forecastTime", LongType)))

    def runBatch(): Set[(String, Long)] = {
      val stream = Streaming.availableNowFileStream(spark, dir, schema)
        .as[Streaming.StormForecast]
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      val q = Streaming.newForecastsOnly(stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.StormForecast], _: Long) =>
          batch.collect().foreach(f => sink.add((f.storm, f.forecastTime)))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sink.toArray.map(_.asInstanceOf[(String, Long)]).toSet
    }

    // the file source does not recurse: drops land as single parquet files
    // at the stream directory's top level
    def drop(rows: Seq[(String, Long)], n: Int): Unit = {
      val staging = java.nio.file.Files.createTempDirectory("graft-staging").toString
      rows.toDF("storm", "forecastTime").coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"drop$n.parquet"))
    }

    // batch 1: two storms, ALPHA's t=6 duplicated -> emitted once
    drop(Seq(("ALPHA", 0L), ("ALPHA", 6L), ("ALPHA", 6L), ("BRAVO", 0L)), 1)
    assert(runBatch() == Set(("ALPHA", 0L), ("ALPHA", 6L), ("BRAVO", 0L)))

    // batch 2: replays of old forecasts suppressed by state; only newer pass
    drop(Seq(("ALPHA", 0L), ("ALPHA", 6L), ("ALPHA", 12L), ("BRAVO", 0L), ("CHARLIE", 0L)), 2)
    assert(runBatch() == Set(("ALPHA", 12L), ("CHARLIE", 0L)))
  }

  test("stream-stream interval join: (t0, t0+w] bounds, keyed, watermark-evictable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ij").toString
    def t(us: Long) = new java.sql.Timestamp(us / 1000)
    // key 1: points at +0 (excluded: open lower bound), +1, +1000 (= w,
    // included), +1001 (excluded); key 2: same offset but different key
    val left = Seq((1L, 10L, t(1000000L))).toDF("k", "lid", "lts")
    val right = Seq(
      (1L, 20L, t(1000000L)), (1L, 21L, t(1001000L)),
      (1L, 22L, t(2000000L)), (1L, 23L, t(2001000L)),
      (2L, 24L, t(1500000L))).toDF("k", "rid", "rts")
    left.write.parquet(s"$dir/left"); right.write.parquet(s"$dir/right")
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("lid", LongType), StructField("lts", TimestampType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("rid", LongType), StructField("rts", TimestampType)))
    val ls = Streaming.availableNowFileStream(spark, s"$dir/left", lSchema)
    val rs = Streaming.availableNowFileStream(spark, s"$dir/right", rSchema)
    val joined = Streaming.intervalJoin(ls, rs, Seq("k"), "lts", "rts",
      windowUs = 1000000L, watermark = "0 seconds")
    val out = Streaming.runAvailableNow(
        joined.select(col("lid"), col("rid")),
        s"ij_${System.nanoTime()}", outputMode = "append")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 21L), (10L, 22L)), s"got $out")
  }

  test("streaming token counts accumulate in the state store and match batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-hh").toString
    Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text").write.parquet(s"$dir/d1")
    Seq((3L, "a b")).toDF("doc_id", "text").write.mode("append").parquet(s"$dir/d1")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = Streaming.availableNowFileStream(spark, s"$dir/d1", schema)
    val counts = stream
      .select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
    val out = Streaming.runAvailableNow(counts,
        s"t_${System.nanoTime()}", outputMode = "complete")
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 3L, "b" -> 3L, "c" -> 1L))
  }

  test("streaming near-dup ingest: batch self-dedup, index dedup across drops, index growth") {
    val root = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different content about spark catalyst optimizer internals"
    val textC = "another unrelated corpus document mentioning jaccard similarity estimates"

    def runDrop(drop: String): Unit = {
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema,
        glob = None)
      val q = Streaming.nearDupIngestStream(stream, s"$root/index", s"$root/ckpt")(
        (keep, bid) => keep.write.mode("overwrite")
          .parquet(s"$root/corpus/batch=$bid"))
      q.awaitTermination()
    }

    // drop 1: docs 1,2 near-dups of each other (keep min id 1), 3 unique
    Seq((1L, textA), (2L, textA + " extra"), (3L, textB)).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop("d1")
    val afterFirst = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(afterFirst.toSeq == Seq(1L, 3L), s"got ${afterFirst.toSeq}")

    // drop 2: doc 4 near-dups the ALREADY-INGESTED doc 1 (via the index,
    // not any in-batch pair), doc 5 is new
    Seq((4L, textA), (5L, textC)).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop("d2")
    val afterSecond = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(afterSecond.toSeq == Seq(1L, 3L, 5L), s"got ${afterSecond.toSeq}")

    // the index holds signatures for exactly the kept docs
    val indexed = spark.read.parquet(s"$root/index")
      .select("id").distinct().as[Long].collect().sorted
    assert(indexed.toSeq == Seq(1L, 3L, 5L), s"got ${indexed.toSeq}")
  }

  test("spanDedupIngestStream: cross-drop chunk removal via the index, then compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft-span").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def runDrop(): Unit = {
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema)
      Streaming.spanDedupIngestStream(stream, s"$root/index", s"$root/ckpt",
          chunkTokens = 2, compactAfterDirs = 0)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
    }

    // drop 1: doc 2 repeats doc 1's chunk "a b" in-batch
    Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    val after1 = spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "n_chunks", "n_removed")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(after1 == Seq((1L, "a b c d", 2L, 0L), (2L, "x y", 2L, 1L)))

    // drop 2: doc 3 repeats chunks from BOTH earlier docs — removed via
    // the persisted index, not any in-batch first occurrence; "z z" is new
    Seq((3L, "c d z z x y")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    val after2 = spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "n_chunks", "n_removed")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(after2 == Seq(
      (1L, "a b c d", 2L, 0L), (2L, "x y", 2L, 1L), (3L, "z z", 3L, 2L)))

    // index holds each first-seen chunk exactly once; compactAfterDirs=0
    // merged batch 0 into a single m-dir alongside batch 1's own dir
    val idx = spark.read.parquet(s"$root/index")
      .select("chunk").as[String].collect().sorted
    assert(idx.toSeq == Seq("a b", "c d", "x y", "z z"))
    val dirs = new java.io.File(s"$root/index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("batch=1", "batch=m1_0"),
      s"expected merged prior dirs + the current batch dir, got ${dirs.toSeq}")
  }

  test("spanDedupIngestStream: crash between merge rename and source deletes is replay-safe") {
    // the crash window the round-7 advisor flagged: the merged dir exists
    // but its source dirs were never deleted. The replayed merge must not
    // rename onto the existing merged dir (Hadoop rename fails or nests)
    // and must NOT delete the fresh merge along with the stale sources.
    val root = java.nio.file.Files.createTempDirectory("graft-span-crash").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def runDrop(): Unit = {
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema)
      Streaming.spanDedupIngestStream(stream, s"$root/index", s"$root/ckpt",
          chunkTokens = 2, compactAfterDirs = 0)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
    }

    Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    // simulate the interrupted merge of (replayed) batch 1: its merge of
    // batch=0 was renamed into place as batch=m1_0, but the crash hit
    // before the source delete AND before the checkpoint commit — so
    // batch=0 survives alongside the merged dir, and the next run of the
    // stream re-executes batch 1's merge with batch=m1_0 among its sources
    spark.read.parquet(s"$root/index/batch=0")
      .write.mode("overwrite").parquet(s"$root/index/batch=m1_0")
    Seq((3L, "c d z z x y")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    // the replayed merge landed under the NEXT unique name — it did not
    // rename onto the existing batch=m1_0 or get destroyed by the
    // source deletes
    val dirsAfter = new java.io.File(s"$root/index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(dirsAfter.toSeq == Seq("batch=1", "batch=m1_1"),
      s"expected the replayed merge under a fresh attempt name, got ${dirsAfter.toSeq}")
    val out = spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "n_chunks", "n_removed")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d", 2L, 0L), (2L, "x y", 2L, 1L), (3L, "z z", 3L, 2L)))
    // the index survived intact: every first-seen chunk still present once
    val idx = spark.read.parquet(s"$root/index")
      .select("chunk").distinct().as[String].collect().sorted
    assert(idx.toSeq == Seq("a b", "c d", "x y", "z z"),
      s"seen-chunk index lost rows after replayed merge: ${idx.toSeq}")
    // and a THIRD drop re-admits nothing previously seen
    Seq((4L, "a b z z")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    val doc4 = spark.read.parquet(s"$root/out")
      .filter($"doc_id" === 4L)
      .select("clean_text", "n_removed").as[(String, Long)].head()
    assert(doc4 == (("", 2L)), s"doc 4 should lose both seen chunks: $doc4")
  }

  test("spanDedupIngestStream: bucketed index table matches flat path; index never re-shuffles") {
    val root = java.nio.file.Files.createTempDirectory("graft-span-bkt").toString
    val tbl = s"span_idx_${System.nanoTime()}"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def runDrop(): Unit = {
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema)
      Streaming.spanDedupIngestStream(stream, s"$root/unused", s"$root/ckpt",
          chunkTokens = 2, bucketedIndexTable = Some(tbl))(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
    }

    try {
      Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text")
        .write.mode("append").parquet(s"$root/docs")
      runDrop()
      Seq((3L, "c d z z x y")).toDF("doc_id", "text")
        .write.mode("append").parquet(s"$root/docs")
      runDrop()
      // identical outcome to the flat-index path's two-drop case
      val out = spark.read.parquet(s"$root/out")
        .select("doc_id", "clean_text", "n_chunks", "n_removed")
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
      assert(out == Seq(
        (1L, "a b c d", 2L, 0L), (2L, "x y", 2L, 1L), (3L, "z z", 3L, 2L)))
      val idx = spark.table(tbl).select("chunk").as[String].collect().sorted
      assert(idx.toSeq == Seq("a b", "c d", "x y", "z z"))

      // LAYOUT PROOF: a probe semi-join against the bucketed index plans
      // with exactly ONE Exchange — the probe side; the index arrives
      // pre-bucketed and never re-shuffles (broadcast disabled so the
      // bucket property, not a broadcast, is what kills the exchange)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = Seq("a b", "q q").toDF("chunk")
        val p = probe.join(spark.table(tbl), Seq("chunk"), "left_semi")
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
        assert(exchanges == 1, s"expected only the probe-side Exchange:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("spanDedupIngestStream: bucketed index table compacts without losing planted decisions") {
    val root = java.nio.file.Files.createTempDirectory("graft-span-tblc").toString
    val tbl = s"span_idx_c_${System.nanoTime()}"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def runDrop(): Unit = {
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema)
      Streaming.spanDedupIngestStream(stream, s"$root/unused", s"$root/ckpt",
          chunkTokens = 2, bucketedIndexTable = Some(tbl), indexBuckets = 4,
          compactTableAfterFiles = 4)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
    }

    try {
      // 6 drops of 2 docs each — well past 3x the 4-file threshold of
      // accrued per-batch file sets; doc 2k+1 repeats doc 2k's first
      // chunk in-batch, and every doc repeats the PLANTED chunk "p q"
      // from drop 0 via the (possibly compacted) index
      for (k <- 0 until 6) {
        val base = k * 2
        val (a, b) = (s"w$base x$base p q", s"w$base x$base y$base z$base")
        Seq((base.toLong, a), (base.toLong + 1, b)).toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(s"$root/docs")
        runDrop()
      }
      val files = spark.table(tbl).inputFiles.length
      assert(files <= 8,
        s"compaction must bound table files (threshold 4 + one post-compact append), got $files")
      // planted checks: drop 0 keeps "p q" (first seen); every later drop
      // removes it via the index; the in-batch repeat "w$k x$k" removed
      val out = spark.read.parquet(s"$root/out")
        .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
      assert(out(0L) == 0L && out(1L) == 1L, s"drop 0: $out")
      for (k <- 1 until 6) {
        assert(out(k * 2L) == 1L, s"doc ${k * 2} must lose the planted chunk: $out")
        assert(out(k * 2L + 1) == 1L, s"doc ${k * 2 + 1} must lose the in-batch repeat: $out")
      }
      // the index still holds every first-seen chunk exactly once per batch row
      val chunks = spark.table(tbl).select("chunk").distinct().count()
      assert(chunks == 1 + 6 * 2,
        s"expected 'p q' + per-drop w/x + y/z chunks, got $chunks")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("recoverBucketedIndexSwap: every crash window of the staged swap restores the table") {
    val t = s"swap_t_${System.nanoTime()}"
    def mk(name: String, v: Long): Unit =
      Seq(("c", v)).toDF("chunk", "batch").write
        .bucketBy(2, "chunk").sortBy("chunk").format("parquet").saveAsTable(name)
    try {
      // crash after t -> t_old, before <t>_compact -> t: prefer the staged copy
      mk(s"${t}_old", 1L); mk(s"${t}_compact", 2L)
      Streaming.recoverBucketedIndexSwap(spark, t)
      assert(spark.table(t).select("batch").as[Long].head() == 2L)
      assert(!spark.catalog.tableExists(s"${t}_compact"))
      spark.sql(s"DROP TABLE IF EXISTS ${t}_old"); spark.sql(s"DROP TABLE $t")
      // crash before the staged write committed: only t_old exists
      mk(s"${t}_old", 3L)
      Streaming.recoverBucketedIndexSwap(spark, t)
      assert(spark.table(t).select("batch").as[Long].head() == 3L)
      spark.sql(s"DROP TABLE $t")
      // crash after <t>_compact -> t, before DROP t_old: drop the backup
      mk(t, 4L); mk(s"${t}_old", 5L)
      Streaming.recoverBucketedIndexSwap(spark, t)
      assert(spark.table(t).select("batch").as[Long].head() == 4L)
      assert(!spark.catalog.tableExists(s"${t}_old"))
    } finally Seq(t, s"${t}_old", s"${t}_compact").foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("spanDedupIngestStream: duplicated index rows (crash-replay shape) change nothing") {
    // the index append is at-least-once under crash replay; duplicate
    // chunk keys must be harmless because the probe distinct's the seen set
    val root = java.nio.file.Files.createTempDirectory("graft-span-replay").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def runDrop(): Unit = {
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema)
      Streaming.spanDedupIngestStream(stream, s"$root/index", s"$root/ckpt",
          chunkTokens = 2, compactAfterDirs = 100)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
    }

    Seq((1L, "a b c d")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    // simulate a replayed append: a duplicate batch dir with the same keys
    spark.read.parquet(s"$root/index/batch=0")
      .write.mode("overwrite").parquet(s"$root/index/batch=77")
    // next drop still removes exactly the already-seen chunks, once
    Seq((2L, "a b x y")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/docs")
    runDrop()
    val out = spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "n_chunks", "n_removed")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "a b c d", 2L, 0L), (2L, "x y", 2L, 1L)))
  }

  test("dedupedStreamBounded: duplicate suppressed within horizon, re-emits after expiry") {
    val root = java.nio.file.Files.createTempDirectory("graft-wmdedup").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType)))
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    def runDrop(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val out = Streaming.dedupedStreamBounded(stream, Seq("k"), "ts", "1 hour")
      out.writeStream.option("checkpointLocation", s"$root/ckpt")
        .format("parquet").option("path", s"$root/out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }

    // drop 1: key 1 at 00:00 -> emits; watermark after = 00:00 - 1h
    Seq((1L, t(0))).toDF("k", "ts").coalesce(1)
      .write.mode("append").parquet(s"$root/in")
    runDrop()
    // drop 2: key 1 again at 10:00 — state not yet expired at batch START
    // (watermark < 01:00) -> SUPPRESSED; watermark advances to 09:00
    Seq((1L, t(10))).toDF("k", "ts").coalesce(1)
      .write.mode("append").parquet(s"$root/in")
    runDrop()
    // drop 3: key 1 at 11:00 — its old state expired (09:00 > 01:00),
    // so the key legitimately RE-EMITS
    Seq((1L, t(11))).toDF("k", "ts").coalesce(1)
      .write.mode("append").parquet(s"$root/in")
    runDrop()
    val emitted = spark.read.parquet(s"$root/out").as[Long].collect().toSeq
    assert(emitted == Seq(1L, 1L),
      s"expected emit + suppress + re-emit, got ${emitted.length} rows")
  }

  test("scd2Stream: a later drop closes versions opened by an earlier drop") {
    val root = java.nio.file.Files.createTempDirectory("graft-scd2").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType),
      StructField("ts", LongType), StructField("op", StringType)))
    // seed: key 1 current since t=0
    Seq((1L, 100L, 0L, Option.empty[Long])).toDF("k", "v", "valid_from", "valid_to")
      .coalesce(1).write.parquet(s"$root/dim/v=0")

    def runDrop(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      Streaming.scd2Stream(stream, s"$root/dim", s"$root/ckpt",
          Seq("k"), Seq("v"), "ts", "op")
        .awaitTermination()
    }

    // drop 1: update at t=5 (closes the seed)
    Seq((1L, 110L, 5L, "U")).toDF("k", "v", "ts", "op")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    runDrop()
    // drop 2: delete at t=9 — must close the version drop 1 OPENED
    Seq((1L, 0L, 9L, "D")).toDF("k", "v", "ts", "op")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    runDrop()
    val hist = Streaming.latestIvmView(spark, s"$root/dim")
      .orderBy("valid_from")
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(hist == Seq(
      (1L, 100L, 0L, Some(5L)),
      (1L, 110L, 5L, Some(9L)))) // closed by the cross-drop delete, no live row
  }

  test("boilerplateStripStream: a chunk crossing the df threshold in a LATER batch strips the early doc") {
    val root = java.nio.file.Files.createTempDirectory("graft-bp").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def runDrop(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      Streaming.boilerplateStripStream(stream, s"$root/state", s"$root/ckpt",
          chunkTokens = 2)
        .awaitTermination()
    }

    // batch 1: docs 1-2 share "n v" once each (df=2, below threshold 3)
    Seq((1L, "n v a a"), (2L, "n v b b")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    runDrop()
    val early = Streaming.boilerplateStripView(spark, s"$root/state",
        minDocFrequency = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(early == Seq((1L, "n v a a", 2L, 0L), (2L, "n v b b", 2L, 0L)))

    // batch 2: doc 3 pushes "n v" to df=3 — the view must NOW strip it
    // from docs 1 and 2 too (the non-causal part the per-batch emission
    // of a causal stream could never converge to)
    Seq((3L, "n v c c")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    runDrop()
    val late = Streaming.boilerplateStripView(spark, s"$root/state",
        minDocFrequency = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(late == Seq(
      (1L, "a a", 2L, 1L), (2L, "b b", 2L, 1L), (3L, "c c", 2L, 1L)),
      s"got $late")
    // and it equals the one-shot batch strip of the full corpus
    val batch = graft.llm.Dedup.stripBoilerplateSpans(
        Seq((1L, "n v a a"), (2L, "n v b b"), (3L, "n v c c"))
          .toDF("doc_id", "text"),
        "doc_id", chunkTokens = 2, minDocFrequency = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(late == batch)
  }

  test("versioned-map retention: DEFAULT bounds disk; time travel is the opt-in") {
    val root = java.nio.file.Files.createTempDirectory("graft-retain").toString
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))

    def runDrop(dir: String, retain: Option[Int]): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/edges")
      val q = retain match {
        case Some(r) => Streaming.incrementalCcStream(stream, s"$root/$dir",
          s"$root/ckpt-$dir", retainVersions = r)
        case None => Streaming.incrementalCcStream(stream, s"$root/$dir",
          s"$root/ckpt-$dir") // DEFAULT path under test
      }
      q.awaitTermination()
    }

    def versions(dir: String): Seq[Long] = new java.io.File(s"$root/$dir")
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong).sorted.toSeq

    // 6 single-file drops = 3x the default retention window of 2 —
    // batches 0..5 -> versions v=1..v=6. Both maps consume the same
    // drop directory via separate checkpoints.
    for (b <- 0 until 6) {
      Seq((b * 10L, b * 10L + 1L)).toDF("id_a", "id_b")
        .coalesce(1).write.mode("append").parquet(s"$root/edges")
      runDrop("map", None)          // default: bounded
      runDrop("tt", Some(0))        // opt-in: keep-all time travel
    }
    // DEFAULT: disk stays bounded at 2 versions (the commit + its replay
    // input) no matter how many microbatches ran
    assert(versions("map") == Seq(5L, 6L),
      s"default retention must keep exactly the newest 2, got ${versions("map")}")
    // OPT-IN (retainVersions = 0): every version survives as time travel
    assert(versions("tt") == (1L to 6L),
      s"retainVersions=0 must keep all versions, got ${versions("tt")}")
    // the surviving latest map is complete: all 6 drops' components
    val m = Streaming.latestIvmView(spark, s"$root/map")
      .as[(Long, Long)].collect().toMap
    assert(m == (0 until 6).flatMap(b =>
      Seq(b * 10L -> b * 10L, b * 10L + 1L -> b * 10L)).toMap)
  }

  test("incrementalCcStream: late bridge edge merges two streamed components") {
    val root = java.nio.file.Files.createTempDirectory("graft-scc").toString
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))

    def runDrop(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/edges")
      Streaming.incrementalCcStream(stream, s"$root/map", s"$root/ckpt")
        .awaitTermination()
    }

    // drop 1: two separate components {1,2,3} and {10,11}
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      .write.mode("append").parquet(s"$root/edges")
    runDrop()
    val m1 = Streaming.latestIvmView(spark, s"$root/map")
      .as[(Long, Long)].collect().toMap
    assert(m1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    // drop 2: a bridge 3-10 must merge BOTH components to min id 1 —
    // including vertex 11, reachable only through the compressed map
    Seq((3L, 10L)).toDF("id_a", "id_b")
      .write.mode("append").parquet(s"$root/edges")
    runDrop()
    val m2 = Streaming.latestIvmView(spark, s"$root/map")
      .as[(Long, Long)].collect().toMap
    assert(m2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("streaming near-dup index: bucketed layout prunes the probe and compacts") {
    import graft.llm.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-neardup-idx").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // per-doc seeded-random words: docs are distinct at the CHARACTER
    // level (minhash shingles are char n-grams), so nothing dedups away
    // and all 18 docs reach the index
    def texts(tag: String) = (0 until 6).map { i =>
      val rnd = new scala.util.Random(tag.hashCode * 31 + i)
      (0 until 15).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    }
    def drop(ids: Seq[Long], tag: String): Unit = {
      ids.zip(texts(tag)).toDF("doc_id", "text")
        .write.mode("append").parquet(s"$root/docs")
      val stream = Streaming.availableNowFileStream(spark, s"$root/docs", schema)
      // compactAfterFiles = 1: any partition touched by 2+ batches compacts
      Streaming.nearDupIngestStream(stream, s"$root/index", s"$root/ckpt",
          compactAfterFiles = 1)(
          (keep, bid) => keep.write.mode("overwrite")
            .parquet(s"$root/corpus/batch=$bid"))
        .awaitTermination()
    }
    drop(1L to 6L, "alpha")
    drop(11L to 16L, "beta")
    drop(21L to 26L, "gamma")

    // 1) layout: band-hash-prefix partition directories, all compacted back
    //    to one file each despite three append batches
    val pfxDirs = new java.io.File(s"$root/index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pfx="))
    assert(pfxDirs.nonEmpty, "index must be pfx= partitioned")
    val overFull = pfxDirs.filter(
      _.listFiles().count(_.getName.endsWith(".parquet")) > 1)
    assert(overFull.isEmpty,
      s"compaction must bound files/partition, over-full: ${overFull.map(_.getName).toSeq}")

    // 2) the probe for a small batch reads a STRICT subset of index files —
    //    asserted on the physical scan's post-pruning partition selection
    //    (Dataset.inputFiles lists the whole FileIndex, pruned or not)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
        .flatMap(_.selectedPartitions.toPartitionArray.map(_.filePath.toString))
        .toSet
    val allFiles = spark.read.parquet(s"$root/index").inputFiles.toSet
    val probeSigs = Dedup.bandedSignatures(
      Seq((99L, texts("alpha").head)).toDF("doc_id", "text"), "doc_id", "text")
    val pfxs = probeSigs.select(Dedup.indexPrefix(col("bucket")).as("p"))
      .distinct().as[Long].collect().map(_.toInt).toSeq
    val pruned = Dedup.readSignatureIndex(spark, s"$root/index", pfxs)
    val prunedFiles = scannedFiles(pruned)
    assert(prunedFiles.subsetOf(allFiles))
    assert(prunedFiles.size < allFiles.size,
      s"probe must prune: read ${prunedFiles.size} of ${allFiles.size} files")

    // 3) compaction preserved the index contents: all 18 kept docs indexed,
    //    and the near-dup probe still finds the duplicate through the index
    val indexed = spark.read.parquet(s"$root/index")
      .select("id").distinct().as[Long].collect().sorted.toSeq
    assert(indexed == ((1L to 6L) ++ (11L to 16L) ++ (21L to 26L)).sorted.toSeq)
    val hits = Dedup.minhashLshSigsAgainstIndex(probeSigs, pruned)
      .select("index_id").as[Long].collect().toSet
    assert(hits == Set(1L), s"pruned probe must find doc 99's near-dup, got $hits")
  }

  test("transitionStream: last-event state chains transitions across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-tr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-tr-ckpt").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("us", LongType), StructField("event_id", LongType)))
    def drop(rows: Seq[(Long, String, Long, Long)], n: Int): Unit = {
      val staging = java.nio.file.Files.createTempDirectory("graft-tr-staging").toString
      rows.toDF("user_id", "event_type", "us", "event_id")
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, s"drop$n.parquet"))
    }
    def run(): Seq[(String, String)] = {
      val ev = Streaming.availableNowFileStream(spark, dir, schema)
        .as[Streaming.TransitionEvent]
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val q = Streaming.transitionStream(ev).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => sink.add((r.getString(0), r.getString(1))))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sink.toArray.map(_.asInstanceOf[(String, String)]).toSeq
    }
    // batch 1: out-of-order within the batch — must sort by (us, event_id)
    drop(Seq((1L, "click", 2L, 11L), (1L, "view", 1L, 10L), (2L, "view", 5L, 12L)), 1)
    assert(run().sorted == Seq(("view", "click")))
    // batch 2: continuation events chain onto the CARRIED last event
    drop(Seq((1L, "purchase", 3L, 13L), (2L, "click", 6L, 14L)), 2)
    assert(run().sorted == Seq(("click", "purchase"), ("view", "click")))
  }

  test("kmvSketchStream: streamed min-k state re-merges to the batch sketch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-kmv").toString
    val rows = (0 until 300).map(v => ("A", v.toLong)) ++
      (150 until 450).map(v => ("B", v.toLong))
    // two files → AvailableNow may process them as separate microbatches;
    // duplicates across files exercise idempotence of the min-k state
    rows.toDF("shard", "v").write.parquet(s"$dir/d1")
    rows.take(100).toDF("shard", "v").write.mode("append").parquet(s"$dir/d1")
    val schema = StructType(Seq(
      StructField("shard", StringType), StructField("v", LongType)))
    val stream = Streaming.availableNowFileStream(spark, s"$dir/d1", schema)
      .select(col("shard"), graft.ops.Kmv.kmvHash(col("v")).as("h"))
    val emitted = Streaming.runAvailableNow(
      Streaming.kmvSketchStream(stream, k = 16),
      s"t_${System.nanoTime()}", outputMode = "update")
    val streamed = graft.ops.Kmv.sketchHashed(
        emitted.select(col("shard"), explode(col("kmv")).as("h")), k = 16)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val batch = graft.ops.Kmv.sketch(rows.toDF("shard", "v"), "shard", "v", k = 16)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(streamed == batch)
  }
  test("ewmaStream: state carries the fold across batches; out-of-order loud-fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ewma").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ewma-ck").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("us", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def drop(rows: Seq[(Long, Long, Long, Double)], n: Int): Unit = {
      val staging = java.nio.file.Files.createTempDirectory("graft-ewma-st").toString
      rows.toDF("user_id", "us", "event_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, s"drop$n.parquet"))
    }
    def run(): Map[Long, (Long, Double)] = {
      val ev = Streaming.availableNowFileStream(spark, dir, schema)
        .as[Streaming.EwmaEvent]
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
      val q = Streaming.ewmaStream(ev, alpha = 0.5).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => sink.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sink.toArray.map(_.asInstanceOf[(Long, Long, Double)])
        .groupBy(_._1).map { case (k, vs) =>
          val last = vs.maxBy(_._2); k -> ((last._2, last._3)) }
    }
    // batch 1 (shuffled in-batch order): user 1 folds 1 then 3 -> 2.0
    drop(Seq((1L, 2L, 11L, 3.0), (1L, 1L, 10L, 1.0), (2L, 1L, 12L, 7.0)), 1)
    val r1 = run()
    assert(r1(1L) == ((2L, 2.0)) && r1(2L) == ((1L, 7.0)), r1.toString)
    // batch 2 continues FROM THE CARRIED e: user 1 folds 5 -> 2*.5+5*.5 = 3.5
    drop(Seq((1L, 3L, 13L, 5.0)), 2)
    val r2 = run()
    assert(r2(1L) == ((3L, 3.5)), r2.toString)
    // batch 3 is older than the state -> the fold must loud-fail, not reorder
    drop(Seq((1L, 1L, 9L, 100.0)), 3)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(e.getMessage != null)
  }

}
