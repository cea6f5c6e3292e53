package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics the batch oracle can't check: watermark-driven late
  * data dropping, driven deterministically through MemoryStream
  * (SURVEY.md §5.2.2 — no wall-clock sleeps). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window append mode drops events later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val windowed = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".cast("string").as("ws"), $"cnt")
    val q = windowed.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: two on-time events in [10:00, 10:10)
      mem.addData((ts(1), "a"), (ts(5), "a"))
      q.processAllAvailable()
      // batch 2: advance event time to 10:31 → watermark 10:26 closes [10:00,10:10)
      mem.addData((ts(31), "a"))
      q.processAllAvailable()
      // batch 3: a late event for the closed window — must be dropped
      mem.addData((ts(2), "late"))
      q.processAllAvailable()
      // batch 4: advance far enough to close [10:30,10:40) too
      mem.addData((Timestamp.valueOf("2024-01-01 11:00:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table("wm_test").as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 10:00:00") === 2L, "late event must not inflate the closed window")
      assert(rows("2024-01-01 10:30:00") === 1L)
    } finally q.stop()
  }

  test("AvailableNow re-runs resume offsets, state, and watermark from the checkpoint") {
    // the incremental-batch production pattern: a cron-style job re-starts
    // the SAME query on the SAME checkpoint as new files land. One
    // assertion pins all three recovery guarantees: the window count 2
    // proves run-1's rows were neither lost (state restored) nor
    // reprocessed by later runs (source offsets resumed — a re-read would
    // double it to 4), and that it is emitted at all proves the watermark
    // advanced across restarts rather than resetting.
    val src = TempDirs.create("graft_resume_src_")
    val chk = TempDirs.create("graft_resume_chk_")
    val out = TempDirs.create("graft_resume_out_")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    def land(name: String, rows: (Timestamp, String)*): Unit =
      rows.toSeq.toDF("ts", "k").coalesce(1)
        .write.mode("overwrite").parquet(s"$src/$name")
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$src/*")
        .withWatermark("ts", "5 minutes")
        .groupBy(window($"ts", "10 minutes"), $"k")
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".as("ws"), $"k", $"cnt")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "resume run timed out")
      finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
    land("a", (ts(1), "a"), (ts(5), "a")); run() // state: [10:00,10:10)→2
    land("b", (Timestamp.valueOf("2024-01-01 11:00:00"), "a")); run()
    land("c", (Timestamp.valueOf("2024-01-01 12:00:00"), "a")); run()
    val rows = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ws",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType)))).parquet(out)
      .as[(Timestamp, String, Long)].collect().map(r => r._1.toString -> r._3).toMap
    assert(rows("2024-01-01 10:00:00.0") === 2L,
      s"run-1 state lost or reprocessed across restarts: $rows")
    assert(rows("2024-01-01 11:00:00.0") === 1L, rows.toString)
  }

  test("q29c gate state is EVICTED behind the watermark, never corpus-sized") {
    // VERDICT r9 #4: the in-flight-state claim, configured and measured.
    // The gate's only stateful operator groups by (event-time window,
    // doc_id) behind a watermark; once the watermark passes a window its
    // groups leave the store. A long replay (4 slices, far apart in
    // arrival time) must therefore end with state ~ one slice's docs in
    // the horizon — NOT the 4-slice corpus a TTL-less per-doc count
    // would have accumulated.
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().take(50).toSeq
    assert(docs.size == 50, s"fixture too small: ${docs.size}")
    val mem = MemoryStream[(Long, String)]
    val gated = graft.queries.DedupQueries.neardupGateStream(
      spark, sf, mem.toDF().toDF("doc_id", "text"))
    val q = gated.writeStream.format("memory").queryName("gate_state_test")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      var lastState = -1L
      for (k <- 0 until 4) {
        // fresh ids per slice, arrival times ~28 h apart — each slice is
        // far outside the previous slices' watermark horizon
        mem.addData(docs.map { case (id, text) => (id + k * 100000L, text) }: _*)
        q.processAllAvailable()
        lastState = q.recentProgress.toSeq.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal).lastOption.getOrElse(-1L)
      }
      // every doc of every slice was gated exactly once...
      val emitted = spark.table("gate_state_test")
        .select($"doc_id").distinct().count()
      assert(emitted === 200L, s"expected 200 gated docs, got $emitted")
      // ...but the store holds only the horizon, not the corpus
      assert(lastState >= 0, "no state-operator metrics reported")
      assert(lastState < 100,
        s"state not evicted: $lastState rows in store after 200 docs ingested")
    } finally q.stop()
  }

  test("streaming observe() surfaces per-batch health counters in query progress") {
    // the streaming half of runBatchObserved's zero-extra-scan monitoring:
    // observe() on an unbounded frame reports its aggregates PER MICRO-BATCH
    // through StreamingQueryProgress.observedMetrics — Beam's per-step
    // counters, with no second pass over the stream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val observed = mem.toDF().toDF("id", "price")
      .observe("ingest_health",
        count(lit(1)).as("rows"),
        count_if($"price" < 0).as("bad_prices"))
      .select($"id")
    val q = observed.writeStream.format("memory").queryName("obs_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1L, 9.5), (2L, -1.0))
      q.processAllAvailable()
      mem.addData((3L, 2.0))
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest_health")))
        .map(r => (r.getAs[Long]("rows"), r.getAs[Long]("bad_prices")))
      assert(metrics.contains((2L, 1L)), s"first batch counters missing: $metrics")
      assert(metrics.contains((1L, 0L)), s"second batch counters missing: $metrics")
    } finally q.stop()
  }

  test("RocksDB state store provider backs stateful queries (100 TB state backend)") {
    // At 100 TB of streaming state the default in-memory HDFS-backed store
    // OOMs; RocksDB spills state off-heap/on-disk per executor. This pins
    // that the documented SURVEY §8.1 knob actually works on this build.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, String)]
      val distincted = mem.toDF().toDF("ts", "k").dropDuplicates("k")
      val q = distincted.writeStream.format("memory").queryName("rocks_test")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        mem.addData((ts(1), "x"), (ts(2), "y"), (ts(3), "x"))
        q.processAllAvailable()
        mem.addData((ts(4), "x"), (ts(5), "z"))
        q.processAllAvailable()
        val ks = spark.table("rocks_test").select("k").as[String].collect().sorted.toSeq
        assert(ks === Seq("x", "y", "z"))
        // evidence RocksDB (not the default provider) served the state:
        // its provider-specific metrics appear on the state operator
        val custom = q.lastProgress.stateOperators.head.customMetrics
        assert(custom.keySet.asScala.exists(_.startsWith("rocksdb")),
          s"expected rocksdb* custom metrics, got ${custom.keySet}")
      } finally q.stop()
    } finally {
      spark.conf.unset(key)
      // unload the RocksDB providers so later suites get fresh default state
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  test("dedup attribution emits as-of-emission canonicals across micro-batches") {
    // q29's operator contract beyond the single-batch oracle: per-hash
    // state holds the minimum doc_id seen SO FAR, so an earlier emission's
    // attribution stands (append mode) while later arrivals of the same
    // content attribute to the tightened canonical. Canonicals are
    // monotonically non-increasing per key.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val mem = MemoryStream[(Long, String)]
    val attributed = mem.toDS()
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          val ids = rows.map(_._1).toArray.sorted
          val canon = state.getOption.fold(ids.head)(c => math.min(c, ids.head))
          state.update(canon)
          ids.iterator.map(id => (id, canon, id != canon))
      }
      .toDF("doc_id", "dup_of", "is_dup")
    val q = attributed.writeStream.format("memory").queryName("attr_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((5L, "a"), (6L, "b"))
      q.processAllAvailable()
      mem.addData((9L, "a"), (3L, "a"))
      q.processAllAvailable()
      val rows = spark.table("attr_test")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(rows(5L) === ((5L, false)), "first arrival is its own canonical")
      assert(rows(6L) === ((6L, false)))
      // batch 2: 3 < 5 tightens the canonical for 'a'; both batch-2 docs
      // attribute to 3, and 5's already-emitted attribution stands
      assert(rows(3L) === ((3L, false)))
      assert(rows(9L) === ((3L, true)))
    } finally {
      q.stop()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  test("streaming dropDuplicates keeps state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val distincted = mem.toDF().toDF("ts", "k").dropDuplicates("k")
    val q = distincted.writeStream.format("memory").queryName("dd_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((ts(1), "x"), (ts(2), "y"))
      q.processAllAvailable()
      mem.addData((ts(3), "x"), (ts(4), "z"))
      q.processAllAvailable()
      val ks = spark.table("dd_test").select("k").as[String].collect().sorted.toSeq
      assert(ks === Seq("x", "y", "z"))
    } finally q.stop()
  }

  test("toUpsert on an empty replay returns an empty frame with the stream's schema") {
    import graft.sources.Tables
    import graft.streaming.StreamRunner
    val src = Tables.events(spark, sf).filter(col("event_id") < 0) // empty
    val stream = StreamRunner.replay(spark, src, "upsert_empty")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val out = StreamRunner.toUpsert(spark, stream, Seq("event_type"), "upsert_empty")
    assert(out.columns.toSeq === Seq("event_type", "cnt"))
    assert(out.count() === 0L)
  }

  test("a stream run restores the session confs it overrides") {
    import graft.sources.Tables
    import graft.streaming.StreamRunner
    val keys = Seq("spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    val before = keys.map(spark.conf.get)
    try {
      val stream = StreamRunner.replay(spark,
        Tables.events(spark, sf).select(col("event_id")), "conf_restore")
      assert(StreamRunner.toParquet(spark, stream, "conf_restore").count() > 0)
      assert(keys.map(spark.conf.get) === before)
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ProcessingTime trigger paces non-empty micro-batches on the wall clock") {
    // The one reference behavior the AvailableNow harness never executes:
    // real-time pacing (simulate_session_stream.py:89-93 sleeps Δevent-time
    // between publishes so consumers see data arrive over wall time). Here
    // the q19-shaped pipeline runs under a genuine wall-clock
    // ProcessingTime trigger over a paced slice dir (maxFilesPerTrigger=1):
    // the slices must arrive as separately-triggered non-empty
    // micro-batches and the query must stop cleanly. Flake-bounded: a
    // generous polling deadline, ">= 2 non-empty batches" rather than an
    // exact count, and completeness asserted on the sink row count (every
    // slice processed), not on trigger timing.
    import graft.sources.Tables
    import graft.streaming.StreamRunner
    val src = Tables.events(spark, sf)
      .filter(col("event_type") =!= "error")
      .select(col("event_id"), col("ts"), col("event_type"),
        col("value").cast("double").as("price"))
    val expected = src.count()
    val stream = StreamRunner.replayPaced(spark, src, "ts", slices = 4, tag = "ptime")
      .withColumn("hour", hour(col("ts")))
    val q = stream.writeStream.format("memory").queryName("ptime_smoke")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120 * 1000L
      while (spark.table("ptime_smoke").count() < expected &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(spark.table("ptime_smoke").count() === expected,
        s"sink incomplete after 120s: ${spark.table("ptime_smoke").count()} of $expected")
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      assert(nonEmpty.length >= 2,
        s"expected >=2 non-empty wall-clock-triggered micro-batches, saw ${nonEmpty.length}")
      // distinct trigger timestamps prove separate wall-clock ticks, not
      // one batch split by the progress reporter
      assert(nonEmpty.map(_.timestamp).distinct.length >= 2)
      assert(q.exception.isEmpty, s"query raised: ${q.exception}")
    } finally q.stop()
    assert(q.exception.isEmpty, "stop must be clean")
  }

  /** q45b stream-batch parity under FORCED cross-slice state: a fixture
    * where a later micro-batch carries (a) an exact duplicate of an
    * earlier slice's keeper — only the seen-key state can drop it — and
    * (b) a duplicate of a history doc. The sf-scale oracle run can pass
    * without ever exercising (a); this pins it. */
  test("q45b streaming curation: cross-slice dedup + offset state match the batch DAG") {
    // 120 docs, all-distinct 20-word texts (pass every quality gate);
    // batch rule at this size is doc_id % 7 == 0 -> 18 batch docs over 4
    // doc_id-ordered slices
    val texts = (0 until 120).map { d =>
      (0 until 20).map(i => s"w${d * 31 + i}x").mkString(" ")
    }.toArray
    texts(70) = texts(7)   // cross-slice batch dup (slice ~1 vs ~3)
    texts(21) = texts(1)   // batch doc duplicating standing history
    texts(28) = texts(14)  // second cross-slice pair
    val d = TempDirs.create("graft_q45b_fix_")
    (0 until 120).map(i =>
        (i.toLong, texts(i), if (i % 3 == 0) "en" else "de", "src0", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = SparkEntry.queries("q45_incremental_curation")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val stream = SparkEntry.queries("q45b_streaming_curation")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stream === batch, "stream and batch DAGs diverged on the fixture")
    assert(stream.nonEmpty)
    val docs = stream.map(_._2).toSet
    assert(docs.contains(7L), "slice-1 keeper must survive")
    assert(!docs.contains(70L), "cross-slice duplicate must be dropped by seen-key state")
    assert(!docs.contains(21L), "history duplicate must be dropped")
    assert(!docs.contains(28L), "second cross-slice duplicate must be dropped")
    assert(docs.contains(14L), "second pair's keeper must survive")
    // q45c: the ENGINE-state variant (transformWithState seen keys) must
    // agree on the same forced cross-slice fixture — three state designs,
    // one answer
    val tws = SparkEntry.queries("q45c_streaming_curation_tws")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(tws === batch, "engine-state variant diverged on the fixture")
  }

  /** q45b RESTART + state-maintenance contract (VERDICT r14 #1): the job is
    * killed between slices and restarted with the same checkpoint/stateRoot
    * — the restart's seen-set and packing offsets must be RECOVERED from
    * the versioned state listing (the driver that held them is gone by
    * construction: each runStreamingCuration call starts with no in-memory
    * state), and the final output must be byte-identical to the batch DAG.
    * Also pins the delta-log shape: each committed seen_v<id> holds ONLY
    * its slice's new keys (disjoint, summing to the union — per-slice
    * state-write rows ∝ slice, not ∝ accumulated history), and compaction
    * fires after CompactEvery deltas. */
  test("q45b restart: state recovered from stateRoot listing, delta writes ∝ slice") {
    val texts = (0 until 120).map { d =>
      (0 until 20).map(i => s"r${d * 37 + i}y").mkString(" ")
    }.toArray
    texts(70) = texts(7)   // duplicate pair CROSSING the restart boundary
    texts(21) = texts(1)   // batch doc duplicating standing history
    val d = TempDirs.create("graft_q45b_rst_")
    (0 until 120).map(i =>
        (i.toLong, texts(i), if (i % 3 == 0) "en" else "de", "src0", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = SparkEntry.queries("q45_incremental_curation")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq

    val bd = graft.queries.CurationPipeline.curationBatchDocs(spark, d)
    val ids = bd.select("doc_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    assert(ids.contains(7L) && ids.contains(70L) && 7L < mid && mid <= 70L,
      "fixture must place the duplicate pair on opposite sides of the restart")
    val srcDir = TempDirs.create("graft_q45b_rst_src_")
    val outRoot = TempDirs.create("graft_q45b_rst_out_")
    val stateRoot = TempDirs.create("graft_q45b_rst_state_")
    val chk = TempDirs.create("graft_q45b_rst_chk_")
    def openSrc() = spark.readStream.schema(bd.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    // first run: only the first half of the nightly batch has arrived
    streaming.StreamRunner.commitSlices(srcDir,
      streaming.StreamRunner.quantileSlices(bd.filter(col("doc_id") < mid), "dts", 2))
    graft.queries.CurationPipeline.runStreamingCuration(
      spark, d, openSrc(), outRoot, stateRoot, chk)
    // crash/redeploy: the second half arrives, a FRESH call (no driver
    // state survives) resumes from the same checkpoint + stateRoot
    streaming.StreamRunner.commitSlices(srcDir,
      streaming.StreamRunner.quantileSlices(bd.filter(col("doc_id") >= mid), "dts", 2))
    graft.queries.CurationPipeline.runStreamingCuration(
      spark, d, openSrc(), outRoot, stateRoot, chk)

    val streamed = graft.queries.CurationPipeline.readPacked(spark, outRoot)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed === batch,
      "restarted stream diverged from the batch DAG — state not recovered")
    val docs = streamed.map(_._2).toSet
    assert(docs.contains(7L) && !docs.contains(70L),
      "post-restart slice must drop the pre-restart keeper's duplicate " +
        "via the RECOVERED seen-key state")
    // delta-log contract: 4 per-slice deltas, key-disjoint (rows sum to the
    // union), none cumulative
    val stats = graft.queries.CurationPipeline.seenDeltaStats(spark, stateRoot)
    assert(stats.map(_._1) === Seq(0L, 1L, 2L, 3L), s"expected 4 deltas: $stats")
    val union = spark.read.parquet(stats.map(v => s"$stateRoot/seen_v${v._1}"): _*)
      .distinct().count()
    assert(stats.map(_._2).sum === union,
      s"deltas must be key-disjoint slices of the seen set: $stats vs union $union")
    assert(stats.map(_._2).max < union,
      s"a delta holding the whole seen set is a cumulative rewrite: $stats")
    // compaction fired at batch id 2 (CompactEvery=3) and covers deltas 0-2
    val compact = spark.read.parquet(s"$stateRoot/seen_compact_v2")
    assert(compact.distinct().count() === stats.take(3).map(_._2).sum,
      "compact_v2 must fold exactly deltas v0-v2")
  }
}
