package graft

import graft.streaming.{Channels, StreamRunner}
import org.apache.spark.sql.functions._

/** The channel admin lifecycle (S-stream analogue of Pub/Sub topic/
  * subscription management, simulate_session_stream.py:141-156): create /
  * list / delete parity, fan-out to independent subscriptions, and the
  * checkpointed delivery cursor (a drain delivers only messages published
  * since that subscription's last drain). */
class ChannelsSpec extends SparkSpec {

  private def msgs(xs: String*) =
    xs.foldLeft(spark.range(0).select(lit(Array.emptyByteArray).as("value")))(
      (df, x) => df.unionByName(
        spark.range(1).select(lit(x.getBytes("UTF-8")).as("value"))))

  private def strings(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("value").cast("string")).collect().map(_.getString(0)).toSet

  test("create/list/delete lifecycle with AlreadyExists/NotFound parity") {
    val ch = Channels(TempDirs.create("graft_ch_admin_"))
    assert(ch.listTopics() === Nil)
    ch.createTopic("sessions")
    ch.createSubscription("etl", "sessions")
    assert(ch.listTopics() === Seq("sessions"))
    assert(ch.listSubscriptions() === Seq("etl"))
    // AlreadyExists parity
    assertThrows[IllegalArgumentException](ch.createTopic("sessions"))
    assertThrows[IllegalArgumentException](ch.createSubscription("etl", "sessions"))
    // NotFound parity: a subscription needs its topic at create time
    assertThrows[IllegalArgumentException](ch.createSubscription("x", "missing"))
    ch.deleteSubscription("etl")
    ch.deleteTopic("sessions")
    assert(ch.listTopics() === Nil && ch.listSubscriptions() === Nil)
    assertThrows[IllegalArgumentException](ch.deleteTopic("sessions"))
  }

  test("subscriptions fan out and track independent delivery cursors") {
    val ch = Channels(TempDirs.create("graft_ch_data_"))
    ch.createTopic("t")
    ch.createSubscription("early", "t")
    ch.publish("t", Seq(msgs("a", "b")))
    val earlyOut = TempDirs.create("graft_ch_early_")
    assert(strings(ch.drain(spark, "early", earlyOut)) === Set("a", "b"))
    // the drain ran through the one run lifecycle: its plan is captured
    assert(StreamRunner.lastStreamingPlan("drain_early").nonEmpty)
    // second drain with no new publishes: nothing new delivered
    assert(strings(ch.drain(spark, "early", earlyOut)) === Set("a", "b"))
    // new publish: the cursor resumes from the last drained commit
    ch.publish("t", Seq(msgs("c")))
    assert(strings(ch.drain(spark, "early", earlyOut)) === Set("a", "b", "c"))
    // a late subscription still receives the full topic (fan-out)
    ch.createSubscription("late", "t")
    val lateOut = TempDirs.create("graft_ch_late_")
    assert(strings(ch.drain(spark, "late", lateOut)) === Set("a", "b", "c"))
  }

  test("a detached subscription keeps what it consumed and stops receiving") {
    val ch = Channels(TempDirs.create("graft_ch_detach_"))
    ch.createTopic("t")
    ch.createSubscription("s", "t")
    ch.publish("t", Seq(msgs("a", "b")))
    val out = TempDirs.create("graft_ch_detach_out_")
    assert(strings(ch.drain(spark, "s", out)) === Set("a", "b"))
    ch.deleteTopic("t")
    // Pub/Sub detached-subscription parity: no error, nothing new, the
    // already-consumed sink intact (the deleted topic's backlog is gone)
    assert(strings(ch.drain(spark, "s", out)) === Set("a", "b"))
  }

  test("a re-created topic is a new incarnation: stale-bound drains refuse") {
    val ch = Channels(TempDirs.create("graft_ch_incarn_"))
    ch.createTopic("t")
    ch.createSubscription("s", "t")
    ch.publish("t", Seq(msgs("a")))
    val out = TempDirs.create("graft_ch_incarn_out_")
    assert(strings(ch.drain(spark, "s", out)) === Set("a"))
    ch.deleteTopic("t")
    ch.createTopic("t") // same name, NEW topic resource
    ch.publish("t", Seq(msgs("b")))
    // the old binding's seen-files log could skip/misorder the new
    // incarnation's messages — the drain must refuse, not guess
    val e = intercept[IllegalArgumentException](ch.drain(spark, "s", out))
    assert(e.getMessage.contains("re-created"))
    // a fresh binding to the new incarnation reads it cleanly
    ch.createSubscription("s2", "t")
    val out2 = TempDirs.create("graft_ch_incarn_out2_")
    assert(strings(ch.drain(spark, "s2", out2)) === Set("b"))
  }

  test("a legacy subscription without an incarnation marker still drains") {
    val ch = Channels(TempDirs.create("graft_ch_legacy_"))
    ch.createTopic("t")
    ch.createSubscription("s", "t")
    ch.publish("t", Seq(msgs("a")))
    // a subscription dir from before incarnation stamping has no marker;
    // against a stamped topic the drain must refuse CLEANLY (binding can't
    // be verified), not crash with NoSuchFileException
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      ch.root, "subscriptions", "s", "INCARNATION"))
    val out = TempDirs.create("graft_ch_legacy_out_")
    val e = intercept[IllegalArgumentException](ch.drain(spark, "s", out))
    assert(e.getMessage.contains("re-created"))
    // a fully legacy pair (topic unstamped too) must still drain: both
    // sides resolve to the "" incarnation
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      ch.root, "topics", "t", "_INCARNATION"))
    assert(strings(ch.drain(spark, "s", out)) === Set("a"))
  }

  test("a bulk publish after paced slices commits after them in mtime order") {
    val ch = Channels(TempDirs.create("graft_ch_order_"))
    ch.createTopic("t")
    val paced = spark.range(8).selectExpr(
      "CAST(CAST(id AS STRING) AS BINARY) AS value",
      "timestamp_seconds(1704067200 + id * 60) AS pts")
    ch.publish("t", StreamRunner.quantileSlices(paced, "pts", 4).map(_.drop("pts")))
    val topicDir = new java.io.File(s"${ch.root}/topics/t")
    def snapshot() = topicDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = snapshot()
    ch.publish("t", Seq(msgs("late")))
    val after = snapshot()
    // paced slices are stamped AHEAD of the wall clock; an unstamped bulk
    // commit would sort between them and break replay order
    val newest = after.filterNot { case (n, _) => before.contains(n) }.values
    assert(newest.nonEmpty)
    assert(newest.min > before.values.max,
      s"bulk commit not ordered after paced slices: ${newest.min} <= ${before.values.max}")
  }

  test("draining a never-published topic yields an empty, well-typed frame") {
    val ch = Channels(TempDirs.create("graft_ch_empty_"))
    ch.createTopic("quiet")
    ch.createSubscription("s", "quiet")
    val out = TempDirs.create("graft_ch_empty_out_")
    val drained = ch.drain(spark, "s", out)
    assert(drained.count() === 0)
    assert(drained.schema === ch.messageSchema)
  }

  test("wire-schema guard rejects non-message frames") {
    val ch = Channels(TempDirs.create("graft_ch_guard_"))
    ch.createTopic("t")
    assertThrows[IllegalArgumentException](
      ch.publish("t", Seq(spark.range(1).select(col("id")))))
  }
}
