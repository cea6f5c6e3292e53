package graft

import java.nio.file.{Files, Path, Paths}

import graft.queries.{Materialize, StreamingQueries}
import graft.sources.Tables
import graft.streaming.StreamRunner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}

/** The session artifact store must never serve stale data: every entry is
  * keyed on a fingerprint of its sources, so a source rewritten in place —
  * same file names, new rows — rebuilds each layer that read it, and a pin
  * tag reused for another shape infers that shape. */
class ArtifactStoreSpec extends SparkSpec {

  /** 2024-01-08T00:00:00Z in epoch seconds. */
  private val t0 = 1704672000L

  /** `n` events with ids from `first`, one minute apart from t0. */
  private def events(first: Long, n: Int): DataFrame =
    spark.range(first, first + n).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(t0) + (col("id") - first) * 60).as("ts"),
      col("id").as("user_id"), lit("view").as("event_type"),
      lit(1.0).as("value"), lit(null).cast("string").as("props"))

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-") ||
        p.getFileName.toString.startsWith(".part-"))
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Overwrite the single part file of `table` (and its checksum) in
    * place, under the same names, with `df`'s rows. */
  private def rewriteInPlace(table: Path, df: DataFrame): Unit = {
    val staged = Paths.get(TempDirs.create("graft_spec_staged_"))
    df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val (olds, news) = (dataFiles(table), dataFiles(staged))
    assert(olds.size === 2 && news.size === 2, s"$olds / $news")
    // sorted names pair the checksum (.part-*.crc) and the part file
    olds.zip(news).foreach { case (o, n) => Files.write(o, Files.readAllBytes(n)) }
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq

  test("a part file rewritten in place is re-read by every store layer") {
    val dir = TempDirs.create("graft_spec_stale_")
    val table = Paths.get(dir, "events.parquet")
    events(1, 3).coalesce(1).write.parquet(table.toString)

    def viaTables = Tables.events(spark, dir)
    def viaTag = Materialize(spark, dir, "spec_stale")(viaTables.select(col("event_id")))
    def viaReplay = StreamRunner.toParquet(spark,
      StreamRunner.replay(spark, viaTables, "spec_stale").select(col("event_id")), "spec_stale")
    def maxTs = StreamingQueries.maxEventTs(spark, dir).getTime / 1000 - t0

    val before = Seq(1L, 2L, 3L)
    assert(ids(viaTables) === before)
    assert(ids(viaTag) === before)
    assert(ids(viaReplay) === before)
    assert(maxTs === 120L)

    rewriteInPlace(table, events(11, 5))
    val after = Seq(11L, 12L, 13L, 14L, 15L)
    assert(ids(viaTables) === after, "Tables")
    assert(ids(viaTag) === after, "Materialize tag")
    assert(ids(viaReplay) === after, "StreamRunner.replay")
    assert(maxTs === 240L, "maxEventTs")
  }

  test("a pin tag reused for a differently shaped frame reads that frame's columns") {
    val a = spark.range(3).select(col("id"), (col("id") * 2).as("twice"))
    val b = spark.range(2).select(col("id").cast("string").as("name"), lit(1.5).as("score"))
    val ra = Materialize.pinnedRead(spark, "spec_pin", TempDirs.create("graft_spec_pin_"))(a)
    val rb = Materialize.pinnedRead(spark, "spec_pin", TempDirs.create("graft_spec_pin_"))(b)
    assert(ra.columns.toSeq === Seq("id", "twice"))
    assert(rb.columns.toSeq === Seq("name", "score"))
    assert(rb.collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq ===
      Seq(("0", 1.5), ("1", 1.5)))
  }
}
