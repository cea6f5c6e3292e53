package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one streaming path (SURVEY.md §2.9, §3.2-3.3), two halves:
  *
  *   - an ORDERED-COMMIT SOURCE: a slicing rule ([[quantileSlices]],
  *     [[perEventSlices]], or caller-built slices) → [[commitSlices]] (one
  *     file commit per slice, mtime order = slice order) → [[openSlices]]
  *     (one commit per micro-batch). The replays and [[Channels]] topics
  *     are compositions of these pieces.
  *   - one RUN LIFECYCLE ([[run]]): session confs overridden and restored,
  *     query started, bounded wait, last plan captured, state stores
  *     unloaded. [[toParquet]], [[toUpsert]], [[runBatches]],
  *     [[toParquetWallclock]] and [[Channels.drain]] differ only in the
  *     writer they configure.
  *
  * This replaces the reference's wall-clock replay scripts
  * (streaming_pipeline/send_session_stream.py:82-83,
  * simulate_session_stream.py:89-93): correctness comes from event-time
  * processing + watermarks, not arrival pacing, so bounded frames replay
  * deterministically under `Trigger.AvailableNow` and streaming results are
  * plain DataFrames the correctness gate can compare against batch oracles
  * (replayable file sources are what make the runs exactly-once —
  * *Structured Streaming*, SIGMOD 2018).
  */
object StreamRunner {

  private val n = new AtomicInteger(0)

  private def tempDir(tag: String): String =
    graft.TempDirs.create(s"graft_${tag}_${n.incrementAndGet()}_")

  // --- ordered-commit source -------------------------------------------

  /** Replay-source dirs live in the session artifact store
    * ([[graft.queries.Materialize.memo]]), shared across queries: several
    * streaming queries replay the same bounded table, so the
    * materialization is written once per (session, shape, plan, source
    * state) and re-read by every query (each query still gets its own
    * checkpoint/sink). The logical plan's semanticHash sees only a
    * source's PATH, so the key's sources are the plan's file-relation
    * roots: the store fingerprints every file under them, and a source
    * regenerated in place (even preserving max(ts)) re-materializes
    * instead of replaying the stale slices of the old data. */
  private def replayDir(tag: String, frames: Seq[DataFrame])(write: => String): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val shape = frames.map(df => s"${df.schema.catalogString}|" +
      df.queryExecution.logical.canonicalized.semanticHash()).mkString("+")
    val roots = frames.flatMap(_.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten).distinct.sorted
    graft.queries.Materialize.memo(frames.head.sparkSession, s"$tag|$shape", roots)(write)
  }

  /** A fresh scratch dir holding `slices` as ordered commits. */
  private def commitTo(prefix: String, slices: Seq[DataFrame]): String = {
    val d = tempDir(prefix)
    commitSlices(d, slices)
    d
  }

  /** Materialize a bounded frame and re-open it as a parquet file stream.
    * `singleFile=true` forces one input file so `AvailableNow` runs exactly
    * one micro-batch (required by operators whose emission the harness wants
    * to compare 1:1 with batch, e.g. flatMapGroupsWithState). */
  def replay(spark: SparkSession, df: DataFrame, tag: String,
             singleFile: Boolean = false): DataFrame = {
    val dir = replayDir(s"replay|$singleFile", Seq(df)) {
      val d = tempDir(s"replay_$tag")
      val w = if (singleFile) df.coalesce(1) else df
      w.write.mode("overwrite").parquet(d)
      d
    }
    spark.readStream.schema(df.schema).parquet(dir)
  }

  /** T4 — event-time-paced replay: [[quantileSlices]], one slice per
    * micro-batch, so a downstream query processes the stream incrementally
    * in event-time order — the deterministic stand-in for the reference's
    * wall-clock-paced publisher (simulate_session_stream.py:89-93);
    * `speedFactor` maps to slice count / trigger rate, not to sleeps.
    * Stored like [[replay]] (same key discipline, + the slice shape): the
    * bench harness replays each paced query three times, and the slice
    * files' strictly-increasing mtimes replay in the same order from a
    * reused dir. */
  def replayPaced(spark: SparkSession, df: DataFrame, tsCol: String,
                  slices: Int, tag: String): DataFrame =
    openSlices(spark, replayDir(s"paced|$tsCol|$slices", Seq(df))(
      commitTo(s"paced_$tag", quantileSlices(df, tsCol, slices))), df.schema)

  /** Per-event replay: [[perEventSlices]] into a scratch dir, one commit
    * per micro-batch; returns (stream, micro-batch count). */
  def replayPerEvent(spark: SparkSession, df: DataFrame, tsCol: String,
                     tag: String, maxTimes: Int): (DataFrame, Int) = {
    val slices = perEventSlices(df, tsCol, maxTimes)
    (openSlices(spark, commitTo(s"pevent_$tag", slices), df.schema), slices.length)
  }

  /** Ordered multi-batch replay of caller-built slices: opened via
    * [[openSlices]], slice k is exactly micro-batch k. Callers append
    * far-future sentinel slices as EOF/flush punctuation: watermark-gated
    * emissions (outer-join null rows, final append-mode windows) need one
    * batch that ADVANCES the watermark past the data's tail and a later
    * batch that EXECUTES under it — a live stream gets both for free from
    * continuing traffic, a bounded replay must punctuate. Returns the dir;
    * call `openSlices` once per required source instance (twice for a
    * self-join's two sides). */
  def writeSlices(slices: Seq[DataFrame], tag: String): String =
    replayDir("slices", slices)(commitTo(s"slices_$tag", slices))

  /** A slice dir (or a [[Channels]] topic) as a stream: one commit per
    * micro-batch. */
  def openSlices(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** `slices` event-time-ordered, quantile-split on `tsCol`. A null pace
    * value fails every range filter and would vanish from the replay, so
    * it is refused before anything is committed (one aggregate). One slice
    * is the whole frame (`approxQuantile` with no probabilities returns
    * null); an empty frame gives `slices` empty slices. */
  def quantileSlices(df: DataFrame, tsCol: String, slices: Int): Seq[DataFrame] = {
    val Row(rows: Long, paced: Long) = df.agg(count(lit(1)), count(col(tsCol))).head()
    require(paced == rows,
      s"quantile pacing requires a non-null $tsCol on every row; ${rows - paced} of $rows are null")
    if (rows == 0 || slices == 1) Seq.fill(slices)(df)
    else {
      val withD = df.withColumn("__ts_d", col(tsCol).cast("double"))
      val qs = withD.stat.approxQuantile(
        "__ts_d", (1 until slices).map(_.toDouble / slices).toArray, 0.0)
      (0 until slices).map { j =>
        var part = withD
        if (j > 0) part = part.filter(col("__ts_d") >= qs(j - 1))
        if (j < slices - 1) part = part.filter(col("__ts_d") < qs(j))
        part.drop("__ts_d")
      }
    }
  }

  /** Per-event-Δt slicing (the reference's simulate_session_stream.py:63-108
    * publish loop): one slice per DISTINCT `tsCol` value, ascending, so
    * micro-batch k carries exactly the events of the k-th timestamp. The
    * reference sleeps each inter-event gap before publishing; here the gap
    * becomes commit order. Bounded: more than `maxTimes` distinct times is
    * refused (each is a source pass and a micro-batch) — long spans belong
    * to [[quantileSlices]]. */
  def perEventSlices(df: DataFrame, tsCol: String, maxTimes: Int): Seq[DataFrame] = {
    val times = df.select(col(tsCol)).distinct().orderBy(col(tsCol))
      .limit(maxTimes + 1).collect().map(_.get(0))
    require(times.nonEmpty, "per-event replay of an empty frame")
    // a null pace time cannot be ordered, and the per-time equality filter
    // would never match its rows — they would vanish from the replay
    require(!times.contains(null),
      s"per-event pacing requires a non-null $tsCol on every row")
    require(times.length <= maxTimes,
      s"per-event pacing supports at most $maxTimes distinct event times; " +
        "use speed-factor (quantile-slice) pacing for longer spans")
    times.toSeq.map(t => df.filter(col(tsCol) === lit(t)))
  }

  /** Write `slices` into `dir` as separate file commits, in order, stamped
    * past everything already there. The file source replays files in
    * modification-time order, and a single multi-part write commits parts
    * in task-completion (arbitrary) order — which would turn earlier-range
    * slices into droppable late data; a plain unstamped write after stamped
    * slices could likewise sort BETWEEN them. Commit order is pinned by
    * [[SliceStamper]], not the write clock. */
  def commitSlices(dir: String, slices: Seq[DataFrame]): Unit = {
    val stamper = new SliceStamper(dir)
    slices.foreach(commitSlice(_, dir, stamper))
  }

  /** Explicit, strictly increasing mtimes for a sequence of slice commits
    * into `dir`. Back-to-back commits can TIE on filesystems with coarse
    * (1 s) mtime granularity, so instead of trusting the write clock each
    * commit gets the next 2 s step past both "now" and anything already in
    * the dir (so appends to a topic with prior publishes stay ordered after
    * them). */
  private final class SliceStamper(dir: String) {
    private val t0 = {
      val existing = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      val maxExisting = existing.map(_.lastModified()).foldLeft(0L)(math.max)
      math.max(System.currentTimeMillis(), maxExisting + 2000L)
    }
    private var step = 0
    def next(): Long = { val t = t0 + step * 2000L; step += 1; t }
  }

  /** One slice commit into `dir` with its mtime stamped BEFORE the file
    * becomes visible there: parquet to a scratch dir, stamp the data file,
    * then rename it in (same filesystem — rename preserves the stamp). The
    * earlier write-then-restamp sequence had a window in which a
    * concurrently listing consumer (Channels doc: "publishers/consumers
    * are separate jobs") could observe and checkpoint the wall-clock
    * mtime — which, sorting between earlier future-stamped slices, is the
    * exact misordering the stamp exists to prevent. Part-file names carry
    * a task UUID, so cross-commit collisions cannot occur. */
  private def commitSlice(df: DataFrame, dir: String,
                          stamper: SliceStamper): Unit = {
    // stage INSIDE the target dir: a dot-prefixed subdir is invisible to
    // the file source's listing (hidden-path filter), and staying on the
    // target's own filesystem is what makes the renames below atomic —
    // a /tmp staging dir would throw AtomicMoveNotSupported whenever the
    // channel root lives on another mount
    val staging = java.nio.file.Paths.get(
      dir, s".staging_${java.util.UUID.randomUUID().toString.take(8)}")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val stamp = stamper.next()
    val parts = Option(staging.toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    for (f <- parts.sortBy(_.getName)) {
      f.setLastModified(stamp)
      java.nio.file.Files.move(
        f.toPath, java.nio.file.Paths.get(dir, f.getName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // remove the leftovers (_SUCCESS etc.) and the staging dir itself —
    // recursively and best-effort: an aborted/retried task can leave a
    // non-empty `_temporary` subdir, which a flat delete() skips silently
    // and a bare deleteIfExists(staging) then turns into a
    // DirectoryNotEmptyException AFTER the part files are already
    // committed. Cleanup failure past the renames must not fail the
    // publish; a survivor is scratch inside a TempDirs-tracked tree.
    try {
      val walk = java.nio.file.Files.walk(staging)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { try { java.nio.file.Files.deleteIfExists(p); () }
          catch {
            // a blanket Exception catch would swallow an interrupt and
            // clear the thread's flag — restore it so the caller's
            // cancellation still lands; everything else stays best-effort
            case _: InterruptedException => Thread.currentThread().interrupt()
            case scala.util.control.NonFatal(_) => ()
          } })
      finally walk.close()
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
  }

  // --- run lifecycle ---------------------------------------------------

  /** State partitions for harness-scale streaming queries. Stateful
    * streaming fixes its shuffle-partition count into the checkpoint at the
    * first batch, and per-batch state-store overhead scales with it — the
    * fixed per-partition cost (store open/commit + delta files + listener
    * traffic) dominates at harness scale and does NOT parallelize away:
    * measured on the full 15-query streaming subset at sf0.1 (warm pass,
    * identical code), 2 parts → 22.0 s, 4 → 24.7 s, 8 → 26.5 s,
    * 16 → 71.8 s (OPTIMIZATION_r16.md). Two partitions keep the
    * multi-partition code path (cross-partition key hashing) exercised.
    * Batch queries keep the session's setting; on a real cluster this is
    * sized to state volume, not taken from the batch default. */
  private val StateParts = "2"

  /** Last EXECUTED micro-batch plan per tag, captured at termination: a
    * streaming frame explained before `start()` shows only source
    * placeholders — the incremental shapes that matter (stateful operators,
    * append-mode eviction, the stream-static join) exist only in the
    * micro-batch execution, so `graft.Explain` reads them from here after
    * running the query. Session-lifetime, last run wins. */
  private val lastPlans = scala.collection.concurrent.TrieMap.empty[String, String]

  def lastStreamingPlan(tag: String): Option[String] = lastPlans.get(tag)

  /** The one run lifecycle. For the run's duration the session gets
    * [[StateParts]] shuffle partitions, `flush` as
    * `noDataMicroBatches.enabled`, and — iff the plan has a
    * `transformWithState` operator, which requires it — the RocksDB
    * state-store provider; each is restored to its previous value after.
    * The conf is session-global, so runs on one session must not overlap.
    *
    * `flush`: whether the query's OUTPUT depends on trailing no-data
    * micro-batches. The bounded-replay flush design for watermark-gated
    * APPEND emission (q19d's outer-join null rows, q20*'s final windows)
    * RELIES on them: sentinel rows ride in the final data slice, its
    * end-of-batch watermark clears everything real, and the no-data
    * batch(es) AvailableNow keeps running while stateful operators have
    * pending work execute the evictions that EMIT those results. Queries
    * whose emission is EAGER (inner joins, dropDuplicates*, update-mode
    * aggregation, NoTimeout flatMapGroupsWithState) emit everything during
    * the data batches; their trailing no-data batch is a pure
    * state-eviction scan producing zero output rows (measured ~0.3–1 s per
    * stateful operator at sf0.1) — those pass `flush = false`.
    *
    * `checkpoint`: a caller-owned location makes the run RESUMABLE (a later
    * run with it continues from the committed source offsets with
    * continuing batch ids — a [[Channels]] subscription's delivery cursor,
    * q45b's restart path); `None` is fresh one-shot scratch. `writer`
    * configures the sink on an `AvailableNow` writer (it may replace the
    * trigger); the query is stopped early once `stopWhen` holds. The wait
    * is bounded (a wedged stream fails the one query, not the whole
    * verification round), and the terminated query's state-store providers
    * are unloaded in a `finally`, so even a timed-out/failed query can't
    * leave its state resident to degrade every later stateful query in the
    * same JVM. */
  private[streaming] def run(sdf: DataFrame, tag: String, checkpoint: Option[String],
      flush: Boolean, stopWhen: StreamingQuery => Boolean)(
      writer: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val conf = sdf.sparkSession.conf
    val overrides = Seq(
      "spark.sql.shuffle.partitions" -> StateParts,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> flush.toString) ++
      (if (sdf.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
         Seq("spark.sql.streaming.stateStore.providerClass" ->
           "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
       else Nil)
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      val q = writer(sdf.writeStream
        .option("checkpointLocation", checkpoint.getOrElse(tempDir(s"chk_$tag")))
        .trigger(Trigger.AvailableNow())).start()
      try {
        val deadline = System.nanoTime() + 10 * 60 * 1000000000L
        while (!q.awaitTermination(50L)) {
          if (stopWhen(q)) q.stop()
          else if (System.nanoTime() > deadline) {
            q.stop()
            throw new IllegalStateException(s"streaming query $tag timed out")
          }
        }
      } finally {
        // best-effort plan capture (explain prints the last micro-batch's
        // physical plan) before the state stores unload
        try {
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(q.explain())
          val p = bos.toString("UTF-8")
          if (p.nonEmpty) lastPlans.put(tag, p)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    } finally {
      StateStore.stop()
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  private[streaming] def parquetSink(out: String)(
      w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.format("parquet").option("path", out).outputMode("append")

  /** Read a sink dir back pinned to the stream's own schema. An empty run
    * (zero micro-batches, or batches that emitted no rows) leaves no data
    * files, and schema *inference* over them throws — under the pinned
    * schema zero matched files is simply an empty frame, and a dir that was
    * never created reads the same. */
  private[streaming] def readSink(spark: SparkSession, dir: String,
                                  schema: StructType): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
      spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Run a streaming frame to completion with a caller-supplied
    * `foreachBatch` body — for pipelines that maintain their own
    * cross-batch state tables (q45b's seen-key set and packing offsets). */
  def runBatches(spark: SparkSession, sdf: DataFrame, tag: String,
                 flush: Boolean = true, checkpoint: Option[String] = None)(
                 f: (DataFrame, Long) => Unit): Unit =
    run(sdf, tag, checkpoint, flush, _ => false)(_.foreachBatch(f))

  /** Run an update-mode streaming frame into a KEYED parquet state table:
    * each micro-batch carries only the groups whose aggregate changed, and
    * `foreachBatch` merges them in by key — old rows for the batch's keys
    * are replaced (anti-join), everything else is carried forward — i.e.
    * MERGE INTO of a warehouse sink, the standard way Structured Streaming
    * maintains a keyed serving table. Each batch writes a NEW versioned dir
    * (never in-place over the dir it is reading), so a retried batch id
    * simply overwrites its own version — idempotent, preserving
    * exactly-once from the checkpointed source offsets. */
  def toUpsert(spark: SparkSession, sdf: DataFrame, keys: Seq[String],
               tag: String, flush: Boolean = true): DataFrame = {
    val base = tempDir(s"upsert_$tag")
    @volatile var current: Option[String] = None
    run(sdf, tag, None, flush, _ => false)(_.outputMode("update").foreachBatch {
      (batch: DataFrame, id: Long) =>
        val merged = current match {
          case None => batch
          case Some(dir) =>
            batch.sparkSession.read.schema(sdf.schema).parquet(dir)
              .join(batch.select(keys.map(col): _*), keys, "left_anti")
              .unionByName(batch)
        }
        val v = s"$base/v$id"
        merged.write.mode("overwrite").parquet(v)
        current = Some(v)
    })
    // no batch ran: the (empty) base dir is the empty table
    readSink(spark, current.getOrElse(base), sdf.schema)
  }

  /** Run an append-mode streaming frame to a parquet sink (row-level
    * results too big for the driver) and read the sink back. */
  def toParquet(spark: SparkSession, sdf: DataFrame, tag: String,
                checkpoint: Option[String] = None,
                flush: Boolean = true): DataFrame = {
    val out = tempDir(s"sink_$tag")
    run(sdf, tag, checkpoint, flush, _ => false)(parquetSink(out))
    readSink(spark, out, sdf.schema)
  }

  /** [[toParquet]] on a REAL wall-clock trigger — the reference demo's
    * pacing behavior (simulate_session_stream.py:89-93 sleeps the
    * inter-event gap; send_session_stream.py publishes one simulated minute
    * per real minute): micro-batches FIRE every `intervalMs` of wall time
    * instead of AvailableNow draining the backlog as fast as it can. With
    * the source opened by [[openSlices]], each firing consumes exactly one
    * publishing minute of data. A ProcessingTime query never
    * self-terminates, so the run stops once `expectBatches` NON-EMPTY
    * batches have fired (or `timeoutMs`, a flake bound for CI hosts —
    * partial progress is returned, never an exception). Returns (sink
    * frame, observed non-empty batch count). Correctness is identical to
    * [[toParquet]] — event-time semantics don't depend on arrival pacing
    * (SURVEY §3.2) — this mode exists because the demo cadence itself is
    * reference behavior a user may want to reproduce. */
  def toParquetWallclock(spark: SparkSession, sdf: DataFrame, tag: String,
                         intervalMs: Long, expectBatches: Int,
                         checkpoint: Option[String] = None,
                         timeoutMs: Long = 120000L): (DataFrame, Int) = {
    val out = tempDir(s"sink_$tag")
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var nonEmpty = 0
    run(sdf, tag, checkpoint, flush = false, { q =>
      nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      nonEmpty >= expectBatches || System.nanoTime() > deadline
    })(parquetSink(out)(_).trigger(Trigger.ProcessingTime(intervalMs)))
    (readSink(spark, out, sdf.schema), nonEmpty)
  }
}
