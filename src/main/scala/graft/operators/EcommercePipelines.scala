package graft.operators

import graft.sources.Ecommerce
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two pipelines end-to-end, Spark-native (SURVEY.md §3):
  *
  *   - [[runBatch]] ≙ `write_session_batch.py`: CSV → transform →
  *     OLTP-style table. The reference's per-100-row pandas loop with a
  *     `toPandas()` collect per chunk (§3.1) collapses into one lazy narrow
  *     plan: scan → stringify/dict-pack/record-id → parquet append. No
  *     driver materialization anywhere — the 100 TB constraint.
  *
  *   - the streaming pipeline ≙ `send_session_stream.py` +
  *     `write_session_stream.py` is `graft.ReplayPipelineCli`: rows →
  *     comma-joined UTF-8 messages (the Pub/Sub wire format, S4) → paced
  *     replay → [[decodeWire]] (S5) → per-event transform (T2) → append
  *     sink (T3), on Structured Streaming with a deterministic replay
  *     instead of wall-clock pacing (§3.2).
  */
object EcommercePipelines {

  /** Batch pipeline: returns the sink-shaped frame (all-string columns,
    * dict-packed category_code, record_id) and writes it if `out` is set. */
  def runBatch(spark: SparkSession, csvPath: String, out: Option[String] = None): DataFrame =
    transformAndSink(Ecommerce.readCsv(spark, csvPath), out)

  /** Shared tail of [[runBatch]] / [[runBatchObserved]]: the sink contract
    * (transform → optional parquet append) lives once. */
  private def transformAndSink(src: DataFrame, out: Option[String]): DataFrame = {
    val transformed = EcommerceOps.batchTransform(src)
    out.foreach(dir => transformed.write.mode("append").parquet(dir))
    transformed
  }

  /** [[runBatch]] with ingest-health counters riding the SAME pass —
    * `observe()` attaches aggregate metrics to the source scan inside the
    * pipeline's one plan, so monitoring costs zero extra scans (a separate
    * `filter(...).count()` audit re-reads the 100 TB input once per
    * counter). The Spark-native analogue of Beam pipeline counters on the
    * reference's streaming job (metrics the Dataflow UI surfaces per step).
    * The returned [[org.apache.spark.sql.Observation]] yields its metric
    * row after ANY action on the returned frame completes: rows ingested,
    * rows missing a session id, null/negative prices, event-time bounds —
    * the reconciliation numbers an ingest SLO dashboard needs. */
  def runBatchObserved(spark: SparkSession, csvPath: String,
                       out: Option[String] = None)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("ingest_health")
    val src = Ecommerce.readCsv(spark, csvPath).observe(obs,
      count(lit(1)).as("rows"),
      count_if(col("user_session").isNull).as("null_sessions"),
      count_if(col("price").isNull || col("price") < 0).as("bad_prices"),
      min(col("event_time")).as("first_event"),
      max(col("event_time")).as("last_event"))
    (transformAndSink(src, out), obs)
  }

  /** S6 — OLTP-style JDBC sink, the direct analogue of the reference's
    * Spanner batch inserts (`write_session_batch.py:96-103,162-175`): each
    * executor partition writes its rows in `batchsize`-row JDBC batches —
    * the same commit granularity as the reference's 100-row mutations, but
    * issued from every executor in parallel instead of a driver loop. At
    * warehouse scale the url points at a real OLTP service; tests use
    * embedded Derby (the only zero-egress RDBMS in the container). */
  def writeOltp(df: DataFrame, url: String, table: String,
                batchSize: Int = 100): Unit =
    df.write
      .mode("overwrite")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, new java.util.Properties())

  /** Read an OLTP table back (numPartitions=1: these are small
    * dimension/result tables; large reads would set partitionColumn). */
  def readOltp(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties())

  /** S5 — decode the wire `value` column back into the 9 event fields. The
    * whitespace-collapse split event_time into 3 fields (date, time, "UTC");
    * rejoin them like the reference's DoFn (write_session_stream.py:25-28),
    * then the 8 remaining columns. Works on batch and streaming frames. */
  def decodeWire(stream: DataFrame): DataFrame = {
    val rest = Ecommerce.schema.fieldNames.drop(1)
    rest.zipWithIndex.foldLeft(
      stream.withColumn("event_time_string",
        concat_ws(" ",
          EcommerceOps.decodeField(col("value"), 1),
          EcommerceOps.decodeField(col("value"), 2),
          EcommerceOps.decodeField(col("value"), 3)))) {
      case (df, (name, i)) =>
        df.withColumn(name, EcommerceOps.decodeField(col("value"), i + 4))
    }.drop("value")
  }
}
