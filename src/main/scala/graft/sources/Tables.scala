package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the driver testdata star schema (TESTDATA.md / FIXTURES.md §B).
  *
  * Parquet scans are the engine's canonical bounded source: Catalyst pushes
  * predicates and prunes columns into the scan (verify with
  * `.explain("formatted")` → PushedFilters / ReadSchema), and file splitting
  * gives free partition-parallel reads at cluster scale. No driver-side
  * chunking (the reference's 100-row pandas chunks,
  * batch_pipeline/write_session_batch.py:133-134, are replaced by Spark's
  * input-split batching).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A testdata table opened with its schema inferred once per (session,
    * path, file fingerprint) — see [[graft.queries.Materialize.readPinned]]:
    * a schemaless `read.parquet` runs a footer-inference job (~30 ms) on
    * EVERY call, and a query build references these tables several times.
    * The fingerprint lists every file under the path, so a table
    * regenerated while a session lives (even a part file rewritten in
    * place) re-infers instead of misreading the new data. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    graft.queries.Materialize.readPinned(spark, "table", path, Seq(path))
  }

  /** events.ts arrives in one of two parquet encodings depending on the
    * testdata generation: TIMESTAMP(NANOS), which Spark reads (under
    * spark.sql.legacy.parquet.nanosAsLong=true) as nanos-since-epoch long —
    * truncate to micros, the same thing DuckDB's nanos→TIMESTAMP cast does;
    * or TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads as
    * TIMESTAMP_NTZ — cast to session-local TIMESTAMP (session tz is pinned
    * UTC, so the instant is identical and DuckDB's naive reading agrees).
    * Downstream code (event-time watermarks, unix_micros, epoch casts)
    * requires the instant-typed TIMESTAMP either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  /** Row count from the parquet footers — true metadata (block headers), no
    * scan job, no Spark stage. The honest stand-in for a warehouse catalog's
    * table statistics when a pipeline needs a size bound (e.g. sizing q22d's
    * bloom sketch) without paying a pass over the data. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(p))
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
