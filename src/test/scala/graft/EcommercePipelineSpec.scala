package graft

import java.nio.file.Files

import graft.operators.EcommercePipelines
import graft.sources.Ecommerce

/** End-to-end parity for the reference's two pipelines over a FIXTURES.md §A
  * micro-fixture (space-free values; 2/3/4-part category codes; null brand;
  * funnel shapes). */
class EcommercePipelineSpec extends SparkSpec {

  private lazy val csvPath: String = {
    val dir = new java.io.File(TempDirs.create("graft_ecom_csv_"))
    val f = new java.io.File(dir, "events.csv")
    val rows = Seq(
      "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session",
      "2019-11-01_09:00:00_UTC,view,1001,2001,electronics.smartphone,apple,999.99,u1,s1",
      "2019-11-01_09:05:00_UTC,cart,1001,2001,electronics.smartphone,apple,999.99,u1,s1",
      "2019-11-01_09:10:00_UTC,purchase,1001,2001,electronics.smartphone,apple,999.99,u1,s1",
      "2019-11-01_10:00:00_UTC,view,1002,2002,appliances.kitchen.refrigerators.lg,,349.5,u2,s2",
      "2019-11-01_23:30:00_UTC,view,1003,2003,apparel.shoes.keds,fila,89.0,u3,s3")
      // the fixture uses _ for spaces inside event_time in the CSV cell, then
      // restores them here: CSV values must themselves stay comma/space-free
      // only on the wire (S4); the file format allows spaces
      .map(_.replace("_", " "))
    Files.write(f.toPath, String.join("\n", rows: _*).getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("S1: CSV scan uses the declared 9-column schema, never inference") {
    val df = Ecommerce.readCsv(spark, csvPath)
    assert(df.schema === Ecommerce.schema)
    assert(df.count() === 5)
    val typed = Ecommerce.readCsvTyped(spark, csvPath).collect()
    assert(typed.count(_.event_type == "view") === 3)
  }

  test("batch pipeline: one narrow plan, dict-packed category, record ids") {
    import org.apache.spark.sql.functions.col
    val out = EcommercePipelines.runBatch(spark, csvPath)
    val byProduct = out.select("product_id", "category_code", "brand")
      .collect().map(r => (r.getString(0), (r.getString(1), r.getString(2)))).toMap
    assert(byProduct("1001")._1 ===
      "{'category': 'electronics', 'sub_category': 'smartphone'}")
    assert(byProduct("1002")._1 ===
      "{'category': 'appliances', 'sub_category': 'kitchen', 'product': 'refrigerators', 'product_details': 'lg'}")
    // astype-before-fillna parity: null brand became the string 'nan'
    assert(byProduct("1002")._2 === "nan")
    assert(out.select(col("record_id")).distinct().count() === 5)
  }

  test("ingest-health metrics ride the batch pass itself (observe)") {
    val (out, obs) = EcommercePipelines.runBatchObserved(spark, csvPath)
    assert(out.count() === 5) // the action that completes the observation
    val m = obs.get
    assert(m("rows") === 5L)
    assert(m("null_sessions") === 0L)
    assert(m("bad_prices") === 0L)
    assert(m("first_event") === "2019-11-01 09:00:00 UTC")
    assert(m("last_event") === "2019-11-01 23:30:00 UTC")
    // the metrics must ride the pipeline's own pass: exactly one scan of
    // the source in the executed plan, no second audit subtree
    val scans = out.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size === 1, scans.mkString("; "))
  }

  test("S8: DDL creates a queryable parquet-backed table") {
    val loc = TempDirs.create("graft_tbl_")
    EcommercePipelines.runBatch(spark, csvPath, Some(loc))
    Ecommerce.createEventsTable(spark, "events_batch_test", loc)
    try {
      val n = spark.sql(
        "SELECT COUNT(*) FROM events_batch_test WHERE event_type = 'purchase'")
        .collect()(0).getLong(0)
      assert(n === 1L)
    } finally spark.sql("DROP TABLE IF EXISTS events_batch_test")
  }

  test("S6: batch pipeline lands in an OLTP table via batched JDBC inserts") {
    // the Spanner-sink analogue against embedded Derby: executor-side
    // batched inserts, then a JDBC read-back proving the table is queryable
    val db = TempDirs.create("graft_derby_")
    val url = s"jdbc:derby:$db/oltp;create=true"
    val out = EcommercePipelines.runBatch(spark, csvPath)
    EcommercePipelines.writeOltp(out, url, "session_batches")
    val back = EcommercePipelines.readOltp(spark, url, "session_batches")
    assert(back.count() === 5)
    assert(back.columns.sorted === out.columns.sorted)
    val brands = back.select("brand").collect().map(_.getString(0)).sorted
    assert(brands === Array("apple", "apple", "apple", "fila", "nan"))
  }

  test("streaming pipeline: wire codec + per-event transform reach the sink") {
    val out = TempDirs.create("graft_ecom_stream_out_")
    ReplayPipelineCli.main(Array("--input", csvPath, "--output", out))
    val sink = spark.read.parquet(out)
    assert(sink.count() === 5)
    val row = sink.filter(sink("product_id") === "1002")
      .select("hour", "category", "sub_category", "product", "product_details", "price")
      .collect()(0)
    assert(row.getInt(0) === 10)
    assert(row.getString(1) === "appliances")
    assert(row.getString(2) === "kitchen")
    assert(row.getString(3) === "refrigerators")
    assert(row.getString(4) === "lg")
    assert(row.getDouble(5) === 349.5)
    // 3-part code → product_details NULL (Python list-append parity)
    val keds = sink.filter(sink("product_id") === "1003")
      .select("product_details").collect()(0)
    assert(keds.isNullAt(0))
  }
}
