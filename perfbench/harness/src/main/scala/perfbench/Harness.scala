package perfbench

import scala.collection.mutable

import graft.{BatchPipelineCli, GraftSession, ReplayPipelineCli, SparkEntry}
import org.apache.spark.sql.SparkSession

/** One workload run in this JVM: the benchmark's closed loop, one client
  * (this thread), calling the program the way its users do.
  *
  *   - `ingest`: one round, cold: `BatchPipelineCli.main`, then
  *     `ReplayPipelineCli.main --speedFactor 5`, on the CSV `--csv`.
  *   - `setup`: nothing after the session is built; a set-up sample.
  *   - `night-job`: the listed queries once each, cold, in the listed
  *     order, each `SparkEntry.queries(name)` writing its result as
  *     parquet under `--check` (the job's output, which the benchmark then
  *     checks against the oracle statements written next to it).
  *
  * Everything measured goes to the JSON file named by `--out`;
  * perfbench/run.py turns it into metrics.
  *
  * Usage: perfbench.Harness --workload <w> --out <json> --trace <0|1>
  *   [--data <dir>] [--queries a,b,..] [--csv <file>]
  *   [--work <dir>] [--check <dir>]
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val rec = new Recorder(a("trace") == "1")
    val started = rec.nowUs
    val spark = rec.span("session.build", "layer")(GraftSession.get())
    rec.install(spark)
    val result = mutable.LinkedHashMap[String, Any]("workload" -> a("workload"),
      "jvm_start_us" -> started)
    val failures = mutable.ArrayBuffer.empty[String]
    val h = new Harness(spark, rec, a, result, failures)
    if (a("workload") == "setup") result("first_op_us") = rec.nowUs
    else {
      try a("workload") match {
        case "ingest" => h.ingest()
        case "night-job" => h.nightJob()
        case w => sys.error(s"unknown workload $w")
      } catch {
        case e: Throwable => failures += s"workload aborted: $e"
      }
      rec.drain()
      result("heap_live_kb") = JvmStats.liveHeapKb
    }
    result ++= Seq("peak_rss_kb" -> JvmStats.peakRssKb, "gc_ms" -> JvmStats.gcMs,
      "jit_ms" -> JvmStats.jitMs, "failures" -> failures.toSeq)
    val body = result.map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" } ++ Seq(
      s""""spans":${rec.spansJson.mkString("[", ",\n", "]")}""",
      s""""events":${rec.eventsJson.mkString("[", ",\n", "]")}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), body.mkString("{", ",\n", "}\n"))
    spark.stop()
  }
}

final class Harness(spark: SparkSession, rec: Recorder, a: Map[String, String],
                    result: mutable.Map[String, Any], failures: mutable.Buffer[String]) {
  private def list(key: String): Seq[String] = a.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Bytes under the JVM's scratch root, where the program puts its
    * artifacts (traced runs only: it walks the tree). */
  private val scratchBytes: () => Map[String, Long] = () => {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    var total = 0L
    try {
      val walk = java.nio.file.Files.walk(root)
      try walk.forEach(p => total += (try java.nio.file.Files.size(p) catch { case _: Exception => 0L }))
      finally walk.close()
    } catch { case _: Exception => () }
    Map("artifact_bytes" -> total)
  }

  /** The one timed unit of work; its start marks the end of set-up. */
  private def timed(name: String)(unit: => Unit): Unit = {
    result("first_op_us") = rec.nowUs
    rec.span(name, "unit")(unit)
  }

  /** One operation: the program builds the query's frame, then a write
    * executes it as parquet under `out`, the job's output. Failures are
    * counted, not fatal. */
  private def query(name: String, dir: String, out: String): Unit =
    try rec.span(name, "op") {
      val df = rec.span("queries.build", "layer", if (rec.trace) scratchBytes else null) {
        SparkEntry.queries(name)(spark, dir)
      }
      rec.span("exec", "layer")(df.write.mode("overwrite").parquet(s"$out/$name"))
    } catch { case e: Throwable => failures += s"$name: $e" }

  def nightJob(): Unit = {
    val dir = a("data")
    val out = a("check")
    val names = list("queries")
    timed("job")(names.foreach(query(_, dir, out)))
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.value(names.filter(oracle.contains).map(q => q -> oracle(q)).toMap))
  }

  def ingest(): Unit = {
    val (csv, batchOut, replayOut) = (a("csv"), s"${a("work")}/batch", s"${a("work")}/replay")
    timed("round") {
      cli("cli.batch", BatchPipelineCli.main(Array("--input", csv, "--output", batchOut)))
      cli("cli.replay", ReplayPipelineCli.main(Array("--input", csv, "--output", replayOut,
        "--speedFactor", "5")))
    }
    result("ingest_outputs") = Seq(Seq(csv, batchOut, replayOut))
  }

  private def cli(name: String, body: => Unit): Unit =
    try rec.span(name, "op")(body)
    catch { case e: Throwable => failures += s"$name: $e" }
}
