package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}

/** Spans around every call the harness makes into the program, plus the
  * raw events of the harness's own listeners: streaming progress always,
  * and when tracing the Spark scheduler's jobs and tasks and each query
  * execution's planning phases. Everything is kept in memory and written once at the end.
  *
  * Times are epoch microseconds on one clock: a span's bounds come from
  * `System.nanoTime` offset to the epoch once, listener events carry Spark's
  * epoch-millisecond stamps. Spans nest on the main thread; the harness is
  * the only client, so one span is open at each depth at a time.
  */
final class Recorder(val trace: Boolean) {
  private val originNs = System.nanoTime()
  private val originUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000

  private final class SpanRec(val id: Int, val name: String, val kind: String,
                              val parent: Int, val op: Int, val startUs: Long) {
    var endUs = 0L
    var error: String = null
    var counters: Map[String, Any] = Map.empty
  }

  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private val events = new ConcurrentLinkedQueue[String]()

  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Run `f` inside a span. `kind` groups spans for the analysis: "op" is
    * one timed operation, "unit" one repetition of the workload's work,
    * "layer" a call into one module. A failure is recorded on the span and
    * rethrown. `extra` adds counters taken at both ends (traced runs). */
  def span[T](name: String, kind: String, extra: () => Map[String, Long] = null)(f: => T): T = {
    val parent = stack.headOption
    val op = if (kind == "op") -1 else parent.map(p => if (p.kind == "op") p.id else p.op).getOrElse(-1)
    val s = new SpanRec(ids.incrementAndGet(), name, kind, parent.map(_.id).getOrElse(0), op, nowUs)
    spans += s
    stack = s :: stack
    val before = if (trace) Some((codegen, Option(extra).map(_()))) else None
    try f
    catch {
      case e: Throwable =>
        s.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        throw e
    } finally {
      s.endUs = nowUs
      stack = stack.tail
      for (((c0, t0), x0) <- before) {
        val (c1, t1) = codegen
        val xs = for (m0 <- x0.toSeq; m1 = extra(); (k, v) <- m1) yield k -> (v - m0.getOrElse(k, 0L))
        s.counters = Map("codegen_compiles" -> (c1 - c0), "codegen_compile_ns" -> (t1 - t0)) ++ xs
      }
    }
  }

  def spansJson: Seq[String] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
      "op" -> (if (s.kind == "op") s.id else s.op), "start_us" -> s.startUs, "end_us" -> s.endUs,
      "error" -> Option(s.error), "counters" -> s.counters)
  }

  def eventsJson: Seq[String] = events.asScala.toSeq

  private def ev(kind: String, kv: (String, Any)*): Unit =
    events.add(Json.obj(("ev" -> kind) +: kv: _*))

  /** Streaming progress is recorded in every run (the printed micro-batch
    * latencies come from it); the rest only when tracing. */
  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        ev("stream_start", "id" -> e.id.toString, "t_us" -> isoUs(e.timestamp))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        ev("batch", "id" -> p.id.toString, "batch" -> p.batchId, "t_us" -> isoUs(p.timestamp),
          "rows" -> p.numInputRows, "ms" -> d,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    if (!trace) return
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        ev("job", "job" -> e.jobId, "t_us" -> e.time * 1000)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ev("job_end", "job" -> e.jobId, "t_us" -> e.time * 1000)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val i = e.taskInfo
        val m = e.taskMetrics
        if (m != null) ev("task", "stage" -> e.stageId, "t0_us" -> i.launchTime * 1000,
          "t1_us" -> i.finishTime * 1000, "cpu_ns" -> m.executorCpuTime,
          "run_ms" -> m.executorRunTime, "in_bytes" -> m.inputMetrics.bytesRead,
          "in_rows" -> m.inputMetrics.recordsRead,
          "sh_w" -> m.shuffleWriteMetrics.bytesWritten,
          "sh_r" -> m.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "out_bytes" -> m.outputMetrics.bytesWritten, "out_rows" -> m.outputMetrics.recordsWritten)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        phases(funcName, qe)
    })
  }

  private def phases(funcName: String, qe: QueryExecution): Unit =
    ev("qe", "func" -> funcName, "phases" -> qe.tracker.phases.map { case (k, p) =>
      k -> Map("t0_us" -> p.startTimeMs * 1000, "t1_us" -> p.endTimeMs * 1000)
    })

  private def isoUs(ts: String): Long = {
    val i = java.time.Instant.parse(ts)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Wait until the listener buses have delivered everything posted so far:
    * the event count stops moving for half a second (bounded at 10 s). */
  def drain(): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.nanoTime() + 10000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val n = events.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
}

/** The JVM's own resource counters, read once at the end of a run. */
object JvmStats {
  import java.lang.management.ManagementFactory

  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap still reachable after full collections: what the program keeps
    * (its caches, artifacts' metadata, session state) once the work is done.
    * Spark's ContextCleaner frees broadcast and shuffle blocks on its own
    * thread after a collection finds their handles unreachable, so this
    * collects until the heap stops shrinking by more than 1% (at most 10
    * times, half a second apart). */
  def liveHeapKb: Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1024
    }
    var last = collect()
    var next = last
    var n = 0
    while ({ Thread.sleep(500); next = collect(); n += 1; n < 10 && next < last * 0.99 }) last = next
    next
  }
}
