package resolvebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.resolvebench.ListenerDrain
import org.apache.spark.scheduler._

/** Spark work attributed to one span: summed over the jobs started under
  * the span's job group (or, for a streaming micro-batch, under its
  * batch id) and over the completed stage attempts of those jobs.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** One timed call into a layer. `rows` is the row count of the layer's
  * materialized output when the caller knows it (-1 otherwise, and then
  * the records the span's jobs wrote are reported).
  */
final class Span(val id: Int, val name: String, val parent: Option[Int],
                 val runId: String, val key: String) {
  var startMs = 0L
  var endMs = 0L
  var wallS = 0.0
  var rows = -1L
  var counters = new Counters
  var idleS = 0.0
  var selfS = 0.0
}

/** In-memory span recorder plus the Spark listener that attributes job,
  * stage and task counters to spans. A span sets a job group around its
  * body; every job started on this thread while the body runs carries
  * the group, and the listener keys its counters by it. Micro-batches of
  * a streaming query run on the query's own thread and are keyed by their
  * batch id instead. Spans stay in memory; [[toJson]] renders them at the end.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private def counters(key: String): Counters =
    byKey.computeIfAbsent(key, _ => new Counters)

  private def keyOf(props: java.util.Properties): String =
    if (props == null) ""
    else Option(props.getProperty("streaming.sql.batchId")) match {
      case Some(b) => s"batch:$b"
      case None => Option(props.getProperty("spark.jobGroup.id")).getOrElse("")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOf(e.properties)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageKey.putIfAbsent(_, key))
    val c = counters(key)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) jobIntervals.synchronized { jobIntervals += ((s.longValue, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = stageKey.get(e.stageInfo.stageId)
    if (key != null) {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val c = counters(key)
      c.synchronized {
        c.stages += 1
        c.tasks += si.numTasks
        if (tm != null) {
          c.cpuNs += tm.executorCpuTime
          c.gcMs += tm.jvmGCTime
          c.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          c.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
          c.outputBytes += tm.outputMetrics.bytesWritten
          c.outputRecords += tm.outputMetrics.recordsWritten
        }
      }
    }
  }

  private def newSpan(name: String, parent: Option[Int], runId: String, key: String): Span = {
    val s = new Span(spans.size, name, parent, runId, key)
    spans += s
    s
  }

  /** Time `body` as a span named after the layer it calls, child of the
    * innermost open span (or of `parent` when given).
    */
  def span[T](name: String, runId: String, parent: Option[Int] = None)(body: Span => T): T = {
    val p = parent.orElse(stack.headOption.map(_.id))
    val s = newSpan(name, p, runId, s"rb-span-${spans.size}")
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(s.key, name)
    stack = s :: stack
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(s)
    finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, prevDesc.getOrElse(""))
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span whose timing comes from outside (a streaming micro-batch,
    * timed by the query's progress events); its counters are those of
    * the jobs that carried `batchId`.
    */
  def externalSpan(name: String, runId: String, parent: Option[Int], batchId: Long,
                   startMs: Long, wallS: Double): Span = {
    val s = newSpan(name, parent, runId, s"batch:$batchId")
    s.startMs = startMs
    s.wallS = wallS
    s.endMs = startMs + math.round(wallS * 1000)
    s
  }

  /** Forget counters keyed by streaming batch ids before a new query
    * reuses them.
    */
  def resetBatchKeys(): Unit =
    byKey.keySet().asScala.filter(_.startsWith("batch:")).foreach(byKey.remove)

  /** Wait for the listener to see every event so far, then fill in each
    * span's counters, idle time (wall time covered by no running job) and
    * self time (wall time not covered by child spans).
    */
  def settle(): Unit = {
    ListenerDrain(sc)
    val intervals = jobIntervals.synchronized(jobIntervals.toList)
    spans.foreach { s =>
      s.counters = Option(byKey.get(s.key)).getOrElse(new Counters)
      val covered = Tracer.coveredMs(s.startMs, s.endMs, intervals)
      s.idleS = math.max(0.0, s.wallS - covered / 1000.0)
      val kids = spans.filter(_.parent.contains(s.id)).map(k => (k.startMs, k.endMs)).toList
      s.selfS = math.max(0.0, s.wallS - Tracer.coveredMs(s.startMs, s.endMs, kids) / 1000.0)
    }
  }

  /** All spans as one JSON document (call after [[settle]]). */
  def toJson: String = spans.map { s =>
    val c = s.counters
    Json.obj(Seq(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "parent" -> s.parent.map(Json.num(_)).getOrElse("null"),
      "run_id" -> Json.str(s.runId),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(s.selfS),
      "idle_s" -> Json.num(s.idleS), "cpu_s" -> Json.num(c.cpuNs / 1e9),
      "gc_s" -> Json.num(c.gcMs / 1e3), "jobs" -> Json.num(c.jobs),
      "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
      "shuffle_write_bytes" -> Json.num(c.shuffleWriteBytes),
      "spill_bytes" -> Json.num(c.spillBytes),
      "output_bytes" -> Json.num(c.outputBytes),
      "rows_out" -> Json.num(Tracer.rowsOut(s))))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  def rowsOut(s: Span): Long = if (s.rows >= 0) s.rows else s.counters.outputRecords

  /** Length of [start, end] covered by the union of `intervals`. */
  def coveredMs(start: Long, end: Long, intervals: List[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
