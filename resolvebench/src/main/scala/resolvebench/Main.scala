package resolvebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.checkpoint.StageStore

/** The resolve benchmark's JVM side: generates one workload's corpus from
  * the seed, drives the workload's production entry for the given number
  * of seconds, checks every operation's outputs, and writes the metrics
  * (and, when tracing, the spans) as JSON. `run.py` builds and launches it.
  *
  * {{{
  * resolvebench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --work DIR --result FILE --spans FILE
  * }}}
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, result: File, spans: File)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      new File(req("work")), new File(req("result")), new File(req("spans")))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val spec = Spec(o.workload)
    val cores = Runtime.getRuntime.availableProcessors
    o.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("resolvebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val run = new Run(spark, spec, o, cores)
      val setupS = sessionS + run.setup()
      val json = if (o.trace) run.traced() else run.untraced(setupS)
      Files.write(o.result.toPath, json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One operation's outcome after its gates. */
final case class Op(result: Option[OpResult], verdict: Option[Gates.Verdict],
                    viewReads: Seq[Double], liveHeapBytes: Long) {
  def ok: Boolean = result.exists(_.missingBatches == 0) && verdict.exists(_.ok)
  /** Committed units attempted: the call, or the stream's micro-batches. */
  def units: Int = result.map(r => math.max(1, r.batches.size + r.missingBatches)).getOrElse(1)
}

final class Run(spark: SparkSession, spec: Spec, o: Main.Opts, cores: Int) {
  import Main.{median, timed}

  private val entries = new Entries(spark, spec, o.work, cores)
  private val input = new File(o.work, "input")
  private val warm = new File(o.work, "warm")
  private val isStream = spec.files > 0
  private lazy val inputDocs: DataFrame = spark.read.parquet(input.getPath)
  private lazy val inputSpanHash: Row = Gates.spanHash(inputDocs)

  /** Generates the corpora and runs one warm-up operation on a tiny corpus
    * (class loading, JIT, code generation: per-query costs, so a small
    * corpus warms up as much as a large one). The input corpus is
    * generated three times and the median counted, so set-up time is not
    * a single sample of its steadiest part.
    */
  def setup(): Double = {
    val gen = (1 to 3).map { _ =>
      Entries.deleteTree(input)
      timed(Entries.writeCorpus(spark, spec, o.seed, input, cores))._2
    }
    val (_, warmGen) = timed(Entries.writeCorpus(spark, spec.warm, o.seed + 1, warm, cores))
    val (_, warmOp) = timed { entries.run(warm); entries.cleanup() }
    setupParts = Seq("setup.generate_s" -> median(gen), "setup.warm_generate_s" -> warmGen,
      "setup.warm_op_s" -> warmOp)
    median(gen) + warmGen + warmOp
  }
  private var setupParts = Seq.empty[(String, Double)]

  /** One call of the workload's entry (timed inside [[Entries]]). */
  private def call(): Option[OpResult] =
    try Some(entries.run(input)) catch {
      case NonFatal(e) =>
        System.err.println(s"[resolvebench] ${spec.name} operation failed: $e")
        e.printStackTrace()
        None
    }

  /** The operation's gates and view reads, outside its timing. */
  private def judge(r: Option[OpResult]): Op = r match {
    case None => Op(None, None, Nil, 0L)
    case Some(res) =>
      // what the operation still holds (cached blocks, broadcasts, state)
      // while its outputs are in use: heap occupancy after a full
      // collection. Spark's context cleaner frees the blocks of unreachable
      // RDDs, shuffles and broadcasts only after a collection has found
      // them, so collect, let it run, and collect again; measured, a single
      // collection read anywhere between 130 and 570 MB on the stream.
      System.gc()
      Thread.sleep(1000)
      System.gc()
      val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      // the read side first, before the gates cache anything; reads are
      // short, so several are taken
      val reads = (1 to 5).map(_ => timed(
        res.view().write.format("noop").mode("overwrite").save())._2)
      val view = res.view().persist()
      val verdict = try Gates.check(spec, inputDocs, inputSpanHash, view, res.rejects(),
        withSpans = !isStream) finally view.unpersist()
      verdict.failures.foreach(f => System.err.println(s"[resolvebench] gate failed: $f"))
      Op(r, Some(verdict), reads, liveHeap)
  }

  private def op(): Op = judge(call())

  private def counts(ops: Seq[Op]): (Long, Long) = {
    val attempted = ops.map(_.units.toLong).sum
    val failed = ops.map(op => if (op.ok) 0L else op.units.toLong).sum
    (attempted, failed)
  }

  private def metric(name: String, value: Double, unit: String): (String, String) =
    name -> Json.obj(Seq("value" -> Json.num(value), "unit" -> Json.str(unit)))

  private def result(ops: Seq[Op], metrics: Seq[(String, String)],
                     info: Seq[(String, String)]): String = {
    val (attempted, failed) = counts(ops)
    Json.obj(Seq(
      "correct" -> (failed == 0 && ops.nonEmpty).toString,
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics),
      "info" -> Json.obj(info)))
  }

  /** End-to-end metrics, tracing off. */
  def untraced(setupS: Double): String = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    do {
      ops += op()
      entries.cleanup()
    } while ((System.nanoTime() - t0) / 1e9 < o.seconds)

    val done = ops.flatMap(_.result).toSeq
    val walls = done.map(_.wallS)
    val batches = done.flatMap(_.batches.map(_.wallS))
    val (attempted, failed) = counts(ops.toSeq)
    result(ops.toSeq, Seq(
      metric("setup_s", setupS, "s"),
      metric("docs_per_s", spec.docs / median(walls), "docs/s"),
      metric("pairwise_f1", median(ops.flatMap(_.verdict.map(_.f1)).toSeq), "ratio"),
      metric("batch_p50_s", median(batches), "s"),
      metric("batch_max_s", if (batches.isEmpty) Double.NaN else batches.max, "s"),
      metric("state_bytes_per_doc", median(done.map(_.stateBytes.toDouble)) / spec.docs, "B/doc"),
      metric("live_heap_mb",
        median(ops.filter(_.result.nonEmpty).map(_.liveHeapBytes / 1048576.0).toSeq), "MB")),
      Seq(
        // printed with the metrics, but too short and noisy on a shared
        // 4-core host to carry a regression bound
        metric("view_read_s", median(ops.flatMap(_.viewReads).toSeq), "s"),
        metric("failed_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"),
        "operations" -> Json.num(ops.size.toLong),
        "batch_samples" -> Json.num(batches.size.toLong),
        "docs" -> Json.num(spec.docs),
        "cores" -> Json.num(cores.toLong),
        "timed_loop_s" -> Json.num((System.nanoTime() - t0) / 1e9),
        "op_walls_s" -> walls.map(w => f"$w%.3f").mkString("\"", " ", "\"")) ++
        setupParts.map { case (k, v) => k -> Json.num(v) })
  }

  /** Per-layer metrics: each round runs the entry once untraced and once
    * inside a `pipeline` span (or, for the stream, with one span per
    * micro-batch), then replays the layers one span at a time and checks
    * the replay against the entry's own outputs.
    */
  def traced(): String = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ops = ArrayBuffer.empty[Op]
    val rounds = ArrayBuffer.empty[(String, Map[String, Double])]
    val t0 = System.nanoTime()
    do {
      val runId = s"${spec.name}-seed${o.seed}-round${rounds.size + 1}"
      val plain = op()
      ops += plain
      entries.cleanup()
      sc.addSparkListener(tracer)
      val extra =
        try tracer.span(spec.name, runId)(runSpan =>
          if (isStream) tracedStream(tracer, runId, runSpan, ops) else tracedBatch(tracer, runId, ops))
        finally {
          org.apache.spark.resolvebench.ListenerDrain(sc)
          sc.removeSparkListener(tracer)
          entries.cleanup()
        }
      val tracedWall = ops.last.result.map(_.wallS).getOrElse(Double.NaN)
      rounds += ((runId, extra +
        ("trace.overhead_s" -> (tracedWall - plain.result.map(_.wallS).getOrElse(Double.NaN)))))
    } while ((System.nanoTime() - t0) / 1e9 < o.seconds)

    tracer.settle()
    Files.write(o.spans.toPath, tracer.toJson.getBytes(StandardCharsets.UTF_8))
    val perRound = rounds.map { case (runId, extra) => Layers.metrics(tracer, runId, spec, extra) }
    val names = perRound.head.keys.toSeq.sorted
    val metrics = names.map { n =>
      metric(n, median(perRound.map(_(n)._1).toSeq), perRound.head(n)._2)
    }
    result(ops.toSeq, metrics, Seq(
      "rounds" -> Json.num(rounds.size.toLong),
      "replay_valid_rounds" -> Json.num(
        rounds.count(_._2.get("trace.replay_valid").contains(1.0)).toLong),
      "spans_file" -> Json.str(o.spans.getName)))
  }

  private def tracedBatch(tracer: Tracer, runId: String, ops: ArrayBuffer[Op]): Map[String, Double] = {
    val entryOp = judge(tracer.span("pipeline", runId) { s =>
      s.rows = spec.docs
      call()
    })
    ops += entryOp
    val res = entryOp.result.getOrElse(return Map("trace.replay_valid" -> 0.0))
    val pipelineCandidates = res.candidates()
    val pipelineHash = Gates.assignmentHash(res.view().select("doc_id", "cluster_id"))
    val ckpt = new File(o.work, s"replay-ckpt-${ops.size}")
    val store = if (spec.name == "resolve_shortname") Some(new StageStore(ckpt.getPath, spark)) else None
    val rr = new Replay(spark, tracer, runId, cores, store).batch(inputDocs)
    val valid = rr.candidates == pipelineCandidates && rr.assignmentHash == pipelineHash
    if (!valid) System.err.println(s"[resolvebench] replay differs from the entry: candidates " +
      s"${rr.candidates} vs $pipelineCandidates, hash ${rr.assignmentHash} vs $pipelineHash")
    val ckptBytes = Entries.dirBytes(ckpt)
    Entries.deleteTree(ckpt)
    spark.catalog.clearCache()
    Map(
      "trace.replay_valid" -> (if (valid) 1.0 else 0.0),
      "pairs.candidates" -> rr.candidates.toDouble,
      "pairs.useful_ratio" -> (if (rr.candidates == 0) 0.0 else rr.autoMergeEdges.toDouble / rr.candidates),
      "cluster.edges" -> rr.autoMergeEdges.toDouble,
      "norm.pregroup_ratio" -> (if (rr.validDocs == 0) 0.0 else rr.reps.toDouble / rr.validDocs),
      "blocking.dropped_key_ratio" -> rr.droppedKeyRatio,
      "checkpoint.bytes_per_doc" -> ckptBytes.toDouble / spec.docs)
  }

  private def tracedStream(tracer: Tracer, runId: String, runSpan: Span,
                           ops: ArrayBuffer[Op]): Map[String, Double] = {
    tracer.resetBatchKeys()
    val entryOp = op()
    ops += entryOp
    val res = entryOp.result.getOrElse(return Map("trace.replay_valid" -> 0.0))
    res.batches.foreach(b =>
      tracer.externalSpan("streaming.batch", runId, Some(runSpan.id), b.id, b.startMs, b.wallS))
    val streamHash = tracer.span("streaming.read", runId) { s =>
      val view = res.view().persist()
      view.write.format("noop").mode("overwrite").save()
      s.rows = view.count()
      try Gates.assignmentHash(view) finally view.unpersist()
    }
    val rr = new Replay(spark, tracer, runId, cores, None).stream(Entries.landingFiles(input))
    val valid = rr.assignmentHash == streamHash
    if (!valid) System.err.println(
      s"[resolvebench] replay differs from the stream: hash ${rr.assignmentHash} vs $streamHash")
    spark.catalog.clearCache()
    Map("trace.replay_valid" -> (if (valid) 1.0 else 0.0))
  }
}

/** Per-layer metrics of one traced round, from its spans. */
object Layers {
  val names = Seq("norm", "blocking", "pairs", "sim", "cluster", "checkpoint", "pipeline",
    "streaming.batch", "streaming.incremental", "streaming.read")
  /** Layers whose spans can have children (the replay's checkpoint spans). */
  val withSelf = Seq("norm", "blocking", "pairs", "sim", "cluster")

  def metrics(tracer: Tracer, runId: String, spec: Spec,
              extra: Map[String, Double]): Map[String, (Double, String)] = {
    val spans = tracer.spans.filter(_.runId == runId)
    def of(layer: String) = spans.filter(_.name == layer).toSeq
    def sum(ss: Seq[Span])(f: Span => Double) = ss.map(f).sum
    val counters = names.flatMap { l =>
      val ss = of(l)
      Seq(
        s"$l.wall_s" -> (sum(ss)(_.wallS), "s"),
        s"$l.cpu_s" -> (sum(ss)(_.counters.cpuNs / 1e9), "s"),
        s"$l.gc_s" -> (sum(ss)(_.counters.gcMs / 1e3), "s"),
        s"$l.jobs" -> (sum(ss)(_.counters.jobs.toDouble), "count"),
        s"$l.stages" -> (sum(ss)(_.counters.stages.toDouble), "count"),
        s"$l.tasks" -> (sum(ss)(_.counters.tasks.toDouble), "count"),
        s"$l.shuffle_write_bytes" -> (sum(ss)(_.counters.shuffleWriteBytes.toDouble), "B"),
        s"$l.spill_bytes" -> (sum(ss)(_.counters.spillBytes.toDouble), "B"),
        s"$l.output_bytes" -> (sum(ss)(_.counters.outputBytes.toDouble), "B"),
        s"$l.rows_out" -> (sum(ss)(s => Tracer.rowsOut(s).toDouble), "rows"),
        s"$l.idle_s" -> (sum(ss)(_.idleS), "s"))
    } ++ withSelf.map(l => s"$l.self_s" -> (sum(of(l))(_.selfS), "s"))

    val batches = of("streaming.batch").sortBy(_.startMs)
    val nBatches = batches.size
    val simCpu = sum(of("sim"))(_.counters.cpuNs.toDouble)
    val candidates = extra.getOrElse("pairs.candidates", 0.0)
    val ratios = Seq(
      "blocking.dropped_key_ratio" -> (extra.getOrElse("blocking.dropped_key_ratio", 0.0), "ratio"),
      "pairs.candidates" -> (candidates, "pairs"),
      "pairs.useful_ratio" -> (extra.getOrElse("pairs.useful_ratio", 0.0), "ratio"),
      "sim.ns_per_pair" -> (if (candidates == 0) 0.0 else simCpu / candidates, "ns/pair"),
      "norm.pregroup_ratio" -> (extra.getOrElse("norm.pregroup_ratio", 0.0), "ratio"),
      "cluster.edges" -> (extra.getOrElse("cluster.edges", 0.0), "edges"),
      "checkpoint.bytes_per_doc" -> (extra.getOrElse("checkpoint.bytes_per_doc", 0.0), "B/doc"),
      "streaming.jobs_per_batch" ->
        (if (nBatches == 0) 0.0 else sum(batches)(_.counters.jobs.toDouble) / nBatches, "jobs/batch"),
      "streaming.cpu_s_per_batch" ->
        (if (nBatches == 0) 0.0 else sum(batches)(_.counters.cpuNs / 1e9) / nBatches, "s/batch"),
      "streaming.cpu_growth" -> (
        if (nBatches < 2 || batches.head.counters.cpuNs == 0) 0.0
        else batches.last.counters.cpuNs.toDouble / batches.head.counters.cpuNs, "ratio"),
      "trace.overhead_s" -> (extra.getOrElse("trace.overhead_s", 0.0), "s"),
      "trace.replay_valid" -> (extra.getOrElse("trace.replay_valid", 0.0), "flag"))
    (counters ++ ratios).toMap
  }
}
