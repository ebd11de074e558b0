package resolvebench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.gen.DocGen
import graft.pipeline.{PipelineConfig, ResolveJob, ResolvePipeline}
import graft.streaming.StreamResolveJob

/** Generator parameters of one workload. The corpus is
  * `DocGen.corpusDF(entities, docsPerEntity, seed, fillerTokens)`; ground
  * truth is entity = doc index / docsPerEntity. `files` > 0 splits it into
  * that many landing files (doc index mod files) for the stream.
  */
final case class Spec(name: String, entities: Int, docsPerEntity: Int, filler: Int,
                      warmEntities: Int, files: Int = 0) {
  def docs: Long = entities.toLong * docsPerEntity
  /** The warm-up corpus: fewer entities, and at most two landing files. */
  def warm: Spec = copy(entities = warmEntities, files = math.min(files, 2))
}

object Spec {
  // Sized so that one run (set-up, timed loop, gates) stays under a minute
  // on a 4-core machine; see BENCHMARK.json for why each exists.
  // resolve_longtext is not in BENCHMARK.json (a third workload does not
  // fit the benchmark's time window at this per-call cost); it runs by hand.
  val all: Seq[Spec] = Seq(
    // kernel-bound: typo-only duplicates of long texts, nothing pregroups
    Spec("resolve_longtext", entities = 250, docsPerEntity = 4, filler = 64, warmEntities = 25),
    // volume-bound: short names, mostly normalize-identical duplicates,
    // checkpointed production job with provenance
    Spec("resolve_shortname", entities = 300, docsPerEntity = 8, filler = 0, warmEntities = 25),
    // closed-loop stream: one micro-batch per landing file
    Spec("stream_increments", entities = 240, docsPerEntity = 4, filler = 0, warmEntities = 25,
      files = 3))

  def apply(name: String): Spec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** What one operation left behind, read outside the timed region. */
final case class OpResult(
    wallS: Double,
    /** (doc_id, cluster_id[, spans]) as the entry's consumer reads it. */
    view: () => DataFrame,
    rejects: () => DataFrame,
    /** Bytes the entry keeps after the call: cached blocks for the
      * in-memory pipeline, checkpoint + output files for the job, the state
      * directory for the stream.
      */
    stateBytes: Long,
    /** Distinct candidate pairs the entry scored (-1 when it keeps none). */
    candidates: () => Long,
    /** Durations of the committed units: the call itself, or each
      * micro-batch (with start time and batch id).
      */
    batches: Seq[Batch],
    /** Micro-batches that should have run but did not (query failed). */
    missingBatches: Int = 0)

final case class Batch(id: Long, startMs: Long, wallS: Double)

/** The three production entries, driven exactly as a deployment would. */
final class Entries(spark: SparkSession, spec: Spec, work: File, cores: Int) {
  import Entries._

  private var seq = 0
  private val created = ArrayBuffer.empty[File]
  private def fresh(prefix: String): File = {
    seq += 1
    val f = new File(work, s"$prefix-$seq")
    created += f
    f
  }

  /** Drop what the operations so far cached or wrote. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    created.foreach(deleteTree)
    created.clear()
  }

  def run(input: File): OpResult = spec.name match {
    case "resolve_longtext" => pipeline(input)
    case "resolve_shortname" => job(input)
    case "stream_increments" => stream(input)
  }

  private def pipeline(input: File): OpResult = {
    val sc = spark.sparkContext
    val rddMark = sc.emptyRDD[Int].id
    val t0 = System.nanoTime()
    val r = ResolvePipeline.run(spark, spark.read.parquet(input.getPath),
      PipelineConfig(numShufflePartitions = Some(cores)))
    // noop sink: every column of the clusters output is produced; a bare
    // count() would let the optimizer prune work away
    r.clusters.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    val cached = sc.getRDDStorageInfo.filter(_.id > rddMark)
      .map(i => i.memSize + i.diskSize).sum
    OpResult(wall, () => r.clusters, () => r.rejects, cached,
      () => r.pairScores.count(), Seq(Batch(0, 0, wall)))
  }

  private def job(input: File): OpResult = {
    val out = fresh("out")
    val ckpt = fresh("ckpt")
    val t0 = System.nanoTime()
    ResolveJob.run(spark, Map(
      "input" -> input.getPath, "output" -> out.getPath,
      "checkpoint-dir" -> ckpt.getPath, "write-provenance" -> "true",
      "shuffle-partitions" -> cores.toString))
    val wall = (System.nanoTime() - t0) / 1e9
    OpResult(wall,
      () => spark.read.parquet(s"$out/clusters"),
      () => spark.read.parquet(s"$out/rejects"),
      dirBytes(out) + dirBytes(ckpt),
      () => spark.read.parquet(s"$out/pair_scores").count(),
      Seq(Batch(0, 0, wall)))
  }

  /** One closed-loop stream over every landing file, from empty state:
    * `availableNow` with one file per trigger, so each micro-batch starts
    * after the previous one committed.
    */
  private def stream(landing: File): OpResult = {
    val state = fresh("state")
    val ckpt = fresh("stream-ckpt")
    val progress = new ProgressCollector
    spark.streams.addListener(progress)
    val t0 = System.nanoTime()
    val failed =
      try {
        val q = StreamResolveJob.start(spark, Map(
          "input" -> landing.getPath, "state" -> state.getPath,
          "checkpoint" -> ckpt.getPath, "trigger" -> "availableNow",
          "max-files-per-trigger" -> "1"))
        try { q.awaitTermination(); false }
        catch { case NonFatal(e) => System.err.println(s"[resolvebench] stream failed: $e"); true }
      } finally {
        org.apache.spark.resolvebench.ListenerDrain(spark.sparkContext)
        spark.streams.removeListener(progress)
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val batches = progress.batches.toSeq.sortBy(_.id)
    val expected = landing.listFiles().count(_.getName.endsWith(".parquet"))
    OpResult(wall,
      () => StreamResolveJob.currentClusters(spark, state.getPath).get,
      () => StreamResolveJob.stateTable(spark, state.getPath, "rejects").get,
      dirBytes(state), () => -1L, batches,
      missingBatches = if (failed) math.max(1, expected - batches.size) else 0)
  }
}

object Entries {
  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Write the corpus's docs (doc_id, spans) as parquet: one directory for
    * the batch entries, or `files` single-file parquet parts for the stream
    * landing directory, with increasing modification times so the file
    * source reads them in index order.
    */
  def writeCorpus(spark: SparkSession, spec: Spec, seed: Long, dir: File, cores: Int): Unit = {
    val docs = DocGen.corpusDF(spark, spec.entities, spec.docsPerEntity, seed,
      partitions = cores, fillerTokens = spec.filler).select("doc_id", "spans")
    if (spec.files <= 0) docs.write.mode("overwrite").parquet(dir.getPath)
    else {
      dir.mkdirs()
      val idx = substring(col("doc_id"), 5, 20).cast("long")
      val base = System.currentTimeMillis() - 3600L * 1000
      (0 until spec.files).foreach { k =>
        val tmp = new File(dir.getParentFile, s".${dir.getName}-part-$k")
        docs.where(pmod(idx, lit(spec.files.toLong)) === k).coalesce(1)
          .write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
        val dest = new File(dir, f"part-$k%05d.parquet")
        Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
        dest.setLastModified(base + k * 10000L)
        deleteTree(tmp)
      }
    }
  }

  def landingFiles(dir: File): Seq[File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
}

/** Micro-batch timings of the streaming queries it listens to. */
final class ProgressCollector extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) batches.synchronized {
      val ms = p.durationMs.get("triggerExecution")
      batches += Batch(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        if (ms == null) 0.0 else ms.longValue / 1000.0)
    }
  }
}
