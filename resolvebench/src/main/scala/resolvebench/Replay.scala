package resolvebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.blocking.BlockingKeys
import graft.checkpoint.StageStore
import graft.cluster.ConnectedComponents
import graft.decide.{Decisions, Thresholds}
import graft.functions.Er
import graft.norm.Normalizer
import graft.pairs.CandidateGenerator
import graft.pipeline.IncrementalResolve
import graft.sim.SimilarityWeights

/** What a layer replay measured besides its spans. */
final case class ReplayResult(
    assignmentHash: String,
    candidates: Long = 0,
    autoMergeEdges: Long = 0,
    validDocs: Long = 0,
    reps: Long = 0,
    droppedKeyRatio: Double = 0)

/** The traced layer replay: the layers' public functions called one at a
  * time from outside, in the order and with the settings the entry uses,
  * each layer's output materialized inside its span so the span holds
  * that layer's work. Materialization is a columnar cache filled through a
  * noop sink; for the checkpointed job the cached output is then written
  * through StageStore in a nested `checkpoint` span.
  */
final class Replay(spark: SparkSession, tracer: Tracer, runId: String, cores: Int,
                   store: Option[StageStore]) {

  private var stageSeq = 0

  /** Compute `df` into a columnar cache (the calling layer's work); with a
    * store, then snapshot it through StageStore in a nested `checkpoint`
    * span and continue from the snapshot, as the checkpointed job does.
    */
  private def mat(df: DataFrame, stage: String): (DataFrame, Long) = {
    val p = df.persist()
    p.write.format("noop").mode("overwrite").save()
    val n = p.count()
    store match {
      case None => (p, n)
      case Some(st) =>
        tracer.span("checkpoint", runId) { s =>
          stageSeq += 1
          val out = st.materialize(stage, s"$runId-$stageSeq")(p)
          s.rows = n
          (out, n)
        }
    }
  }

  /** ResolvePipeline's default configuration, layer by layer. Returns the
    * hash of the valid docs' (doc_id, cluster_id) assignments and the
    * layers' counts.
    */
  def batch(docs: DataFrame): ReplayResult = {
    val (normalized, nValid, reps, nReps, ids) = tracer.span("norm", runId) { s =>
      val named = docs
        .withColumn("name", Er.docName(col("spans")))
        .withColumn("reject_reason", Er.rejectReason(col("name")))
      val (normalized, nValid) = mat(named.where(col("reject_reason").isNull)
        .select(col("doc_id"),
          Normalizer.normalizeColumn(col("name"), Some(Normalizer.COMPANY)).as("normalized")),
        "normalized")
      // the exact pregroup: one representative (min doc_id) per name
      val (reps, nReps) = mat(normalized.groupBy("normalized")
        .agg(min("doc_id").as("doc_id")), "exact_groups")
      // dense surrogate ids in doc_id order, as the pipeline mints them
      val (ids, _) = mat(reps.withColumn("did",
        row_number().over(Window.orderBy("doc_id")).cast("long") - 1), "surrogate_ids")
      s.rows = nReps
      (normalized, nValid, reps, nReps, ids)
    }

    val (keys, nKeys, dropped) = tracer.span("blocking", runId) { s =>
      val src = ids.select(col("did").as("doc_id"), col("normalized"))
      val tables = Seq(
        BlockingKeys.explodeKeys(src, "doc_id", BlockingKeys.defaultKeys(col("normalized"))),
        src.select(BlockingKeys.sortedNeighborhoodKey(col("normalized")).as("block_key"),
          col("doc_id")).where(col("block_key").isNotNull),
        BlockingKeys.minhashKeyTable(src, "doc_id", col("normalized")))
      val (keys, nKeys) = mat(tables.reduce(_ union _).coalesce(cores), "blocking_keys")
      val st = CandidateGenerator.stats(keys)
      s.rows = nKeys
      (keys, nKeys,
        if (st.totalKeys == 0) 0.0 else st.droppedKeyRows.toDouble / st.totalKeys)
    }

    val (pairs, nPairs) = tracer.span("pairs", runId) { s =>
      val r = mat(CandidateGenerator.candidatePairsPacked(keys,
        hintBroadcast = nKeys <= CandidateGenerator.BroadcastKeysMaxRows), "candidate_pairs")
      s.rows = r._2
      r
    }

    val (scored, nAuto) = tracer.span("sim", runId) { s =>
      val w = SimilarityWeights.default
      val a = ids.select(col("did").as("a"), col("doc_id").as("sa"), col("normalized").as("name_a"))
      val b = ids.select(col("did").as("b"), col("doc_id").as("sb"), col("normalized").as("name_b"))
      val scoredPlan = pairs
        .select(shiftright(col("pk"), 31).as("a"), col("pk").bitwiseAND(lit((1L << 31) - 1)).as("b"))
        .join(a, Seq("a")).join(b, Seq("b"))
        .withColumn("lev", Er.levSim(col("name_a"), col("name_b")))
        .withColumn("jw", Er.jaroWinkler(col("name_a"), col("name_b")))
        .withColumn("jac", Er.tokenJaccard(col("name_a"), col("name_b")))
        .withColumn("score",
          when(col("name_a").isNull || col("name_b").isNull, lit(0.0))
            .when(col("name_a") === col("name_b"), lit(1.0))
            .otherwise(lit(w.levenshteinWeight) * col("lev") +
              lit(w.jaroWinklerWeight) * col("jw") + lit(w.jaccardWeight) * col("jac")))
        .withColumn("decision", Decisions.decide(col("score"), Thresholds()))
        .select(least(col("sa"), col("sb")).as("src"), greatest(col("sa"), col("sb")).as("dst"),
          col("lev"), col("jw"), col("jac"), col("score"), col("decision"))
      val (scored, n) = mat(scoredPlan, "pair_scores")
      s.rows = n
      (scored, scored.where(col("decision") === "AUTO_MERGE").count())
    }

    val hash = tracer.span("cluster", runId) { s =>
      val edges = scored.where(col("decision") === "AUTO_MERGE").select("src", "dst")
      val (cc, _) = mat(ConnectedComponents.run(spark, edges, reps.select("doc_id")), "clusters")
      val assignments = normalized
        .join(reps.select(col("normalized"), col("doc_id").as("rep")), Seq("normalized"))
        .join(cc.select(col("doc_id").as("rep"), col("cluster_id")), Seq("rep"))
        .select("doc_id", "cluster_id")
      s.rows = nValid
      Gates.assignmentHash(assignments)
    }

    ReplayResult(hash, nPairs, nAuto, nValid, nReps, dropped)
  }

  /** StreamResolveJob's micro-batch body, one landing file at a time,
    * against state kept in memory. Returns the final assignments' hash.
    */
  def stream(files: Seq[File]): ReplayResult = {
    var existing: Option[(DataFrame, DataFrame, DataFrame)] = None // clusters, names, keys
    files.foreach { f =>
      val batch = spark.read.parquet(f.getPath)
      val (newNames, _) = tracer.span("norm", runId) { s =>
        val named = batch.withColumn("name", Er.docName(col("spans")))
        val r = mat(named
          .where(Er.rejectReason(col("name")).isNull &&
            Normalizer.normalizeColumn(col("name")) =!= "")
          .select(col("doc_id"), Normalizer.normalizeColumn(col("name")).as("normalized")),
          "normalized")
        s.rows = r._2
        r
      }
      val newKeys = tracer.span("blocking", runId) { s =>
        val (k, nk) = mat(BlockingKeys.explodeKeys(newNames, "doc_id",
          BlockingKeys.defaultKeys(col("normalized"))), "keys")
        s.rows = nk
        k
      }
      val assignments = tracer.span("streaming.incremental", runId) { s =>
        val inc = existing match {
          case None => IncrementalResolve.resolveNamesWithDelta(spark,
            batch.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0),
            newNames.limit(0), newNames, newKeysOpt = Some(newKeys))
          case Some((cl, names, keys)) => IncrementalResolve.resolveNamesWithDelta(spark,
            cl, names, newNames, existingKeys = Some(keys), newKeysOpt = Some(newKeys))
        }
        val (a, na) = mat(inc.assignments, "clusters")
        s.rows = na
        a
      }
      existing = Some(existing match {
        case None => (assignments, newNames, newKeys)
        case Some((_, names, keys)) =>
          (assignments, names.unionByName(newNames), keys.unionByName(newKeys))
      })
    }
    ReplayResult(existing.map(e => Gates.assignmentHash(e._1)).getOrElse(""))
  }
}
