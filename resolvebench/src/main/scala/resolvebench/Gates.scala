package resolvebench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Correctness gates, run outside the timed region on every operation. */
object Gates {

  /** The pairwise-F1 floor the engine's own north-rule test holds. */
  val MinF1 = 0.99

  final case class Verdict(f1: Double, failures: Seq[String]) {
    def ok: Boolean = failures.isEmpty
  }

  private def entityOf(docId: org.apache.spark.sql.Column, docsPerEntity: Int) =
    floor(substring(docId, 5, 20).cast("long") / docsPerEntity)

  /** Pairwise F1 of (doc_id, cluster_id) against the generator's truth,
    * with every true pair of the whole corpus in the recall base (a doc
    * missing from the assignments loses its pairs).
    */
  def pairwiseF1(assignments: DataFrame, spec: Spec): Double = {
    val r = assignments
      .select(col("cluster_id"), entityOf(col("doc_id"), spec.docsPerEntity).as("e"))
      .groupBy("cluster_id", "e").agg(count(lit(1)).as("n"))
      .groupBy("cluster_id")
      .agg(sum(col("n") * (col("n") - 1) / 2).as("tp"), sum("n").as("m"))
      .agg(sum("tp"), sum(col("m") * (col("m") - 1) / 2)).collect()(0)
    val tp = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    val predicted = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
    val truth = spec.docs / spec.docsPerEntity * (spec.docsPerEntity * (spec.docsPerEntity - 1) / 2.0)
    val p = if (predicted == 0) 1.0 else tp / predicted
    val rc = if (truth == 0) 1.0 else tp / truth
    if (p + rc == 0) 0.0 else 2 * p * rc / (p + rc)
  }

  /** Order-independent hash of every (doc_id, position, kind, text,
    * media_ref, offset) span row, with the row count.
    */
  def spanHash(docs: DataFrame): Row =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(xxhash64(col("doc_id"), col("pos"), col("s.kind"), col("s.text"),
        col("s.media_ref"), col("s.offset")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).collect()(0)

  /** Order-independent hash of a (doc_id, cluster_id) assignment table. */
  def assignmentHash(assignments: DataFrame): String = {
    val r = assignments
      .select(xxhash64(col("doc_id"), col("cluster_id")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).collect()(0)
    s"${r.get(0)}:${r.get(1)}"
  }

  /** Input docs that are not in clusters ∪ rejects exactly once, plus
    * output ids that were never input.
    */
  def notExactlyOnce(input: DataFrame, clusters: DataFrame, rejects: DataFrame): Long = {
    val out = clusters.select("doc_id").unionByName(rejects.select("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    input.select(col("doc_id"), lit(true).as("in"))
      .join(out, Seq("doc_id"), "full_outer")
      .where(col("in").isNull || col("c").isNull || col("c") =!= 1)
      .agg(count(lit(1))).collect()(0).getLong(0)
  }

  /** All gates for one operation. `withSpans` says whether the entry's
    * output carries the spans (the batch entries) or only assignments
    * (the stream's state view).
    */
  def check(spec: Spec, input: DataFrame, inputSpanHash: Row, view: DataFrame,
            rejects: DataFrame, withSpans: Boolean): Verdict = {
    val fails = Seq.newBuilder[String]
    val f1 = pairwiseF1(view, spec)
    if (f1 < MinF1) fails += f"pairwise F1 $f1%.4f < $MinF1"
    if (withSpans) {
      val h = spanHash(view)
      if (h != inputSpanHash) fails += s"span invariant: output $h != input $inputSpanHash"
    }
    val bad = notExactlyOnce(input, view, rejects)
    if (bad != 0) fails += s"$bad docs not in clusters ∪ rejects exactly once"
    if (!withSpans) {
      val ingested = input.count()
      val accounted = view.count() + rejects.count()
      if (ingested != accounted)
        fails += s"ingested $ingested != clustered + rejected $accounted"
    }
    Verdict(f1, fails.result())
  }
}
