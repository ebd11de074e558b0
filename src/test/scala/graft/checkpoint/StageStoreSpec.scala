package graft.checkpoint

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.gen.DocGen
import graft.pipeline.{PipelineConfig, ResolvePipeline}

/** Checkpoint/resume semantics (FIXTURES.md §6): committed stages are
  * skipped on rerun; a killed run resumes mid-pipeline and produces
  * byte-identical output.
  */
class StageStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Registers a store-level case twice: on the default `file:` FS under
    * `name`, and on the test-only `graftfs:` scheme under `name [graftfs]`.
    * `tmpRoot(prefix)` gives a fresh (store root, local path) pair; the
    * fault injection edits the local path, the store sees only the root.
    */
  private def storeTest(name: String)(
      body: (String => (String, String)) => Unit): Unit =
    for ((scheme, suffix) <- Seq("" -> "", "graftfs://" -> " [graftfs]"))
      test(name + suffix)(body { prefix =>
        val dir = tmpDir(prefix)
        (scheme + dir, dir)
      })

  storeTest("committed stage with same fingerprint is not recomputed") { tmpRoot =>
    import spark.implicits._
    val store = new StageStore(tmpRoot("graft-store")._1, spark)
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val fp = store.fingerprint("stage-params", "v1")
    val first = store.materialize("s1", fp)(compute).collect().sortBy(_.getInt(0))
    val second = store.materialize("s1", fp)(compute).collect().sortBy(_.getInt(0))
    assert(computes == 1, "second materialize must be a resume, not a recompute")
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq)
  }

  storeTest("fingerprint change invalidates the snapshot") { tmpRoot =>
    import spark.implicits._
    val store = new StageStore(tmpRoot("graft-store")._1, spark)
    var computes = 0
    def compute = { computes += 1; Seq(1).toDF("id") }
    store.materialize("s1", store.fingerprint("v1"))(compute)
    store.materialize("s1", store.fingerprint("v2"))(compute)
    assert(computes == 2)
  }

  storeTest("manifest records rows and per-partition lineage") { tmpRoot =>
    import spark.implicits._
    val (uri, root) = tmpRoot("graft-store")
    val store = new StageStore(uri, spark)
    store.materialize("s1", "fp00")(Seq(1, 2, 3).toDF("id"))
    val manifest = new String(Files.readAllBytes(Paths.get(root, "s1", "MANIFEST.json")))
    assert(manifest.contains("\"rows\":3"))
    assert(manifest.contains("\"partitions\":["))
    assert(store.committedFingerprint("s1").contains("fp00"))
  }

  // ---- chaos tier: injected mid-stage faults (the batch analog of the
  // reference's chaos/ChaosTest.java connection-failure injection). The
  // invariant under every fault: an uncommitted stage is recomputed, a
  // committed stage is trusted, and the final output is byte-identical
  // to an uninterrupted run.

  storeTest("chaos: kill between snapshot move and manifest commit -> recompute") { tmpRoot =>
    import spark.implicits._
    val (uri, root) = tmpRoot("graft-chaos")
    val store = new StageStore(uri, spark)
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val fp = store.fingerprint("v1")
    val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    // simulate the crash window: snapshot written in place, manifest
    // (the commit point) never written
    Files.delete(Paths.get(root, "s1", "MANIFEST.json"))
    val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    assert(computes == 2, "data-without-manifest must NOT count as committed")
    assert(after.toSeq == clean.toSeq)
    assert(store.committedFingerprint("s1").contains(fp), "recommit must complete")
  }

  storeTest("chaos: stale tmp dir from a killed writer is cleaned and overwritten") { tmpRoot =>
    import spark.implicits._
    val (uri, root) = tmpRoot("graft-chaos")
    val store = new StageStore(uri, spark)
    val fp = store.fingerprint("v1")
    // a run of the earlier tmp-dir-and-rename protocol died mid-write,
    // leaving a garbage .tmp-<fp> dir
    val tmp = Paths.get(root, "s1", s".tmp-$fp")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    // ...and an OLDER crashed run with a different config left ITS tmp too
    val staleOther = Paths.get(root, "s1", ".tmp-deadbeefdeadbeef")
    Files.createDirectories(staleOther)
    Files.write(staleOther.resolve("part-00000.parquet"), Array[Byte](9, 9))
    val out = store.materialize("s1", fp)(Seq((7, "x")).toDF("id", "v"))
      .collect().map(_.toString).toSeq
    assert(out == Seq("[7,x]"))
    assert(store.committedFingerprint("s1").contains(fp))
    // every stale tmp snapshot is gone, whatever fingerprint left it —
    // orphaned near-full copies must not accumulate on the volume
    assert(!Files.exists(staleOther))
    assert(!Files.exists(tmp))
  }

  storeTest("chaos: compute failure leaves store uncommitted; retry succeeds") { tmpRoot =>
    import spark.implicits._
    val (uri, root) = tmpRoot("graft-chaos")
    val store = new StageStore(uri, spark)
    val fp = store.fingerprint("v1")
    // first attempt dies mid-stage (the analog of a fatal task failure)
    intercept[RuntimeException] {
      store.materialize("s1", fp) {
        throw new RuntimeException("injected stage failure")
      }
    }
    assert(store.committedFingerprint("s1").isEmpty,
      "failed stage must not commit")
    val out = store.materialize("s1", fp)(Seq((1, "a")).toDF("id", "v"))
      .collect().map(_.toString).toSeq
    assert(out == Seq("[1,a]"))
  }

  storeTest("chaos: truncated manifest is treated as uncommitted") { tmpRoot =>
    import spark.implicits._
    val (uri, root) = tmpRoot("graft-chaos")
    val store = new StageStore(uri, spark)
    var computes = 0
    def compute = { computes += 1; Seq(1).toDF("id") }
    val fp = store.fingerprint("v1")
    store.materialize("s1", fp)(compute)
    // corrupt the commit record: cut it off before the fingerprint field
    val mp = Paths.get(root, "s1", "MANIFEST.json")
    val text = new String(Files.readAllBytes(mp))
    Files.write(mp, text.take(text.indexOf("fingerprint") - 2).getBytes)
    store.materialize("s1", fp)(compute)
    assert(computes == 2, "corrupt manifest must force a recompute")
    assert(store.committedFingerprint("s1").contains(fp))
  }

  test("manifest: rows is the top-level total wherever partitions sit; the previous format resumes") {
    import spark.implicits._
    val root = tmpDir("graft-manifest")
    def manifest(stage: String, text: String): Unit = {
      Files.createDirectories(Paths.get(root, stage))
      Files.write(Paths.get(root, stage, "MANIFEST.json"), text.getBytes)
    }
    val store = new StageStore(root, spark)
    manifest("reordered",
      """{"stage":"reordered","fingerprint":"fp00",""" +
        """"partitions":[{"pid":0,"rows":2},{"pid":1,"rows":1}],"rows":3}""")
    assert(store.committedRows("reordered").contains(3L))

    // a stage committed by the previous writer, byte for byte: the
    // snapshot is resumed, not recomputed
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.parquet(Paths.get(root, "legacy", "data").toString)
    manifest("legacy",
      """{"stage":"legacy","fingerprint":"fp01","rows":2,
        |"partitions":[{"pid":0,"rows":2}]}""".stripMargin)
    var computes = 0
    val out = store.materialize("legacy", "fp01") {
      computes += 1; Seq((9, "z")).toDF("id", "v")
    }
    assert(computes == 0, "a committed stage in the previous format must resume")
    assert(out.collect().map(_.toString).sorted.toSeq == Seq("[1,a]", "[2,b]"))
    assert(store.committedRows("legacy").contains(2L))
  }

  test("pipeline checkpointed on a non-default FileSystem scheme equals the file: run") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    def clusters(root: String) =
      ResolvePipeline.run(spark, docs, PipelineConfig(checkpointRoot = Some(root)))
        .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted.toSeq
    assert(clusters("graftfs://" + tmpDir("graft-scheme")) ==
      clusters(tmpDir("graft-scheme-file")))
  }

  test("chaos: mid-pipeline manifest loss -> stage recomputed, output byte-identical") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    val root = tmpDir("graft-chaos-pipe")
    val cfg = PipelineConfig(checkpointRoot = Some(root))
    val full = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    // the crash window hit candidate_pairs: snapshot present, commit lost
    Files.delete(Paths.get(root, "candidate_pairs", "MANIFEST.json"))
    val resumed = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(resumed.toSeq == full.toSeq)
    assert(Files.exists(Paths.get(root, "candidate_pairs", "MANIFEST.json")),
      "interrupted stage must recommit on resume")
  }

  test("stage-scoped fingerprints: weight change resumes blocking, recomputes scoring") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    val root = tmpDir("graft-scoped")
    val cfgA = PipelineConfig(checkpointRoot = Some(root))
    ResolvePipeline.run(spark, docs, cfgA).clusters.count()
    def mtime(stage: String) =
      Files.getLastModifiedTime(Paths.get(root, stage, "MANIFEST.json"))
    val keysBefore = mtime("blocking_keys")
    val pairsBefore = mtime("candidate_pairs")
    val scoresBefore = mtime("pair_scores")

    val cfgB = cfgA.copy(weights = graft.sim.SimilarityWeights.oracleSafe)
    val outB = ResolvePipeline.run(spark, docs, cfgB)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(mtime("blocking_keys") == keysBefore,
      "blocking keys do not depend on weights and must be resumed")
    assert(mtime("candidate_pairs") == pairsBefore,
      "candidate pairs do not depend on weights and must be resumed")
    assert(mtime("pair_scores") != scoresBefore,
      "scoring depends on weights and must be recomputed")

    val fresh = ResolvePipeline.run(spark, docs,
      cfgB.copy(checkpointRoot = Some(tmpDir("graft-scoped-fresh"))))
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(outB.toSeq == fresh.toSeq,
      "partially-resumed run must equal a from-scratch run with the new weights")
  }

  test("changed status VALUES invalidate snapshots (input fp covers config columns)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    def withStatus(mergedId: Option[String]) = base.withColumn("status",
      mergedId.map(id => org.apache.spark.sql.functions.when(col("doc_id") === id, "MERGED")
        .otherwise("ACTIVE")).getOrElse(lit("ACTIVE")))
    val flipId = base.select("doc_id").orderBy("doc_id").limit(1)
      .collect()(0).getString(0)
    val root = tmpDir("graft-statusfp")
    val cfg = PipelineConfig(checkpointRoot = Some(root), statusColumn = Some("status"))
    ResolvePipeline.run(spark, withStatus(None), cfg).clusters.count()
    // same ids, same spans — ONLY a status value flips
    val flipped = ResolvePipeline.run(spark, withStatus(Some(flipId)), cfg)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    val fresh = ResolvePipeline.run(spark, withStatus(Some(flipId)),
      cfg.copy(checkpointRoot = Some(tmpDir("graft-statusfp-fresh"))))
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(flipped.toSeq == fresh.toSeq,
      "a status-value flip must invalidate snapshots, not resume the doc into its old cluster")
    assert(flipped.count(_.contains(s"[$flipId,$flipId]")) == 1,
      "the flipped doc must come out as its own singleton")
  }

  test("override edges are content-fingerprinted: changed approvals invalidate clusters") {
    import spark.implicits._
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    // docsPerEntity = 3: positions 0/3/6 belong to three DIFFERENT
    // entities, so the two override edges bridge different cluster pairs
    val ids = docs.select("doc_id").orderBy("doc_id")
      .limit(7).collect().map(_.getString(0)).zipWithIndex
      .collect { case (id, i) if i % 3 == 0 => id }
    val root = tmpDir("graft-override")
    val cfg = PipelineConfig(checkpointRoot = Some(root))
    def runWith(e: (String, String)) =
      ResolvePipeline.run(spark, docs, cfg,
        overrideEdges = Some(Seq(e).toDF("src", "dst")))
        .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    val out1 = runWith((ids(0), ids(1)))
    val out2 = runWith((ids(0), ids(2)))
    val fresh2 = ResolvePipeline.run(spark, docs,
      cfg.copy(checkpointRoot = Some(tmpDir("graft-override-fresh"))),
      overrideEdges = Some(Seq((ids(0), ids(2))).toDF("src", "dst")))
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(out2.toSeq == fresh2.toSeq,
      "a changed approval set must invalidate the clusters snapshot, not resume it")
    assert(out1.toSeq != out2.toSeq || ids.length < 3,
      "fixture should produce different clusterings for different overrides")
  }

  test("killed run resumes mid-pipeline with byte-identical output") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    val root = tmpDir("graft-resume")
    val cfg = PipelineConfig(checkpointRoot = Some(root))

    val full = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect()
      .map(_.toString).sorted

    // simulate a kill AFTER pair_scores committed but BEFORE clusters:
    // delete the clusters stage only, rerun — earlier stages must be
    // resumed from their snapshots, and the output must be identical
    def rmr(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    rmr(Paths.get(root, "clusters"))

    val scoresManifestBefore =
      Files.getLastModifiedTime(Paths.get(root, "pair_scores", "MANIFEST.json"))
    val resumed = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect()
      .map(_.toString).sorted
    val scoresManifestAfter =
      Files.getLastModifiedTime(Paths.get(root, "pair_scores", "MANIFEST.json"))

    assert(resumed.toSeq == full.toSeq, "resumed output differs from uninterrupted run")
    assert(scoresManifestBefore == scoresManifestAfter,
      "pair_scores was recomputed despite a committed snapshot")
  }
}
