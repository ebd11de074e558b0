package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.checkpoint.StageStore.fsOf

/** Durable state layouts shared by the streaming jobs, both built on
  * one primitive: a unit directory becomes visible by creating its
  * `_COMMITTED` marker LAST (a single atomic create — no
  * rename-overwrite semantics to depend on; a crash mid-write leaves an
  * uncommitted dir that the replay overwrites). Structured Streaming
  * replays a failed batch with the SAME batchId, so skipping any batch
  * at-or-below the state's high-water mark gives exactly-once state on
  * at-least-once foreachBatch.
  *
  * Two layouts:
  *  - `v=<batchId>` FULL SNAPSHOTS (legacy, read-only: [[latestVersion]])
  *    — every version rewrote the whole state. Nothing writes them any
  *    more; [[StreamResolveJob]] migrates such roots on contact.
  *  - `d=<batchId>` APPEND DELTAS + `base=<upto>` compactions (the
  *    current layout, both jobs): a batch writes only its own rows;
  *    readers see the latest base plus deltas above it
  *    ([[StateView]]/[[liveUnits]]); compaction folds them into a new
  *    base with a one-cycle GC grace window ([[commitBase]]).
  */
private[streaming] object VersionedState {

  /** Latest committed legacy `v=` snapshot version, or -1 if none. */
  def latestVersion(spark: SparkSession, root: String): Long =
    committedUnits(spark, root, "v=").lastOption.getOrElse(-1L)

  // ------------------------------------------------------------------
  // Append-delta layout (root/d=<batchId> + root/base=<uptoId>) — for
  // state that GROWS by batch (the dedup corpus): each micro-batch
  // writes only ITS OWN rows as a delta, so per-trigger write I/O is
  // O(batch), not O(corpus) (the legacy v= snapshot layout rewrote the
  // full state per version — right for state that is globally REVISED
  // each batch, like cluster assignments, wrong for an append-only
  // corpus). Readers see: latest committed base (a compaction of every
  // delta <= its id) plus all committed deltas ABOVE it. That filter is
  // also the crash-safety rule — a base commit followed by a crash
  // before delta GC leaves covered deltas on disk, and readers ignore
  // them by construction.
  // ------------------------------------------------------------------

  /** The delta layout's committed state, captured in ONE root listing —
    * a micro-batch computes this once and threads it through its reads,
    * replay check and compaction decision instead of re-listing the
    * root (object stores charge per LIST/HEAD; a dozen listings per
    * trigger is pure metadata overhead).
    */
  final case class StateView(baseId: Long, deltaIds: Seq[Long]) {
    /** Highest batchId the state contains — the replay skip boundary. */
    def highWater: Long = math.max(baseId, deltaIds.lastOption.getOrElse(-1L))
    def isEmpty: Boolean = baseId < 0 && deltaIds.isEmpty
    /** Deltas the current base does not cover. */
    def liveDeltaIds: Seq[Long] = deltaIds.filter(_ > baseId)
    /** (unitId, dir) of the committed view, oldest first. */
    def units(root: String): Seq[(Long, String)] = {
      val baseUnit = if (baseId < 0) Nil else Seq(baseId -> s"$root/base=$baseId")
      baseUnit ++ liveDeltaIds.map(id => id -> s"$root/d=$id")
    }
  }

  /** One listing of the delta-layout state (see [[StateView]]). */
  def stateView(spark: SparkSession, root: String): StateView = {
    val fs = fsOf(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return StateView(-1L, Nil)
    val committed = fs.listStatus(rootPath).map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.startsWith("base=") || n.startsWith("d=")) &&
          fs.exists(new Path(p, "_COMMITTED"))
      }.map(_.getName)
    val bases = committed.filter(_.startsWith("base=")).map(_.drop(5).toLong)
    val deltas = committed.filter(_.startsWith("d=")).map(_.drop(2).toLong)
    StateView(if (bases.isEmpty) -1L else bases.max, deltas.sorted.toSeq)
  }

  /** One state table unioned across the given unit dirs (from
    * [[StateView.units]]); None when there are none. This is the reader
    * for APPEND-ONLY tables; where later units OVERRIDE earlier rows,
    * merge by unit id instead (e.g. StreamResolveJob.currentClusters).
    */
  def readTableFrom(spark: SparkSession, units: Seq[(Long, String)],
                    table: String): Option[DataFrame] = {
    val dirs = units.map { case (_, d) => s"$d/$table" }
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Committed delta batchIds, ascending (including any a base already
    * covers — callers filter with [[latestBase]]).
    */
  def committedDeltas(spark: SparkSession, root: String): Seq[Long] =
    stateView(spark, root).deltaIds

  /** The latest committed base's covered-up-to id, or -1 if none. */
  def latestBase(spark: SparkSession, root: String): Long =
    stateView(spark, root).baseId

  /** Highest batchId the state already contains (base or delta) — the
    * replay skip boundary, same contract as [[latestVersion]] for the
    * snapshot layout.
    */
  def highWater(spark: SparkSession, root: String): Long =
    stateView(spark, root).highWater

  /** (unitId, directory) of the current committed view of the state,
    * oldest first (see [[StateView.units]] — one source of truth for
    * the view rule).
    */
  def liveUnits(spark: SparkSession, root: String): Seq[(Long, String)] =
    stateView(spark, root).units(root)

  /** Commit delta `id` (marker only — deltas are the corpus; nothing is
    * pruned here, compaction GCs them).
    */
  def commitDelta(spark: SparkSession, root: String, id: Long): Unit =
    fsOf(spark, root).create(new Path(s"$root/d=$id/_COMMITTED"), true).close()

  /** Commit a base covering every delta <= `upto`, then GC with a
    * one-cycle GRACE WINDOW for concurrent readers: the PREVIOUS base and the
    * deltas between it and `upto` survive this commit — a reader that
    * listed the units just before the marker landed can still finish
    * its scan — and are deleted by the NEXT base commit. What goes now:
    * bases older than the previous one, and every d= dir at-or-below
    * the previous base's upto (covered twice over, plus uncommitted
    * leftovers from failed attempts down there). Readers never see a
    * torn view either way: a base is invisible until its marker lands,
    * and [[liveUnits]]' `delta > latest base` rule already excludes
    * covered deltas the moment it does — GC is cleanup, not
    * correctness.
    */
  def commitBase(spark: SparkSession, root: String, upto: Long): Unit = {
    val fs = fsOf(spark, root)
    fs.create(new Path(s"$root/base=$upto/_COMMITTED"), true).close()
    val bases = committedUnits(spark, root, "base=")
    val keepBases = bases.takeRight(2).map(id => s"base=$id").toSet
    // previous base's upto: deltas at-or-below it lost their grace
    // window when THIS base committed
    val graceFloor = bases.takeRight(2) match {
      case Seq(prev, _) => prev
      case _ => -1L
    }
    fs.listStatus(new Path(root)).map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.startsWith("base=") && !keepBases(n)) ||
          (n.startsWith("d=") && n.drop(2).toLong <= graceFloor)
      }
      .foreach(p => fs.delete(p, true))
  }

  /** Committed unit ids under `prefix` (`v=`, `base=`), ascending. A
    * unit counts only once its `_COMMITTED` marker exists — partial
    * writes are invisible.
    */
  private def committedUnits(spark: SparkSession, root: String,
                             prefix: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        fs.exists(new Path(p, "_COMMITTED")))
      .map(_.getName.drop(prefix.length).toLong).sorted.toSeq
  }

  /** The state root and the streaming checkpoint form ONE lineage:
    * batchIds only mean anything relative to the checkpoint that issued
    * them. Fail fast on EITHER divergence: a fresh checkpoint over
    * committed state (restarted batchIds would be skip-dropped up to the
    * old high-water mark — silent data loss), and a progressed
    * checkpoint over an empty state root (the source would skip every
    * recorded file and the rebuilt state would silently miss them all).
    */
  def lineageGuard(spark: SparkSession, ckpt: String, stateRoot: String): Unit = {
    val ckptOffsets = new Path(s"$ckpt/offsets")
    val ckptFresh = !fsOf(spark, ckpt).exists(ckptOffsets)
    // covers both layouts: legacy v= snapshots and d=/base= deltas
    val stateEmpty = latestVersion(spark, stateRoot) < 0 &&
      highWater(spark, stateRoot) < 0
    if (ckptFresh && !stateEmpty)
      throw new IllegalStateException(
        s"state root $stateRoot has committed versions but checkpoint $ckpt is fresh; " +
          "state and checkpoint form one lineage — restore the original checkpoint " +
          "or start a new state root")
    if (!ckptFresh && stateEmpty)
      throw new IllegalStateException(
        s"checkpoint $ckpt has recorded progress but state root $stateRoot has no " +
          "committed versions; resuming would skip every previously ingested file — " +
          "restore the state root or start a fresh checkpoint AND state together")
  }
}
