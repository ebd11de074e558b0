package graft.checkpoint

import scala.io.Codec.UTF8
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** I6/M8: stage checkpoint store — one parquet snapshot per pipeline
  * stage, committed by a manifest that carries its lineage, so a killed
  * run resumes mid-pipeline.
  *
  * Layout: `<root>/<stage>/data` holds the snapshot and
  * `<root>/<stage>/MANIFEST.json` the commit record (`stage`,
  * `fingerprint`, `rows`, per-file `partitions`). A stage is committed
  * when its manifest reads, parses and carries a fingerprint and a row
  * count; a committed stage whose fingerprint matches is resumed.
  *
  * Commit protocol, the rule [[graft.streaming.VersionedState]] follows
  * too: write in place, write the commit record last, never rename. On a
  * fingerprint miss the store
  *  1. deletes MANIFEST.json, so a crash at any later step leaves the
  *     stage uncommitted (a recursive delete has no guaranteed order);
  *  2. deletes the stage dir: the old snapshot and any leftovers;
  *  3. writes the snapshot straight to `data`;
  *  4. takes per-file row counts from the written parquet footers, read
  *     on the driver, so no job re-reads the snapshot;
  *  5. creates MANIFEST.json with one `fs.create`: the commit point.
  * There is no temp dir renamed into place: on object stores (s3a) a
  * directory rename is an O(data) copy and not atomic, so it would add
  * cost and nothing the manifest does not already guarantee. The price
  * is that a failed recompute leaves the stage with no snapshot rather
  * than the previous fingerprint's: a later run with the old config
  * recomputes the stage. For the same reason `compute` must not read
  * this stage's own snapshot.
  *
  * The root may be on any Hadoop FileSystem (`file:`, `hdfs://`,
  * `s3a://`). On `file:` roots the checksummed LocalFileSystem keeps a
  * `.MANIFEST.json.crc` sidecar, so a manifest edited outside Hadoop
  * fails its checksum and counts as uncommitted. The north star names
  * Iceberg tables; no Iceberg runtime jar exists on this classpath
  * (SURVEY.md §7.4), so the snapshot-commit semantics sit on plain
  * parquet directories.
  *
  * This replaces the reference's 6-step compensating merge transaction
  * (merge/MergeEngine.java:97-228, docs/adr/ADR-002): Spark stages are
  * deterministic and idempotent, so "transaction" = snapshot plus commit
  * record and "rollback" = recompute from the previous stage.
  */
final class StageStore(root: String, spark: SparkSession) {

  private val fs = StageStore.fsOf(spark, root)
  private def stageDir(name: String): Path = new Path(root, name)
  private def dataDir(name: String): Path = new Path(stageDir(name), "data")
  private def manifestPath(name: String): Path = new Path(stageDir(name), "MANIFEST.json")

  /** Stable fingerprint for (stage params + upstream fingerprints). */
  def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(parts.mkString("\u0000").getBytes(UTF8.charSet))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** (fingerprint, rows) of the stage's commit record, or None when the
    * stage is uncommitted: no manifest, or one that cannot be read or
    * parsed (a torn write, a checksum mismatch) or that lacks either
    * field.
    */
  private def manifest(name: String): Option[(String, Long)] =
    try {
      val text = Using.resource(fs.open(manifestPath(name)))(in =>
        new String(in.readAllBytes(), UTF8.charSet))
      val fields = parse(text) match {
        case JObject(kvs) => kvs.toMap
        case _ => Map.empty[String, JValue]
      }
      (fields.get("fingerprint"), fields.get("rows")) match {
        case (Some(JString(fp)), Some(JInt(rows))) => Some((fp, rows.toLong))
        case _ => None
      }
    } catch { case NonFatal(_) => None }

  def committedFingerprint(name: String): Option[String] = manifest(name).map(_._1)

  /** Row count of a committed stage, from its manifest — callers that
    * need the cardinality of a just-materialized stage read it here
    * instead of paying a count job over the snapshot.
    */
  def committedRows(name: String): Option[Long] = manifest(name).map(_._2)

  /** Materialize a stage: if a committed snapshot with the same
    * fingerprint exists, read it (resume path, no recompute); otherwise
    * compute, write the snapshot, commit the manifest, and read back.
    * Reading back (instead of reusing the in-memory plan) truncates
    * lineage and makes every downstream stage restart-equivalent.
    */
  def materialize(name: String, fp: String)(compute: => DataFrame): DataFrame = {
    val data = dataDir(name)
    if (committedFingerprint(name).contains(fp))
      return spark.read.parquet(data.toString)

    val df = compute
    fs.delete(manifestPath(name), false)
    fs.delete(stageDir(name), true)
    df.write.mode("overwrite").parquet(data.toString)

    // Spark skips `_`/`.` files (markers, checksums) when reading a dir
    val partRows = fs.listStatus(data)
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => Using.resource(
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf)))(_.getRecordCount))
    val record = JObject(
      "stage" -> JString(name),
      "fingerprint" -> JString(fp),
      "rows" -> JInt(partRows.sum),
      "partitions" -> JArray(partRows.zipWithIndex.map { case (rows, pid) =>
        JObject("pid" -> JInt(pid), "rows" -> JInt(rows))
      }.toList))
    Using.resource(fs.create(manifestPath(name), true))(
      _.write(compact(render(record)).getBytes(UTF8.charSet)))
    spark.read.parquet(data.toString)
  }
}

object StageStore {

  /** The Hadoop FileSystem a store root resolves to — the one lookup both
    * commit stores (this one and [[graft.streaming.VersionedState]]) use.
    */
  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
