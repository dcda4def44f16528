package graft.lineage

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Commit-level checkpointing with per-partition lineage rows — the
  * north_rule resume contract (snapshot id, partition id, doc count, bytes,
  * elapsed), emulated over hash-bucketed parquet since no Iceberg runtime
  * jar ships in this environment (SURVEY.md §7).
  *
  * Layout under `outDir`:
  *   data/bucket=N/...parquet        bucketed output partitions
  *   _lineage/snapshot-<id>.json     manifest per commit (monotonic ids)
  *
  * A killed job resumes by reading the latest manifest's committed bucket
  * set and pruning those buckets from the input scan — partition-granular
  * resume, no recomputation of committed work.
  *
  * This object is the only code that knows the manifest format: one typed
  * record, written and read by one Jackson mapper.
  */
object Lineage {
  case class PartitionStat(@JsonProperty("partition_id") bucket: Int, docCount: Long,
                           bytes: Long, elapsedMs: Long)

  /** One snapshot manifest. On disk: `snapshot_id`, `num_buckets`, `input`,
    * `partitions[]` of `partition_id`/`doc_count`/`bytes`/`elapsed_ms`. */
  case class Manifest(snapshotId: Long, numBuckets: Int, input: String,
                      partitions: Seq[PartitionStat])

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .build()

  private def lineageDir(outDir: String) = Paths.get(outDir, "_lineage")

  /** Names of manifest files, with the directory stream closed promptly. */
  private def manifestNames(outDir: String): List[String] = {
    val dir = lineageDir(outDir)
    if (!Files.exists(dir)) return Nil
    val stream = Files.list(dir)
    try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(s => s.startsWith("snapshot-") && s.endsWith(".json")).toList
    finally stream.close()
  }

  private def idOf(name: String): Long =
    name.stripPrefix("snapshot-").stripSuffix(".json").toLong

  private def read(outDir: String, name: String): Manifest =
    mapper.readValue(lineageDir(outDir).resolve(name).toFile, classOf[Manifest])

  /** The id the next commit after `latest` gets: monotonic, the latest
    * id + 1, or 1 before the first commit (no wall clock: determinism). A
    * commit's data files and its manifest both carry it. */
  def nextSnapshotId(latest: Option[Manifest]): Long = latest.fold(1L)(_.snapshotId + 1)

  /** Publishes `manifest` as `snapshot-<its id>.json`. */
  def commit(outDir: String, manifest: Manifest): Unit = {
    val dir = lineageDir(outDir)
    Files.createDirectories(dir)
    val id = manifest.snapshotId
    val tmp = dir.resolve(s".snapshot-$id.json.tmp")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(manifest))
    // atomic publish: a crash mid-commit leaves no partial manifest
    Files.move(tmp, dir.resolve(s"snapshot-$id.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The latest snapshot's manifest (None before the first commit); reads
    * one manifest file. */
  def latest(outDir: String): Option[Manifest] =
    manifestNames(outDir).maxByOption(idOf).map(read(outDir, _))

  /** Buckets already committed by the latest snapshot (empty if none). */
  def committedBuckets(outDir: String): Set[Int] =
    latest(outDir).fold(Set.empty[Int])(_.partitions.map(_.bucket).toSet)

  /** All snapshots with their partition rows, in snapshot-id order. */
  def snapshots(outDir: String): Seq[(Long, Seq[PartitionStat])] =
    manifestNames(outDir).sortBy(idOf).map(name => (idOf(name), read(outDir, name).partitions))
}
