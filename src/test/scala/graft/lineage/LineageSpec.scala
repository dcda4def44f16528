package graft.lineage

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import Lineage.{Manifest, PartitionStat}

/** The manifest codec: what `commit` writes reads back unchanged, and
  * manifests in the earlier hand-written layout stay readable. */
class LineageSpec extends AnyFunSuite with graft.TempDirs {
  private def manifestFile(dir: String, id: Long): Path =
    Path.of(dir, "_lineage", s"snapshot-$id.json")

  test("an input with a quote and a backslash round-trips as valid JSON") {
    val dir = tempDir("graft-lineage-esc")
    val input = """url,html; from "C:\xdata\new" """ + "tab\tend"
    val stats = Seq(PartitionStat(3, 2, 10, 5))
    assert(Lineage.latest(dir).isEmpty)
    val first = Lineage.nextSnapshotId(Lineage.latest(dir))
    assert(first == 1)
    Lineage.commit(dir, Manifest(first, 4, input, stats))
    // any JSON reader sees the same text, not only this codec
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifestFile(dir, 1).toFile)
    assert(node.get("input").asText() == input)
    assert(node.get("partitions").get(0).get("partition_id").asInt() == 3)
    assert(Lineage.latest(dir).contains(Manifest(1, 4, input, stats)))
  }

  test("manifests in the earlier hand-written layout read back the same") {
    // byte-for-byte what the string-interpolated writer produced for these
    // two commits (the second commit's empty `partitions` included a blank line)
    val dir = tempDir("graft-lineage-old")
    Files.createDirectories(Path.of(dir, "_lineage"))
    Files.writeString(manifestFile(dir, 1),
      """{
        |  "snapshot_id": 1,
        |  "num_buckets": 8,
        |  "input": "url,html,lang; observed: docs=0 changed_cells=0 removed_items=0",
        |  "partitions": [
        |
        |  ]
        |}""".stripMargin)
    Files.writeString(manifestFile(dir, 2),
      """{
        |  "snapshot_id": 2,
        |  "num_buckets": 8,
        |  "input": "url,html,lang; observed: docs=4 changed_cells=0 removed_items=1",
        |  "partitions": [
        |    {"partition_id": 0, "doc_count": 4, "bytes": 1500, "elapsed_ms": 70},
        |    {"partition_id": 1, "doc_count": 3, "bytes": 1200, "elapsed_ms": 45},
        |    {"partition_id": 6, "doc_count": 2, "bytes": 800, "elapsed_ms": 45}
        |  ]
        |}""".stripMargin)
    val stats = Seq(PartitionStat(0, 4, 1500, 70), PartitionStat(1, 3, 1200, 45),
      PartitionStat(6, 2, 800, 45))
    assert(Lineage.committedBuckets(dir) == Set(0, 1, 6))
    assert(Lineage.snapshots(dir) == Seq((1L, Seq.empty), (2L, stats)))
    assert(Lineage.latest(dir).contains(Manifest(2, 8,
      "url,html,lang; observed: docs=4 changed_cells=0 removed_items=1", stats)))
    // the next commit numbers past them
    val next = Lineage.nextSnapshotId(Lineage.latest(dir))
    assert(next == 3)
    Lineage.commit(dir, Manifest(next, 8, "next", stats))
    assert(Lineage.snapshots(dir).map(_._1) == Seq(1L, 2L, 3L))
  }
}
