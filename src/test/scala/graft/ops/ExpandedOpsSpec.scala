package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.SparkTestSession

/** Round-2 additions: docling payload routing, the KPI caption channel, and
  * near-dup connected components (all also oracle-gated: q45/q46/q47). */
class ExpandedOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("docling-JSON payloads route through the distributed pipeline and collapse tables") {
    import spark.implicits._
    val out = ExtractOps.doclingPipeline(spark, sf).cache()
    assert(out.count() == 500)
    assert(out.filter($"backend" =!= "docling-json").count() == 0)
    assert(out.filter(!$"covered").count() == 0)
    // every doc_id % 3 == 0 row must have collapsed the split RON pair
    val bad = out.filter($"table_count" === 1 && !$"collapsed_pair").count()
    assert(bad == 0)
    out.unpersist()
  }

  test("KPI picture captions land in the markdown for exactly the seeded class") {
    import spark.implicits._
    val out = ExtractOps.kpiCaptions(spark, sf).cache()
    val urls = out.filter($"caption_added").select($"url").as[String].collect().toSet
    assert(urls.nonEmpty)
    assert(urls.forall(u => u.stripPrefix("doc://").toLong % 4 == 0))
    out.unpersist()
  }

  test("near-dup components: labels are fixpoint-stable and respect candidate pairs") {
    import spark.implicits._
    val comp = Ops.q47NeardupComponents(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 500)
    // every pair's endpoints share a component; components are min-ids
    val pairs = Ops.q18MinhashLshPairs(spark, sf).as[(Long, Long)].collect()
    for ((a, b) <- pairs) assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    for ((id, c) <- comp) assert(c <= id)
    // component representative is a member of its own component
    for ((_, c) <- comp) assert(comp(c) == c, s"representative $c not self-rooted")
  }

  test("pointer doubling: a 64-node chain converges in <= log2(n)+1 rounds, labels exact") {
    import spark.implicits._
    val n = 64
    val nodes = spark.range(n).toDF("doc_id")
    // worst case for plain min-label propagation: one path graph, min at the
    // far end — O(diameter)=63 rounds without the jump, ~log2(64)=6 with it.
    // One edge per partition: connectedComponents' per-partition union-find
    // pre-pass then has nothing to collapse, so the bound tests the jump.
    val edges = spark.sparkContext
      .parallelize((0L until (n - 1).toLong).map(i => (i, i + 1)), n - 1)
      .toDF("src", "dst")
    assert(edges.rdd.getNumPartitions == n - 1)
    val (labels, rounds) = Ops.connectedComponents(nodes, edges)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), "chain must collapse to component 0")
    val bound = (math.log(n) / math.log(2)).ceil.toInt + 1
    assert(rounds <= bound, s"took $rounds rounds, pointer-doubling bound is $bound")
  }

  test("pointer doubling: disjoint components + singletons keep min-id labels") {
    import spark.implicits._
    val nodes = spark.range(10).toDF("doc_id")
    // components: {0..4} (a cycle), {5,7,9} (a star on 7), singletons {6},{8}
    val edges = spark.createDataset(Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (7L, 5L), (7L, 9L))).toDF("src", "dst")
    val (labels, _) = Ops.connectedComponents(nodes, edges)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 5L, 6L -> 6L, 7L -> 5L, 8L -> 8L, 9L -> 5L))
  }
}

/** Streaming extraction: the batch conversion flow over a streaming source
  * must produce exactly the batch result (same rows, same markdown). */
class StreamingExtractSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streamed extraction equals batch extraction row-for-row") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-stream-pages").toString
    val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val pages = spark.createDataset((0L until 64L)
      .map(i => graft.sources.SyntheticPages.page(42L, i))).toDF()
    pages.repartition(4).write.mode("overwrite").parquet(src)

    val q = graft.streaming.StreamingExtract.stream(spark, src, out, ckpt, numBuckets = 8)
    q.awaitTermination(120000)

    // raw row count FIRST: a replayed/duplicated micro-batch must fail here
    val raw = spark.read.parquet(s"$out/data")
    assert(raw.count() == 64, s"expected 64 rows, got ${raw.count()}")
    val streamed = raw
      .select($"url", $"markdown").as[(String, String)].collect().toMap
    val batch = graft.extract.Pipeline.extract(spark, spark.read.parquet(src), numBuckets = 8)
      .toDF().select($"url", $"markdown").as[(String, String)].collect().toMap
    assert(streamed.size == 64 && batch.size == 64)
    assert(streamed == batch, "streamed and batch markdown must be byte-identical per url")
  }
}
