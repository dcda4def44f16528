package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.extract.SparkTestSession

/** Physical-plan shape assertions: the optimizations the engine is designed
  * around must actually appear in the executed plan. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 star join broadcasts the dimension tables") {
    val p = plan(Ops.q02RevenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q01 scan prunes columns: only the aggregated lineitem fields are read") {
    val p = plan(Ops.q01PricingSummary(spark, sf))
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(scanLine.contains("l_returnflag") && scanLine.contains("l_quantity"))
    assert(!scanLine.contains("l_shipdate"), s"unpruned scan: $scanLine")
  }

  test("q03 window filter pushes rn<=3 into a single window stage") {
    val p = plan(Ops.q03TopOrdersPerCustomer(spark, sf))
    assert("Window".r.findAllIn(p).length >= 1)
    // exactly one exchange for the window partitioning + one for final sort
    assert("Exchange".r.findAllIn(p).length <= 3, p.take(2000))
  }

  test("polyhash stays inside whole-stage codegen") {
    val df = Ops.q13ExactHash(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // `*(n)` prefixes mark whole-stage-codegen stages in the plan string
    val codegenProject = "\\*\\(\\d+\\) Project \\[doc_id.*polyhash".r
    assert(codegenProject.findFirstIn(p).nonEmpty, p.take(1500))
  }

  test("q18 signatures are row-local; the at-scale band join shares ONE pipeline run") {
    // round 6: signatures are computed row-locally (zero exchanges below the
    // band join — the round-5 shape shuffled the full corpus trigram relation
    // twice before bands even formed). At 100TB the self-join is a shuffle
    // join; pin that shape (broadcast off) and that the whole signature
    // subtree runs ONCE, the second side fed by a ReusedExchange. (At small
    // SF the planner broadcasts one side instead — recomputing the cheap
    // row-local map exactly when it is affordable.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Ops.q18MinhashLshPairs(spark, sf)
      df.collect() // finalize the adaptive plan
      // AQE's toString appends the pre-adaptive "Initial Plan" — count scans
      // only in the final executed plan
      val p = plan(df).split("== Initial Plan ==").head
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans <= 1, s"q18 recomputes the signature pipeline: $scans scans")
      assert(p.contains("ReusedExchange"), "expected the band exchange to be reused")
      // no full-relation exchange below the band join: the only hash
      // exchanges are on the band key itself (plus the final distinct)
      assert(!p.contains("hashpartitioning(doc_id"),
        "unexpected per-doc exchange below the band join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q20 simhash pairs use a chunk equi-join, not a nested-loop cross join") {
    val p = plan(Ops.q20SimhashPairs(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("pre-bucketed tables join with ZERO exchanges (the co-located-join layout)") {
    import spark.implicits._
    // two derived tables bucketed+sorted on doc_id: the repeated-join layout
    // for a 100TB corpus keyed by document
    spark.sql("DROP TABLE IF EXISTS docs_bkt")
    spark.sql("DROP TABLE IF EXISTS stats_bkt")
    // a crashed prior run can leave orphaned managed-table dirs behind
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    for (t <- Seq("docs_bkt", "stats_bkt")) {
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        val walk = java.nio.file.Files.walk(d.toPath)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.select($"doc_id", $"text", $"lang")
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("docs_bkt")
    docs.select($"doc_id", length($"text").as("n_chars"))
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("stats_bkt")
    // disable broadcast so the plan shows the co-located SMJ the layout is
    // for (at 100TB neither side broadcasts)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try {
      val joined = spark.table("docs_bkt").join(spark.table("stats_bkt"), "doc_id")
        .groupBy($"lang").agg(sum($"n_chars").as("chars"))
      joined.collect()
      plan(joined).split("== Initial Plan ==").head
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // bucketing must eliminate the join exchanges entirely; only the final
    // single-column aggregation exchange remains
    assert("SortMergeJoin".r.findFirstIn(p).nonEmpty || "ShuffledHashJoin".r.findFirstIn(p).nonEmpty, p.take(1500))
    val exchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(exchanges == 0, s"bucketed join still shuffles on doc_id:\n${p.take(2500)}")
  }

  test("q27 IVF plan: row-local cell assignment (no cross join, no window before the exchange)") {
    val df = Ops.q27CosineIvfTopK(spark, sf)
    df.collect() // finalize the adaptive plan (the result is a checkpoint;
    // assert on the ranked sub-plan instead: build it the way ivfTopK does)
    val codebook = Ops.ivfCodebook(16)
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val cellDists = array(codebook.indices.map { c =>
      struct(graft.functions.VecMath.sqDist($"v",
          typedLit(codebook(c).toIndexedSeq)).as("dist"),
        lit(c).as("cell"))
    }: _*)
    val ranked = vecs.withColumn("sorted", array_sort(cellDists))
      .select($"vec_id", $"sorted"(0)("cell").as("cell"))
    val p = plan(ranked)
    // round 3's shape had BroadcastNestedLoopJoin (16-row codebook cross
    // join) + Window row_number — both must be gone: assignment is a single
    // projection over the scan
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("Exchange"), p.take(1500))
    assert("FileScan parquet".r.findAllIn(p).length == 1, p.take(1500))
  }

  /** In the 100TB shape (broadcast off, so self-joins are shuffle joins)
    * each query scans embeddings once and its second join side is a
    * ReusedExchange of the first. */
  private def assertOneScanReusedAtScale(
      queries: (String, () => org.apache.spark.sql.DataFrame)*): Unit = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((name, query) <- queries) {
        val df = query()
        df.collect() // finalize the adaptive plan
        val p = plan(df).split("== Initial Plan ==").head
        val scans = "FileScan parquet".r.findAllIn(p).length
        assert(scans == 1, s"$name scans embeddings $scans times:\n${p.take(2500)}")
        assert(p.contains("ReusedExchange"),
          s"$name: expected the join's exchange to be reused:\n${p.take(2500)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q27/q49 at-scale candidate join: ONE embeddings scan, the ranked exchange reused") {
    // round 6 dropped ivfTopK's cache + release checkpoint on the promise
    // that both candidate-join sides hang off the SAME repartition exchange:
    // the ranked relation is scanned once and its exchange reused.
    assertOneScanReusedAtScale(
      "q27" -> (() => Ops.q27CosineIvfTopK(spark, sf)),
      "q49" -> (() => Ops.q49IvfTrainedTopK(spark, sf)))
  }

  test("q23 at-scale bucket self-join: ONE embeddings scan, the bucketed exchange reused") {
    // q23 dropped its cache on the same promise for its sign-LSH self-join
    assertOneScanReusedAtScale("q23" -> (() => Ops.q23CosineLshTopK(spark, sf)))
  }

  test("sq_dist/dot_product stay inside whole-stage codegen") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val df = vecs.select($"vec_id",
      graft.functions.VecMath.dotProduct($"v", $"v").as("d"))
    df.collect()
    val p = plan(df)
    val codegenProject = "\\*\\(\\d+\\) Project \\[vec_id".r
    assert(codegenProject.findFirstIn(p).nonEmpty, p.take(1500))
  }

  test("lineitem filter pushdown reaches the parquet reader") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter($"l_quantity" > 30.0).select($"l_orderkey")
    val p = plan(df)
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(scanLine.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"missing pushdown: $scanLine")
  }
}
