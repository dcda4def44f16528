package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dumps formatted physical plans of the headline operators to PLANS.md so
  * the optimization story (pushdown, pruning, broadcast, single exchange,
  * whole-stage codegen spans) is reviewable without running anything. A
  * query that materializes its result shows the initial plan of its
  * checkpoint. Lambda class names, hash codes and plan ids are normalized
  * away, so two runs over the same code write the same bytes. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sf = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline operators\n\n"
    sb ++= "Generated by `sbt \"Test/runMain graft.tools.DumpPlans\"`. What to look\n"
    sb ++= "for: `PushedFilters`/`ReadSchema` at the scans (pushdown + column\n"
    sb ++= "pruning), `BroadcastHashJoin` on dimension joins, a single\n"
    sb ++= "`Exchange` in the extraction pipeline, and `WholeStageCodegen`\n"
    sb ++= "(`*(n)`) spans around the custom polyhash expression.\n"

    val plans = new MaterializedPlans(spark)
    def dump(title: String, query: => org.apache.spark.sql.DataFrame): Unit = {
      val (df, qe) = plans.run(query)
      df.collect() // finalize AQE so the real executed plan prints
      val plan = qe.executedPlan match {
        // a checkpoint's re-plans race its stages (a join broadcasts
        // whichever input finished first), so it shows the plan it started from
        case a: AdaptiveSparkPlanExec if qe ne df.queryExecution =>
          "AdaptiveSparkPlan, initial plan of its checkpoint\n" + a.initialPlan
        case p => p.toString
      }
      sb ++= s"\n## $title\n\n```\n"
      sb ++= MaterializedPlans.normalize(plan).take(7000)
      sb ++= "\n```\n"
    }

    val pages = spark.createDataset((0L until 32L)
      .map(i => graft.sources.SyntheticPages.page(42L, i))).toDF()
    dump("extraction pipeline (one exchange of min(buckets, 4 x cores) partitions: 32 buckets, 16 tasks)",
      graft.extract.Pipeline.extract(spark, pages, numBuckets = 32).toDF()
        .select($"url", $"md_chars"))
    dump("q01 pricing summary (partial agg, pruned lineitem scan)",
      graft.ops.Ops.q01PricingSummary(spark, sf))
    dump("q02 revenue by nation (broadcast star join)",
      graft.ops.Ops.q02RevenueByNation(spark, sf))
    dump("q13 exact hash (codegen'd polyhash expression)",
      graft.ops.Ops.q13ExactHash(spark, sf))
    dump("q18 minhash LSH pairs (row-local signatures, posexplode bands; at this SF one " +
      "side is broadcast, at scale one scan + ReusedExchange)",
      graft.ops.Ops.q18MinhashLshPairs(spark, sf))
    dump("q20 simhash pairs (pigeonhole chunk equi-join, no BroadcastNestedLoopJoin)",
      graft.ops.Ops.q20SimhashPairs(spark, sf))
    dump("q27 IVF ANN (row-local nearest-cell ranking over a literal codebook -> cell equi-join)",
      graft.ops.Ops.q27CosineIvfTopK(spark, sf))
    dump("q29 banded 64-bit simhash pairs (production-width Hamming bucket join)",
      graft.ops.Ops.q29Simhash64Pairs(spark, sf))
    dump("q49 trained IVF (bounded-sample k-means codebook -> q27's cell equi-join)",
      graft.ops.Ops.q49IvfTrainedTopK(spark, sf))
    dump("q50 paragraph dedup (explode + hash, occurrence window over one exchange, no join-back)",
      graft.ops.Ops.q50ParagraphDedup(spark, sf))
    dump("q25 pruned Jaccard (round 5: ONE full-relation exchange via the " +
      "bounded-distinct aggregate; sizes + pair expansion from the cached " +
      "vocabulary-sized kept groups)",
      graft.ops.Ops.q25NgramJaccardPruned(spark, sf))
    dump("q61 canonical-url dedup (pure codegen canonicalizer, map-side " +
      "until one count groupBy)",
      graft.ops.Ops.q61UrlCanonicalDedup(spark, sf))

    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.result())
    println(s"wrote $out")
    spark.stop()
  }
}
