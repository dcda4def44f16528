package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for a set of declared queries to
  * plans/r06/<query>_<tag>.txt — the before/after evidence files for the
  * optimization round. Usage: Test/runMain graft.tools.ExplainQueries <tag> [q ...]
  */
object ExplainQueries {
  val Default: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders_per_customer",
    "q04_customers_without_orders", "q05_events_hourly", "q06_part_brand_stats",
    "q07_event_props", "q10_token_stats", "q12_langid", "q14_exact_dedup_groups",
    "q17_minhash_signatures", "q18_minhash_lsh_pairs", "q19_simhash",
    "q20_simhash_pairs", "q23_cosine_lsh_topk", "q25_ngram_jaccard_pruned",
    "q27_cosine_ivf_topk", "q28_simhash64", "q29_simhash64_pairs",
    "q30_extract_documents", "q47_neardup_components", "q49_ivf_trained",
    "q50_paragraph_dedup", "q56_quality_filter", "q61_url_canonical_dedup",
    "q64_bpe_token_stats", "q65_ngram_langid", "q67_dedup_chain")

  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "before"
    val names = if (args.length > 1) args.drop(1).toSeq else Default
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get("plans/r06")
    java.nio.file.Files.createDirectories(outDir)
    // a materialized query's result is a checkpoint scan: explain the plan
    // its checkpoint ran instead
    val plans = new MaterializedPlans(spark)
    for (name <- names) {
      try {
        val (_, qe) = plans.run(graft.SparkEntry.queries(name)(spark, sf))
        val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
        println(s"wrote ${name}_$tag.txt")
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
