package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** 100x-scale rehearsal (round-4 verdict task 7): one end-to-end run at
  * >=1M synthetic docs through extract -> commit (lineage) -> paragraph
  * dedup -> minhash-LSH near-dup components, recording wall time, shuffle
  * spill, peak execution memory, and component-propagation round count.
  *
  * Round-5 addition (`skew` arg): a pathological corpus — 0.01% giant
  * (100x) documents, 20% exact-template classes, 10% near-dup-template
  * cliques (SyntheticPages.skewPage) — with per-stage straggler factors
  * (max/median task duration) recorded, since a giant document is a row
  * AQE cannot split.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [docs] [skew]
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val skew = args.length > 1 && args(1) == "skew"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val memSpill = new AtomicLong(0); val diskSpill = new AtomicLong(0)
    val peakExec = new AtomicLong(0)
    val taskDurations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
          taskDurations.add(m.executorRunTime)
        }
      }
    })

    def heapUsed(): Long = {
      val r = Runtime.getRuntime; r.totalMemory() - r.freeMemory()
    }
    var peakHeap = 0L
    def stage[A](label: String)(f: => A): A = {
      taskDurations.clear()
      val t0 = System.nanoTime()
      val r = f
      peakHeap = math.max(peakHeap, heapUsed())
      // straggler factor: max/median task run time within this stage window
      // (the giant-doc skew shows up here, not in spill)
      val ds = taskDurations.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      val straggle =
        if (ds.length < 2 || ds(ds.length / 2) == 0) 0.0
        else ds.last.toDouble / ds(ds.length / 2)
      println(f"stage=$label%-24s sec=${(System.nanoTime() - t0) / 1e9}%8.1f " +
        f"spill_mem=${memSpill.get / (1 << 20)}%6d MiB spill_disk=${diskSpill.get / (1 << 20)}%6d MiB " +
        f"peak_exec=${peakExec.get / (1 << 20)}%6d MiB heap=${heapUsed() / (1 << 20)}%6d MiB " +
        f"tasks=${ds.length}%5d straggle=${straggle}%6.1f")
      r
    }

    val base = java.nio.file.Files.createTempDirectory("graft-rehearsal").toString
    val pagesDir = s"$base/pages"
    val outDir = s"$base/committed"
    val docsDir = s"$base/docs"

    stage(if (skew) "gen-corpus(SKEW)" else "gen-corpus") {
      spark.createDataset(spark.sparkContext.parallelize(0L until n.toLong, 512)
        .map(i =>
          if (skew) graft.sources.SyntheticPages.skewPage(42L, i)
          else graft.sources.SyntheticPages.page(42L, i))).toDF()
        .write.mode("overwrite").parquet(pagesDir)
    }
    val pages = spark.read.parquet(pagesDir)
    val committed = stage("extract+commit") {
      graft.extract.Pipeline.extractAndCommit(spark, pages, outDir, numBuckets = 512)
    }
    println(s"committed: snapshot=${committed._1} docs=${committed._2}")

    // documents-shaped table from the committed output so the dedup/ANN
    // battery runs its production shapes unmodified
    stage("documents-table") {
      spark.read.parquet(s"$outDir/data")
        .select(
          org.apache.spark.sql.functions.xxhash64($"url").as("doc_id"),
          $"text", $"lang")
        .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    }
    val nDedup = stage("paragraph-dedup (q50)") {
      graft.ops.Ops.q50ParagraphDedup(spark, docsDir).count()
    }
    println(s"paragraph-dedup rows: $nDedup")

    // near-dup at scale runs in the PRODUCTION order: exact dedup first
    // (a template corpus collapses by orders of magnitude — running LSH on
    // raw docs put thousands of identical docs into single band buckets
    // and the within-bucket join went quadratic: 849 s / 17 GB spill at
    // 200k docs), then capped LSH star edges over the representatives only,
    // then components; members inherit their representative's component.
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val exact = stage("exact-dedup-groups") {
      val g = docs.groupBy(org.apache.spark.sql.functions.xxhash64($"text").as("th"))
        .agg(org.apache.spark.sql.functions.min($"doc_id").as("rep_id"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("members"))
        .cache()
      g.count(); g
    }
    val nExact = exact.count()
    println(s"exact classes: $nExact (of ${docs.count()} docs)")
    val reps = docs.join(exact.select($"rep_id".as("doc_id")), "doc_id").cache()
    val nEdges = stage("lsh-star-edges-capped(512)") {
      graft.ops.Ops.lshStarEdgesOf(reps, maxBucketSize = 512).count()
    }
    println(s"lsh star edges over reps: $nEdges")
    val (labels, rounds) = stage("neardup-components (q47)") {
      graft.ops.Ops.connectedComponents(reps.select($"doc_id"),
        graft.ops.Ops.lshStarEdgesOf(reps, maxBucketSize = 512))
    }
    val nComp = labels.select($"component").distinct().count()
    val totalAssigned = stage("expand-members") {
      exact.join(labels, exact("rep_id") === labels("doc_id"))
        .select($"component", $"members").groupBy($"component")
        .agg(org.apache.spark.sql.functions.sum($"members").as("n"))
        .agg(org.apache.spark.sql.functions.sum($"n")).collect()(0).getLong(0)
    }
    println(f"components: rounds=$rounds distinct=$nComp docs_assigned=$totalAssigned " +
      f"peak_heap=${peakHeap / (1 << 20)} MiB")
    spark.stop()
  }
}
