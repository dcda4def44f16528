package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** 100x-scale rehearsal: one end-to-end run at >=1M synthetic docs
  * through extract -> commit (lineage) -> paragraph dedup -> the near-dup
  * chain (`Ops.dedupChain`), recording per stage wall time, shuffle spill,
  * peak execution memory and heap.
  *
  * With `skew`, the corpus is pathological — 0.01% giant (100x) documents,
  * 20% exact-template classes, 10% near-dup-template cliques
  * (SyntheticPages.skewPage) — and the per-stage straggler factor
  * (max/median task duration) matters, since a giant document is a row
  * AQE cannot split.
  *
  * Usage: Test/runMain graft.tools.ScaleRehearsal [docs] [skew]
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
    // the corpus, its committed copy and the documents table all live under
    // base, which goes whether the run finishes or not
    try {
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

      // near-dup at scale is the production chain itself: exact dedup first
      // (running LSH on the raw template corpus put thousands of identical
      // docs into single band buckets: 849 s / 17 GB spill at 200k docs),
      // then capped LSH star edges over the representatives, then components
      val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      val canon = stage("dedup-chain") {
        graft.ops.Ops.dedupChain(docs)
      }
      val nCanon = canon.select($"canonical_id").distinct().count()
      println(s"canonical classes: $nCanon (of ${canon.count()} docs) " +
        s"peak_heap=${peakHeap / (1 << 20)} MiB")
    } finally {
      spark.stop()
      graft.extract.Pipeline.deleteTree(base)
    }
  }
}
