package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark entry point: one workload, closed loop, one job at a time on a
  * `local[4]` session with the engine's default `ExtractOptions`.
  *
  * Set-up starts the session, builds the corpus (generation and
  * materialization) `SetupBuilds` times, keeping the median, and runs the
  * workload's warm-up jobs. Between the builds and the warm-up, the
  * reference output of every document is computed for the output checks;
  * that time is not set-up. Then the timed job repeats for
  * `--seconds`; each run's output is checked before the next starts.
  * `--trace 1` splits the window into an untraced and a traced half and
  * runs the single-thread layer ledger afterwards.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <scratch dir> --result <file>
  */
object Main {
  val Cores = 4
  val SetupBuilds = 3

  final case class Iter(wallS: Double, cpuS: Double, docs: Int, failed: Int,
                        layers: Map[String, Double])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def loadAvg(): Double = osBean.getSystemLoadAverage

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where absent. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.all.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val load0 = loadAvg()
    val jiffies0 = cpuJiffies()

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    var corpus: Corpus = null
    val buildS = (1 to SetupBuilds).map { k =>
      if (corpus != null) Workloads.deleteTree(corpus.dir)
      val dir = work.resolve(s"corpus-$k")
      val b0 = System.nanoTime()
      corpus = wl.generate(spark, seed, dir)
      (System.nanoTime() - b0) / 1e9
    }
    // check preparation, not counted as set-up: reference outputs for the
    // output check of every timed run
    val e0 = System.nanoTime()
    val expected = Workloads.expect(wl, seed, corpus)
    val expectS = (System.nanoTime() - e0) / 1e9

    var outSeq = 0
    def runOnce(calls: Calls): Iter = {
      outSeq += 1
      val out = work.resolve(s"out-$outSeq")
      val c0 = osBean.getProcessCpuTime
      val w0 = System.nanoTime()
      // a job that throws fails all its documents
      val failAll = () => Checked(corpus.docs, Map.empty)
      val check = try wl.job(spark, calls, corpus, expected, out) catch { case NonFatal(e) =>
        System.err.println(s"perfbench: job failed: $e"); failAll
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val checked = try check() catch { case NonFatal(e) =>
        System.err.println(s"perfbench: output check failed: $e"); failAll()
      }
      Workloads.deleteTree(out)
      System.err.println(f"perfbench: job $wall%.3f s, cpu $cpu%.2f s, failed ${checked.failed}")
      Iter(wall, cpu, corpus.docs, checked.failed, checked.counts)
    }

    val w0 = System.nanoTime()
    (1 to wl.warmupJobs).foreach(_ => runOnce(new Calls(sc, traced = false)))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(buildS) + warmupS
    System.err.println(f"perfbench: session $sessionS%.2f s, corpus builds " +
      buildS.map(b => f"$b%.2f").mkString(" ") + f" s, references $expectS%.2f s, " +
      f"warm-up $warmupS%.2f s")

    /** Timed jobs for about `secs`; with a trace, every second job runs traced. */
    def window(secs: Double, trace: Option[SparkTrace]): Seq[(Iter, Boolean)] = {
      val iters = mutable.ArrayBuffer.empty[(Iter, Boolean)]
      // stop when the next job would end past the window by more than half
      val end = System.nanoTime() + (secs * 1e9).toLong
      // traced jobs sit between untraced ones, so JIT warm-up over the
      // window biases neither side of trace.overhead_frac
      val minJobs = if (trace.isEmpty) 1 else 3
      while (iters.length < minJobs || System.nanoTime() + iters.last._1.wallS * 0.5e9 < end) {
        val tr = trace.filter(_ => iters.length % 2 == 1)
        val calls = new Calls(sc, traced = tr.nonEmpty)
        tr.foreach { t => t.reset(); sc.addSparkListener(t) }
        val it = runOnce(calls)
        iters += (tr match {
          case Some(t) =>
            val layers = sparkLayers(t, calls)
            sc.removeSparkListener(t)
            (it.copy(layers = it.layers ++ layers), true)
          case None => (it, false)
        })
      }
      iters.toSeq
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val iters =
      if (!traced) {
        val its = window(seconds, None).map(_._1)
        metrics("docs_per_s") = (median(its.map(i => (i.docs - i.failed) / i.wallS)), "docs/s")
        metrics("cpu_ms_per_doc") = (median(its.map(i => i.cpuS * 1000 / i.docs)), "ms")
        metrics("setup_s") = (setupS, "s")
        metrics("heap_retained_mb") = (retainedHeapMb(), "MB")
        val attempted = its.map(_.docs).sum
        metrics("ok_doc_frac") = ((attempted - its.map(_.failed).sum).toDouble / attempted, "frac")
        its
      } else {
        val all = window(seconds, Some(new SparkTrace))
        val plain = all.filterNot(_._2).map(_._1)
        val its = all.filter(_._2).map(_._1)
        val layers = mutable.HashMap.empty[String, Double]
        for (k <- its.head.layers.keys) layers(k) = median(its.map(_.layers.getOrElse(k, 0.0)))
        Ledger.run(corpus.sample) // JIT warm-up of the single-thread chain
        val ledger = Ledger.run(corpus.sample)
        def perDoc(keys: Seq[String]): Double = keys.map(ledger.ns).sum / 1e3 / ledger.docs
        for (k <- Seq("html_parse", "apply_config", "probe", "pdf_layout", "spacing_detect",
            "glyph_repair", "render", "plain_text", "extract_one"))
          layers(s"extract.${k}_us") = perDoc(Seq(k))
        for (p <- Ledger.TransformPasses)
          layers(s"extract.transforms.${p}_us") = perDoc(Seq(s"transforms.$p"))
        layers("extract.transforms_us") = perDoc(Ledger.TransformPasses.map("transforms." + _))
        for (p <- Ledger.PostPasses) layers(s"textkit.post.${p}_us") = perDoc(Seq(s"post.$p"))
        layers("textkit.post_us") = perDoc(Ledger.PostPasses.map("post." + _))
        layers("extract.alloc_kb_per_doc") = ledger.allocBytes / 1024.0 / ledger.docs
        layers("trace.ledger_mismatch_docs") = ledger.mismatches.toDouble
        val dps = (xs: Seq[Iter]) => median(xs.map(i => i.docs / i.wallS))
        layers("trace.overhead_frac") = 1 - dps(its) / dps(plain)
        if (ledger.mismatches > 0)
          System.err.println(s"ledger disagrees with extractOne on ${ledger.mismatches} docs")
        for ((k, u) <- PerLayer) metrics(k) = (layers.getOrElse(k, 0.0), u)
        plain ++ its
      }
    val load1 = loadAvg()
    val jiffies1 = cpuJiffies()
    val stealFrac = (jiffies1._1 - jiffies0._1).toDouble / math.max(1L, jiffies1._2 - jiffies0._2)
    spark.stop()

    val attempted = iters.map(_.docs).sum
    val failed = iters.map(_.failed).sum
    val ledgerOk = metrics.get("trace.ledger_mismatch_docs").forall(_._1 == 0)
    val correct = failed == 0 && ledgerOk

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX:"))
    println(obj(Seq("host" -> obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_avg_start" -> num(load0), "load_avg_end" -> num(load1),
      "cpu_steal_frac" -> num(stealFrac),
      "jvm_heap_flags" -> jvmFlags.map(f => "\"" + f + "\"").mkString("[", ", ", "]"),
      "spark_version" -> ("\"" + spark.version + "\""),
      "java_version" -> ("\"" + System.getProperty("java.version") + "\""))),
      "workload" -> ("\"" + wl.name + "\""), "seed" -> seed.toString,
      "docs_per_run" -> corpus.docs.toString, "timed_runs" -> iters.length.toString,
      "corpus" -> obj((corpus.properties :+ ("aggressive_probe_share" -> expected.aggressiveShare))
        .map { case (k, v) => k -> num(v) }))))
    val result = obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> ("\"" + u + "\""))) })))
    Files.writeString(Paths.get(opt("result")), result + "\n")
  }

  /** Every per-layer metric of a traced run, with its unit. A layer that
    * does not run on a workload reads 0 there. */
  val PerLayer: Seq[(String, String)] = {
    def unit(k: String) =
      if (k.endsWith("_us")) "us" else if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("_kb_per_doc")) "KB" else if (k.endsWith("_frac") || k.endsWith("_ratio")) "ratio"
      else "count"
    (Seq("extract.scan_stage_s", "extract.parse_stage_s", "extract.exchange_write_mb",
      "extract.exchange_read_mb", "extract.fetch_wait_s", "extract.task_busy_frac",
      "extract.straggler_ratio", "extract.gc_s", "extract.spill_mb",
      "extract.html_parse_us", "extract.apply_config_us", "extract.probe_us",
      "extract.aggressive_probe_docs", "extract.pdf_layout_us", "extract.spacing_detect_us",
      "extract.glyph_repair_us", "extract.spacing_fixed_docs", "extract.transforms_us") ++
      Ledger.TransformPasses.map(p => s"extract.transforms.${p}_us") ++
      Seq("extract.changed_cells", "extract.removed_items", "extract.render_us",
        "extract.plain_text_us", "textkit.post_us") ++
      Ledger.PostPasses.map(p => s"textkit.post.${p}_us") ++
      Seq("extract.extract_one_us", "extract.alloc_kb_per_doc",
        "lineage.commit_s", "lineage.files", "lineage.data_mb", "lineage.snapshots",
        "lineage.skipped_buckets", "sources.warc_read_s", "sources.warc_records",
        "ops.dedup_s", "ops.dedup_jobs", "ops.dedup_shuffle_mb", "ops.canonical_classes",
        "trace.ledger_mismatch_docs", "trace.overhead_frac")).map(k => k -> unit(k))
  }

  /** Per-layer figures of one traced job from the listener and the call spans. */
  def sparkLayers(tr: SparkTrace, calls: Calls): Map[String, Double] = {
    tr.drain(calls.sc)
    val ex = tr.group("extract")
    val ops = tr.group("ops")
    val extractS = calls.seconds("extract")
    val jobS = calls.spans.filter(_.layer == "extract")
      .map(s => tr.jobSeconds("extract", s.startMs, s.endMs)).sum
    val tasks = ex.resultTaskMs.sorted
    val straggler = if (tasks.isEmpty) 0.0 else tasks.last.toDouble / math.max(1L, tasks(tasks.length / 2))
    val mb = 1048576.0
    Map(
      "extract.scan_stage_s" -> ex.mapStageS,
      "extract.parse_stage_s" -> ex.resultStageS,
      "extract.exchange_write_mb" -> ex.shuffleWriteBytes / mb,
      "extract.exchange_read_mb" -> ex.shuffleReadBytes / mb,
      "extract.fetch_wait_s" -> ex.fetchWaitMs / 1000.0,
      "extract.task_busy_frac" -> (if (jobS > 0) ex.runMs / 1000.0 / (Cores * jobS) else 0.0),
      "extract.straggler_ratio" -> straggler,
      "extract.gc_s" -> ex.gcMs / 1000.0,
      "extract.spill_mb" -> ex.spillBytes / mb,
      "lineage.commit_s" -> (extractS - jobS),
      "sources.warc_read_s" -> calls.seconds("sources"),
      "ops.dedup_s" -> calls.seconds("ops"),
      "ops.dedup_jobs" -> ops.jobs.toDouble,
      "ops.dedup_shuffle_mb" -> ops.shuffleWriteBytes / mb)
  }

  /** Used heap after full collections, once Spark's cleaner has released
    * the blocks of the finished jobs. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
