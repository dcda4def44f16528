package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.PolyHash.polyhash

/** Relational + training-data operator battery over the driver testdata
  * tables. Every oracle-checked query here has a DuckDB-equivalent SQL in
  * SparkEntry.oracleSql with identical column names, rounding, and total
  * ordering.
  *
  * Scale notes (the 100 TB plan, per query):
  *  - aggregations: partial (map-side) aggregation is automatic; group keys
  *    are low-cardinality -> tiny shuffles.
  *  - joins: dimension tables (region/nation/customer at ratio scale) are
  *    broadcast; fact-fact joins shuffle on the join key once.
  *  - dedup/minhash/simhash: explode-then-aggregate shapes with map-side
  *    combine; candidate pairs come from LSH band buckets, never a cross
  *    join.
  *  - ANN: brute-force top-k is the small-side baseline; the LSH-bucketed
  *    variant is the scale path (bucket join instead of cross join).
  */
object Ops {
  private def lineitem(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def nation(s: SparkSession, dir: String) = s.read.parquet(s"$dir/nation.parquet")
  private def region(s: SparkSession, dir: String) = s.read.parquet(s"$dir/region.parquet")
  private def part(s: SparkSession, dir: String) = s.read.parquet(s"$dir/part.parquet")
  private def supplier(s: SparkSession, dir: String) = s.read.parquet(s"$dir/supplier.parquet")
  private def events(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  // ---- relational core ----------------------------------------------------

  /** TPC-H Q1-shaped pricing summary. Map-side partial agg; 6-group output. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")

  /** Star join: orders -> customer -> nation -> region, dims broadcast. */
  def q02RevenueByNation(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"r_name", $"n_name")

  /** Top-3 orders per customer: single hash-partition window, deterministic
    * tiebreak on orderkey. */
  def q03TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", round($"o_totalprice", 2).as("totalprice"), $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  /** Anti join: customers with no orders, by segment. */
  def q04CustomersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")

  /** Tumbling 1h event aggregation (batch form of the streaming query). */
  def q05EventsHourly(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"),
        round(avg($"value"), 6).as("avg_value"))
      .orderBy($"hour_start", $"event_type")

  /** Semi-join + agg: parts that ship (exist in lineitem), stats by brand. */
  def q06PartBrandStats(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .join(lineitem(s, dir).select($"l_partkey").distinct(), $"p_partkey" === $"l_partkey", "left_semi")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        round(avg($"p_retailprice"), 4).as("avg_price"),
        round(min($"p_retailprice"), 2).as("min_price"),
        round(max($"p_retailprice"), 2).as("max_price"))
      .orderBy($"p_brand")

  /** Grouped JSON extraction over events.props. */
  def q07EventProps(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        round(avg($"k"), 6).as("avg_k"))
      .orderBy($"event_type")

  // ---- text analysis over documents ----------------------------------------

  /** Token counting (whitespace tokenizer) + length stats. */
  def q10TokenStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).as("n_tokens"),
        length($"text").as("n_chars"))
      .withColumn("avg_token_len",
        round((($"n_chars" - ($"n_tokens" - lit(1))).cast("double")) / $"n_tokens", 6))
      .orderBy($"doc_id")

  /** Quality scoring: stopword ratio + type-token ratio + length bucket. */
  def q11QualityScore(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"), length($"text").as("n_chars"))
      .select($"doc_id",
        size($"w").as("n_tokens"),
        size(array_distinct($"w")).as("n_distinct"),
        size(filter($"w", t => t === "the" || t === "a")).as("n_stop"),
        $"n_chars")
      .withColumn("stop_ratio", round($"n_stop".cast("double") / $"n_tokens", 6))
      .withColumn("ttr", round($"n_distinct".cast("double") / $"n_tokens", 6))
      .withColumn("len_bucket", floor($"n_chars" / 100))
      .orderBy($"doc_id")

  /** Language ID by stopword-profile argmax (deterministic lexicographic
    * tiebreak). Profiles are real function-word sets per language. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "ro" -> Seq("si", "de", "la", "cu", "este"))

  def q12LangId(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select($"doc_id", $"lang", split($"text", " ").as("w"))
    val scored = LangProfiles.foldLeft(base) { case (df, (code, words)) =>
      df.withColumn(s"s_$code",
        size(filter($"w", t => words.map(lit(_) === t).reduce(_ || _))))
    }
    // argmax with lexicographic tiebreak: first profile whose score >= all others
    val predicted = LangProfiles.map(_._1).foldRight(lit("zz")) { case (code, rest) =>
      val ge = LangProfiles.map(_._1).filter(_ != code)
        .map(o => col(s"s_$code") >= col(s"s_$o")).reduce(_ && _)
      when(ge, lit(code)).otherwise(rest)
    }
    val outCols = Seq(col("doc_id"), col("lang"), col("predicted")) ++
      LangProfiles.map { case (c, _) => col(s"s_$c") }
    scored.withColumn("predicted", predicted)
      .select(outCols: _*)
      .orderBy($"doc_id")
  }

  // ---- deduplication -------------------------------------------------------

  /** Exact dedup via the portable polyhash (also a per-row check of the
    * custom codegen'd Expression against the oracle's SQL fold). */
  def q13ExactHash(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select($"doc_id", polyhash($"text").as("text_hash"))
      .orderBy($"doc_id")

  def q14ExactDedupGroups(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(polyhash($"text").as("text_hash"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy($"text_hash")

  /** Distinct word-3-gram sets per doc (shared by jaccard + fingerprint). */
  /** Distinct word-3-gram shingles over any (doc_id, text) relation. */
  private def ngrams3Of(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3) // sequence(0, negative) would DESCEND in Spark
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("ng"))
      .distinct()

  private def ngrams3(s: SparkSession, dir: String): DataFrame =
    ngrams3Of(documents(s, dir))

  /** Eagerly materialize `out` (localCheckpoint partitions are GC'd by the
    * ContextCleaner once the result is unreferenced — cached plans are NOT),
    * then release the shared intermediates so repeated invocations within a
    * long-lived session don't accumulate executor storage. */
  /** Plan-audit hook (DumpPlans only): skip the localCheckpoint so the full
    * physical plan stays visible instead of a Scan ExistingRDD stub. Caches
    * are intentionally NOT released in audit mode. */
  private[graft] var keepPlansForAudit: Boolean = false

  private def materializeAndRelease(out: DataFrame, caches: DataFrame*): DataFrame = {
    if (keepPlansForAudit) return out
    val result = out.localCheckpoint()
    caches.foreach(_.unpersist())
    result
  }

  /** N-gram Jaccard near-dup pairs (relational set-overlap formulation:
    * shuffle on ngram, never a cross join). */
  def q15NgramJaccardPairs(s: SparkSession, dir: String, threshold: Double = 0.08): DataFrame = {
    val ng = ngrams3(s, dir).cache()
    val sizes = ng.groupBy($"doc_id").agg(count(lit(1)).as("n_ng"))
    val inter = ng.as("x").join(ng.as("y"), col("x.ng") === col("y.ng") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_ng", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_ng", "n_b"), "id_b")
      .withColumn("jaccard", round($"n_inter".cast("double") /
        ($"n_a" + $"n_b" - $"n_inter"), 6))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
    materializeAndRelease(out, ng)
  }

  /** Winnowing-style document fingerprint: min 4-token-shingle hash. */
  def q16Fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 4) // mirror the oracle's guard; see ngrams3
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-4), i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))")).as("sh"))
      .groupBy($"doc_id")
      .agg(min(polyhash($"sh")).as("fingerprint"))
      .orderBy($"doc_id")

  // minhash parameters (fixed, mirrored in the oracle SQL)
  val MinhashK = 8
  val MinhashP = 2147483647L // 2^31-1
  def minhashA(j: Int): Long = 2L * j + 3
  def minhashB(j: Int): Long = 5L * j + 7

  /** Row-local distinct-trigram hash kernel (round 6). Every signature in
    * the family (minhash, simhash 16/64) is a pure function of ONE
    * document's text, yet the explode -> distinct -> groupBy(doc_id) shape
    * paid TWO full-relation exchanges to compute it (guide §2.4: remove
    * shuffles outright). One JVM pass per row replaces both. Bit-exact with
    * the column shape: split keeps trailing empties (Spark split = limit
    * -1), distinct is on the trigram STRING (a hash collision keeps its
    * multiplicity, exactly like hashing after `.distinct()` on strings),
    * and every fold is integer arithmetic. Returns null when the text has
    * < 3 tokens (the column shape's filter produced no row). */
  private[graft] def trigramHashes(text: String): Array[Long] = {
    if (text == null) return null
    val w = text.split(" ", -1)
    if (w.length < 3) return null
    val seen = new java.util.HashSet[String](math.min(w.length * 2, 1 << 16))
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    out.sizeHint(w.length - 2)
    var i = 0
    while (i + 2 < w.length) {
      val ng = w(i) + " " + w(i + 1) + " " + w(i + 2)
      if (seen.add(ng)) out += graft.functions.PolyHash.hashString(ng)
      i += 1
    }
    out.result()
  }

  /** Unordered minhash signature core shared by q17/q18. */
  /** MinHash signatures over any (doc_id, text) relation — row-local
    * (zero exchanges; the explode shape cost two full-relation shuffles). */
  def minhashSigOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val hs = trigramHashes(text)
          if (hs == null) Iterator.empty
          else {
            val sig = Array.fill(MinhashK)(Long.MaxValue)
            var x = 0
            while (x < hs.length) {
              val h = hs(x)
              var j = 0
              while (j < MinhashK) {
                val v = (minhashA(j) * h + minhashB(j)) % MinhashP // h >= 0: % == pmod
                if (v < sig(j)) sig(j) = v
                j += 1
              }
              x += 1
            }
            Iterator.single((id, sig(0), sig(1), sig(2), sig(3), sig(4), sig(5), sig(6), sig(7)))
          }
        }
      }
      .toDF(("doc_id" +: (0 until MinhashK).map(j => s"sig_$j")): _*)
  }

  private def minhashSig(s: SparkSession, dir: String): DataFrame =
    minhashSigOf(documents(s, dir))

  /** MinHash signatures over distinct word-3-gram shingles. */
  def q17MinhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSig(s, dir).orderBy($"doc_id")

  /** LSH candidate pairs: 4 bands x 2 rows — bucket join, not cross join.
    * Bands are emitted via one posexplode over the signature row, so the
    * whole signature pipeline (scan -> shingle -> hash -> agg) runs ONCE
    * (round-1 built them as a 4-way union that recomputed it 4x). */
  def q18MinhashLshPairs(s: SparkSession, dir: String): DataFrame =
    minhashLshPairsOf(documents(s, dir)).orderBy($"id_a", $"id_b")

  /** (doc_id, band, bkey): every document's 4 band keys (2 signature rows
    * per band), emitted by one posexplode over the signature row. */
  private def minhashBandsOf(docs: DataFrame): DataFrame = {
    val bandCols = (0 until MinhashK by 2).map { j =>
      concat_ws(":", col(s"sig_$j"), col(s"sig_${j + 1}"))
    }
    minhashSigOf(docs)
      .select($"doc_id", posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "bkey")
  }

  /** LSH candidate pairs over any (doc_id, text) relation: every pair of
    * documents that shares a band bucket (the exact set q18's oracle
    * recomputes, so there is no bucket cap here). Consumers that only need
    * the components of this graph take [[lshStarEdgesOf]], which spans the
    * same components with k - 1 edges per bucket instead of k^2/2. */
  def minhashLshPairsOf(docs: DataFrame): DataFrame = {
    val bands = minhashBandsOf(docs)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** LSH star edges (src, dst): for each band bucket, one edge from the
    * bucket's min doc_id to each other member. Its connected components are
    * those of [[minhashLshPairsOf]]'s pairs (a star spans the same vertex
    * set as the bucket's clique), at k - 1 edges per bucket instead of
    * k^2/2, and min + count over ONE window exchange instead of a band
    * self-join and a distinct. Edges may repeat across bands.
    *
    * `maxBucketSize` is the web-scale guard kept from the clique join, where
    * a template-heavy corpus put thousands of near-identical docs into ONE
    * band bucket and the join went quadratic (17 GB of spill in the 1M-doc
    * rehearsal). Star edges are linear in the bucket, but a saturated bucket
    * is still one window task, and its class is better collapsed by EXACT
    * dedup upstream (see [[dedupChain]]). Buckets above the cap are dropped
    * whole; the default keeps every bucket. */
  def lshStarEdgesOf(docs: DataFrame, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bucket = Window.partitionBy($"band", $"bkey")
    minhashBandsOf(docs)
      .select($"doc_id", min($"doc_id").over(bucket).as("root"),
        count(lit(1)).over(bucket).as("bn"))
      .filter($"doc_id" =!= $"root" && $"bn" <= maxBucketSize)
      .select($"root".as("src"), $"doc_id".as("dst"))
  }

  val SimhashBits = 16

  /** Unordered simhash core shared by q19/q20 — row-local (round 6): the
    * per-bit +-1 vote over a doc's distinct trigram hashes is a one-pass
    * fold per row; vote_j > 0 <=> 2*ones_j > n. Zero exchanges where the
    * explode shape had two. */
  private def simhashCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir).select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val hs = trigramHashes(text)
          if (hs == null) Iterator.empty
          else {
            val ones = new Array[Int](SimhashBits)
            var x = 0
            while (x < hs.length) {
              val h = hs(x)
              var j = 0
              while (j < SimhashBits) {
                ones(j) += ((h >> j) & 1L).toInt
                j += 1
              }
              x += 1
            }
            var sim = 0L
            var j = 0
            while (j < SimhashBits) {
              if (2L * ones(j) > hs.length) sim |= 1L << j
              j += 1
            }
            Iterator.single((id, sim))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash over distinct word-3-gram shingle hashes (16-bit for oracle
    * portability; q28/q29 are the production 64-bit width). */
  def q19Simhash(s: SparkSession, dir: String): DataFrame =
    simhashCore(s, dir).orderBy($"doc_id")

  /** SimHash near-dup pairs by Hamming distance <= maxDist.
    * Pigeonhole banding instead of an O(n^2) self-join: split the hash into
    * maxDist+1 disjoint chunks — any pair within Hamming maxDist agrees on at
    * least one chunk — and equi-join on (chunk index, chunk value), then
    * verify the exact distance. Identical output to the naive cross join;
    * shuffle is a bucket join, which is the 100 TB shape. */
  def q20SimhashPairs(s: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    simhashBandedPairs(simhashCore(s, dir), $"simhash", bits = SimhashBits, maxDist = maxDist)

  /** Banded Hamming pair search shared by the 16-bit (q20) and 64-bit (q29)
    * widths. `bits` must be divisible by maxDist+1 chunks only approximately:
    * chunk boundaries are ceil-split so all bits are covered. */
  private[ops] def simhashBandedPairs(sh: DataFrame, hashCol: Column,
                                      bits: Int, maxDist: Int,
                                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val nChunks = maxDist + 1
    val width = (bits + nChunks - 1) / nChunks
    val mask = (1L << width) - 1
    val chunkCols = (0 until nChunks).map { c =>
      shiftright(hashCol, c * width).bitwiseAND(lit(mask))
    }
    // round 6: the signature relation is row-local (zero exchanges), so the
    // eager localCheckpoint that round 5 used to avoid recomputing the
    // trigram-explode + vote aggregation is gone. At scale the chunk
    // self-join is a shuffle join and ReusedExchange runs the signature
    // subtree once; at small SF the planner broadcasts one side and the
    // cheap row-local map runs twice — exactly when that is affordable.
    val chunksAll = sh.select(col("doc_id"), hashCol.as("sh"),
        posexplode(array(chunkCols: _*)))
      .toDF("doc_id", "sh", "chunk", "cval")
    // same web-scale guard as lshStarEdgesOf: a template-heavy corpus
    // saturates single (chunk, cval) buckets and the within-bucket join
    // goes quadratic; saturated classes belong to exact dedup upstream
    val chunks =
      if (maxBucketSize == Int.MaxValue) chunksAll
      else {
        val small = chunksAll.groupBy(col("chunk"), col("cval"))
          .agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBucketSize)
          .select(col("chunk").as("schunk"), col("cval").as("scval"))
        chunksAll.join(small,
            chunksAll("chunk") === col("schunk") && chunksAll("cval") === col("scval"))
          .select(col("doc_id"), col("sh"), col("chunk"), col("cval"))
      }
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cval") === col("y.cval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- similarity search over embeddings ------------------------------------

  private def vecsD(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))

  // codegen'd kernels (graft.functions.VecMath) — same fold order as the SQL
  // higher-order-function formulation, but inside whole-stage codegen
  private def dotCol: Column =
    graft.functions.VecMath.dotProduct(col("x.v"), col("y.v"))
  private def nrmCol: Column =
    sqrt(graft.functions.VecMath.dotProduct(col("v"), col("v")))

  /** Brute-force cosine top-k (the correctness baseline for ANN). */
  def q21CosineTopK(s: SparkSession, dir: String, k: Int = 5, limitIds: Int = 200): DataFrame = {
    val v = vecsD(s, dir).withColumn("nrm", nrmCol)
    val queries = v.filter($"vec_id" < limitIds)
    val pairs = queries.as("x").join(v.as("y"), col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("neighbor_id"),
        round(dotCol / (col("x.nrm") * col("y.nrm")), 4).as("sim"))
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"neighbor_id".asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .orderBy($"vec_id", $"rank")
  }

  /** Near-duplicate embedding pairs above a cosine threshold. */
  def q22CosineNearDup(s: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    val v = vecsD(s, dir).withColumn("nrm", nrmCol)
    v.as("x").join(v.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        round(dotCol / (col("x.nrm") * col("y.nrm")), 4).as("sim"))
      .filter($"sim" >= threshold)
      .orderBy($"id_a", $"id_b")
  }

  /** Scale-path ANN: sign-LSH bucketing on deterministic pseudo-random
    * hyperplanes (seeded per (plane, dim) — no RNG state), then top-k within
    * bucket only. Trades recall for a bucket join instead of a cross join.
    * Plane components are INTEGER-valued (an LCG over the (plane, dim) index)
    * so the dot product is bit-identical across engines — round 1 used
    * sin(p*64+i), whose libm results are not portable to the oracle. */
  def q23CosineLshTopK(s: SparkSession, dir: String, planes: Int = 6, k: Int = 5): DataFrame = {
    val v = vecsD(s, dir).withColumn("nrm", nrmCol)
    // round 6: the hyperplane components are plan-time constants (the LCG
    // over (plane, dim), every value an exact small integer cast to double),
    // so each plane projection is a literal-vector dot product through the
    // codegen'd VecMath kernel — same left-to-right IEEE fold as the
    // interpreted aggregate(zip_with(...)) it replaces (guide §4)
    val sigCols = (0 until planes).map { p =>
      val plane = (0 until 64).map { i =>
        ((1103515245L * (p * 64 + i + 1) + 12345L) % 1024 - 512).toDouble
      }
      val dot = graft.functions.VecMath.dotProduct(col("v"), typedLit(plane))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    // round 6: no cache, no release-checkpoint — the projection is now a
    // cheap codegen'd plane fold, so at scale the self-join's exchange is
    // reused (computed once) and at small SF the broadcast side recomputes
    // the cheap map; measured faster than cache+checkpoint both ways
    // (OPTIMIZATION_r06.md §6a2)
    val bucketed = v.withColumn("bucket", sigCols)
    val pairs = bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("neighbor_id"),
        round(dotCol / (col("x.nrm") * col("y.nrm")), 4).as("sim"))
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"neighbor_id".asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .orderBy($"vec_id", $"rank")
  }

  /** Embedding label stats (centroid norms per label). */
  def q24LabelCentroids(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select($"label", $"embedding")
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        round(avg(expr("aggregate(transform(embedding, x -> cast(x as double) * x), 0D, (s, e) -> s + e)")), 4)
          .as("avg_sq_norm"))
      .orderBy($"label")


  /** Scale-path near-dup: drop non-discriminative shingles (doc-freq > cap)
    * before the pair join — the standard bound on join blowup for shared-
    * vocabulary corpora. Same relational shape as q15, skew-pruned. */
  def q25NgramJaccardPruned(s: SparkSession, dir: String, threshold: Double = 0.08,
                            maxDocFreq: Int = 50): DataFrame = {
    // raw trigram stream — NO .distinct(): the bounded aggregate below
    // dedups doc ids per group as part of its single exchange
    val ng = documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("ng"))
    // Round-5 restructure (verdict task 4): ONE full-relation exchange.
    // A bounded-distinct aggregate collapses the former distinct + df +
    // prune-join + totals passes: grouping the raw trigram stream by ng
    // with per-group state capped at `maxDocFreq` DISTINCT doc ids (plus an
    // overflow bit for hot trigrams) yields, in a single shuffle with
    // map-side partial aggregation, both the df <= cap decision AND the
    // complete id list of every kept group. Everything downstream (sizes,
    // pair expansion) derives from that aggregate, which is vocabulary-
    // sized, not corpus-sized. Singletons (df = 1) — the bulk of a Zipfian
    // vocabulary — still count toward sizes (the oracle's n = the doc's
    // distinct trigrams with df <= cap) but are excluded from pair
    // expansion, where they can never intersect.
    val bd = udaf(new BoundedDistinctIds(maxDocFreq))
    val grouped = ng.groupBy($"ng").agg(bd($"doc_id").as("bs"))
    // cache the KEPT groups only: id lists, no ng strings, no hot groups —
    // the shared intermediate for sizes + pair expansion is vocabulary-
    // sized with <= cap longs per row
    val keptGroups = grouped
      .filter(!$"bs.overflow")
      .select($"bs.ids".as("ids"))
      .cache()
    val sizes = keptGroups
      .select(explode($"ids").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_ng"))
    // row-local pair expansion (<= cap^2/2 pairs per group): the pairs
    // shuffle once as (id_a, id_b) partial counts with map-side combine
    val inter = keptGroups
      .filter(size($"ids") >= 2) // sequence(0, -1) would DESCEND in Spark
      .select(sort_array($"ids").as("ids"))
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ids)-2), " +
          "i -> transform(sequence(i+1, size(ids)-1), " +
          "j -> named_struct('id_a', ids[i], 'id_b', ids[j]))))")).as("p"))
      .groupBy($"p.id_a".as("id_a"), $"p.id_b".as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_ng", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_ng", "n_b"), "id_b")
      .withColumn("jaccard", round($"n_inter".cast("double") /
        ($"n_a" + $"n_b" - $"n_inter"), 6))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
    materializeAndRelease(out, keptGroups)
  }

  /** Skew pattern: two-phase salted aggregation over a hot grouping key.
    * Phase 1 aggregates (key, salt) partials; phase 2 merges per key —
    * identical result to a direct groupBy, bounded per-task state. */
  def q26SaltedUserStats(s: SparkSession, dir: String, salts: Int = 16): DataFrame =
    events(s, dir)
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(salts)))
      .groupBy($"user_id", $"salt")
      .agg(count(lit(1)).as("pn"), sum($"value").as("psum"))
      .groupBy($"user_id")
      .agg(sum($"pn").as("n_events"), round(sum($"psum"), 4).as("sum_value"))
      .orderBy($"user_id")


  /** Deterministic IVF codebook: cell c, dim d -> an LCG-derived rational in
    * [-0.5, 0.5] with a power-of-two denominator, so every component is an
    * exactly-representable double on any engine. */
  def ivfCodebook(cells: Int = 16, dim: Int = 64): Seq[Seq[Double]] =
    (0 until cells).map { c =>
      (0 until dim).map { d =>
        ((2654435761L * (c * dim + d) + 40503L) % 257 - 128).toDouble / 256.0
      }
    }

  /** IVF ANN scale path: vectors are assigned to their nearest codebook cell
    * (16 cells, broadcast as a literal — nothing is ever collected to the
    * driver), top-k search probes only the `nprobe` nearest cells. The probe
    * join is a cell-key equi-join, never a cross join. The codebook here is a
    * fixed deterministic one (portable to the oracle); `trainIvfCentroids`
    * below is the production k-means refinement over a BOUNDED sample. */
  def q27CosineIvfTopK(s: SparkSession, dir: String, k: Int = 5,
                       cells: Int = 16, nprobe: Int = 2): DataFrame =
    ivfTopK(vecsD(s, dir), ivfCodebook(cells), k, nprobe)

  /** IVF search given any codebook (fixed or k-means-trained). */
  def ivfTopK(vecs: DataFrame, codebook: Seq[Seq[Double]], k: Int, nprobe: Int): DataFrame = {
    val v = vecs.withColumn("nrm", nrmCol)
    val nCells = codebook.length
    val nProbe = math.min(nprobe, nCells)
    // the codebook is a LITERAL (broadcast-free): nearest-cell ranking is
    // row-local — per-cell codegen'd SqDist kernels (graft.functions.VecMath)
    // sorted by (dist, cell) struct order inside one projection. No cross
    // join, no row_number window shuffle; cell assignment is map-only
    // regardless of table size (round 3 shipped a crossJoin + window over the
    // 16x relation here — 2 shuffles of bloat).
    val cellDists = array(codebook.indices.map { c =>
      struct(graft.functions.VecMath.sqDist(col("v"),
          typedLit(codebook(c).toIndexedSeq)).as("dist"),
        lit(c).as("cell"))
    }: _*)
    // assigned, probes, and the query side all read this relation — one
    // pruned scan, one slim row per vector: its nearest max(nProbe, 1) cells,
    // nearest first (element 0 is its own cell). Both join sides must reach
    // the repartition below with the same columns and filters, or their
    // exchanges differ and neither is reused: each side reads all four
    // columns, and every filter the join infers already holds here (null
    // vec_ids, which never pair, go at the scan; `cell` is non-nullable; the
    // probe side uses explode_outer, as an inner explode infers
    // size(cells) > 0).
    val ranked = v.filter(col("vec_id").isNotNull)
      .withColumn("sorted", array_sort(cellDists))
      .select(col("vec_id"), col("v"), col("nrm"),
        expr(s"transform(slice(sorted, 1, ${math.max(nProbe, 1)}), x -> x.cell)").as("cells"))
      // the path is now exchange-free up to the top-k window, so downstream
      // parallelism = this relation's partition count; a small embeddings
      // file scans as ONE partition and would serialize the 100x-larger pair
      // join behind it. Spread the slim rows across the cores
      // (explicit count: REPARTITION_BY_NUM is exempt from AQE coalescing,
      // which would fold a small corpus straight back to one partition).
      // Round 6: no cache, no release-checkpoint — both join sides sit on
      // this SAME repartition exchange, so ReusedExchange computes the
      // ranked relation once either way, and dropping the cache removes the
      // fill job and the eager checkpoint that released it
      // (OPTIMIZATION_r06.md §6a2: lazy 0.62-0.69 s vs cached 0.93-1.28 s
      // at sf0.1).
      .repartition(vecs.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
    val assigned = ranked.select(col("vec_id"),
      coalesce(col("cells")(0), lit(-1)).as("cell"), col("v"), col("nrm"))
    // the probe side carries its own query vector — ONE candidate join total
    // (a separate probes->qside join would just re-shuffle the same bytes)
    val probes = ranked.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nrm").as("qnrm"), explode_outer(slice(col("cells"), 1, nProbe)).as("cell"))
    val pairs = probes.join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VecMath.dotProduct(col("qv"), col("v")) /
          (col("qnrm") * col("nrm")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    // no dedup needed: each candidate lives in exactly one cell, so a query's
    // nprobe distinct probe cells can each contribute it at most once total
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("neighbor_id"), col("sim"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Production IVF training: deterministic k-means (seeded init, fixed Lloyd
    * iterations) over a BOUNDED sample — only `sampleN` vectors ever reach the
    * driver, regardless of table size; centroids are then broadcast. */
  def trainIvfCentroids(vecs: DataFrame, cells: Int = 16, iters: Int = 5,
                        sampleN: Int = 4096): Seq[Seq[Double]] = {
    import vecs.sparkSession.implicits._
    val sample = vecs.select(col("vec_id"), col("v")).orderBy(col("vec_id"))
      .limit(sampleN).as[(Long, Seq[Double])].collect().map(_._2.toArray)
    if (sample.isEmpty) return ivfCodebook(cells)
    val dim = sample.head.length
    val nCells = math.min(cells, sample.length)
    var centroids = sample.take(nCells).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Long](nCells)
      for (v <- sample) {
        val c = nearestCell(v, centroids, 1).head
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(nCells) { c =>
        if (counts(c) == 0) centroids(c) else sums(c).map(_ / counts(c))
      }
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Paragraph-level exact dedup (q50): the corpus-wide unit-dedup pass web
    * pipelines run before near-dup (the C4/RefinedWeb shape — drop repeated
    * boilerplate paragraphs across the corpus). Unit = fixed 12-word
    * paragraph; plan = explode + hash, occurrence counts by a window over
    * one exchange on the hash, then a per-doc groupBy — never a pair join,
    * so it survives any corpus size. */
  def q50ParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val paras = documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode(expr(
        "transform(sequence(0, cast(ceil(size(w)/12.0) as int)-1)," +
          " i -> concat_ws(' ', slice(w, i*12+1, 12)))")).as("para"))
      .select($"doc_id", polyhash($"para").as("h"))
    // round 6: occurrence counts via a whole-partition window over ONE
    // exchange on h. The former freq groupBy + join-back ran the scan +
    // explode + hash subtree TWICE (the partial aggregate below the freq
    // exchange makes the two join sides non-identical, so exchange reuse
    // never fires) and shuffled the paragraph relation twice; identical
    // counts, half the scans and exchanges (guide §2.4).
    paras
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy($"h")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when($"n_occ" > 1, 1).otherwise(0)).as("n_dup_paras"))
      .withColumn("dup_ratio",
        round($"n_dup_paras".cast("double") / $"n_paras", 6))
      .orderBy($"doc_id")
  }

  /** Within-document repetition stats (q51): the Gopher-class repetition
    * quality signals (duplicate-word fraction, most-common-trigram share) —
    * all row-local aggregation, no shuffle beyond the per-doc groupBy. */
  def q51RepetitionStats(s: SparkSession, dir: String): DataFrame = {
    q51Impl(s, dir)
  }

  /** Gopher/C4-class KEEP/DROP quality filter (q56): the end-to-end
    * training-data gate built from row-local signals — token-count bounds,
    * mean word length band, type-token-ratio floor — with a deterministic
    * first-failing-rule drop reason. Every signal is an exact integer ratio
    * (mean word length = (chars - (n-1)) / n over single-space text, like
    * q10) so the DuckDB oracle reproduces the doubles bit-exactly. Entirely
    * map-side: the filter costs one projection at any corpus size. */
  /** The production dedup chain as ONE operator — the ordering the 1M-doc
    * rehearsals validated (BASELINE.md): EXACT dedup first (template
    * classes collapse by orders of magnitude before any LSH bucket), then
    * capped minhash-LSH star edges over the representatives only, then
    * pointer-doubling connected components, whose label is already the
    * min-id representative of each component, with members inheriting
    * their exact-class representative's assignment.
    *
    * Input: any (doc_id: long, text: string) relation.
    * Output: (doc_id, canonical_id) — total (every input doc appears once)
    * and idempotent (canonical ids map to themselves).
    *
    * 100 TB shape: one window exchange for exact classes, one for the
    * capped LSH buckets over the collapsed relation, O(log n) component
    * rounds, one broadcast-friendly join back. No pair join ever sees the
    * raw corpus. */
  def dedupChain(docs: DataFrame, maxBucketSize: Int = 512): DataFrame = {
    // round 6: exact classes via ONE exchange — min(doc_id) over a window
    // partitioned by the text hash replaces the round-5 agg + join-back
    // (which scanned and hashed the corpus twice; the partial aggregate
    // below the agg's exchange blocks exchange reuse) and the separate
    // reps join (a third scan). The cached relation keeps text only on
    // representative rows, so cache size scales with the COLLAPSED class
    // count, not the corpus.
    val base = docs
      .select($"doc_id", $"text", polyhash($"text").as("th"))
      .withColumn("rep_id", min($"doc_id").over(Window.partitionBy($"th")))
      .select($"doc_id", $"rep_id",
        when($"doc_id" === $"rep_id", $"text").as("text"))
      .cache()
    val docToRep = base.select($"doc_id", $"rep_id")
    val reps = base.filter($"doc_id" === $"rep_id").select($"doc_id", $"text")
    val (labels, _) = connectedComponents(reps.select($"doc_id"),
      lshStarEdgesOf(reps, maxBucketSize))
    // min-label propagation converges to the component's min doc_id: the
    // label IS the canonical doc
    val repToCanon = labels.select($"doc_id".as("rep_id"), $"component".as("canonical_id"))
    val out = docToRep.join(repToCanon, "rep_id")
      .select($"doc_id", $"canonical_id")
    materializeAndRelease(out, base)
  }

  /** Char-trigram language ID (the n-gram heuristic of the LLM-pipeline
    * brief, complementing q12's stopword argmax): cosine similarity between
    * the document's character-trigram counts and fixed per-language
    * profiles built from embedded seed sentences. Row-local, no external
    * model. Deterministic lexicographic tiebreak. */
  val LangNgramSeeds: Map[String, String] = Map(
    "de" -> ("der schnelle braune fuchs springt über den faulen hund während " +
      "die kinder ihre bücher in der ruhigen bibliothek lesen und die lehrerin " +
      "schreibt die aufgaben an die grosse tafel"),
    "en" -> ("the quick brown fox jumps over the lazy dog while the children " +
      "read their books in the quiet library during the long afternoon and the " +
      "teacher writes the exercises on the large board"),
    "es" -> ("el rápido zorro marrón salta sobre el perro perezoso mientras los " +
      "niños leen sus libros en la biblioteca tranquila durante la tarde y la " +
      "maestra escribe los ejercicios en la pizarra grande"),
    "fr" -> ("le rapide renard brun saute par dessus le chien paresseux pendant " +
      "que les enfants lisent leurs livres dans la bibliothèque calme durant " +
      "la longue après midi et la maîtresse écrit les exercices au tableau"),
    "ro" -> ("vulpea maronie rapidă sare peste câinele leneș în timp ce copiii " +
      "citesc cărțile lor în biblioteca liniștită în timpul după amiezii lungi " +
      "iar învățătoarea scrie exercițiile pe tabla cea mare"))

  private def charTrigrams(text: String): Map[String, Int] = {
    val clean = " " + text.toLowerCase
      .map(c => if (c.isLetter) c else ' ')
      .replaceAll("\\s+", " ").trim + " "
    if (clean.length < 3) Map.empty
    else clean.sliding(3).foldLeft(Map.empty[String, Int]) { (m, g) =>
      m.updated(g, m.getOrElse(g, 0) + 1)
    }
  }

  private lazy val LangNgramProfiles: Seq[(String, Map[String, Double], Double)] =
    LangNgramSeeds.toSeq.sortBy(_._1).map { case (code, seed) =>
      val counts = charTrigrams(seed)
      val norm = math.sqrt(counts.values.map(v => v.toDouble * v).sum)
      (code, counts.map { case (k, v) => k -> v.toDouble }, norm)
    }

  /** Most-similar profile by cosine; "und" (unknown) when the text shares
    * no trigram with any profile. */
  def charTrigramLangId(text: String): String = {
    val doc = charTrigrams(text)
    if (doc.isEmpty) return "und"
    val docNorm = math.sqrt(doc.values.map(v => v.toDouble * v).sum)
    var best = "und"
    var bestSim = 0.0
    for ((code, prof, profNorm) <- LangNgramProfiles) {
      var dot = 0.0
      doc.foreach { case (g, c) => dot += c * prof.getOrElse(g, 0.0) }
      val sim = if (profNorm == 0 || docNorm == 0) 0.0 else dot / (profNorm * docNorm)
      if (sim > bestSim) { bestSim = sim; best = code } // lexicographic tie: first wins
    }
    best
  }

  /** q65: n-gram LID generalization check — TEST sentences (disjoint from
    * the profile seeds) per language, chosen by doc_id % 5, must classify
    * back to their language. Closed-form oracle. */
  val LangNgramTests: Map[String, String] = Map(
    "de" -> "gestern abend haben wir zusammen mit unseren freunden ein schönes neues restaurant in der stadt besucht",
    "en" -> "yesterday evening we visited a beautiful new restaurant in the city together with our old friends",
    "es" -> "ayer por la noche visitamos un hermoso restaurante nuevo en la ciudad junto con nuestros viejos amigos",
    "fr" -> "hier soir nous avons visité un beau nouveau restaurant dans la ville avec nos vieux amis",
    "ro" -> "aseară am vizitat împreună cu vechii noștri prieteni un restaurant nou și frumos în centrul orașului")

  def q65NgramLangId(s: SparkSession, dir: String): DataFrame = {
    val codes = LangNgramTests.keys.toSeq.sorted
    // round 6: the 5 test sentences are embedded constants, so classify each
    // ONCE at plan-build time instead of re-running the trigram cosine for
    // every row (the round-5 shape paid charTrigramLangId per document).
    // The per-row work is then a pure codegen projection over doc_id; the
    // classifier itself is unchanged and still exercised (same 5 inputs,
    // same outputs, oracle-identical rows).
    val preds = codes.map(c => charTrigramLangId(LangNgramTests(c)))
    val idx = pmod(col("doc_id"), lit(5)).cast("int") + 1 // doc_id >= 0: == (id % 5)
    val expectedC = element_at(typedLit(codes), idx)
    val predictedC = element_at(typedLit(preds), idx)
    documents(s, dir)
      .select(col("doc_id"), expectedC.as("expected"), predictedC.as("predicted"),
        (expectedC === predictedC).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** GPT-2-style pre-tokenizer regex (lookahead-free variant: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs).
    * Identical leftmost-first semantics in Java regex and DuckDB's RE2, so
    * the count is oracle-exact. */
  val BpeTokenRegex: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** q64: token counting, whitespace AND BPE-ish (the LLM-pipeline unit of
    * account — dataset sizes are quoted in BPE tokens, not words). Entirely
    * map-side. */
  def q64BpeTokenStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).as("ws_tokens"),
        // regexp_count: same non-overlapping match count as
        // size(regexp_extract_all(..)) without materializing every match
        // string into an array first (round 6, guide §4)
        regexp_count($"text", lit(BpeTokenRegex)).as("bpe_tokens"),
        length($"text").as("n_chars"))
      .withColumn("bpe_per_ws",
        round($"bpe_tokens".cast("double") / $"ws_tokens", 6))
      .orderBy($"doc_id")

  /** q67: the FULL dedup chain under the oracle. Construction with a
    * closed form through every stage: group g = doc_id / 4 uses its own
    * 3-word vocabulary cycled, members 0/1 get the 12-word text (exact
    * class A), members 2/3 the 15-word text (exact class B). A and B have
    * DIFFERENT text hashes but the IDENTICAL trigram SET (cyclic
    * repetition adds no new shingles), hence identical minhash signatures,
    * hence a guaranteed LSH pair between the two exact-class reps — so
    * exact dedup, LSH, components, and representative selection must all
    * fire for canonical_id to land on (doc_id/4)*4 for every member. */
  def q67DedupChainOracle(s: SparkSession, dir: String): DataFrame = {
    // n words of the cycled per-group vocabulary ga{g}a ga{g}b ga{g}c
    def cyc(n: Int, g: Column): Column =
      concat_ws(" ", (0 until n).map(i =>
        concat(lit("ga"), g, lit(Seq("a", "b", "c")(i % 3)))): _*)
    val docs = documents(s, dir)
      .select($"doc_id", ($"doc_id" / 4).cast("long").as("g"))
      .select($"doc_id",
        when($"doc_id" % 4 < 2, cyc(12, $"g"))
          .otherwise(cyc(15, $"g"))
          .as("text"))
    dedupChain(docs)
      .orderBy($"doc_id")
  }

  /** q61: canonical-url dedup. Each doc gets a messy URL variant (case,
    * fragment, default port, tracking params + param order, trailing slash
    * — doc_id % 5 selects the variant, doc_id / 5 the underlying page);
    * the REAL canonicalizer (graft.functions.UrlCanonical, all codegen'd
    * built-ins) must collapse every variant group to one canonical form.
    * Entirely map-side until the final count-by-canonical groupBy. */
  def q61UrlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val base = concat(lit("https://example-"), $"g", lit(".ro/articol/"), $"g")
    val messy = documents(s, dir)
      .select($"doc_id", ($"doc_id" / 5).cast("long").as("g"))
      .select($"doc_id",
        when($"doc_id" % 5 === 0, concat(base, lit("?a=1&b=2")))
          .when($"doc_id" % 5 === 1, // scheme/host case + fragment
            concat(lit("HTTPS://EXAMPLE-"), $"g", lit(".RO/articol/"), $"g",
              lit("?a=1&b=2#top")))
          .when($"doc_id" % 5 === 2,
            concat(lit("https://example-"), $"g", lit(".ro:443/articol/"), $"g",
              lit("?a=1&b=2")))
          .when($"doc_id" % 5 === 3, concat(base, lit("?b=2&a=1&utm_source=rss")))
          .otherwise(concat(base, lit("/?a=1&b=2")))
          .as("url"))
    messy
      .select($"doc_id",
        graft.functions.UrlCanonical.canonicalizeUrl($"url").as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc_id"))
      .orderBy($"canonical_url")
  }

  def q56QualityFilter(s: SparkSession, dir: String,
                       minTokens: Int = 30, maxTokens: Int = 5000,
                       minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
                       minTtr: Double = 0.35): DataFrame =
    documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"), length($"text").as("nc"))
      .select($"doc_id", size($"w").as("n_tokens"),
        size(array_distinct($"w")).as("n_distinct"), $"nc")
      .withColumn("mwl", ($"nc" - ($"n_tokens" - lit(1))).cast("double") / $"n_tokens")
      .withColumn("ttr_raw", $"n_distinct".cast("double") / $"n_tokens")
      .withColumn("drop_reason",
        when($"n_tokens" < minTokens, "too_short")
          .when($"n_tokens" > maxTokens, "too_long")
          .when($"mwl" < minWordLen || $"mwl" > maxWordLen, "word_len")
          .when($"ttr_raw" < minTtr, "repetitive")
          .otherwise(""))
      .select($"doc_id", $"n_tokens",
        round($"mwl", 6).as("mean_word_len"),
        round($"ttr_raw", 6).as("ttr"),
        ($"drop_reason" === "").as("keep"), $"drop_reason")
      .orderBy($"doc_id")

  private def q51Impl(s: SparkSession, dir: String): DataFrame = {
    // round 6: the per-doc word stats are row-local scalars — ride them
    // through the trigram aggregation (first() per group; constant within
    // a doc) instead of a second corpus scan joined back on doc_id
    val tri = documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id",
        size($"w").as("nw"), size(array_distinct($"w")).as("dw"),
        explode(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("ng"))
      .groupBy($"doc_id", $"ng")
      .agg(count(lit(1)).as("c"), first($"nw").as("nw"), first($"dw").as("dw"))
      .groupBy($"doc_id")
      .agg(max($"c").as("top_trigram_n"), sum($"c").as("trigram_total"),
        first($"nw").as("n_words"), first($"dw").as("distinct_words"))
    tri
      .select($"doc_id", $"n_words", $"distinct_words",
        round(lit(1.0) - $"distinct_words".cast("double") / $"n_words", 6)
          .as("dup_word_ratio"),
        $"top_trigram_n", $"trigram_total",
        round($"top_trigram_n".cast("double") / $"trigram_total", 6)
          .as("top_trigram_ratio"))
      .orderBy($"doc_id")
  }

  /** Trained-IVF ANN (q49): the PRODUCTION path end-to-end — a k-means
    * codebook refined from the data (deterministic: init = first `cells`
    * sample vectors by vec_id, fixed Lloyd iterations over a bounded
    * vec_id-ordered sample) feeding the same broadcast-codebook cell
    * equi-join search as q27. Every arithmetic step is an IEEE-ordered
    * fold, so the DuckDB oracle reproduces the centroids bit-exactly with
    * a recursive CTE running the same iterations in the same order. */
  def q49IvfTrainedTopK(s: SparkSession, dir: String, k: Int = 5,
                        nprobe: Int = 2): DataFrame = {
    val vecs = vecsD(s, dir)
    ivfTopK(vecs, trainIvfCentroids(vecs), k, nprobe)
  }

  /** 64-bit simhash near-dup pairs via pigeonhole banding (4 x 16-bit
    * chunks): the production-width companion of q20. */
  def q29Simhash64Pairs(s: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    simhashBandedPairs(simhash64Core(s, dir).withColumnRenamed("simhash64", "simhash"),
      col("simhash"), bits = 64, maxDist = maxDist)


  /** 64-bit SimHash (the production width; q19's 16-bit variant exists for
    * oracle portability). Four derived hash views contribute 16 genuinely
    * varying bits each — polyhash < 2^30 means its high bits are constant,
    * so bits must come from the LOW 16 of each derived value. */
  def q28Simhash64(s: SparkSession, dir: String): DataFrame =
    simhash64Core(s, dir).orderBy($"doc_id")

  /** Row-local 64-bit simhash (round 6): per doc, 4 derived views of each
    * distinct trigram hash contribute 16 bits each; bit b is set iff
    * 2*ones_b > n. The round-4/5 shape aggregated 24 packed 21-bit vote
    * lanes through a full-relation groupBy exchange (plus the distinct
    * exchange feeding it) and needed a >2^21-trigram overflow guard; the
    * per-row int-counter fold has neither the exchanges nor the overflow
    * bound (counts are plain per-doc ints), and computes identical values. */
  private def simhash64Core(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir).select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val hs = trigramHashes(text)
          if (hs == null) Iterator.empty
          else {
            val ones = new Array[Int](64)
            var x = 0
            while (x < hs.length) {
              val h = hs(x)
              var k = 0
              while (k < 4) {
                // floorMod matches pmod; (2k+3)*h + (7k+11) < 2^34: no overflow
                val view = java.lang.Math.floorMod((2L * k + 3) * h + (7L * k + 11), MinhashP)
                var j = 0
                while (j < 16) {
                  ones(k * 16 + j) += ((view >> j) & 1L).toInt
                  j += 1
                }
                k += 1
              }
              x += 1
            }
            var sim = 0L
            var b = 0
            while (b < 64) {
              if (2L * ones(b) > hs.length) sim |= 1L << b
              b += 1
            }
            Iterator.single((id, sim))
          }
        }
      }
      .toDF("doc_id", "simhash64")
  }

  /** Near-duplicate connected components (q47): the dedup keeper-selection
    * step over the LSH candidate pairs. Every document gets a component id =
    * the smallest doc_id reachable through candidate pairs (singletons map
    * to themselves). The candidate pairs feed only the components, so the
    * propagation runs over the LSH star edges ([[lshStarEdgesOf]]), which
    * span the same components with one edge per bucket member instead of a
    * clique. Delegates to [[connectedComponents]] — pointer-doubling
    * min-label propagation, O(log diameter) rounds, each round several
    * Spark jobs under AQE. */
  def q47NeardupComponents(s: SparkSession, dir: String, maxIters: Int = 64): DataFrame = {
    val nodes = documents(s, dir).select(col("doc_id"))
    connectedComponents(nodes, lshStarEdgesOf(documents(s, dir)), maxIters)._1
      .orderBy(col("doc_id"))
  }

  /** Distributed connected components by min-label propagation WITH pointer
    * doubling: each round every node takes the min over (its label, its
    * neighbors' labels), then jumps once through the previous round's label
    * table (labels are node ids, so comp(comp(v)) is defined). The jump
    * doubles the propagation horizon per round — h_{k+1} >= 2*h_k + 1 — so a
    * chain of n nodes converges in ~log2(n) rounds instead of n (the
    * O(diameter) killer for duplicate-chain corpora at 100 TB).
    *
    * Before the rounds, each input partition runs a union-find over its own
    * edges ([[LocalForest]]) and replaces them with (local root, member)
    * edges, the root being the min id of the local component. Each
    * partition's forest connects exactly the endpoints its edges connected,
    * so the union of the forests has the same node set and the same
    * components as the input — hence the same fixpoint, every node labelled
    * with its component's min id. Only the diameter shrinks: a component
    * that lies inside one partition arrives as a star and settles in one
    * round. Task memory is O(distinct endpoints in the partition).
    *
    * One action per round: the convergence check rides the label
    * materialization via `observe` (max(changed) collected by the eager
    * localCheckpoint), not a second count(). Under AQE that action still
    * submits one Spark job per shuffle stage of the round — about 5.5 jobs
    * per round measured on dedupChain over 2,000 crawl pages. `edges` is
    * read once per round from cache; `comp` is checkpoint-materialized, so
    * the jump join re-reads bytes, never recomputes lineage.
    *
    * Returns (labels(doc_id, component), rounds). Non-convergence is an
    * error, never a silent mislabel. */
  private val ccObsId = new java.util.concurrent.atomic.AtomicLong(0)

  def connectedComponents(nodes: DataFrame, edgesIn: DataFrame,
                          maxIters: Int = 64,
                          contractAbove: Long = 1000000L): (DataFrame, Int) = {
    import edgesIn.sparkSession.implicits._
    // the forest comes out symmetric (both directions of every edge)
    val edges = edgesIn.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val forest = new LocalForest
        it.foreach { case (a, b) => forest.union(a, b) }
        forest.edges
      }
      .toDF("src", "dst").cache()
    // the propagation invariant needs every edge endpoint present in the
    // label table (an absent endpoint would enter step1 with own=null and
    // its assignment would never register in the `changed` observation, so
    // convergence could be declared a round early) — union endpoints in
    // rather than trusting the caller
    val allNodes = nodes.select(col(nodes.columns.head).as("doc_id"))
      .union(edges.select(col("src").as("doc_id")))
      .distinct()
    var comp = allNodes.select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint()
    // Edge contraction (round 5): once both endpoints share a label, an
    // edge can never propose anything new — rewrite the edge relation
    // through the current labels ((c(src), c(dst)), drop loops, dedup)
    // after each round. Clique-heavy near-dup graphs collapse by orders of
    // magnitude after the first merge round, so later rounds shuffle a
    // component-level graph instead of the raw 10^7-edge relation; stranded
    // non-representative nodes still converge through the pointer jump.
    // Only applied while the relation is LARGE (contractAbove): small
    // graphs keep the single-job-per-round shape, and the fixpoint (and
    // therefore the result) is identical either way — pinned by
    // CcContractionSpec at threshold 0.
    var curEdges = edges
    var edgeCount = -1L // unknown until first contraction check
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // [1] neighbor min; the node's own label rides the union as `own` so
      // the old label survives the agg without a second join
      val step1 = curEdges.join(comp, curEdges("src") === comp("doc_id"))
        .select(col("dst").as("doc_id"), col("component"),
          lit(null).cast("long").as("own"))
        .union(comp.select(col("doc_id"), col("component"),
          col("component").as("own")))
        .groupBy(col("doc_id"))
        .agg(min(col("component")).as("c1"), min(col("own")).as("own"))
      // [2] pointer jump through the PREVIOUS round's materialized labels
      val lmap = comp.select(col("doc_id").as("t_id"), col("component").as("t_comp"))
      val obs = org.apache.spark.sql.Observation(
        s"cc-${ccObsId.incrementAndGet()}-$iter")
      val next = step1.join(lmap, step1("c1") === lmap("t_id"))
        .select(step1("doc_id"),
          least(step1("c1"), col("t_comp")).as("component"), step1("own"))
        .observe(obs, max(when(col("component") =!= col("own"), 1).otherwise(0))
          .as("changed"))
        .select(col("doc_id"), col("component"))
        .localCheckpoint() // eager: the round's single job
      comp = next
      // max() over ZERO rows (empty graph) observes as null -> no change
      converged = Option(obs.get("changed"))
        .map(_.asInstanceOf[Number].intValue()).getOrElse(0) == 0
      iter += 1
      if (!converged) {
        if (edgeCount < 0) edgeCount = curEdges.count() // first round only
        if (edgeCount > contractAbove) {
          val l1 = comp.select(col("doc_id").as("e_s"), col("component").as("cs"))
          val l2 = comp.select(col("doc_id").as("e_d"), col("component").as("cd"))
          // superseded edge checkpoints (like the superseded comp labels
          // above) are released by the ContextCleaner once unreferenced —
          // localCheckpoint blocks are GC-tracked, unlike .cache()
          val contracted = curEdges
            .join(l1, curEdges("src") === col("e_s"))
            .join(l2, curEdges("dst") === col("e_d"))
            .select(col("cs").as("src"), col("cd").as("dst"))
            .filter(col("src") =!= col("dst"))
            .distinct()
            .localCheckpoint()
          edgeCount = contracted.count() // materialized: cheap
          curEdges = contracted
        }
      }
    }
    require(converged, s"component propagation did not converge in $maxIters rounds")
    edges.unpersist() // comp is checkpoint-materialized; safe to release
    (comp, iter)
  }

  /** nearest `n` centroid indices by L2 (deterministic tiebreak on index). */
  private def nearestCell(v: Array[Double], centroids: Array[Array[Double]], n: Int): Seq[Int] = {
    centroids.indices
      .map { c =>
        var dist = 0.0
        val cv = centroids(c)
        var d = 0
        while (d < v.length) { val diff = v(d) - cv(d); dist += diff * diff; d += 1 }
        (dist, c)
      }
      .sortBy(identity)
      .take(n).map(_._2)
  }

  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.parts.mkString)
  }
}

/** The per-partition union-find of [[Ops.connectedComponents]]' pre-pass.
  * `union` folds edges in one at a time; `edges` then emits, in both
  * directions, one edge from every non-root node to its root — the min id
  * of its local component — plus a self-loop for a node whose only edges
  * were self-loops, so every endpoint survives. Ids are interned in a
  * primitive open-addressing table and the forest lives in int arrays, so
  * memory is O(distinct endpoints), not O(edges). */
private[ops] final class LocalForest {
  private var slots = Array.fill(16)(-1) // hash slot -> node index, -1 = empty
  private var ids = new Array[Long](8)   // node index -> id
  private var parent = new Array[Int](8) // node index -> parent index
  private var n = 0

  private def slotOf(id: Long): Int = {
    val z = id * 0x9E3779B97F4A7C15L
    val mask = slots.length - 1
    var h = (z ^ (z >>> 32)).toInt & mask
    while (slots(h) >= 0 && ids(slots(h)) != id) h = (h + 1) & mask
    h
  }

  private def indexOf(id: Long): Int = {
    val h = slotOf(id)
    if (slots(h) >= 0) return slots(h)
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, n * 2)
      parent = java.util.Arrays.copyOf(parent, n * 2)
    }
    ids(n) = id
    parent(n) = n
    slots(h) = n
    n += 1
    if (n * 2 > slots.length) { // keep the load factor <= 1/2
      slots = Array.fill(slots.length * 2)(-1)
      var i = 0
      while (i < n) { slots(slotOf(ids(i))) = i; i += 1 }
    }
    n - 1
  }

  private def find(i: Int): Int = {
    var x = i
    while (parent(x) != x) { // path halving
      parent(x) = parent(parent(x))
      x = parent(x)
    }
    x
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(indexOf(a))
    val rb = find(indexOf(b))
    if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
  }

  def edges: Iterator[(Long, Long)] = {
    val root = Array.tabulate(n)(find)
    val hasMember = new java.util.BitSet(n)
    root.indices.foreach(i => if (root(i) != i) hasMember.set(root(i)))
    root.indices.iterator.flatMap { i =>
      val r = ids(root(i))
      if (root(i) != i) Iterator((r, ids(i)), (ids(i), r))
      else if (hasMember.get(i)) Iterator.empty
      else Iterator.single((r, r))
    }
  }
}

/** Bounded distinct-id set for the pruned-Jaccard single-exchange plan
  * (q25): accumulates at most `bound` DISTINCT longs per group; one more
  * distinct value flips `overflow` and freezes the list. Per-group state is
  * therefore O(bound) regardless of how hot the key is — a boilerplate
  * trigram shared by 10^9 documents costs the same 50-slot buffer as a rare
  * one, which is what makes the plan safe at corpus scale. Kept groups
  * (overflow = false) carry their COMPLETE, exact id set. */
final case class BoundedIdSet(overflow: Boolean, ids: Seq[Long])

final class BoundedDistinctIds(bound: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Long, BoundedIdSet, BoundedIdSet] {
  import org.apache.spark.sql.{Encoder, Encoders}
  override def zero: BoundedIdSet = BoundedIdSet(overflow = false, Vector.empty)
  override def reduce(b: BoundedIdSet, a: Long): BoundedIdSet =
    if (b.overflow || b.ids.contains(a)) b
    else if (b.ids.size >= bound) BoundedIdSet(overflow = true, b.ids)
    else BoundedIdSet(overflow = false, b.ids :+ a)
  override def merge(x: BoundedIdSet, y: BoundedIdSet): BoundedIdSet =
    if (x.overflow) x
    else if (y.overflow) y
    else y.ids.foldLeft(x)(reduce)
  override def finish(r: BoundedIdSet): BoundedIdSet = r
  override def bufferEncoder: Encoder[BoundedIdSet] = Encoders.product[BoundedIdSet]
  override def outputEncoder: Encoder[BoundedIdSet] = Encoders.product[BoundedIdSet]
}
