package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.SparkTestSession
import graft.streaming.StreamingLsh

/** Driver-side reference for the dedup graph: a union-find whose label is
  * the min id of each component, and the dedup chain as it was built before
  * star edges — exact classes, then EVERY pair of representatives sharing a
  * band bucket of at most `cap` members, then components. */
object DedupOracle {
  def components(nodes: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    nodes.foreach(find)
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** (band, key) -> member rep ids, from the driver-side signature twin. */
  def buckets(reps: Map[Long, String]): Map[(Int, Long, Long), Seq[Long]] =
    reps.toSeq.flatMap { case (id, text) =>
      StreamingLsh.minhashSigLocal(text).toSeq.flatMap { sig =>
        (0 until Ops.MinhashK / 2).map(b => ((b, sig(2 * b), sig(2 * b + 1)), id))
      }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }

  def cliqueChain(docs: Seq[(Long, String)], cap: Int): Map[Long, Long] = {
    val rep = docs.groupBy(_._2).values.flatMap { cls =>
      val r = cls.map(_._1).min
      cls.map(_._1 -> r)
    }.toMap
    val reps = docs.filter { case (id, _) => rep(id) == id }.toMap
    val pairs = for {
      members <- buckets(reps).values.toSeq if members.size <= cap
      i <- members.indices; j <- (i + 1) until members.size
    } yield (members(i), members(j))
    val canon = components(reps.keys, pairs)
    rep.map { case (id, r) => id -> canon(r) }
  }
}

/** dedupChain (star edges per band bucket, local union-find, label as
  * canonical id) against the clique-pair chain it replaced, and
  * connectedComponents against a driver union-find. */
class DedupChainDiffSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def words(prefix: String, from: Int, n: Int): String =
    (from until from + n).map(k => s"$prefix$k").mkString(" ")

  /** Sliding-window chains (each doc shifts the window by 3 words, so
    * neighbours share band buckets and distant links do not), one template
    * class big enough to overflow cap 8, exact copies, and uniques. */
  private val corpus: Seq[(Long, String)] = {
    val chains = for (c <- 0 until 3; k <- 0 until 14)
      yield ((1000 * (c + 1) + k).toLong, words(s"lant${c}x", 3 * k, 30))
    val tpl = words("formular", 0, 60)
    val template = (0 until 14).map(i => ((5000 + i).toLong, tpl + s" exemplar$i"))
    val copies = Seq(0L, 1L, 2L).map(_ -> words("copie", 0, 40)) ++
      Seq(7L, 1003L).map(_ -> words("lant0x", 9, 30)) // joins chain 0 via doc 1003
    val uniques = (0 until 6).map(i => ((6000 + i).toLong, words(s"unic${i}y", 0, 25)))
    chains ++ template ++ copies ++ uniques
  }

  test("corpus has overlapping buckets, a bucket above cap 8, and chains across buckets") {
    val reps = corpus.groupBy(_._2).values.map(_.minBy(_._1)).toMap
    val bs = DedupOracle.buckets(reps).values.toSeq
    assert(bs.exists(_.size > 8), "no band bucket above the cap")
    val kept = bs.filter(b => b.size >= 2 && b.size <= 8)
    // overlapping: two kept buckets share a member but differ in members
    assert(kept.exists(a => kept.exists(b => a != b && a.intersect(b).nonEmpty)))
    // a chain crosses buckets: some component joins two reps that share no bucket
    val canon = DedupOracle.cliqueChain(corpus, cap = 8)
    val together = kept.flatMap(b => for (x <- b; y <- b) yield (x, y)).toSet
    val comps = reps.keys.groupBy(canon).values.filter(_.size > 2)
    assert(comps.exists(c => c.exists(x => c.exists(y => x != y && !together((x, y))))))
  }

  test("dedupChain equals the clique-pair chain at cap 8 and uncapped, AQE coalescing on and off") {
    import spark.implicits._
    val docs = spark.sparkContext.parallelize(corpus, 6).toDF("doc_id", "text")
    assert(docs.rdd.getNumPartitions >= 4)
    // coalescing off keeps the star edges in several partitions, so the
    // local union-find sees a partial graph in each
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    try {
      for (coalesce <- Seq("true", "false"); cap <- Seq(8, Int.MaxValue)) {
        spark.conf.set(key, coalesce)
        val got = Ops.dedupChain(docs, maxBucketSize = cap).as[(Long, Long)].collect().toMap
        val want = DedupOracle.cliqueChain(corpus, cap)
        assert(got == want, s"coalesce=$coalesce cap=$cap")
      }
    } finally spark.conf.set(key, before)
    // the cap matters on this corpus: uncapped, the template class is one class
    assert(DedupOracle.cliqueChain(corpus, 8) != DedupOracle.cliqueChain(corpus, Int.MaxValue))
  }

  test("connectedComponents equals a driver union-find on seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      // ids span the whole long range, so hashing and min labels see negatives
      val pool = Vector.fill(70)(rnd.nextLong()) ++ Vector(Long.MinValue, Long.MaxValue, 0L)
      val base = Vector.fill(40 + rnd.nextInt(80))(
        (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size))))
      val loops = Vector.fill(5)(pool(rnd.nextInt(pool.size))).map(x => (x, x))
      val loopOnly = Vector(seed * 7919L) // endpoint of a self-loop, absent from nodes
      val edges = rnd.shuffle(base ++ base.take(10) ++ loops ++ loopOnly.map(x => (x, x)))
      // nodes: a sample of the pool (the rest are endpoint-only) plus isolated ids
      val nodes = pool.filter(_ => rnd.nextBoolean()) ++ Vector(-seed.toLong, 10L * seed + 1)
      val slices = 4 + seed % 4
      val (labels, _) = Ops.connectedComponents(nodes.toDF("doc_id"),
        spark.sparkContext.parallelize(edges, slices).toDF("src", "dst"))
      val rows = labels.as[(Long, Long)].collect()
      val got = rows.toMap
      assert(rows.length == got.size, s"seed $seed: a node labelled twice")
      assert(got == DedupOracle.components(nodes, edges), s"seed $seed")
    }
  }

  test("a chain inside one partition collapses in the local pre-pass: 2 rounds") {
    import spark.implicits._
    val n = 64L
    val edges = spark.sparkContext.parallelize((0L until n - 1).map(i => (i + 1, i)), 1)
    val (labels, rounds) = Ops.connectedComponents(spark.range(n).toDF("doc_id"),
      edges.toDF("src", "dst"))
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(rounds == 2, s"took $rounds rounds") // one to settle, one to observe no change
  }

  test("LocalForest: min-id roots, both directions, self-loop-only nodes kept, table growth") {
    val f = new LocalForest
    val rnd = new scala.util.Random(3)
    val edges = Vector.fill(5000)((rnd.nextInt(4000).toLong - 2000, rnd.nextInt(4000).toLong - 2000)) ++
      Vector((9999L, 9999L), (9999L, 9999L))
    edges.foreach { case (a, b) => f.union(a, b) }
    val out = f.edges.toVector
    val want = DedupOracle.components(Nil, edges)
    assert(out.toSet == out.toSet.map((e: (Long, Long)) => e.swap), "forest is not symmetric")
    assert(out.count { case (a, b) => a == b } == 1 && out.contains((9999L, 9999L)))
    val toRoot = out.collect { case (r, x) if r < x => x -> r }
    assert(toRoot.size == toRoot.toMap.size, "a node has two roots")
    val roots = want.values.toSet
    assert(toRoot.forall { case (x, r) => want(x) == r && roots(r) })
    assert(toRoot.size == want.size - roots.size)
  }
}
