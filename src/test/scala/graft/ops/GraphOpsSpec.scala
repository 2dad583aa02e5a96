package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{JobCounts, SparkSpec}

/** Semantic invariants for the iterative graph analytics at sf0.001. */
class GraphOpsSpec extends SparkSpec with JobCounts {

  private val d = "/root/testdata/sf0.001"

  test("pagerank conserves rank mass up to integer floor loss and favors hub suppliers") {
    val rows = GraphOps.pageRank(spark, d).collect()
    val n = rows.length.toLong
    assert(n > 0)
    val total = rows.map(_.getAs[Long]("rank")).sum
    // each iteration floors once per edge contribution and once per node:
    // the loss is < (E + n) per iteration, tiny against n·1e6 mass
    assert(total <= n * GraphOps.PrScale)
    assert(total > (n * GraphOps.PrScale * 9) / 10,
      s"rank mass $total collapsed vs ${n * GraphOps.PrScale}")
    // bipartite structure: few suppliers serve many customers, so the
    // random walk concentrates on the supplier side
    val (supp, cust) = rows.partition(_.getAs[Long]("is_supplier") == 1L)
    assert(supp.nonEmpty && cust.nonEmpty)
    val avgS = supp.map(_.getAs[Long]("rank")).sum / supp.length
    val avgC = cust.map(_.getAs[Long]("rank")).sum / cust.length
    assert(avgS > avgC, s"supplier avg $avgS must exceed customer avg $avgC")
    rows.foreach(r => assert(r.getAs[Long]("rank") >= 150000L,
      "teleport term lower-bounds every rank"))
  }

  test("triangle counts match a brute-force enumeration of the mutual-top-k edges") {
    import org.apache.spark.sql.functions._
    // rebuild the mutual-kNN edge set independently (plain Scala) from the
    // raw co-occurrence counts, then count triangles per node by brute force
    val su = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")).distinct()
    val w = su.as("a").join(su.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dir = w.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val kept = dir.groupBy(_._1).toSeq.flatMap { case (a, es) =>
      es.sortBy(e => (-e._3, e._2)).take(GraphOps.TriK).map(e => (a, e._2))
    }.toSet
    val edges = kept.filter { case (a, b) => a < b && kept((b, a)) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triByNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, bs) <- adj; b <- bs; c <- adj.getOrElse(b, Set.empty) if adj(a)(c)) {
      triByNode(a) += 1; triByNode(b) += 1; triByNode(c) += 1
    }
    val got = GraphOps.triangles(spark, d).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_tri")).toMap
    assert(got.values.sum > 0, "fixture graph must contain triangles")
    nodes.foreach(n => assert(got(n) === triByNode(n), s"node $n"))
    // nodes outside the mutual graph appear with zero
    got.foreach { case (n, t) => if (!nodes.contains(n)) assert(t === 0L) }
  }

  test("kcore equals an exact driver-side peel and converges inside the oracle bound") {
    import org.apache.spark.sql.functions._
    // rebuild the mutual-top-k edge set independently (same recompute as the
    // triangles spec), then peel to fixpoint in plain Scala
    val su = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")).distinct()
    val w = su.as("a").join(su.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dirE = w.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val kept = dirE.groupBy(_._1).toSeq.flatMap { case (a, es) =>
      es.sortBy(e => (-e._3, e._2)).take(GraphOps.TriK).map(e => (a, e._2))
    }.toSet
    var edges = kept.filter { case (a, b) => kept((b, a)) }
    var peels = 0
    var changed = true
    while (changed) {
      val deg = edges.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= GraphOps.KCoreK).keySet
      val next = edges.filter { case (a, b) => keep(a) && keep(b) }
      changed = next != edges
      if (changed) peels += 1
      edges = next
    }
    assert(peels <= GraphOps.KCorePeels,
      s"fixpoint needed $peels peels; oracle unrolls ${GraphOps.KCorePeels}")
    val expect = edges.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.kcore(spark, d).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_degree")).toMap
    assert(got === expect)
    assert(got.nonEmpty, "fixture graph must have a non-empty 4-core")
    got.values.foreach(dg => assert(dg >= GraphOps.KCoreK))
  }

  test("bfs levels are true minimum hop counts and respect bipartite parity") {
    import org.apache.spark.sql.functions._
    val out = GraphOps.bfs(spark, d).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("level")).toMap
    // rebuild the graph and run a reference BFS in Scala
    val pairs = spark.read.parquet(s"$d/orders.parquet").select("o_orderkey", "o_custkey")
      .join(spark.read.parquet(s"$d/lineitem.parquet").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val s0 = adj.keys.min
    var level = Map(s0 -> 0L)
    var frontier = Set(s0)
    for (l <- 1 to GraphOps.BfsMaxHops) {
      frontier = frontier.flatMap(adj(_)).diff(level.keySet)
      level ++= frontier.map(_ -> l.toLong)
    }
    assert(out === level)
    assert(out(s0) === 0L)
    // bipartite invariant: even node ids (customers) sit on even levels
    out.foreach { case (n, l) => assert((n % 2 === l % 2), s"node $n level $l") }
  }

  test("sssp distances equal a reference Dijkstra over the hash-weighted graph") {
    import org.apache.spark.sql.functions._
    val out = GraphOps.sssp(spark, d).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    val pairs = spark.read.parquet(s"$d/orders.parquet").select("o_orderkey", "o_custkey")
      .join(spark.read.parquet(s"$d/lineitem.parquet").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // same weight formula as the engine: 1000 + hexHash("src:dst") % 250
    def w(src: Long, dst: Long): Long =
      GraphOps.SsspWBase +
        graft.functions.Hashing.hexHashLocal(s"$src:$dst") % GraphOps.SsspWSpan
    val edges = (pairs ++ pairs.map(_.swap))
      .map { case (src, dst) => (src, dst, w(src, dst)) }
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3)).toSeq).toMap
    val s0 = adj.keys.min
    // reference Dijkstra (true unbounded SSSP: also proves the bounded-hop
    // unrolling converged to the real shortest distances on this graph)
    val dist = collection.mutable.Map(s0 -> 0L)
    val pq = collection.mutable.PriorityQueue((0L, s0))(
      Ordering.by[(Long, Long), Long](-_._1))
    val done = collection.mutable.Set.empty[Long]
    while (pq.nonEmpty) {
      val (dd, n) = pq.dequeue()
      if (!done(n) && dd == dist(n)) {
        done += n
        adj.getOrElse(n, Seq.empty).foreach { case (m, ew) =>
          if (dist.get(m).forall(_ > dd + ew)) {
            dist(m) = dd + ew; pq.enqueue((dd + ew, m))
          }
        }
      }
    }
    assert(out === dist.toMap)
    assert(out(s0) === 0L)
  }

  test("sssp superstep broadcasts only the delta frontier, never the accumulated dist") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // distinguishable shapes: dist from range(0,100), frontier from range(0,5)
    val edges = spark.range(10)
      .select(col("id").as("src"), (col("id") + 100L).as("dst"), lit(5L).as("w"))
    val dist = spark.range(100)
      .select(col("id").as("node"), (col("id") * 10L).as("dist"))
    val frontier = spark.range(5)
      .select(col("id").as("node"), (col("id") * 10L).as("dist"))
    val (newDist, improved) =
      GraphOps.ssspStep(edges, dist, frontier, pin = identity,
        pinLazy = identity)
    val hints = newDist.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size === 1, s"exactly one broadcast hint per superstep, got ${hints.size}")
    val sub = hints.head.child.toString
    assert(sub.contains("Range (0, 5"), s"hint must sit over the frontier: $sub")
    assert(!sub.contains("Range (0, 100"),
      s"the accumulated dist table must not be broadcast: $sub")
    // delta semantics on the toy graph: frontier 0..4 relaxes to nodes
    // 100..104 (cand = 10src+5), all strict improvements over prev = 10node
    val imp = improved.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(imp === (0L until 5L).map(s => (s + 100L) -> (s * 10L + 5L)).toMap)
    val nd = newDist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nd(102L) === 25L && nd(99L) === 990L)
  }

  /** `df`'s rows as sorted strings, for order-free equality. */
  private def rowSet(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("each kcore peel pins its degree frame within a 3-job budget, and the " +
      "loop stops at the fixpoint with the core's degrees") {
    val base = GraphOps.mutualTopK(spark, d).localCheckpoint()
    val budgets = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    @scala.annotation.tailrec
    def peel(edges: DataFrame): DataFrame = {
      val (step, jobs) = withJobs(GraphOps.kcorePeel(base, edges))
      budgets += ((s"peel ${budgets.size + 1}", jobs, 3))
      step match {
        case Left(core) => core
        case Right(next) => peel(next)
      }
    }
    val core = peel(base)
    assertBudget(budgets.toSeq)
    assert(core.where(s"deg < ${GraphOps.KCoreK}").isEmpty)
    assert(budgets.size <= GraphOps.KCorePeels)
    val out = GraphOps.kcore(spark, d)
    assert(rowSet(core) === rowSet(out))
    assert(out.schema === StructType(Seq(StructField("node", LongType),
      StructField("core_degree", LongType, nullable = false))))
  }

  test("each bfs level runs at most 3 jobs, and the loop's levels are bfs's") {
    import org.apache.spark.sql.functions.lit
    val (edges, s0) = GraphOps.tradeEdges(spark, d)
    var visited = spark.range(1).select(lit(s0).as("node"), lit(0L).as("level"))
    var frontier = 1L
    val budgets = (1 to GraphOps.BfsMaxHops).map { l =>
      val ((next, reached), jobs) = withJobs(GraphOps.bfsLevel(edges, visited, frontier, l))
      assert(reached === next.where(s"level = $l").count(), s"level $l")
      visited = next
      frontier = reached
      (s"level $l", jobs, 3)
    }
    assertBudget(budgets)
    val out = GraphOps.bfs(spark, d)
    assert(rowSet(visited) === rowSet(out))
    assert(out.schema === StructType(Seq(StructField("node", LongType),
      StructField("level", LongType, nullable = false))))
  }

  test("with broadcasts off, the kcore and bfs loops return the same rows") {
    val (kcore, bfs) = (rowSet(GraphOps.kcore(spark, d)), rowSet(GraphOps.bfs(spark, d)))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(rowSet(GraphOps.kcore(spark, d)) === kcore)
      assert(rowSet(GraphOps.bfs(spark, d)) === bfs)
    } finally spark.conf.set(key, before)
  }

  test("sssp's setup pins the weighted edges and observes the source in one " +
      "execution") {
    val ((edges, s0), jobs) = withJobs(GraphOps.tradeEdges(spark, d, GraphOps.ssspWeights))
    assertBudget(Seq(("tradeEdges with weights", jobs, 3)))
    import org.apache.spark.sql.functions.min
    assert(s0 === edges.agg(min("src")).head.getLong(0))
    assert(edges.columns.toSeq === Seq("src", "dst", "w"))
    assert(GraphOps.sssp(spark, d).schema === StructType(Seq(
      StructField("node", LongType), StructField("dist", LongType))))
  }
}
