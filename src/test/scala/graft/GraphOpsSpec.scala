package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  /** In-memory power-iteration reference: same fixed-iteration, symmetric-graph rule. */
  private def referencePr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = out.size.toDouble
    var pr = out.keys.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val contribs = edges.groupBy(_._2).view.mapValues { in =>
        in.map { case (s, _) => pr(s) / out(s).size }.sum
      }.toMap
      pr = out.keys.map(id => id -> (0.15 / n + 0.85 * contribs.getOrElse(id, 0.0))).toMap
    }
    pr
  }

  /** Bounded multi-source BFS over a directed edge list: minimum hop count <= maxHops. */
  private def referenceBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Int] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var hops = seeds.map(_ -> 0).toMap
    var frontier = seeds.toSet
    (1 to maxHops).foreach { h =>
      frontier = frontier.flatMap(out.getOrElse(_, Nil)).filterNot(hops.contains)
      hops ++= frontier.map(_ -> h)
    }
    hops
  }

  /** Synchronous Bellman-Ford: after R rounds, the shortest distance over <= R edges. */
  private def referenceSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    (1 to rounds).foreach { _ =>
      val relaxed = edges.collect { case (u, v, w) if dist.contains(u) => v -> (dist(u) + w) }
      dist = (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }
    dist
  }

  /** Synchronous label propagation over the deduplicated symmetric graph: each round
    * every node takes its neighbors' most frequent label, ties to the smallest label. */
  private def referenceLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var label = nbrs.keys.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      label = nbrs.map { case (v, ns) =>
        v -> ns.groupBy(label).view.mapValues(_.size).toSeq
          .minBy { case (l, cnt) => (-cnt, l) }._1
      }
    }
    label
  }

  /** Bounded k-core peeling by re-counting the surviving edges each round: drop every
    * vertex of degree < k, keep the edges between survivors; returns the final degrees. */
  private def referenceKcore(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    def degrees(es: Set[(Long, Long)]) = es.toSeq.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var es = edges.toSet
    (1 to rounds).foreach { _ =>
      val keep = degrees(es).filter(_._2 >= k).keySet
      es = es.filter { case (a, b) => keep(a) && keep(b) }
    }
    degrees(es)
  }

  test("pageRank matches the in-memory power iteration on a hand graph") {
    import spark.implicits._
    // path 1-2-3 plus pendant 4 on 2 (symmetric): 2 is the hub
    val undirected = Seq((1L, 2L), (2L, 3L), (2L, 4L))
    val sym = undirected ++ undirected.map(_.swap)
    val got = GraphOps.pageRank(sym.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referencePr(sym, 3)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, pr) =>
      assert(math.abs(pr - want(id)) < 1e-12, s"node $id: $pr vs ${want(id)}")
    }
    assert(got(2L) > got(1L) && got(2L) > got(3L) && got(2L) > got(4L), "hub must rank highest")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass is conserved on a symmetric graph")
  }

  test("pageRank matches the in-memory power iteration on a random symmetric graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val raw = Seq.fill(500)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val sym = raw ++ raw.map(_.swap)
    val got = GraphOps.pageRank(sym.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pageRank deduplicates multi-edges; the reference counts every pair it is given
    val want = referencePr(sym.distinct, 3)
    assert(got.keySet == want.keySet)
    // same per-node additions in a different grouping order differ only by float
    // summation order, far inside 1e-12 on these magnitudes
    got.foreach { case (id, pr) =>
      assert(math.abs(pr - want(id)) < 1e-12, s"node $id: $pr vs reference ${want(id)}")
    }
  }

  test("bfs and labelPropagation equal the driver-side references on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val raw = Seq.fill(600)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val pairs = raw ++ raw.map(_.swap)
    val sym = pairs.toDF("src", "dst")
    // integer outputs: bit-for-bit, no tolerance
    val lp = GraphOps.labelPropagation(sym, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == referenceLpa(pairs, 3))
    val bf = GraphOps.bfs(sym, Seq(0L, 7L).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bf == referenceBfs(pairs, Seq(0L, 7L), 3))
  }

  test("bfs and sssp equal the BFS and Bellman-Ford references on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val raw = Seq.fill(500)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val pairs = raw ++ raw.map(_.swap)
    val seeds = Seq(0L, 5L)
    val bf = GraphOps.bfs(pairs.toDF("src", "dst"), seeds.toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bf == referenceBfs(pairs, seeds, 3))
    val weighted = raw.map { case (a, b) => (a, b, 1 + (a + b) % 7) }
    val ss = GraphOps.sssp(weighted.toDF("src", "dst", "w"), seeds.toDF("id"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ss == referenceSssp(weighted, seeds, 3))
  }

  test("kcorePeel equals the bounded-peeling reference over a k x rounds grid") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val raw = Seq.fill(900)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter { case (a, b) => a != b }
    val pairs = raw ++ raw.map(_.swap)
    val sym = pairs.toDF("src", "dst")
    for (k <- Seq(2, 8, 15); rounds <- Seq(1, 3)) {
      val got = GraphOps.kcorePeel(sym, k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == referenceKcore(pairs, k, rounds), s"k=$k rounds=$rounds diverged")
    }
    // all-peels case: empty
    assert(GraphOps.kcorePeel(sym, k = 500, rounds = 2).isEmpty)
  }

  test("kcorePeel's incremental degree decrements equal re-counting the survivors") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val raw = Seq.fill(900)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter { case (a, b) => a != b }
    val pairs = raw ++ raw.map(_.swap)
    val sym = pairs.toDF("src", "dst")
    for (k <- Seq(2, 8, 15); rounds <- Seq(1, 2, 4)) {
      val got = GraphOps.kcorePeel(sym, k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == referenceKcore(pairs, k, rounds), s"k=$k rounds=$rounds diverged")
    }
  }

  test("pageRank and labelPropagation push past the vertex gate equals the gated pull") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val raw = Seq.fill(700)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val sym = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val prPull = GraphOps.pageRankImpl(sym, 3, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lpPull = GraphOps.labelPropagationImpl(sym, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // gate 0 takes the cluster-scale push path; with Spark's auto-broadcast off too, its
    // per-iteration joins are the shuffle joins a past-gate graph gets
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (prPush, lpPush) = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      (GraphOps.pageRankImpl(sym, 3, 0.85, gateVertices = 0L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
       GraphOps.labelPropagationImpl(sym, 3, gateVertices = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // pagerank: double sums regroup, so compare to 1e-12 absolute
    assert(prPull.keySet == prPush.keySet)
    prPull.foreach { case (id, pr) =>
      assert(math.abs(pr - prPush(id)) < 1e-12, s"node $id: pull $pr vs push ${prPush(id)}")
    }
    // labelProp: integer labels, exact
    assert(lpPull == lpPush)
  }

  test("kcorePeel strips the pendant tail and keeps the clique; multi-edges count once") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + chain 4-5-6; symmetric edges, one duplicated pair
    val pairs = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(4L,5L),(5L,6L),(4L,5L))
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // k=3: round 1 peels 5 and 6 (degrees 2 and 1); 4 drops from degree 4 to 3 and
    // survives round 2. Duplicate (4,5) must not inflate 5's degree to 3.
    val got = GraphOps.kcorePeel(sym, k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree: everything peels, empty result
    assert(GraphOps.kcorePeel(sym, k = 10, rounds = 1).isEmpty)
  }

  test("sssp equals the Bellman-Ford reference on a weighted multigraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // weighted digraph with deliberate multi-edges (min-plus must keep the cheapest)
    val edges = Seq.fill(700)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong,
        (1 + rnd.nextInt(9)).toLong))
      .filter { case (a, b, _) => a != b }
    val seeds = Seq(0L, 13L, 42L)
    // integer min-plus: bit-for-bit, no tolerance
    val got = GraphOps.sssp(edges.toDF("src", "dst", "w"), seeds.toDF("id"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == referenceSssp(edges, seeds, 4))
  }

  test("iterative operators release every checkpoint but the one they return") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val raw = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val sym = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val weighted = raw.map { case (a, b) => (a, b, 1 + (a + b) % 5) }.toDF("src", "dst", "w")
    val seeds = Seq(0L, 9L).toDF("id")
    val pairs = raw.filter { case (a, b) => a < b }.take(30).toDF("a_id", "b_id")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => GraphOps.pageRank(sym, iterations = 3)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(sym, rounds = 3)),
      "bfs" -> (() => GraphOps.bfs(sym, seeds, maxHops = 3)),
      "sssp" -> (() => GraphOps.sssp(weighted, seeds, rounds = 3)),
      "kcorePeel" -> (() => GraphOps.kcorePeel(sym, k = 8, rounds = 3)),
      "connectedComponents" -> (() => graft.pipeline.Dedup.connectedComponents(pairs)))
    ops.foreach { case (name, op) =>
      val before = spark.sparkContext.getPersistentRDDs.size
      assert(op().collect().nonEmpty, s"$name: empty result")
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after <= before + 1, s"$name left ${after - before} persisted RDDs")
    }
  }

  test("q_pagerank returns a full top-50 with a total deterministic order") {
    val rows = GraphOps.qPagerank(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 50)
    // non-increasing by score; ties strictly increasing by partkey
    rows.sliding(2).foreach { case Array((k1, p1), (k2, p2)) =>
      assert(p1 > p2 || (p1 == p2 && k1 < k2), s"order violated at ($k1,$p1) ($k2,$p2)")
    }
    val again = GraphOps.qPagerank(spark, sf).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.sameElements(again), "fixed-iteration pagerank must be deterministic")
  }

  test("bfs assigns minimum hop distances and respects the hop bound") {
    import spark.implicits._
    // chain 1->2->3->4->5 with a shortcut 1->4; seed at 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps.bfs(edges, seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4 is reached in 1 hop via the shortcut, 5 in 2; the plain chain would say 3 and 4
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfs drains early on a short graph and dedups multi-edges and seed ids") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 1L).toDF("id")
    val got = GraphOps.bfs(edges, seeds, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1))
  }

  test("disconnected nodes never appear; multi-seed takes the nearest seed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = GraphOps.bfs(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 10L -> 0, 2L -> 1, 11L -> 1, 3L -> 2))
  }

  /** All triangles of a vertex set by brute force (reference for triangleCount). */
  private def referenceTriangles(edges: Seq[(Long, Long)]): Long = {
    val und = edges.flatMap { case (a, b) => Seq((a min b, a max b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    nodes.combinations(3).count { case Seq(x, y, z) =>
      und((x, y)) && und((y, z)) && und((x, z))
    }
  }

  test("triangleCount matches brute force on hand graphs; multi-edges and direction ignored") {
    import spark.implicits._
    // K4 (4 triangles) + pendant + disconnected edge, given as noisy directed multi-edges
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 4L), (10L, 11L), (1L, 2L), (2L, 1L))).toDF("src", "dst")
    val got = GraphOps.triangleCount(edges).head().getLong(0)
    assert(got == 4L)
    assert(got == referenceTriangles(k4 ++ Seq((4L, 5L), (10L, 11L))))
    // triangle-free bipartite square: zero
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(GraphOps.triangleCount(square).head().getLong(0) == 0L)
  }

  test("triangleCount broadcast path builds ONE shared adjacency broadcast") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(400)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).toDF("src", "dst")
    val df = GraphOps.triangleCount(edges)
    df.collect()
    // both adjacency joins must consume the SAME exchange — a second materialized
    // broadcast doubles driver memory at the 32M-edge gate (r12 ADVICE fix)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), s"expected a shared broadcast exchange:\n$plan")
  }

  test("triangleCount partitioned path (gate=0) equals the broadcast path") {
    import spark.implicits._
    // random-ish graph big enough to have nontrivial adjacency lists; gate=0 forces the
    // beyond-broadcast sort-merge path (never reached by sf-scale gates otherwise)
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(600)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).toDF("src", "dst")
    val viaBroadcast = GraphOps.triangleCount(edges).head().getLong(0)
    // gate=0 only withholds OUR broadcast() hint; Spark's auto-broadcast would still
    // plan BHJ over the tiny adjacency frame. Disable it and assert the executed plan
    // genuinely carries no broadcast, so the partitioned physical shape is exercised.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val viaPartitioned = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = GraphOps.triangleCount(edges, broadcastGateEdges = 0L)
      val got = df.head().getLong(0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
        s"partitioned path still broadcasts:\n$plan")
      got
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(viaBroadcast == viaPartitioned && viaBroadcast > 0,
      s"broadcast=$viaBroadcast partitioned=$viaPartitioned")
  }

  test("q_triangles is deterministic and positive on the co-purchase graph") {
    val a = GraphOps.qTriangles(spark, sf).head().getLong(0)
    val b = GraphOps.qTriangles(spark, sf).head().getLong(0)
    assert(a == b && a > 0, s"got $a then $b")
  }

  test("labelPropagation: two cliques joined by one bridge edge settle into two communities") {
    import spark.implicits._
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val cl = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val sym = cl ++ cl.map(_.swap)
    val got = GraphOps.labelPropagation(sym.toDF("src", "dst"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deterministic synchronous LPA with min-label ties: clique labels collapse to the
    // minimum member label; the bridge endpoints are dominated by their own clique
    assert(Set(1L, 2L, 3L).map(got).size == 1, s"left clique must agree: $got")
    assert(Set(10L, 11L, 12L).map(got).size == 1, s"right clique must agree: $got")
    assert(got(1L) != got(11L), s"cliques must keep distinct communities: $got")
  }

  test("labelPropagation is deterministic round-for-round (synchronous + total tie-break)") {
    import spark.implicits._
    val edges = (1L to 30L).flatMap(i => Seq((i, i % 30 + 1), (i % 30 + 1, i)))
    val a = GraphOps.labelPropagation(edges.toDF("src", "dst"), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = GraphOps.labelPropagation(edges.toDF("src", "dst"), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("sssp relaxes exactly <=R-edge shortest paths with integer weights") {
    import spark.implicits._
    // 1 -> 2 (w5) -> 3 (w1); direct 1 -> 3 (w10): 2-edge path wins at R>=2
    // 4 unreachable from 1; 1 -> 5 (w1) -> ... chain longer than R stays at the R-cut
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L),
      (5L, 6L, 1L), (6L, 7L, 1L), (7L, 8L, 1L), (1L, 5L, 1L))
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val d2 = GraphOps.sssp(edges.toDF("src", "dst", "w"), seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 5L -> 1L, 6L -> 2L),
      s"2-round distances wrong: $d2")
    val d4 = GraphOps.sssp(edges.toDF("src", "dst", "w"), seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d4(8L) === 4L && !d4.contains(4L), s"4-round must reach the chain end: $d4")
  }

  test("sssp frontier drains early on a settled graph (no wasted rounds)") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    // rounds=10 but the graph settles after 1: must terminate and return both nodes
    val d = GraphOps.sssp(edges, seeds, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L))
  }

  test("q_rolling_zscore statistics are strictly past-only (leakage-free)") {
    import org.apache.spark.sql.functions._
    // the flagged event's own value must not be in its window: recompute each flagged
    // z from the raw preceding values and compare
    val ev = graft.sources.TableIO.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val flagged = graft.operators.EventsQueries.qRollingZscore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    flagged.foreach { case (eid, uid, z4) =>
      val mine = ev.filter(_._2 == uid).sortBy(e => (e._3.getTime, e._1))
      val idx = mine.indexWhere(_._1 == eid)
      val win = mine.slice(math.max(0, idx - 20), idx).map(_._4)
      assert(win.length >= 10, s"event $eid flagged with ${win.length} prior points")
      val mu = win.sum / win.length
      val sd = math.sqrt(win.map(v => (v - mu) * (v - mu)).sum / (win.length - 1))
      val z = BigDecimal((mine(idx)._4 - mu) / sd)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(z - z4) < 2e-4, s"event $eid: engine z=$z4 vs reference $z")
    }
    assert(flagged.nonEmpty, "sf0.001 corpus must surface at least one anomaly")
  }
}
