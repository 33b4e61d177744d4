package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // a --> b --> c --> d,  b --> d,  e isolated-ish (e --> a)
  private lazy val edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("e", "a"))
    .toDF("from_id", "to_id")
    .withColumn("relation_type", lit("t"))
    .withColumn("confidence", lit(0.9))

  private def seed(id: String) = Seq(id).toDF("node_id")

  test("multiHop annotates minimum hop distance") {
    val got = GraphOps.multiHop(edges, seed("a"), 3, GraphOps.Outgoing)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 2))
  }

  test("multiHop respects maxHops") {
    val got = GraphOps.multiHop(edges, seed("a"), 1, GraphOps.Outgoing)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1))
  }

  test("shortest path = BFS over both directions") {
    val got = GraphOps.shortestPathLengths(edges, seed("d"), 4)
      .as[(String, Int)].collect().toMap
    assert(got == Map("d" -> 0, "b" -> 1, "c" -> 1, "a" -> 2, "e" -> 3))
  }

  test("multiHopPaths reconstructs min-hop, lexicographically-min paths") {
    val got = GraphOps.multiHopPaths(edges, seed("a"), 3, GraphOps.Outgoing)
      .as[(String, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "a" -> ((0, "a")),
      "b" -> ((1, "a --t--> b")),
      "c" -> ((2, "a --t--> b --t--> c")),
      // d is reachable at hop 2 via b and hop 3 via c: min hop wins
      "d" -> ((2, "a --t--> b --t--> d"))))
  }

  test("shortestPaths renders node-id paths both directions") {
    val got = GraphOps.shortestPaths(edges, seed("d"), 3)
      .as[(String, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("b") == ((1, "d > b")))
    // two hop-2 paths to c exist (d > c is hop 1 upstream): c reached at 1
    assert(got("c") == ((1, "d > c")))
    assert(got("a") == ((2, "d > b > a")))
  }

  test("neighbors with direction") {
    val out = GraphOps.neighbors(edges, seed("b"), GraphOps.Outgoing)
      .select("neighbor_id").as[String].collect().toSet
    assert(out == Set("c", "d"))
    val both = GraphOps.neighbors(edges, seed("b"), GraphOps.Both)
      .select("neighbor_id").as[String].collect().toSet
    assert(both == Set("a", "c", "d"))
  }

  test("multiHop with edge filter prunes traversal") {
    // drop b→c: from a, reachable = a, b, d (via b→d)
    val got = GraphOps.multiHop(edges, seed("a"), 3, GraphOps.Outgoing,
        edgeFilter = Some(!(col("node_id") === "b" && col("next_id") === "c")))
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "d" -> 2))
  }

  test("preOriented path gives identical results") {
    val pre = GraphOps.oriented(edges, GraphOps.Outgoing)
      .repartition(col("node_id")).localCheckpoint()
    val got = GraphOps.multiHop(pre, seed("a"), 3, GraphOps.Outgoing,
        preOriented = true)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 2))
    val n = GraphOps.neighbors(pre, seed("b"), GraphOps.Outgoing,
        preOriented = true)
      .select("neighbor_id").as[String].collect().toSet
    assert(n == Set("c", "d"))
  }

  test("chainCounts equals enumerated chains, aggregated") {
    // e→a→b→{c→d, d}: root e, sink d through two paths (diamond fan-in)
    val counted = GraphOps.chainCounts(edges)
      .as[(Int, String, Long)].collect().toSet
    assert(counted == Set((3, "d", 1L), (4, "d", 1L)))
    // the cap drops longer chains entirely and keeps one of exactly
    // maxLen edges
    assert(GraphOps.chainCounts(edges, maxLen = 3)
      .as[(Int, String, Long)].collect().toSet == Set((3, "d", 1L)))
    assert(GraphOps.chainCounts(edges, maxLen = 2).collect().isEmpty)
    // fan-out: a→b→c, a→b→d ends one chain at each sink
    val e1 = Seq(("a", "b"), ("b", "c"), ("b", "d")).toDF("from_id", "to_id")
    val c1 = GraphOps.chainCounts(e1).as[(Int, String, Long)].collect().toSet
    assert(c1 == Set((2, "c", 1L), (2, "d", 1L)))
    // multi-root fan-in sums counts per (len, end)
    val e2 = Seq(("r1", "m"), ("r2", "m"), ("m", "z")).toDF("from_id", "to_id")
    val c2 = GraphOps.chainCounts(e2).as[(Int, String, Long)].collect().toSet
    assert(c2 == Set((2, "z", 2L)))
  }

  test("induced subgraph keeps edges with both endpoints") {
    val keep = Seq("a", "b", "c").toDF("node_id")
    val got = GraphOps.inducedSubgraph(edges, keep)
      .select("from_id", "to_id").as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("b", "c")))
  }

  test("connected components labels by min node id") {
    val e2 = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("from_id", "to_id")
    val got = GraphOps.connectedComponents(e2)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("connected components: path graph converges in O(log n) rounds") {
    // Adversarial long-chain fixture (round-7 verdict item 7): the
    // single-operator min-neighbor contraction shortened a chain by ONE
    // edge per round (O(n)) and silently returned partial labels past
    // maxIter. The two-phase star alternation must label a 256-node
    // path correctly well inside 2*log2(n)+4 rounds — a future edit
    // that reintroduces propagation-style behavior trips the throw or
    // this bound, not a silent mislabel.
    val n = 256
    val path = (0 until n - 1)
      .map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("from_id", "to_id")
    val (labels, rounds) = GraphOps.componentsAndRounds(path, maxIter = 30)
    val got = labels.as[(String, String)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == "n000"),
      s"chain not fully merged: ${got.filter(_._2 != "n000").take(5).toSeq}")
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt + 4
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("connected components: clique collapses in one contraction round") {
    // near-dup clusters are near-cliques — the shape must stay the
    // cheap one: a k-clique is a star forest after a single round
    // (+1 round for the fixed-point confirmation).
    val ids = (0 until 12).map(i => f"c$i%02d")
    val clique = (for (i <- ids; j <- ids if i < j) yield (i, j))
      .toDF("from_id", "to_id")
    val (labels, rounds) = GraphOps.componentsAndRounds(clique, maxIter = 30)
    assert(labels.as[(String, String)].collect().forall(_._2 == "c00"))
    assert(rounds <= 2, s"clique took $rounds rounds")
  }
}
