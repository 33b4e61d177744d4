package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.graph.{GraphAnalytics, GraphOps, KGraph}

/** Differential checks of the carried-frame graph kernels, the k-core
  * peel and the triangle census against naive driver-side references, on small
  * adversarial graphs drawn by ScalaCheck from a fixed seed:
  * self-loops, duplicate edges, isolated seeds, disconnected parts,
  * tied weights, and ids whose numerals straddle 10^k digit boundaries
  * (where string — and packed lex — order departs from numeric order)
  * up to the codec's 10^12 guard.
  *
  * Each property case is a BATCH of independent graphs, each under its
  * own id type prefix, run as one disjoint union: BFS, local-dominance
  * matching, the k-core peel and triangles never cross components, so one Spark run
  * checks every graph of the batch and the spec stays a few seconds of
  * Tier-1.
  */
class GraphKernelDiffSpec extends SparkSpec {
  import spark.implicits._

  private val numerals: Seq[Long] = Seq(0L, 1L, 2L, 9L, 10L, 11L, 99L,
    100L, 101L, 999L, 1000L, 99999L, 100000L, 999999999999L)

  /** One graph: directed edges (self-loops and duplicates allowed),
    * seeds (possibly isolated) and integer weights with many ties. */
  private case class G(edges: Seq[(Long, Long, Long)], seeds: Seq[Long])

  private val graphGen: Gen[G] = for {
    n <- Gen.choose(0, 14)
    edges <- Gen.listOfN(n, for {
      u <- Gen.oneOf(numerals); v <- Gen.oneOf(numerals)
      w <- Gen.choose(1L, 3L)
    } yield (u, v, w))
    k <- Gen.choose(1, 3)
    seeds <- Gen.listOfN(k, Gen.oneOf(numerals))
  } yield G(edges, seeds)

  /** A batch: graph i's ids carry type char ('a' + i). */
  private val batchGen: Gen[Seq[G]] = Gen.listOfN(10, graphGen)

  private def id(i: Int, n: Long): String = s"${('a' + i).toChar}:$n"

  private def check(prop: Prop, batches: Int = 2): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(batches).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
  }

  /** Naive single-source BFS: node -> (min hop, number of shortest
    * paths counted with edge multiplicity), hops <= maxHops. */
  private def refBfs(adj: Seq[(String, String)], src: String,
      maxHops: Int): Map[String, (Int, Long)] = {
    var dist = Map(src -> ((0, 1L)))
    var frontier = Seq(src -> 1L)
    var h = 1
    while (h <= maxHops && frontier.nonEmpty) {
      val fresh = (for ((u, su) <- frontier; (x, y) <- adj if x == u)
          yield (y, su))
        .filterNot(a => dist.contains(a._1))
        .groupMapReduce(_._1)(_._2)(_ + _)
      dist ++= fresh.map { case (v, s) => v -> ((h, s)) }
      frontier = fresh.toSeq
      h += 1
    }
    dist
  }

  private def directed(batch: Seq[G]): Seq[(String, String)] =
    batch.zipWithIndex.flatMap { case (g, i) =>
      g.edges.map(e => (id(i, e._1), id(i, e._2))) }

  private def seedsOf(batch: Seq[G]): Seq[String] =
    batch.zipWithIndex.flatMap { case (g, i) => g.seeds.map(id(i, _)) }

  test("multiHop == min-hop driver BFS in every direction") {
    val dirs = Seq(GraphOps.Outgoing, GraphOps.Incoming, GraphOps.Both)
    check(Prop.forAllNoShrink(batchGen, Gen.choose(0, 4), Gen.oneOf(dirs)) {
      (batch, maxHops, dir) =>
        val out = directed(batch)
        val adj = dir match {
          case GraphOps.Outgoing => out
          case GraphOps.Incoming => out.map(_.swap)
          case GraphOps.Both => out ++ out.map(_.swap)
        }
        val seeds = seedsOf(batch)
        val want = seeds.distinct.flatMap(s => refBfs(adj, s, maxHops).toSeq)
          .groupMapReduce(_._1)(_._2._1)(math.min)
        val edges = out.toDF("from_id", "to_id")
          .withColumn("relation_type", lit("t"))
          .withColumn("confidence", lit(1.0))
        val got = GraphOps.multiHop(edges, seeds.toDF("node_id"), maxHops, dir)
          .as[(String, Int)].collect().toMap
        if (got != want) println(s"multiHop MISMATCH $dir $maxHops on $batch")
        got == want
    })
  }

  test("keyed BFS with path counts == per-source driver BFS on packed ids") {
    // the q249/q256/q258 shape: a frontier keyed by source, sigma summed
    // over first-level arrivals, over lex-packed ids
    check(Prop.forAllNoShrink(batchGen, Gen.choose(0, 4)) { (batch, maxHops) =>
      val adj = directed(batch)
      val seeds = seedsOf(batch).distinct
      val want = seeds.flatMap(s => refBfs(adj, s, maxHops).toSeq
        .map { case (v, (h, sg)) => (s, v, h, sg) }).toSet
      val e = adj.toDF("f", "t").select(
        KGraph.encodeIdLex(col("f")).as("node_id"),
        KGraph.encodeIdLex(col("t")).as("next_id"))
      val start = seeds.toDF("s").select(KGraph.encodeIdLex(col("s")).as("s"))
        .select(col("s"), col("s").as("node_id"))
      val got = GraphOps.bfsFrame(e, start, maxHops, keys = Seq("s"),
          carry = Some(GraphOps.Sigma))
        .select(KGraph.decodeIdLex(col("s")), KGraph.decodeIdLex(col("node_id")),
          col("hop"), col("sigma"))
        .as[(String, String, Int, Long)].collect().toSet
      if (got != want) println(s"keyed BFS MISMATCH $maxHops on $batch")
      got == want
    })
  }

  /** Every triangle of a simple undirected edge list exactly once, as
    * a triple ascending in `ord`: each edge (a < b) closes against the
    * common neighbours above b. */
  private def refTriangles[K](edges: Seq[(K, K)])(implicit ord: Ordering[K])
      : Seq[(K, K, K)] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      .map { case (k, vs) => k -> vs.toSet }
    for {
      (a, b) <- edges
      (small, big) = if (adj(a).size <= adj(b).size) (adj(a), adj(b))
        else (adj(b), adj(a))
      c <- small.toSeq if big(c) && ord.gt(c, b)
    } yield (a, b, c)
  }

  /** `edgeSupport` and `triangleCounts` of a canonical list == the
    * driver enumeration over the same edges: rows, keys, column names
    * and types, absent = 0. */
  private def censusMatches[K](canon: DataFrame)(implicit ord: Ordering[K])
      : Boolean = {
    val edges = canon.collect().toSeq.map(r => (r.getAs[K](0), r.getAs[K](1)))
    val tri = refTriangles(edges)
    def pair(x: K, y: K) = (ord.min(x, y), ord.max(x, y))
    val wantSup = tri.flatMap { case (a, b, c) =>
        Seq(pair(a, b), pair(b, c), pair(a, c)) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val wantTri = tri.flatMap(t => Seq(t._1, t._2, t._3))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val keyType = canon.schema("a").dataType
    val sup = GraphAnalytics.edgeSupport(canon)
    val tc = GraphAnalytics.triangleCounts(canon)
    val gotSup = sup.collect().toSeq
      .map(r => (r.getAs[K](0), r.getAs[K](1)) -> r.getLong(2))
    val gotTri = tc.collect().toSeq.map(r => r.getAs[K](0) -> r.getLong(1))
    val ok = sup.schema.map(f => (f.name, f.dataType)) ==
        Seq(("a", keyType), ("b", keyType), ("support", LongType)) &&
      tc.schema.map(f => (f.name, f.dataType)) ==
        Seq(("node", keyType), ("n_tri", LongType)) &&
      gotSup.length == wantSup.size && gotSup.toMap == wantSup &&
      gotTri.length == wantTri.size && gotTri.toMap == wantTri
    if (!ok) println(s"census MISMATCH ($keyType) on $edges")
    ok
  }

  /** Graph i's raw long ids: numeral n at `rawBase(i) + n`. Bases are
    * 2^41 apart and every numeral is below 2^40, so graphs stay
    * disjoint; they take in negative ids and ids at and past 2^62. */
  private val rawBase: Seq[Long] = Seq(-(1L << 62), -(1L << 50), -(1L << 45),
    0L, 1L << 45, 1L << 50, 1L << 61, (1L << 62) - (1L << 41), 1L << 62,
    Long.MaxValue - (1L << 41))

  test("triangle census == driver enumeration on lex, string and raw long ids") {
    check(Prop.forAllNoShrink(batchGen) { batch =>
      val strings = directed(batch).toDF("from_id", "to_id")
      val lex = strings.select(KGraph.encodeIdLex(col("from_id")).as("from_id"),
        KGraph.encodeIdLex(col("to_id")).as("to_id"))
      val raw = batch.zipWithIndex.flatMap { case (g, i) =>
          g.edges.map(e => (rawBase(i) + e._1, rawBase(i) + e._2)) }
        .toDF("from_id", "to_id")
      censusMatches[Long](GraphAnalytics.canonical(lex)) &&
        censusMatches[String](GraphAnalytics.canonical(strings)) &&
        censusMatches[Long](GraphAnalytics.canonical(raw))
    }, batches = 1)
  }

  test("triangle census through a lex-id hub of degree >= 2048") {
    // 's' ids code at 115·2^44 and up (51 bits): one hub on 2100 leaves,
    // 50 triangles closing through it and one that avoids it
    val leaves = (1 to 2100).map(i => ("s:0", s"s:$i"))
    val closing = (1 to 50).map(k => (s"s:${2 * k - 1}", s"s:${2 * k}"))
    val apart = Seq(("s:3000", "s:3001"), ("s:3001", "s:3002"),
      ("s:3000", "s:3002"))
    val canon = GraphAnalytics.canonical((leaves ++ closing ++ apart)
      .toDF("f", "t").select(KGraph.encodeIdLex(col("f")).as("from_id"),
        KGraph.encodeIdLex(col("t")).as("to_id")))
    assert(censusMatches[Long](canon))
  }

  /** Naive synchronous k-core peel, the q192 contract: each round drops
    * every node of degree < k in the surviving edges, with its edges.
    * Returns node -> layer (the dropping round; 0 for an endpoint of an
    * edge that survives) and the number of rounds that dropped a node.
    * A node whose edges all leave with its neighbours leaves the output,
    * as in the oracle. */
  private def refKCore(edges: Seq[(String, String)], k: Int)
      : (Map[String, Int], Int) = {
    var alive = edges
    var layer = Map.empty[String, Int]
    var rounds = 0
    var done = false
    while (!done) {
      val drop = (alive.map(_._1) ++ alive.map(_._2))
        .groupMapReduce(identity)(_ => 1)(_ + _).filter(_._2 < k).keySet
      done = drop.isEmpty
      if (!done) {
        rounds += 1
        layer ++= drop.map(_ -> rounds)
        alive = alive.filterNot(e => drop(e._1) || drop(e._2))
      }
    }
    (layer ++ (alive.map(_._1) ++ alive.map(_._2)).map(_ -> 0), rounds)
  }

  test("kCorePeel == driver synchronous peel on packed ids, k in {2, 3}") {
    check(Prop.forAllNoShrink(batchGen, Gen.oneOf(2, 3)) { (batch, k) =>
      // canonical input (a < b in id order, distinct, no self-loops),
      // the q192 contract
      val canon = directed(batch).filter(e => e._1 != e._2)
        .map { case (x, y) => if (x < y) (x, y) else (y, x) }.distinct
      val (want, wantRounds) = refKCore(canon, k)
      val (out, rounds) = GraphAnalytics.kCorePeel(canon.toDF("x", "y")
        .select(KGraph.encodeIdLex(col("x")).as("a"),
          KGraph.encodeIdLex(col("y")).as("b")), k)
      val got = out.select(KGraph.decodeIdLex(col("node")), col("layer"),
          col("in_core"))
        .as[(String, Int, Boolean)].collect()
      val ok = rounds == wantRounds && got.length == want.size &&
        got.forall { case (v, l, c) => want.get(v).contains(l) && c == (l == 0) }
      if (!ok) println(s"k-core MISMATCH k=$k ($rounds vs $wantRounds rounds) " +
        s"on $canon")
      ok
    })
  }

  /** Naive synchronous local-dominance matching: per round, every alive
    * edge that is the (w, a, b)-largest edge at BOTH endpoints matches;
    * edges touching a matched node leave. */
  private def refMatching(edges: Seq[(String, String, Long)], rounds: Int)
      : Set[(String, String, Long, Int)] = {
    val ord = Ordering.Tuple3[Long, String, String]
    var alive = edges
    var out = Set.empty[(String, String, Long, Int)]
    for (r <- 1 to rounds) {
      val best = alive.flatMap { case (a, b, w) =>
          Seq(a -> ((w, a, b)), b -> ((w, a, b))) }
        .groupMapReduce(_._1)(_._2)(ord.max)
      val dom = alive.filter { case (a, b, w) =>
        best(a) == ((w, a, b)) && best(b) == ((w, a, b)) }
      out ++= dom.map { case (a, b, w) => (a, b, w, r) }
      val matched = dom.flatMap(e => Seq(e._1, e._2)).toSet
      alive = alive.filterNot(e => matched(e._1) || matched(e._2))
    }
    out
  }

  test("localMaxMatching == driver round-by-round matching on packed ids") {
    check(Prop.forAllNoShrink(batchGen, Gen.choose(1, 4)) { (batch, rounds) =>
      // canonical input (a < b in id order, one weight per pair), the
      // q338 contract; ties on w break on the packed ids, which must
      // order exactly like the id strings across digit boundaries
      val canon = batch.zipWithIndex.flatMap { case (g, i) =>
        g.edges.map { case (u, v, w) =>
          val (x, y) = (id(i, u), id(i, v))
          ((if (x < y) x else y), (if (x < y) y else x), w)
        } }
        .filter(e => e._1 != e._2)
        .groupMapReduce(e => (e._1, e._2))(_._3)(math.max)
        .toSeq.map { case ((a, b), w) => (a, b, w) }
      val want = refMatching(canon, rounds)
      val edges: DataFrame = canon.toDF("x", "y", "w").select(
        KGraph.encodeIdLex(col("x")).as("a"),
        KGraph.encodeIdLex(col("y")).as("b"), col("w"))
      val got = GraphAnalytics.localMaxMatching(edges, rounds)
        .select(KGraph.decodeIdLex(col("a")), KGraph.decodeIdLex(col("b")),
          col("w"), col("round"))
        .as[(String, String, Long, Int)].collect()
      if (got.toSet != want) println(s"matching MISMATCH $rounds on $canon")
      got.length == want.size && got.toSet == want
    })
  }
}
