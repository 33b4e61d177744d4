package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.graph.{GraphAnalytics, GraphOps, KGraph}

/** Differential checks of the carried-frame graph kernels against naive
  * driver-side references, on small adversarial graphs drawn by
  * ScalaCheck from a fixed seed: self-loops, duplicate edges, isolated
  * seeds, disconnected parts, tied weights, and ids whose numerals
  * straddle 10^k digit boundaries (where string — and packed lex — order
  * departs from numeric order) up to the codec's 10^12 guard.
  *
  * Each property case is a BATCH of independent graphs, each under its
  * own id type prefix, run as one disjoint union: BFS and local-dominance
  * matching never cross components, so one Spark run checks every graph
  * of the batch and the spec stays a few seconds of Tier-1.
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

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(2).withInitialSeed(Seed(20261018L)), prop)
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
          withSigma = true)
        .select(KGraph.decodeIdLex(col("s")), KGraph.decodeIdLex(col("node_id")),
          col("hop"), col("sigma"))
        .as[(String, String, Int, Long)].collect().toSet
      if (got != want) println(s"keyed BFS MISMATCH $maxHops on $batch")
      got == want
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
