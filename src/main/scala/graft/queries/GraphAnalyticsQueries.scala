package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.SessionCache
import graft.engine.Lineage.LineageOps
import graft.graph.{GraphAnalytics, GraphOps, KGraph}

/** Whole-graph analytics (triangles / k-core / communities) over the
  * knowledge graph and its co-occurrence projections — the graph-shaped
  * corpus measurements the reference's graph store enables but computes
  * per-node on demand (memory_core/graph via neighbor scans); here they
  * are whole-graph Catalyst plans with DuckDB oracle twins (the
  * iterative ones unrolled round-by-round in SQL).
  */
object GraphAnalyticsQueries {

  /** ORDER-WEIGHTED co-purchase projection (part–part, a < b on
    * INTEGER keys, w = #shared orders), materialized once per
    * (session, sf) — the same ingestion-time graph-index artifact as
    * KGraph's canonical edge list and DedupIndex's pair frame.
    * Integer keys matter: the triangle census's wedge shuffles are
    * ~3× narrower and compare ~5× faster than on stringified part ids
    * (measured 20 s → 3 s on the sf0.1 census when q273 first
    * stringified the keys). The weight rides on the artifact (round
    * 15): the distinct and the count are the SAME exchange, the
    * column is 8 bytes/row on a 1.2M-row frame, and it lets q338's
    * matching read this frame instead of re-running the identical
    * two-scan self-join projection per call — the one co-purchase
    * consumer the shared artifact didn't yet serve. */
  private[graft] def copurchaseWeighted(s: SparkSession, dir: String)
      : DataFrame =
    SessionCache.getOrBuild(s, s"copurchase|$dir")({
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.select(col("ok"), col("pk").as("p1"))
        .join(li.select(col("ok"), col("pk").as("p2")), "ok")
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("w"))
        .select(col("p1").as("a"), col("p2").as("b"), col("w"))
        .repartition(col("a"))
        .truncateLineage()
    })

  /** Canonical (unweighted) co-purchase projection: the (a, b)
    * projection of [[copurchaseWeighted]] — same rows as the former
    * standalone distinct build, zero extra materialization. */
  private[graft] def copurchaseCanon(s: SparkSession, dir: String)
      : DataFrame =
    copurchaseWeighted(s, dir).select(col("a"), col("b"))

  /** Per-edge triangle support over the co-purchase projection,
    * materialized once per (session, sfDir) — the shared census
    * artifact (round-11 verdict item 8): the q293 k-truss peel's
    * up-front census, q299's co-purchase bridge leg, and the triangle
    * side of q191's clustering and q273's census leg all read this
    * ONE O(m^1.5) wedge enumeration instead of each re-running it
    * over the same cached projection. */
  private[graft] def copurchaseSupport(s: SparkSession, dir: String)
      : DataFrame =
    SessionCache.getOrBuild(s, s"copurchase|$dir|support")(
      GraphAnalytics.edgeSupport(copurchaseCanon(s, dir)).truncateLineage())

  // -- q191: co-purchase projection triangles + local clustering
  //          coefficient. Projects lineitem onto a part–part graph
  //          (edge = two parts share an order), then runs the
  //          ordered-wedge triangle census. Scale shape: the projection
  //          shuffles once on orderkey and its fan-out is bounded by
  //          per-order item count (TPC-H <= 7 -> <= 21 pairs/order);
  //          triangles stream through the degree-ordered wedge joins
  //          on the cached canonical edge list — no |V|^2 step
  //          anywhere.
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val canon = copurchaseCanon(s, dir)
    GraphAnalytics.clusteringFromSupport(canon, copurchaseSupport(s, dir))
      .select(col("node").as("part_id"), col("degree"), col("n_tri"),
        col("clustering"))
      .orderBy(col("part_id"))
  }

  private val q191Sql =
    """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
      |      FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e e1 JOIN e e2 ON e1.b = e2.a
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tn AS (SELECT node, count(*) AS n_tri FROM (
      |         SELECT x AS node FROM tri
      |         UNION ALL SELECT y FROM tri
      |         UNION ALL SELECT z FROM tri) t
      |       GROUP BY node),
      |deg AS (SELECT node, count(*) AS degree FROM (
      |          SELECT a AS node FROM e UNION ALL SELECT b FROM e) d
      |        GROUP BY node)
      |SELECT deg.node AS part_id, deg.degree,
      |  coalesce(tn.n_tri, 0) AS n_tri,
      |  CASE WHEN deg.degree >= 2
      |    THEN round(2.0 * CAST(coalesce(tn.n_tri, 0) AS DOUBLE)
      |           / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6)
      |    ELSE 0.0 END AS clustering
      |FROM deg LEFT JOIN tn ON deg.node = tn.node
      |ORDER BY part_id""".stripMargin

  // -- q192: k-core onion layers (k = 3) over the undirected knowledge
  //          graph. Synchronous peel: round r removes every node whose
  //          surviving degree < 3; layer = the peel round, 0 = 3-core
  //          member. The oracle unrolls the SAME synchronous rounds as
  //          chained CTEs (KCoreRounds of them — rounds past the fixed
  //          point peel nothing, so a cap above convergence is exact).
  //          Scale shape: each round is one degree aggregate + two
  //          anti-joins on the shrinking edge list, lineage truncated
  //          per round.
  private[graft] val KCoreK = 3
  private[graft] val KCoreRounds = 16

  private def q192(s: SparkSession, dir: String): DataFrame = {
    // PACKED lex ids (round 15): every peel round shuffles the
    // surviving edge list keyed by node id (degree aggregate + two
    // anti-joins), and the id IS the wide part of the (a, b) row — the
    // q193/q268 lever (guide §2.3). The codec is order-preserving, so
    // canonical a<b survives encoding and the final orderBy on packed
    // ids sorts exactly like the string orderBy; the full output
    // decodes in one post-sort projection. The packed canonical list
    // is the shared session artifact (canonicalLexMaterialized) — no
    // per-call encode pass at all.
    val enc = KGraph.canonicalLexMaterialized(s, dir)
    val (out, _) = GraphAnalytics.kCorePeel(enc, KCoreK, KCoreRounds)
    out.select(col("node").as("node_id"), col("layer"), col("in_core"))
      .orderBy(col("node_id"))
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        col("layer"), col("in_core"))
  }

  private val q192Sql = {
    // every round CTE is MATERIALIZED: each references the previous one
    // several times, and DuckDB's default CTE inlining would expand the
    // 16-round chain exponentially (3^16 re-scans of the edge list)
    val rounds = (1 to KCoreRounds).map { i =>
      val prev = s"e${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev) t
         |  GROUP BY node),
         |p$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg < $KCoreK),
         |e$i AS MATERIALIZED (SELECT a, b FROM $prev
         |  WHERE a NOT IN (SELECT node FROM p$i)
         |    AND b NOT IN (SELECT node FROM p$i))""".stripMargin
    }.mkString(",\n")
    val layers = (1 to KCoreRounds)
      .map(i => s"SELECT node, $i AS layer FROM p$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${KGraph.edgesSql},
       |e0 AS MATERIALIZED (SELECT DISTINCT least(from_id, to_id) AS a,
       |         greatest(from_id, to_id) AS b
       |       FROM edges WHERE from_id <> to_id),
       |$rounds,
       |peeled AS (
       |  $layers),
       |core AS (
       |  SELECT DISTINCT node, 0 AS layer FROM (
       |    SELECT a AS node FROM e$KCoreRounds
       |    UNION ALL SELECT b FROM e$KCoreRounds) t)
       |SELECT node AS node_id, CAST(layer AS INT) AS layer,
       |  layer = 0 AS in_core
       |FROM (SELECT * FROM core UNION ALL SELECT * FROM peeled) u
       |ORDER BY node_id""".stripMargin
  }

  // -- q193: label-propagation communities, 4 synchronous rounds,
  //          deterministic (most-frequent neighbor label, tie ->
  //          smallest). The oracle unrolls the identical 4 rounds.
  //          Scale shape per round: adjacency × labels hash join +
  //          (node, label) count + per-node top-1 window — everything
  //          keyed on the node id.
  private[graft] val LpaRounds = 4

  private def q193(s: SparkSession, dir: String): DataFrame = {
    // round-14 (guide §2.3): each LPA round shuffles + hash-aggregates
    // a ~2.4M-row (node, label) frame keyed on id STRINGS — the three
    // largest HashAggregate steps in BENCH_EXPLAIN (19–30 s task time
    // each). LPA's result depends on id ORDER (tie → smallest label,
    // round-1 min(neighbor)), so a numeric-value packing is wrong
    // here; encodeIdLex preserves lexicographic order exactly, making
    // every min() identical while the rounds run on 8-byte keys.
    // Canonical a < b survives the order-preserving map unchanged.
    // round 15: the packed list is the shared session artifact — the
    // per-call 2·|E| codec pass is gone.
    val canon = KGraph.canonicalLexMaterialized(s, dir)
    GraphAnalytics.labelPropagation(canon, LpaRounds)
      .select(KGraph.decodeIdLex(col("node")).as("node_id"),
        KGraph.decodeIdLex(col("label")).as("label"))
      .orderBy(col("node_id"))
  }

  private val q193Sql = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS (
         |  SELECT node_id, label FROM (
         |    SELECT a.u AS node_id, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY a.u
         |        ORDER BY count(*) DESC, l.label) AS rn
         |    FROM adj a JOIN l${i - 1} l ON a.v = l.node_id
         |    GROUP BY a.u, l.label) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${KGraph.edgesSql},
       |e0 AS (SELECT DISTINCT least(from_id, to_id) AS a,
       |         greatest(from_id, to_id) AS b
       |       FROM edges WHERE from_id <> to_id),
       |adj AS (SELECT a AS u, b AS v FROM e0
       |        UNION ALL SELECT b, a FROM e0),
       |l0 AS (SELECT DISTINCT u AS node_id, u AS label FROM adj),
       |$rounds
       |SELECT node_id, label FROM l$LpaRounds ORDER BY node_id""".stripMargin
  }

  // -- q206: co-purchase affinity top-k — item-to-item collaborative
  //          similarity over the q191 projection, WEIGHTED: cosine
  //          c_ij/√(c_i·c_j) and lift c_ij·N/(c_i·c_j) from co-occur
  //          counts, top-5 neighbors per part by (cosine desc, nbr).
  //          The "users who bought X" ranking re-expressed as set
  //          algebra. Scale shape: directed pair fan-out bounded per
  //          order, keyed marginals, a 1-row order-count broadcast,
  //          and a per-item top-5 window over the pair frame.
  private val AffinityK = 5

  private def q206(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = li.select(col("ok"), col("pk").as("i"))
      .join(li.select(col("ok"), col("pk").as("j")), "ok")
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("cij"))
    val marg = li.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val n = li.select(col("ok")).distinct().agg(count(lit(1)).as("n_orders"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i")).orderBy(col("cosine").desc, col("j"))
    pairs
      .join(marg.select(col("pk").as("i"), col("c").as("ci")), "i")
      .join(marg.select(col("pk").as("j"), col("c").as("cj")), "j")
      .crossJoin(broadcast(n))
      .withColumn("cosine",
        col("cij").cast("double") / sqrt((col("ci") * col("cj")).cast("double")))
      .withColumn("lift",
        col("cij").cast("double") * col("n_orders") / (col("ci") * col("cj")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AffinityK)
      .select(col("i").as("part_id"), col("rank"), col("j").as("nbr_id"),
        col("cij"), round(col("cosine"), 6).as("cosine"),
        round(col("lift"), 6).as("lift"))
      .orderBy(col("part_id"), col("rank"))
  }

  private val q206Sql =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |pairs AS (
       |  SELECT x.pk AS i, y.pk AS j, count(*) AS cij
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk <> y.pk
       |  GROUP BY 1, 2),
       |marg AS (SELECT pk, count(*) AS c FROM lp GROUP BY pk),
       |n AS (SELECT count(DISTINCT ok) AS n_orders FROM lp),
       |scored AS (
       |  SELECT p.i, p.j, p.cij,
       |    CAST(p.cij AS DOUBLE) / sqrt(CAST(mi.c * mj.c AS DOUBLE))
       |      AS cosine,
       |    CAST(p.cij AS DOUBLE) * n_orders / (mi.c * mj.c) AS lift
       |  FROM pairs p
       |  JOIN marg mi ON mi.pk = p.i
       |  JOIN marg mj ON mj.pk = p.j
       |  CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY i
       |    ORDER BY cosine DESC, j) AS rank
       |  FROM scored)
       |SELECT i AS part_id, rank, j AS nbr_id, cij,
       |  round(cosine, 6) AS cosine, round(lift, 6) AS lift
       |FROM ranked WHERE rank <= $AffinityK
       |ORDER BY part_id, rank""".stripMargin

  // -- q231: graph mixing report — degree assortativity (Newman 2002:
  //          do hubs attach to hubs?) over the undirected canonical
  //          knowledge-graph edge list, plus reciprocity over the
  //          directed typed edges. Assortativity = Pearson r over the
  //          2·E symmetric edge stubs; with symmetric stubs Σx = Σy, so
  //          r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — EVERY sum is an
  //          exact integer fold over degrees, and only the final
  //          three-term expression runs in doubles (identical operands
  //          both engines). A hub-dominated KG (everything attaches to
  //          nations) should read strongly negative — the structural
  //          fingerprint traversal planners care about. Scale shape:
  //          one degree aggregate + two hash joins back onto edges;
  //          reciprocity is one self-join on the reversed key.
  //          (Contract: Σ deg² over stubs must fit a long — ~4e17 at
  //          sf1.0; sample stubs past ~10⁹ edges.)
  private def q231(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    // round 15 (guide §2.3): every column this query ever aggregates is
    // a count or a degree — node ids are identity-only join/distinct
    // keys, and both packed edge artifacts already exist at ingest, so
    // the degree aggregate + two joins read the packed canonical list
    // and the reciprocity distinct + reversed-key semi join read the
    // packed directed list (lexEdgesMaterialized) — 8-byte keys
    // everywhere, zero per-call encode, nothing ever decoded (the
    // codec is injective, so every count/degree is identical).
    // Round 14 had already moved the reciprocity leg off the two
    // per-call lineitem DISTINCT scans onto the cached edge artifact.
    val canon = KGraph.canonicalLexMaterialized(s, dir)
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val stubs = canon
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(col("da"), col("db"))
    val sums = stubs.agg(
      (count(lit(1)) * 2L).as("m"),
      (sum(col("da")) + sum(col("db"))).as("sx"),
      (sum(col("da") * col("da")) + sum(col("db") * col("db"))).as("sxx"),
      (sum(col("da") * col("db")) * 2L).as("sxy"))
    val assort = sums.select(
      expr("m div 2").as("n_edges"),
      round((col("m").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) /
        (col("m").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")), 6)
        .as("assortativity"))
    val dir0 = KGraph.lexEdgesMaterialized(s, dir)
      .select(col("from_id"), col("to_id")).distinct()
    val mutual = dir0.join(
        dir0.select(col("to_id").as("from_id"), col("from_id").as("to_id")),
        Seq("from_id", "to_id"), "left_semi")
      .agg(count(lit(1)).as("n_mutual"))
    val nDir = dir0.agg(count(lit(1)).as("n_directed"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    assort.crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(nDir)).crossJoin(broadcast(mutual))
      .select(col("n_nodes"), col("n_edges"), col("assortativity"),
        col("n_directed"), col("n_mutual"),
        ExactRound.ratio6(col("n_mutual"), col("n_directed"))
          .as("reciprocity"))
  }

  private val q231Sql =
    s"""WITH ${graft.graph.KGraph.edgesSql},
       |canon AS (
       |  SELECT DISTINCT least(from_id, to_id) AS a,
       |    greatest(from_id, to_id) AS b
       |  FROM edges WHERE from_id <> to_id),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon) t
       |  GROUP BY node),
       |st AS (
       |  SELECT da.d AS da, db.d AS db
       |  FROM canon c JOIN deg da ON da.node = c.a
       |  JOIN deg db ON db.node = c.b),
       |sums AS (
       |  SELECT CAST(count(*) * 2 AS BIGINT) AS m,
       |    CAST(sum(da) + sum(db) AS BIGINT) AS sx,
       |    CAST(sum(da * da) + sum(db * db) AS BIGINT) AS sxx,
       |    CAST(sum(da * db) * 2 AS BIGINT) AS sxy
       |  FROM st),
       |dir0 AS (SELECT DISTINCT from_id, to_id FROM edges),
       |mut AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_mutual FROM dir0 d
       |  WHERE EXISTS (SELECT 1 FROM dir0 r
       |    WHERE r.from_id = d.to_id AND r.to_id = d.from_id)),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_directed FROM dir0),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT nn.n_nodes, m // 2 AS n_edges,
       |  round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) -
       |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
       |    (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
       |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       |    AS assortativity,
       |  nd.n_directed, mut.n_mutual,
       |  ${graft.functions.ExactRound.sql.ratio6("mut.n_mutual", "nd.n_directed")}
       |    AS reciprocity
       |FROM sums, nn, nd, mut""".stripMargin

  // -- q239: partition modularity — Newman–Girvan modularity Q of the
  //          BRAND partition over the co-purchase part graph (q191's
  //          projection): Q = Σ_c (e_c/m − (d_c/2m)²), reported as one
  //          row per community so the audit shows WHICH brands form
  //          real purchase communities (contrib > 0 ⇔ denser inside
  //          than the configuration-model expectation). Complements
  //          q193 (LPA FINDS communities; this SCORES a given
  //          partition) and q231 (assortativity is modularity's scalar
  //          cousin over a numeric attribute). Exactness: e_c, d_c, m
  //          are exact longs; each row's contrib is one double
  //          expression over those exact operands — no cross-row
  //          double accumulation anywhere. Scale shape: the projection
  //          shuffles once on orderkey (fan-out bounded by per-order
  //          item count), the rest is one brand join + two
  //          #brands-bounded aggregates; the 1-row m frame is the only
  //          broadcast cross.
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), "ok")
      .filter(col("p1") < col("p2"))
      .select(col("p1").as("a"), col("p2").as("b"))
      .distinct()
    val pb = Tables.load(s, dir, "part")
      .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
    val m = e.agg(count(lit(1)).as("m"))
    val ends = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
    val nb = ends.join(pb, col("node") === col("pk"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("d_sum"), countDistinct(col("node")).as("n_nodes"))
    val inner = e
      .join(pb.select(col("pk"), col("brand").as("ba")), col("a") === col("pk"))
      .drop("pk")
      .join(pb.select(col("pk"), col("brand").as("bb")), col("b") === col("pk"))
      .filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_in"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    nb.join(inner, Seq("brand"), "left").crossJoin(broadcast(m))
      .select(col("brand"), col("n_nodes"), col("d_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        round(dd(coalesce(col("e_in"), lit(0L))) / col("m") -
          (dd(col("d_sum")) / (lit(2) * col("m"))) *
          (dd(col("d_sum")) / (lit(2) * col("m"))), 6).as("q_contrib"))
      .orderBy(col("brand"))
  }

  private val q239Sql =
    """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
      |      FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk),
      |pb AS (SELECT p_partkey AS pk, p_brand AS brand FROM part),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
      |ends AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
      |nb AS (SELECT brand, CAST(count(*) AS BIGINT) AS d_sum,
      |         CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
      |       FROM ends JOIN pb ON node = pb.pk GROUP BY 1),
      |inn AS (SELECT pa.brand, CAST(count(*) AS BIGINT) AS e_in
      |        FROM e JOIN pb pa ON e.a = pa.pk JOIN pb pc ON e.b = pc.pk
      |        WHERE pa.brand = pc.brand GROUP BY 1)
      |SELECT nb.brand, n_nodes, d_sum,
      |  coalesce(e_in, 0) AS e_in,
      |  round(CAST(coalesce(e_in, 0) AS DOUBLE) / m -
      |    (CAST(d_sum AS DOUBLE) / (2 * m)) *
      |    (CAST(d_sum AS DOUBLE) / (2 * m)), 6) AS q_contrib
      |FROM nb LEFT JOIN inn USING (brand) CROSS JOIN m
      |ORDER BY brand""".stripMargin

  // -- q249: harmonic centrality — the closeness-family centrality that
  //          handles disconnected graphs (Boldi & Vigna 2014): H(v) =
  //          Σ_s 1/d(s→v) over a deterministic 32-seed pivot set
  //          (Eppstein–Wang style sampled centrality — exact per seed,
  //          sampled over sources — the form that scales where
  //          all-pairs BFS cannot), hops ≤ 4 on the directed KG.
  //          Exactness: d ∈ {1..4} all divide 12, so the score is the
  //          exact INTEGER Σ 12/d and the normalized value is one
  //          ratio6 — no 1/3 float folds. Scale shape: 4 rounds of
  //          broadcast-hash-join of the frontier against the prebuilt
  //          node_id-partitioned oriented edge index (the edge side
  //          never shuffles); frontier rows are (seed × reached-node)-
  //          bounded; the rollup is one aggregate. Scale contract: the
  //          broadcast hint assumes the sampled frontier fits the
  //          broadcast cap — HcSeeds is the dial (halve it, or drop
  //          the hint to fall back to a shuffled hash join, for graphs
  //          whose 4-hop reach × seeds outgrows executor memory); the
  //          Eppstein–Wang estimate degrades gracefully with seeds.
  private val HcSeeds = 32
  private val HcHops = 4

  /** Sampled BFS over the outgoing KG index: min-hop distances from
    * `seeds` (column `s`), hops ≤ `maxHops` — the carried-frame kernel
    * ([[GraphOps.bfsFrame]]) keyed by seed, each hop a broadcast hash
    * join of the (seed × reached-node)-bounded frontier against the
    * prebuilt node_id-partitioned index (which never shuffles). Shared
    * by q249 (harmonic centrality) and q258 (hop plot / effective
    * diameter). */
  private def bfsVisited(s: SparkSession, dir: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    // PACKED lex ids (round 15): e is the rank edge index — the same
    // duplicate-free outgoing edge set, already packed, partitioned and
    // warmed at ingest — so every per-hop probe and merge runs on longs
    // at zero per-call encode cost (guide §2.3). String seeds encode at
    // entry (≤ a few dozen rows); the returned (s, node_id, hop) frame
    // carries PACKED ids — q249 decodes post-sort, q258 reads only `hop`.
    val e = KGraph.rankEdgesMaterialized(s, dir)
      .select(col("from_id").as("node_id"), col("to_id").as("next_id"))
    val start = seeds.select(KGraph.encodeIdLex(col("s")).as("s"))
      .select(col("s"), col("s").as("node_id"))
    GraphOps.bfsFrame(e, start, maxHops, keys = Seq("s"))
  }

  private def q249(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val seeds = s.range(1, HcSeeds + 1)
      .select(concat(lit("c:"), col("id")).as("s"))
    bfsVisited(s, dir, seeds, HcHops).filter(col("hop") > 0)
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_seeds"),
        sum(expr("12 div hop")).cast("long").as("h12"))
      .select(col("node_id"), col("n_seeds"), col("h12"),
        ExactRound.ratio6(col("h12"), lit(12L * HcSeeds)).as("harmonic"))
      .orderBy(col("node_id"))
      // packed ids from bfsVisited: one post-sort decode projection
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        col("n_seeds"), col("h12"), col("harmonic"))
  }

  private val q249Sql =
    s"""WITH RECURSIVE ${graft.graph.KGraph.edgesSql},
       |e AS (SELECT DISTINCT from_id, to_id FROM edges),
       |seeds AS (SELECT 'c:' || x AS s FROM range(1, ${HcSeeds + 1}) t(x)),
       |walk(s, node_id, hop) AS (
       |  SELECT s, s, 0 FROM seeds
       |  UNION ALL
       |  SELECT w.s, e.to_id, w.hop + 1 FROM walk w
       |  JOIN e ON e.from_id = w.node_id
       |  WHERE w.hop < $HcHops),
       |d AS (
       |  SELECT s, node_id, min(hop) AS d FROM walk
       |  GROUP BY 1, 2
       |  HAVING min(hop) > 0)
       |SELECT node_id, CAST(count(*) AS BIGINT) AS n_seeds,
       |  CAST(sum(12 // d) AS BIGINT) AS h12,
       |  ${graft.functions.ExactRound.sql.ratio6("sum(12 // d)",
          s"${12L * HcSeeds}")} AS harmonic
       |FROM d GROUP BY node_id ORDER BY node_id""".stripMargin

  // -- q256: sampled betweenness centrality (Brandes 2001, source-
  //          sampled per Brandes–Pich 2007) over the directed KG from
  //          the $BcSeeds smallest order nodes, hops ≤ $BcHops. Forward
  //          pass: BFS levels with exact integer path counts σ (each
  //          level = one broadcast-hash-join of the (seed × node)-
  //          bounded frontier against the node_id-partitioned oriented
  //          index + a keyed integer sum — σ sums are exact longs).
  //          Backward pass (the dependency accumulation δ(v) =
  //          Σ_w σ(v)/σ(w)·(1+δ(w))): fractions are quantized PER EDGE
  //          TERM to micro-units with round-half-up integral division,
  //          then integer-summed — shuffle-order-proof, and the oracle
  //          applies the identical per-level quantization in unrolled
  //          level CTEs (generated by the same Scala loop). Scale
  //          contract: frontier broadcasts assume the sampled reach
  //          fits the broadcast cap — BcSeeds is the dial, estimates
  //          degrade gracefully with fewer sources (Brandes–Pich).
  //          One frame carries (src, node, σ, hop, δ) through both
  //          passes, checkpointed once per level. Overflow bounds: σ ≤
  //          deg^4, δ_micro ≤ 1e6·paths; terms stay < 2^63 for
  //          deg ≤ ~300 at these hop caps (documented, data-checked).
  private val BcSeeds = 16
  private val BcHops = 4

  private def q256(s: SparkSession, dir: String): DataFrame = {
    import graft.engine.Lineage._
    // no distinct: the KG's six union arms are each key-unique and
    // pairwise type-disjoint (o->c, c->n, s->n, n->r, o->p, p->s), so
    // the oriented index is already duplicate-free — a distinct here
    // would re-shuffle the full edge set for nothing (and parallel
    // edges would corrupt sigma counts, so this invariant is the
    // correctness contract, pinned in GraphAnalyticsSpec)
    // PACKED lex ids (round 15): the outgoing oriented edge set IS the
    // rank edge set (same duplicate-free KG arms), and the rank index
    // already carries packed longs and is warmed at ingest — so every
    // one of the ~8 scans of e (4 forward BHJs, the eSub restriction,
    // 3 backward joins) hashes 8-byte words instead of ~12-byte
    // strings, at zero per-call encode cost (guide §2.3). The 16-row
    // seed frame encodes at build; the ≤|reach| output rows decode in
    // one post-sort projection (order-isomorphic codec, so the final
    // orderBy on packed ids sorts exactly like the string orderBy).
    val e = KGraph.rankEdgesMaterialized(s, dir)
      .select(col("from_id").as("node_id"), col("to_id").as("next_id"))
    val seeds = Tables.load(s, dir, "orders")
      .orderBy(col("o_orderkey")).limit(BcSeeds)
      .select(KGraph.encodeIdLex(
        concat(lit("o:"), col("o_orderkey"))).as("src"))
    // forward pass: the carried-frame BFS keyed by source, with exact
    // integer σ summed over each node's first-level arrivals
    val fwd = GraphOps.bfsFrame(e,
      seeds.select(col("src"), col("src").as("node_id")), BcHops,
      keys = Seq("src"), carry = Some(GraphOps.Sigma))
    // the backward pass only walks edges out of reached nodes: restrict
    // the index ONCE (one scan) instead of re-scanning it per level; a
    // semi-join, so the reached set needs no distinct
    val eSub = e.join(broadcast(fwd.select(col("node_id"))), Seq("node_id"),
      "left_semi").truncateLineage()
    // backward pass: δ rides on the forward frame, 0 until its level is
    // accumulated. Level h's terms join that level's rows (a broadcast)
    // through the index to w's (σ, δ) at level h+1 (a broadcast); the
    // terms then merge into the frame by ONE keyed aggregate over
    // frame ∪ terms — no left join, which would shuffle the whole frame
    // — and one checkpoint ends the level. Level 0 (the sources) never
    // accumulates into the score, so the walk stops at level 1.
    var frame = fwd.select(col("src"), col("node_id"), col("sigma"),
      col("hop"), lit(0L).as("delta"))
    for (h <- BcHops - 1 to 1 by -1) {
      val w = frame.filter(col("hop") === h + 1).select(col("src"),
        col("node_id").as("next_id"), col("sigma").as("sigma_w"),
        col("delta").as("delta_w"))
      val terms = broadcast(frame.filter(col("hop") === h)
          .select(col("src"), col("node_id"), col("sigma")))
        .join(eSub, Seq("node_id"))
        .join(broadcast(w), Seq("src", "next_id"))
        .select(col("src"), col("node_id"), expr(
          "(2 * sigma * (1000000 + delta_w) + sigma_w) div (2 * sigma_w)")
          .as("term"))
      frame = frame.unionByName(terms, allowMissingColumns = true)
        .groupBy(col("src"), col("node_id"))
        .agg(max(col("sigma")).as("sigma"), max(col("hop")).as("hop"),
          (max(col("delta")) + coalesce(sum(col("term")), lit(0L)))
            .as("delta"))
        .truncateLineage()
    }
    frame.filter(col("hop") > 0)
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_sources"), sum(col("delta")).as("bc_micro"))
      .filter(col("bc_micro") > 0L)
      .select(col("node_id"), col("n_sources"),
        (col("bc_micro") / lit(1e6)).as("betweenness"))
      .orderBy(col("node_id"))
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        col("n_sources"), col("betweenness"))
  }

  private lazy val q256Sql = {
    val fwd = (1 to BcHops).map { h =>
      val excl = (0 until h).map(j =>
        s"NOT EXISTS (SELECT 1 FROM lvl$j x WHERE x.src = r.src AND x.node = r.node)")
        .mkString("\n    AND ")
      s"""r$h AS (
         |  SELECT l.src, e.to_id AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
         |  FROM lvl${h - 1} l JOIN e ON e.from_id = l.node GROUP BY 1, 2),
         |lvl$h AS (
         |  SELECT r.src, r.node, r.sigma FROM r$h r
         |  WHERE $excl)""".stripMargin
    }.mkString(",\n")
    val bwd = (BcHops - 1 to 0 by -1).map { h =>
      s"""t$h AS (
         |  SELECT v.src, v.node,
         |    (2 * v.sigma * (1000000 + w.delta) + w.sigma) // (2 * w.sigma)
         |      AS term
         |  FROM lvl$h v JOIN e ON e.from_id = v.node
         |  JOIN d${h + 1} w ON w.src = v.src AND w.node = e.to_id),
         |d$h AS (
         |  SELECT l.src, l.node, l.sigma,
         |    CAST(coalesce(t.ds, 0) AS BIGINT) AS delta
         |  FROM lvl$h l LEFT JOIN (
         |    SELECT src, node, CAST(sum(term) AS BIGINT) AS ds
         |    FROM t$h GROUP BY 1, 2) t
         |    ON t.src = l.src AND t.node = l.node)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to BcHops)
      .map(h => s"SELECT src, node, delta FROM d$h")
      .mkString("\n  UNION ALL ")
    s"""WITH ${KGraph.edgesSql},
       |e AS (SELECT from_id, to_id FROM edges),
       |seeds AS (SELECT 'o:'||o_orderkey AS src FROM orders
       |          ORDER BY o_orderkey LIMIT $BcSeeds),
       |lvl0 AS (SELECT src, src AS node, 1::BIGINT AS sigma FROM seeds),
       |$fwd,
       |d$BcHops AS (SELECT src, node, sigma, 0::BIGINT AS delta
       |             FROM lvl$BcHops),
       |$bwd,
       |alln AS (
       |  $unions)
       |SELECT node AS node_id, CAST(count(*) AS BIGINT) AS n_sources,
       |  CAST(sum(delta) AS BIGINT) / 1e6 AS betweenness
       |FROM alln GROUP BY node HAVING sum(delta) > 0
       |ORDER BY node_id""".stripMargin
  }

  // -- q258: hop plot + effective diameter (the Leskovec–Faloutsos
  //          graph-over-time measurement) from sampled sources: the
  //          per-hop reach histogram of the q256 seed set (16 smallest
  //          orders, outgoing, ≤ 4 hops) with cumulative shares, the
  //          integer 90%-effective diameter (smallest h with
  //          10·cum ≥ 9·total) and its standard linear interpolation —
  //          an exact rational of counts, ratio6-rounded. Scale shape:
  //          the shared broadcast-frontier BFS; everything after is a
  //          4-row histogram.
  private def q258(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    import org.apache.spark.sql.expressions.Window
    val seeds = Tables.load(s, dir, "orders")
      .orderBy(col("o_orderkey")).limit(BcSeeds)
      .select(concat(lit("o:"), col("o_orderkey")).as("s"))
    val hist = bfsVisited(s, dir, seeds, BcHops).filter(col("hop") > 0)
      .groupBy(col("hop")).agg(count(lit(1)).as("n_pairs"))
    // ≤ 4 rows from here on: the unpartitioned windows are metadata-scale
    val wCum = Window.orderBy(col("hop"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum_pairs", sum(col("n_pairs")).over(wCum))
      .withColumn("total", sum(col("n_pairs")).over(wAll))
    val eff = cum.filter(col("cum_pairs") * 10 >= col("total") * 9)
      .groupBy().agg(min(col("hop")).as("eff_diameter"))
    cum.join(broadcast(eff))
      .withColumn("prev_cum", col("cum_pairs") - col("n_pairs"))
      .select(col("hop"), col("n_pairs"), col("cum_pairs"),
        ExactRound.ratio6(col("cum_pairs"), col("total")).as("cum_share"),
        col("eff_diameter"),
        when(col("hop") === col("eff_diameter"),
          ExactRound.ratio6(
            (col("eff_diameter") - 1) * lit(10L) * col("n_pairs") +
              col("total") * 9 - col("prev_cum") * 10,
            col("n_pairs") * 10))
          .as("eff_interp"))
      .orderBy(col("hop"))
  }

  private lazy val q258Sql =
    s"""WITH RECURSIVE ${KGraph.edgesSql},
       |e AS (SELECT from_id, to_id FROM edges),
       |seeds AS (SELECT 'o:'||o_orderkey AS s FROM orders
       |          ORDER BY o_orderkey LIMIT $BcSeeds),
       |walk(s, node_id, hop) AS (
       |  SELECT s, s, 0 FROM seeds
       |  UNION ALL
       |  SELECT w.s, e.to_id, w.hop + 1 FROM walk w
       |  JOIN e ON e.from_id = w.node_id
       |  WHERE w.hop < $BcHops),
       |d AS (SELECT s, node_id, min(hop) AS hop FROM walk
       |      GROUP BY 1, 2 HAVING min(hop) > 0),
       |hist AS (SELECT hop, CAST(count(*) AS BIGINT) AS n_pairs
       |         FROM d GROUP BY hop),
       |cum AS (
       |  SELECT hop, n_pairs,
       |    CAST(sum(n_pairs) OVER (ORDER BY hop
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_pairs,
       |    CAST(sum(n_pairs) OVER () AS BIGINT) AS total
       |  FROM hist),
       |eff AS (SELECT min(hop) AS eff_diameter FROM cum
       |        WHERE cum_pairs * 10 >= total * 9)
       |SELECT hop, n_pairs, cum_pairs,
       |  ${graft.functions.ExactRound.sql.ratio6("cum_pairs", "total")}
       |    AS cum_share,
       |  eff_diameter,
       |  CASE WHEN hop = eff_diameter THEN
       |    ${graft.functions.ExactRound.sql.ratio6(
      "(eff_diameter - 1) * 10 * n_pairs + total * 9 - (cum_pairs - n_pairs) * 10",
      "n_pairs * 10")}
       |  END AS eff_interp
       |FROM cum, eff
       |ORDER BY hop""".stripMargin

  // -- q268: Adamic–Adar link prediction (Liben-Nowell & Kleinberg
  //          2003): for node pairs NOT yet connected, score Σ_y
  //          1/ln(deg(y)) over shared neighbors y — the classic
  //          common-neighbor predictor with hub discounting; top-50
  //          predicted edges over the knowledge graph. Scale shape:
  //          candidates come from a WEDGE equi-join on the shared
  //          neighbor (never an all-pairs product), and wedge centers
  //          with degree > 64 are excluded up front — the standard
  //          super-hub cut (their AA term is ~0 anyway), which bounds
  //          wedge fan-out to 64·|E| rows; the existing-edge removal
  //          is one anti-join on the canonical pair. Determinism:
  //          1/ln(deg) quantizes to a micro-unit integer via the
  //          micro-quantized-ln pattern (q257), so pair scores are
  //          exact integer sums; the final ORDER BY runs on the
  //          integer score with a full tiebreak.
  private val AaMaxHubDeg = 64
  private val AaTop = 50

  /** SHUFFLE_HASH on an edge-list join side pays only while the
    * per-partition hash build stays memory-friendly; past that the
    * build's allocation churn costs more than the sort it avoids, and
    * unlike sort-merge it cannot spill (the ADVICE-r13 memory bound).
    * Measured crossover on q268's anti join (48g, min-of-3 solo):
    * sf1.0 (22M edges, ~690k rows/task) hint 32.9 s vs sort-merge
    * 37.8 s; sf2.0 (44M edges, ~1.4M rows/task) hint 81.6 s vs
    * sort-merge 70.9 s — so the hint gates at ≤ 1M build rows per
    * shuffle partition. `edgeCount` comes from a cheap count on an
    * already-checkpointed frame. On a real cluster shuffle width grows
    * with the corpus, keeping per-task slices under the gate — the
    * fixed-width local harness is exactly where the gate matters. */
  private def shuffleHashIfCompact(s: SparkSession,
      side: DataFrame, edgeCount: Long): DataFrame = {
    val parts = math.max(s.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    if (edgeCount / parts <= 1000000L) side.hint("SHUFFLE_HASH") else side
  }

  private def q268(s: SparkSession, dir: String): DataFrame = {
    // round-14 (guide §2.3 "narrower types"): the wedge join + pair
    // aggregate below hash/compare ~22M (na, nb) keys at sf0.1 — on
    // the id STRINGS that was 784%+528% of executed time in
    // BENCH_EXPLAIN's two HashAggregate steps. Run the whole pair
    // pipeline on packed-long ids. The codec is the ORDER-PRESERVING
    // one (encodeIdLex), not the census's value codec: with string
    // order preserved, canonical a < b survives the map, the anti
    // join's pair identities match, AND the final
    // (aa_micro desc, na, nb) top-k is the SAME total order on longs —
    // so only the 50 result rows are ever decoded (a first cut with
    // the value codec decoded all ~18M anti-join survivors to re-sort
    // in string order and LOST 1.3 s to the 36M string constructions).
    // round 15: the packed canonical list is a shared session artifact
    // now (KGraph.canonicalLexMaterialized) — the per-call encode pass
    // + lazy checkpoint this query used to pay are gone.
    val canon = KGraph.canonicalLexMaterialized(s, dir)
    val deg = GraphAnalytics.degrees(canon)
    val adj = canon.select(col("a").as("y"), col("b").as("x"))
      .unionByName(canon.select(col("b").as("y"), col("a").as("x")))
    // deg >= 2: a degree-1 center forms no wedge (and ln(1) = 0 would
    // divide by zero); term = round-half-up-free integral 1e12 div lnq
    // (both operands positive, so Spark div == DuckDB //)
    val centers = deg
      .filter(col("degree") >= 2 && col("degree") <= AaMaxHubDeg)
      .select(col("node").as("y"),
        round(log(col("degree").cast("double")) * lit(1e6), 0)
          .cast("long").as("lnq"))
      .withColumn("term", expr("1000000000000 div lnq"))
    val wadj = adj.join(centers, Seq("y"))
    // The wedge multiset is ~22M rows at sf0.1 and its (na, nb) groups
    // are mostly singletons (18M groups out — reduction ratio ~1.2), so
    // the default plan's map-side combine builds huge per-task hash
    // maps for almost no reduction: 22M rows through 32 spill-prone
    // maps was the bench's load-sensitivity hot spot (round-11 verdict
    // item 3 — 2.1x spread between quiet and loaded hosts). Shuffling
    // the RAW wedge rows into many small partitions first keeps every
    // aggregate map tiny (~90k rows/task) and the exchange already
    // satisfies the groupBy's distribution, so no second shuffle.
    val aggParts = 8 * s.sparkContext.defaultParallelism
    val pairs = wadj.select(col("y"), col("x").as("na"), col("term"))
      .join(wadj.select(col("y"), col("x").as("nb")), Seq("y"))
      .filter(col("na") < col("nb"))
      .repartition(aggParts, col("na"), col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("term")).as("aa_micro"))
    // SHUFFLE_HASH on the edge side: the default sort-merge anti join
    // sorts the 18M-row aggregate output just to drop existing edges
    // (the Sort was 155% of q268's executed time in BENCH_EXPLAIN);
    // hashing the ~m-row edge list per partition needs no sort on
    // either side, and the pairs side's (na, nb) distribution from the
    // pre-aggregation repartition is reused as-is. Scale-safe (both
    // sides stay shuffled on the join keys — no broadcast of a frame
    // that grows with the corpus). MEMORY BOUND (ADVICE r13): the hash
    // build holds edges/partitions rows per task — unlike sort-merge
    // it cannot spill, so the hint presumes the per-partition edge
    // slice fits executor memory (m/32 ≈ 140k rows at sf2 — far under
    // any executor budget; a 1000-executor corpus partitions its edge
    // list proportionally wider, keeping the per-task slice bounded).
    // sf2 verified under the 48g min-of-2 protocol — see BENCH_NOTES
    // round 14.
    val existing = shuffleHashIfCompact(s,
      canon.select(col("a").as("na"), col("b").as("nb")), canon.count())
    pairs
      .join(existing, Seq("na", "nb"), "left_anti")
      // the top-k runs entirely on packed longs (lex codec: long order
      // == string order), so only AaTop rows are decoded
      .orderBy(col("aa_micro").desc, col("na"), col("nb"))
      .limit(AaTop)
      .select(KGraph.decodeIdLex(col("na")).as("node_a"),
        KGraph.decodeIdLex(col("nb")).as("node_b"),
        col("common_neighbors"),
        (col("aa_micro") / lit(1e6)).as("aa_score"))
  }

  private val q268Sql =
    s"""WITH ${KGraph.edgesSql},
       |canon AS (
       |  SELECT DISTINCT least(from_id, to_id) AS a,
       |    greatest(from_id, to_id) AS b
       |  FROM edges WHERE from_id <> to_id),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon) t
       |  GROUP BY 1),
       |centers AS (
       |  SELECT node AS y,
       |    1000000000000 // CAST(round(ln(degree) * 1e6, 0) AS BIGINT)
       |      AS term
       |  FROM deg WHERE degree BETWEEN 2 AND $AaMaxHubDeg),
       |adj AS (
       |  SELECT a AS y, b AS x FROM canon
       |  UNION ALL SELECT b, a FROM canon),
       |wadj AS (SELECT adj.y, adj.x, c.term FROM adj JOIN centers c USING (y)),
       |pairs AS (
       |  SELECT w1.x AS na, w2.x AS nb,
       |    CAST(count(*) AS BIGINT) AS common_neighbors,
       |    CAST(sum(w1.term) AS BIGINT) AS aa_micro
       |  FROM wadj w1 JOIN wadj w2 ON w1.y = w2.y AND w1.x < w2.x
       |  GROUP BY 1, 2)
       |SELECT na AS node_a, nb AS node_b, common_neighbors,
       |  aa_micro / 1e6 AS aa_score
       |FROM pairs p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM canon c WHERE c.a = p.na AND c.b = p.nb)
       |ORDER BY aa_micro DESC, na, nb
       |LIMIT $AaTop""".stripMargin

  // -- q269: HITS hubs & authorities (Kleinberg 1999) — the
  //          complementary centrality to q147's PageRank: authorities
  //          are nodes cited by good hubs, hubs cite good authorities.
  //          Two full mutual-reinforcement rounds with max-norm after
  //          each half-step, all in micro-unit integer arithmetic
  //          (graph/Hits.scala carries the determinism contract and
  //          the 100 TB shape: one hash join + one keyed integer sum
  //          per half-step, the PageRank iteration plan). The oracle
  //          unrolls the rounds into generated CTEs exactly like
  //          q147's.
  private val HitsIters = 2
  private val HitsTop = 25

  private def q269(s: SparkSession, dir: String): DataFrame =
    // the rank artifacts carry PACKED lex ids (round 15); the top-25
    // cut under (auth DESC, node_id) is order-isomorphic to the string
    // cut, so only the surviving rows decode
    graft.graph.Hits.scores(KGraph.materialized(s, dir), HitsIters,
        edgeSet = Some(KGraph.rankEdgesMaterialized(s, dir)
          .select(col("from_id"), col("to_id"))),
        nodeSet = Some(KGraph.nodeSetMaterialized(s, dir)))
      .orderBy(col("auth_micro").desc, col("node_id"))
      .limit(HitsTop)
      // ONE post-limit project (see KGraph.lexTypeChar)
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        KGraph.lexTypeChar(col("node_id")).as("node_type"),
        (col("auth_micro") / lit(1e6)).as("authority"),
        (col("hub_micro") / lit(1e6)).as("hub"))

  private val q269Sql =
    s"""WITH ${KGraph.edgesSql},
       |${graft.graph.Hits.sql.scoresCtes(HitsIters)}
       |SELECT node_id, substr(node_id, 1, 1) AS node_type,
       |  auth_micro / 1e6 AS authority, hub_micro / 1e6 AS hub
       |FROM hits$HitsIters
       |ORDER BY auth_micro DESC, node_id
       |LIMIT $HitsTop""".stripMargin

  // -- q273: global graph census across the repo's three graph
  //          projections — directed edge count, reciprocity (share of
  //          edges whose reverse edge exists: Garlaschelli & Loffredo
  //          2004), wedge count, triangle count, and global
  //          transitivity 3·T/W (Newman 2003) for (a) the knowledge
  //          graph (a typed FK hierarchy: reciprocity and transitivity
  //          are STRUCTURAL ZEROS — the census proves the DAG shape),
  //          (b) the co-purchase projection (dense, triangle-rich),
  //          (c) the user event-type transition graph (genuinely
  //          bidirectional). The one-page topology datasheet read
  //          before any per-node analytics. Scale shape: reciprocity
  //          is one self-equi-join on the reversed key; wedges are a
  //          degree aggregate; triangles reuse the q191 wedge-join
  //          census; everything reduces to one row per graph.
  private def q273(s: SparkSession, dir: String): DataFrame = {
    import graft.engine.Lineage.LineageOps
    val W = org.apache.spark.sql.expressions.Window
    // `preCanonical`: the input is already a DISTINCT a<b edge list
    // (the cached co-purchase projection) — re-distincting and
    // re-canonicalizing it would re-shuffle and re-checkpoint the same
    // 1.2M rows twice for nothing (measured ~5 s of the census)
    def census(name: String, directed: DataFrame,
        preCanonical: Boolean = false,
        canonOpt: Option[DataFrame] = None,
        supOpt: Option[DataFrame] = None,
        edgeCountHint: Option[Long] = None): DataFrame = {
      val e =
        if (preCanonical) directed
        else directed.select(col("from_id"), col("to_id"))
          .filter(col("from_id") =!= col("to_id")).distinct()
          .truncateLineage()
      // SHUFFLE_HASH: the default sort-merge semi join sorts BOTH
      // m-row sides just to probe edge reversals (two ~35% Sort steps
      // in BENCH_EXPLAIN); per-partition hash build of the reversed
      // side needs no sort and stays shuffled at any scale. Same
      // memory bound as q268's hint (ADVICE r13): the build side is
      // one edge-list slice per task (m/partitions rows, no spill) —
      // so legs with a cheap edge count (cached frames) gate it via
      // shuffleHashIfCompact; the ungated default serves the
      // small-graph legs (event transitions) whose count would cost a
      // recompute of a derived frame.
      val revSide = e.select(col("to_id").as("from_id"),
        col("from_id").as("to_id"))
      val recip = e.join(
        edgeCountHint.map(n => shuffleHashIfCompact(s, revSide, n))
          .getOrElse(revSide.hint("SHUFFLE_HASH")),
        Seq("from_id", "to_id"), "left_semi")
      // checkpointed (or supplied from a session cache): the degree
      // aggregate and the triangle census reference the canonical
      // list several times each
      val canon = canonOpt.getOrElse(
        if (preCanonical)
          e.select(col("from_id").as("a"), col("to_id").as("b"))
        else GraphAnalytics.canonical(e).truncateLineage())
      val wedges = GraphAnalytics.degrees(canon)
        .agg(sum(expr("(degree * (degree - 1)) div 2")).as("n_wedges"))
      // the session's shared support artifact stands in for a fresh
      // wedge census where one exists for this graph
      val tri = supOpt.map(GraphAnalytics.triangleCountsFromSupport)
        .getOrElse(GraphAnalytics.triangleCounts(canon))
        .agg(coalesce(sum(col("n_tri")), lit(0L)).as("tri3"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
        .crossJoin(broadcast(wedges))
        .crossJoin(broadcast(tri))
        .select(lit(name).as("graph"), col("n_edges"), col("n_reciprocal"),
          graft.functions.ExactRound.ratio6(col("n_reciprocal"), col("n_edges"))
            .as("reciprocity"),
          col("n_wedges"), expr("tri3 div 3").as("n_triangles"),
          when(col("n_wedges") > 0,
            graft.functions.ExactRound.ratio6(col("tri3"), col("n_wedges")))
            .otherwise(lit(0.0)).as("transitivity"))
    }
    val kg = KGraph.materialized(s, dir)
    // the cached canonical projection IS the directed co-purchase edge
    // set (a < b on integer keys — strings would triple the census's
    // wedge shuffle width, see copurchaseCanon)
    val copurchase = copurchaseCanon(s, dir)
      .select(col("a").as("from_id"), col("b").as("to_id"))
    val ev = Tables.load(s, dir, "events").select(col("user_id"),
      col("event_type"), expr("unix_timestamp(ts)").as("sec"),
      col("event_id"))
    val w = W.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val transitions = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_id"), col("next_type").as("to_id"))
    census("copurchase", copurchase, preCanonical = true,
        supOpt = Some(copurchaseSupport(s, dir)),
        edgeCountHint = Some(copurchaseCanon(s, dir).count()))
      .unionByName(census("event_transitions", transitions))
      // the KG's canonical list is the same session-cached ingestion
      // artifact q192/q193 traverse
      .unionByName(census("knowledge_graph", kg,
        canonOpt = Some(KGraph.canonicalMaterialized(s, dir)),
        supOpt = Some(KGraph.supportMaterialized(s, dir)),
        edgeCountHint = Some(kg.count())))
      .orderBy(col("graph"))
  }

  private val q273Sql = {
    val er = graft.functions.ExactRound.sql
    def census(name: String, directedSql: String) =
      s"""SELECT '$name' AS graph, n_edges, n_reciprocal,
         |  ${er.ratio6("n_reciprocal", "n_edges")} AS reciprocity,
         |  n_wedges, tri3 // 3 AS n_triangles,
         |  CASE WHEN n_wedges > 0 THEN ${er.ratio6("tri3", "n_wedges")}
         |    ELSE 0.0 END AS transitivity
         |FROM (
         |  WITH de AS (
         |    SELECT DISTINCT from_id, to_id FROM ($directedSql) d0
         |    WHERE from_id <> to_id),
         |  cn AS (
         |    SELECT DISTINCT least(from_id, to_id) AS a,
         |      greatest(from_id, to_id) AS b FROM de),
         |  dg AS (
         |    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |      SELECT a AS node FROM cn UNION ALL SELECT b FROM cn) t
         |    GROUP BY 1),
         |  tr AS (
         |    SELECT CAST(count(*) AS BIGINT) AS n_t
         |    FROM cn e1 JOIN cn e2 ON e1.b = e2.a
         |      JOIN cn e3 ON e3.a = e1.a AND e3.b = e2.b)
         |  SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM de) AS n_edges,
         |    (SELECT CAST(count(*) AS BIGINT) FROM de x
         |     WHERE EXISTS (SELECT 1 FROM de r
         |       WHERE r.from_id = x.to_id AND r.to_id = x.from_id))
         |      AS n_reciprocal,
         |    (SELECT CAST(coalesce(sum((degree * (degree - 1)) // 2), 0)
         |       AS BIGINT) FROM dg) AS n_wedges,
         |    (SELECT n_t * 3 FROM tr) AS tri3) s"""
        .stripMargin
    val kgSql = "SELECT from_id, to_id FROM edges"
    val cpSql =
      """SELECT l1.l_partkey AS from_id, l2.l_partkey AS to_id
        |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l1
        |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l2
        |  ON l1.l_orderkey = l2.l_orderkey
        |  AND l1.l_partkey < l2.l_partkey""".stripMargin
    val trSql =
      """SELECT event_type AS from_id,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS to_id
        |FROM events QUALIFY to_id IS NOT NULL""".stripMargin
    s"""WITH ${KGraph.edgesSql}
       |${census("copurchase", cpSql)}
       |UNION ALL
       |${census("event_transitions", trSql)}
       |UNION ALL
       |${census("knowledge_graph", kgSql)}
       |ORDER BY graph""".stripMargin
  }

  // -- q291: degree assortativity (Newman 2002, "Assortative mixing in
  //          networks") over the undirected knowledge graph — one
  //          number saying whether hubs attach to hubs (r > 0, social
  //          shape) or to leaves (r < 0, infrastructure shape); the
  //          property that decides whether hub-cut optimizations like
  //          q268's will shear off real structure. Pearson r over the
  //          edge-endpoint degree pairs, symmetric estimator:
  //          r = (4M·Σdadb − (Σda+db)²) / (2M·Σ(da²+db²) − (Σda+db)²).
  //          Determinism: the three sums are exact integers off the
  //          cached canonical list + its degree table; r is one
  //          single-row double formula (Σ² exceeds long range, so the
  //          squaring happens in the double domain), round6.
  //          Scale shape: two hash joins edge⋈degree + one global agg.
  private def q291(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.assortativity(KGraph.canonicalMaterialized(s, dir))

  private val q291Sql =
    s"""WITH ${KGraph.edgesSql},
       |e0 AS (SELECT DISTINCT least(from_id, to_id) AS a,
       |         greatest(from_id, to_id) AS b
       |       FROM edges WHERE from_id <> to_id),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |          SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) d
       |        GROUP BY node),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(x.degree + y.degree) AS BIGINT) AS sj,
       |    CAST(sum(x.degree * y.degree) AS BIGINT) AS sjk,
       |    CAST(sum(x.degree * x.degree + y.degree * y.degree) AS BIGINT)
       |      AS sj2
       |  FROM e0 JOIN deg x ON x.node = e0.a JOIN deg y ON y.node = e0.b)
       |SELECT m AS n_edges, sj AS sum_deg, sjk AS sum_prod, sj2 AS sum_sq,
       |  round((4.0*m*sjk - CAST(sj AS DOUBLE)*sj) /
       |    nullif(2.0*m*sj2 - CAST(sj AS DOUBLE)*sj, 0), 6) AS assortativity
       |FROM agg""".stripMargin

  // -- q292: rich-club coefficient φ(k) (Colizza et al. 2006) on the
  //          degree grid k ∈ {1,2,4,8,16,32} — do the graph's
  //          highest-degree nodes form a denser club among themselves
  //          than chance? φ(k) = 2·E_k / (N_k·(N_k−1)) with N_k the
  //          nodes of degree > k and E_k the edges internal to them.
  //          The audit a seed-expansion crawler reads before trusting
  //          hub-to-hub propagation. Determinism: exact integer counts
  //          per grid row (one wide conditional aggregate each over
  //          the degree table and the degree-joined edge list),
  //          ExactRound ratio. Scale shape: same two hash joins as
  //          q291 → two 1-row wide frames → fixed 6-row explode.
  private val RichClubGrid = Seq(1, 2, 4, 8, 16, 32)

  private def q292(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.richClub(KGraph.canonicalMaterialized(s, dir),
        RichClubGrid)
      .orderBy(col("k"))

  private val q292Sql = {
    val er = graft.functions.ExactRound.sql
    val nodeCells = RichClubGrid.zipWithIndex.map { case (k, i) =>
      s"CAST(sum(CASE WHEN degree > $k THEN 1 ELSE 0 END) AS BIGINT) AS nk_$i"
    }.mkString(",\n    ")
    val edgeCells = RichClubGrid.zipWithIndex.map { case (k, i) =>
      s"CAST(sum(CASE WHEN x.degree > $k AND y.degree > $k THEN 1 ELSE 0 END) AS BIGINT) AS ek_$i"
    }.mkString(",\n    ")
    val rows = RichClubGrid.zipWithIndex.map { case (k, i) =>
      s"""SELECT $k AS k, nk_$i AS n_rich, ek_$i AS e_rich,
         |  CASE WHEN nk_$i >= 2
         |    THEN ${er.ratio6(s"2 * ek_$i", s"nk_$i * (nk_$i - 1)")}
         |    END AS phi
         |FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${KGraph.edgesSql},
       |e0 AS (SELECT DISTINCT least(from_id, to_id) AS a,
       |         greatest(from_id, to_id) AS b
       |       FROM edges WHERE from_id <> to_id),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |          SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) d
       |        GROUP BY node),
       |nw AS (SELECT $nodeCells FROM deg),
       |ew AS (SELECT $edgeCells
       |  FROM e0 JOIN deg x ON x.node = e0.a JOIN deg y ON y.node = e0.b),
       |wide AS (SELECT * FROM nw, ew)
       |SELECT * FROM ($rows) ORDER BY k""".stripMargin
  }

  // -- q293: k-truss onion layers (k = 4) over the co-purchase
  //          projection — the edge-level cohesion decomposition: a
  //          4-truss edge sits in ≥ 2 triangles among SURVIVING edges,
  //          so the truss strips bridge/spoke edges that k-core keeps
  //          (core is a node bound, truss an edge bound). layer = the
  //          synchronous peel round that removed the edge, 0 = truss
  //          member. The oracle unrolls full-recount rounds as
  //          MATERIALIZED CTEs (rounds past the fixed point peel
  //          nothing, so the shared cap is exact — the q192
  //          contract); the engine runs the LIVE-FRONTIER peel — one
  //          up-front degree-ordered census (O(m^1.5) wedges), then
  //          per-round work proportional to the drop frontier only
  //          (KTrussSpec pins recount parity). Scale shape: one
  //          census + cascade rounds on the shrinking frontier.
  private[graft] val TrussK = 4
  private[graft] val TrussRounds = 6

  private def q293(s: SparkSession, dir: String): DataFrame = {
    val canon = copurchaseCanon(s, dir)
    val (out, _) = GraphAnalytics.kTrussPeel(canon, TrussK, TrussRounds,
      initialSupport = Some(copurchaseSupport(s, dir)))
    out.select(col("a").as("part_a"), col("b").as("part_b"),
        col("layer"), col("in_truss"))
      .orderBy(col("part_a"), col("part_b"))
  }

  private val q293Sql = {
    val thr = TrussK - 2
    val rounds = (1 to TrussRounds).map { i =>
      val prev = s"e${i - 1}"
      s"""tri$i AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $prev e1 JOIN $prev e2 ON e1.b = e2.a
         |  JOIN $prev e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sup$i AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
         |    SELECT x AS a, y AS b FROM tri$i
         |    UNION ALL SELECT y, z FROM tri$i
         |    UNION ALL SELECT x, z FROM tri$i) t
         |  GROUP BY a, b),
         |p$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e LEFT JOIN sup$i s USING (a, b)
         |  WHERE coalesce(s.support, 0) < $thr),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e LEFT JOIN sup$i s USING (a, b)
         |  WHERE coalesce(s.support, 0) >= $thr)""".stripMargin
    }.mkString(",\n")
    val layers = (1 to TrussRounds)
      .map(i => s"SELECT a, b, $i AS layer FROM p$i")
      .mkString("\n  UNION ALL ")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT x.pk AS a, y.pk AS b
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk),
       |$rounds,
       |peeled AS ($layers),
       |live AS (SELECT a, b, 0 AS layer FROM e$TrussRounds)
       |SELECT a AS part_a, b AS part_b, CAST(layer AS INT) AS layer,
       |  layer = 0 AS in_truss
       |FROM (SELECT * FROM live UNION ALL SELECT * FROM peeled) u
       |ORDER BY part_a, part_b""".stripMargin
  }

  // -- q294: personalized PageRank from the supplier seed set
  //          (Haveliwala 2002) over the knowledge graph — proximity
  //          to a trusted seed domain, the seed-expansion primitive a
  //          curation pipeline uses to grow an allowlist. Restart mass
  //          returns only to "s:*" nodes; 3 nano-quantized rounds
  //          (the q147 determinism contract); top-100 under the total
  //          order (rank desc, node_id) plans as TakeOrderedAndProject.
  private def q294(s: SparkSession, dir: String): DataFrame = {
    val edges = KGraph.materialized(s, dir)
    // packed-lex artifacts (round 15): the seed predicate reads the
    // type char from the packed layout (lexTypeIs ⟺ LIKE 's:%'), the
    // top-100 cut under (ppr DESC, node_id) is order-isomorphic, and
    // only the surviving rows decode
    val seeds = KGraph.nodeSetMaterialized(s, dir)
      .filter(KGraph.lexTypeIs(col("node_id"), 's'))
    graft.graph.PageRank.personalizedRanks(edges, seeds, iterations = 3,
        index = Some(KGraph.rankEdgesMaterialized(s, dir)),
        nodeSet = Some(KGraph.nodeSetMaterialized(s, dir)))
      .select(col("node_id"), round(col("rank"), 6).as("ppr"))
      .orderBy(col("ppr").desc, col("node_id"))
      .limit(100)
      // ONE post-limit project (see KGraph.lexTypeChar)
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        col("ppr"), KGraph.lexTypeIs(col("node_id"), 's').as("is_seed"))
  }

  private val q294Sql =
    s"""WITH ${KGraph.edgesSql},
       |${graft.graph.PageRank.sql.personalizedCtes(
          "node_id LIKE 's:%'", iterations = 3)}
       |SELECT node_id, round(rank, 6) AS ppr,
       |  node_id LIKE 's:%' AS is_seed
       |FROM ppr3
       |ORDER BY round(rank, 6) DESC, node_id LIMIT 100""".stripMargin

  // -- q299: bridge-edge audit ×2 graphs — edges in NO triangle
  //          (support 0), the local-bridge notion of Easley &
  //          Kleinberg 2010 ch.3: a bridge is the only local path
  //          between its endpoints, so bridge RATIO says how much of
  //          the graph's connectivity has no redundancy (where dedup
  //          transitivity and community detection are fragile).
  //          Reads the same degree-ordered edge-support census the
  //          k-truss peel uses (one pass per graph, exact counts).
  private def q299(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    // both legs read the session's shared support artifacts — the
    // same census the k-truss peel and the q273 census consume
    def leg(name: String, canon: DataFrame, support: DataFrame) = {
      val sup = support
        .agg(count(lit(1)).as("tri_edges"),
          coalesce(max(col("support")), lit(0L)).as("max_support"))
      canon.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(sup))
        .select(lit(name).as("graph"), col("n_edges"),
          (col("n_edges") - col("tri_edges")).as("n_bridge"),
          ExactRound.ratio6(col("n_edges") - col("tri_edges"),
            col("n_edges")).as("bridge_ratio"),
          col("max_support"))
    }
    leg("copurchase", copurchaseCanon(s, dir)
        .select(col("a"), col("b")), copurchaseSupport(s, dir))
      .unionByName(leg("knowledge_graph",
        KGraph.canonicalMaterialized(s, dir),
        KGraph.supportMaterialized(s, dir)))
      .orderBy(col("graph"))
  }

  private val q299Sql = {
    val er = graft.functions.ExactRound.sql
    def leg(name: String, e: String) =
      s"""SELECT '$name' AS graph,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $e) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $e) -
         |    (SELECT CAST(count(*) AS BIGINT) FROM sup_$name) AS n_bridge,
         |  ${er.ratio6(
            s"(SELECT count(*) FROM $e) - (SELECT count(*) FROM sup_$name)",
            s"(SELECT count(*) FROM $e)")} AS bridge_ratio,
         |  (SELECT CAST(coalesce(max(sup), 0) AS BIGINT) FROM sup_$name)
         |    AS max_support""".stripMargin
    def supCte(name: String, e: String) =
      s"""tri_$name AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $e e1 JOIN $e e2 ON e1.b = e2.a
         |  JOIN $e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sup_$name AS (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT x AS a, y AS b FROM tri_$name
         |    UNION ALL SELECT y, z FROM tri_$name
         |    UNION ALL SELECT x, z FROM tri_$name) t
         |  GROUP BY a, b)""".stripMargin
    s"""WITH ${KGraph.edgesSql},
       |lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |       FROM lineitem),
       |cp AS (SELECT DISTINCT x.pk AS a, y.pk AS b
       |       FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk),
       |kg AS (SELECT DISTINCT least(from_id, to_id) AS a,
       |         greatest(from_id, to_id) AS b
       |       FROM edges WHERE from_id <> to_id),
       |${supCte("copurchase", "cp")},
       |${supCte("knowledge_graph", "kg")}
       |SELECT * FROM (
       |${leg("copurchase", "cp")}
       |UNION ALL
       |${leg("knowledge_graph", "kg")}) u
       |ORDER BY graph""".stripMargin
  }

  // -- q319: bipartite butterfly census over the order–part incidence
  //          graph (Wang/Fu/Cheng/Lakshmanan VLDB 2019 "Vertex
  //          Priority Based Butterfly Counting"). The (2,2)-biclique
  //          — two orders sharing two parts — is the bipartite
  //          analogue of the triangle, and the butterfly/caterpillar
  //          ratio is the standard bipartite clustering coefficient
  //          (Lind/González/Herrmann 2005: each butterfly closes 4 of
  //          the 3-paths that could form one). Reference analogue:
  //          the co-occurrence strength analytics of
  //          memory_core/graph (see SURVEY §2.7) measured on the raw
  //          bipartite incidence instead of its unipartite projection.
  //          Determinism: every output is an exact integer census;
  //          the one ratio is ExactRound.ratio6. Scale shape:
  //          butterflies are counted from the ORDER side — per-order
  //          part fan-out is schema-bounded (TPC-H ≤ 7 items/order →
  //          ≤ 21 wedges/order), so the pair-weight frame is ≤ 21·|O|
  //          rows shuffled once on the pair key; on an unbounded-side
  //          dataset the wedge side must be chosen per-vertex by
  //          degree priority (the cited paper's pivot rule), exactly
  //          as the q191/q273 triangle census orders by degree.
  //          Caterpillars need no pair frame at all: one edge scan
  //          joined to the two degree tables.
  private def q319(s: SparkSession, dir: String): DataFrame = {
    val lp = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val dLeft = lp.groupBy(col("ok")).agg(count(lit(1)).as("d"))
    val dRight = lp.groupBy(col("pk")).agg(count(lit(1)).as("d"))
    val base = lp.agg(
      count(lit(1)).as("n_edges"),
      countDistinct(col("ok")).as("n_orders"),
      countDistinct(col("pk")).as("n_parts"))
    val wl = dLeft.agg(
      sum(expr("d * (d - 1) DIV 2")).as("wedges_order_side"))
    val wr = dRight.agg(
      sum(expr("d * (d - 1) DIV 2")).as("wedges_part_side"))
    val pairW = lp.select(col("ok"), col("pk").as("p1"))
      .join(lp.select(col("ok"), col("pk").as("p2")), "ok")
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("w"))
    val bf = pairW.agg(
      coalesce(sum(expr("w * (w - 1) DIV 2")), lit(0L))
        .as("butterflies"))
    val cat = lp
      .join(dLeft.withColumnRenamed("d", "do"), "ok")
      .join(dRight.withColumnRenamed("d", "dp"), "pk")
      .agg(coalesce(sum((col("do") - 1) * (col("dp") - 1)), lit(0L))
        .as("caterpillars"))
    base.crossJoin(broadcast(wl)).crossJoin(broadcast(wr))
      .crossJoin(broadcast(bf)).crossJoin(broadcast(cat))
      .select(col("n_orders"), col("n_parts"), col("n_edges"),
        col("wedges_order_side"), col("wedges_part_side"),
        col("caterpillars"), col("butterflies"),
        graft.functions.ExactRound.ratio6(
          col("butterflies") * 4, col("caterpillars"))
          .as("bipartite_cc"))
  }

  private val q319Sql = {
    import graft.functions.{ExactRound => ER}
    s"""WITH lp AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |dl AS (SELECT ok, CAST(count(*) AS BIGINT) AS d
       |       FROM lp GROUP BY 1),
       |dr AS (SELECT pk, CAST(count(*) AS BIGINT) AS d
       |       FROM lp GROUP BY 1),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |    CAST(count(DISTINCT ok) AS BIGINT) AS n_orders,
       |    CAST(count(DISTINCT pk) AS BIGINT) AS n_parts
       |  FROM lp),
       |wl AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT)
       |         AS wedges_order_side FROM dl),
       |wr AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT)
       |         AS wedges_part_side FROM dr),
       |pw AS (
       |  SELECT x.pk AS p1, y.pk AS p2, CAST(count(*) AS BIGINT) AS w
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2),
       |bf AS (SELECT CAST(coalesce(sum(w * (w - 1) // 2), 0) AS BIGINT)
       |         AS butterflies FROM pw),
       |cat AS (
       |  SELECT CAST(coalesce(sum((dl.d - 1) * (dr.d - 1)), 0) AS BIGINT)
       |    AS caterpillars
       |  FROM lp JOIN dl ON lp.ok = dl.ok JOIN dr ON lp.pk = dr.pk)
       |SELECT n_orders, n_parts, n_edges, wedges_order_side,
       |  wedges_part_side, caterpillars, butterflies,
       |  ${ER.sql.ratio6("butterflies * 4", "caterpillars")}
       |    AS bipartite_cc
       |FROM base, wl, wr, bf, cat""".stripMargin
  }

  // -- q338: greedy weighted matching by local dominance (Preis 1999,
  //          ½-approx; the synchronous MapReduce form of Lattanzi et
  //          al. 2011) over the ORDER-WEIGHTED co-purchase graph
  //          (edge weight = #shared orders) — the pairing operator
  //          behind "pick disjoint best-partner pairs" jobs: dedup
  //          canonical-pair election, A/B arm pairing, product
  //          bundling. 4 synchronous rounds (each matches EVERY
  //          locally-heaviest edge at once); the readout is matched
  //          count + weight per round and the initial edge count —
  //          coverage after round 1 already dominates, pinning why
  //          the parallel form needs no long sequential scan.
  //          MatchingSpec pins validity (no two matched edges share
  //          an endpoint) and per-round monotone shrink.
  //          Determinism: (w, a, b) struct order breaks ties; pure
  //          integer counts. Scale shape: per round one endpoint
  //          explode + keyed max + hash joins (GraphAnalytics
  //          .localMaxMatching), lineage truncated per round.
  private val MatchRounds = 4

  private def q338(s: SparkSession, dir: String): DataFrame = {
    // round 15: the weighted projection IS the shared co-purchase
    // artifact now — the per-call build (two lineitem DISTINCT scans
    // + self-join + count, the query's three hottest plan steps per
    // BENCH_EXPLAIN) collapses into the ingest-timed artifact build
    // every other co-purchase consumer already warms. Same rows, same
    // weights: the artifact's groupBy(a, b).count IS the old
    // weightedCopurchase aggregate.
    val edges = copurchaseWeighted(s, dir)
    val tot = edges.agg(count(lit(1)).as("n_edges_initial"))
    GraphAnalytics.localMaxMatching(edges, MatchRounds)
      .groupBy(col("round"))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("w")).as("w_matched"))
      .crossJoin(broadcast(tot))
      .orderBy(col("round"))
  }

  private val q338Sql = {
    val rounds = (1 to MatchRounds)
      .map(GraphAnalytics.localMaxMatchingRoundSql).mkString(",\n")
    val doms = (1 to MatchRounds).map(r => s"SELECT * FROM dom_$r")
      .mkString(" UNION ALL ")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e_1 AS MATERIALIZED (
       |  SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2),
       |$rounds,
       |all_dom AS ($doms),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_initial
       |        FROM e_1)
       |SELECT round, CAST(count(*) AS BIGINT) AS n_matched,
       |  CAST(sum(w) AS BIGINT) AS w_matched, n_edges_initial
       |FROM all_dom CROSS JOIN tot
       |GROUP BY round, n_edges_initial
       |ORDER BY round""".stripMargin
  }

  // -- q343: HyperBall neighborhood function (Boldi & Vigna 2013 —
  //          HyperANF/HyperBall) over the knowledge graph: every node
  //          carries a 16-register HLL of its ball and 3 synchronous
  //          register-max rounds estimate N(t) = Σ|B(v,t)| for ALL
  //          nodes at once — where q258 walks 16 sampled sources
  //          EXACTLY, this covers every source approximately, which
  //          is the only affordable shape at web scale (O(t·m)
  //          register traffic total vs O(sources·m) BFS). All float
  //          steps are generated CONSTANT TABLES (exact dyadic
  //          2^(−r), precomputed m·ln(m/V) micro entries) emitted as
  //          identical CASE text into both engines; per-node
  //          estimates micro-floored before the corpus sum
  //          (graph/HyperBall.scala). HyperBallSpec pins the estimate
  //          against the exact 3-hop ball census on sf0.001 (±25%)
  //          and monotonicity in t. Scale shape per round: registers
  //          are sparse (node, j, r) rows; one union + keyed max —
  //          register traffic 2·|E|·m rows, lineage truncated.
  private val HbRounds = 3

  private def q343(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.HyperBall
    // round-14 NEGATIVE RESULT (guide §1.2: measure, then decide):
    // packing the node key to a long (numeric packing; identity-only, the
    // register values hash the original strings either way) was
    // measured min-of-4/6 against the string keys and LOST at both
    // scales — sf0.1 3.22 → 4.73 s, sf1.0 21.1 → 27.2 s — even with
    // the packed edge list lazily checkpointed. The register rows are
    // 16 long columns (~140 B), so narrowing the key saves little
    // shuffle width, while the encode pass + checkpoint materialization
    // are pure overhead; unlike the q268 wedge stream or the q193 LPA
    // frames the key is never the wide part of the row. Kept on
    // strings.
    val canon = KGraph.canonicalMaterialized(s, dir)
    val nodes = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node"))).distinct()
    // pivoted (16-column) registers: the merge is one groupBy(node)
    // with 16 max aggregates and each estimate is row-local — the
    // sparse-row form put ~16x the rows through every aggregate
    // (HyperBall scaladoc; estimate parity pinned by HyperBallSpec)
    var regs = HyperBall.registers0Pivoted(nodes)
    var out = HyperBall.estimateRowPivoted(regs, 0)
    for (t <- 1 to HbRounds) {
      // dense rounds: at t=3 the frontier hasn't collapsed, so a
      // systolic (changed-nodes-only) round's change-detection join
      // costs more than it saves (measured 123 vs 86 s at sf1.0)
      regs = HyperBall.mergeRoundPivoted(regs, canon)
      out = out.unionByName(HyperBall.estimateRowPivoted(regs, t))
    }
    out.orderBy(col("t"))
  }

  private val q343Sql = {
    import graft.graph.HyperBall
    val rounds = (1 to HbRounds).map(HyperBall.mergeRoundSql)
      .mkString(",\n")
    val legs = (0 to HbRounds).map(HyperBall.estimateSql)
      .mkString("\nUNION ALL\n")
    s"""WITH ${KGraph.edgesSql},
       |canon AS MATERIALIZED (
       |  SELECT DISTINCT least(from_id, to_id) AS a,
       |    greatest(from_id, to_id) AS b
       |  FROM edges WHERE from_id <> to_id),
       |nodes AS MATERIALIZED (
       |  SELECT a AS node FROM canon UNION SELECT b FROM canon),
       |${HyperBall.registers0Sql},
       |$rounds
       |SELECT * FROM (
       |$legs) u
       |ORDER BY t""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("q191_copurchase_clustering", q191, Some(q191Sql), headline = true),
    Q("q192_kcore_layers", q192, Some(q192Sql), headline = true),
    Q("q193_lpa_communities", q193, Some(q193Sql), headline = true),
    Q("q206_copurchase_affinity", q206, Some(q206Sql)),
    Q("q231_graph_mixing", q231, Some(q231Sql), headline = true),
    Q("q239_partition_modularity", q239, Some(q239Sql)),
    Q("q249_harmonic_centrality", q249, Some(q249Sql)),
    Q("q256_betweenness", q256, Some(q256Sql), headline = true),
    Q("q258_hop_plot", q258, Some(q258Sql)),
    Q("q268_link_prediction", q268, Some(q268Sql), headline = true),
    Q("q269_hits", q269, Some(q269Sql), headline = true),
    Q("q273_graph_census", q273, Some(q273Sql), headline = true),
    Q("q291_assortativity", q291, Some(q291Sql)),
    Q("q292_rich_club", q292, Some(q292Sql)),
    Q("q293_ktruss_layers", q293, Some(q293Sql), headline = true),
    Q("q294_personalized_pagerank", q294, Some(q294Sql), headline = true),
    Q("q299_bridge_audit", q299, Some(q299Sql), headline = true),
    Q("q319_butterfly_census", q319, Some(q319Sql)),
    Q("q338_local_max_matching", q338, Some(q338Sql), headline = true),
    Q("q343_hyperball", q343, Some(q343Sql), headline = true))
}
