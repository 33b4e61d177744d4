package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
  * Centralities with HyperBall", 2013; the HyperANF line of work) —
  * the neighborhood function N(t) = Σ_v |B(v,t)| estimated for EVERY
  * node at once by giving each node an HLL counter of its ball and
  * running t rounds of register-max merges along edges. This is THE
  * web-scale diameter/centrality algorithm: exact per-source BFS
  * (q258) costs O(sources·m), HyperBall costs O(t·m·m_regs) TOTAL for
  * all sources — the trade a 100 TB graph forces.
  *
  * Determinism contract: m = 16 registers (p = 4, ~26% per-node std
  * error — aggregate N(t) is much tighter because node errors are
  * independent); register init from the md5 hash (bucket = h mod 16,
  * rank = trailing zeros of a bit-20-anchored word, so ρ ≤ 21 and
  * every float step is a table of EXACT dyadic / precomputed-ln
  * constants emitted as the SAME CASE text into both engines);
  * per-node estimates are micro-floored LONGs before the corpus sum.
  *
  * Registers are SPARSE rows (node, j, r) — absent register = 0 —
  * so a round is: self ∪ neighbor-carried rows → group-max on
  * (node, j). Lineage truncated per round.
  */
object HyperBall {

  val M = 16 // registers per node (p = 4); α·m² = 0.673·256 = 172.288

  /** ρ(w) over the bit-20-anchored word (w mod 2^20 + 2^20): CASE on
    * trailing zeros, 1-based, ≤ 21 — identical text both engines.
    * private[graft]: TemporalQueries' rolling HLL (q344) reuses the
    * same constant tables. */
  private[graft] def rhoSql(w: String): String = {
    val cases = (1 to 21).map { k =>
      s"WHEN ($w) % ${1L << k} = ${1L << (k - 1)} THEN $k"
    }.mkString(" ")
    s"(CASE $cases END)"
  }

  /** 2^(21−r) for r ∈ [1, 21] as exact BIGINT literals — the dyadic
    * register weight 2^(−r) scaled by the common denominator 2^21,
    * so the per-node register sum is an EXACT integer in both
    * engines (no decimal/double summation anywhere). */
  private[graft] def pow2Scaled21Sql(r: String): String = {
    val cases = (1 to 21).map { k =>
      s"WHEN ($r) = $k THEN CAST(${1L << (21 - k)} AS BIGINT)"
    }.mkString(" ")
    s"(CASE $cases END)"
  }

  /** Per-node HLL estimate in micro units from (present, sum_scaled
    * = Σ2^(21−r)): raw = α·m²/((m−present) + Σ2^(−r)); linear-
    * counting correction m·ln(m/V) when raw ≤ 2.5m and V = m −
    * present > 0 — the ln table is 15 precomputed micro constants
    * (V = m ⇒ empty counter ⇒ est 0, unreachable here since every
    * node holds its own hash). The micro floor is EXACT integer
    * cross-multiplication — with D = (m−present)·2^21 + sum_scaled,
    * floor(raw·10^6) = (172288000·2^21) intdiv D and the
    * linear-counting gate raw ≤ 40 is 172288·2^21 ≤ 40000·D — no
    * runtime decimal/double division, so Spark and DuckDB cannot
    * disagree on a representation boundary (round-10 advice). The
    * only engine-specific token is the integer-division spelling
    * (`div` vs `//`), passed in; every operand is the same exact
    * BIGINT in both engines. */
  private[graft] def estMicroSql(present: String, sumScaled: String,
      intDiv: String = "div"): String = {
    val denom = s"(($M - ($present)) * 2097152 + ($sumScaled))"
    val lnCases = (1 to 15).map { v =>
      val micro = Math.round(M * math.log(M.toDouble / v) * 1e6)
      s"WHEN $M - ($present) = $v THEN CAST($micro AS BIGINT)"
    }.mkString(" ")
    val gate = s"${172288L * 2097152L} <= 40000 * $denom"
    val microFloor = s"(${172288000L * 2097152L} $intDiv $denom)"
    s"(CASE WHEN $gate AND ($present) < $M THEN " +
      s"(CASE $lnCases END) " +
      s"ELSE CAST($microFloor AS BIGINT) END)"
  }

  /** Initial sparse registers for a node frame (column `node`):
    * bucket j = h mod m, rank from the bit-20-anchored word
    * (h div m) mod 2^20 + 2^20 — Column arithmetic here, the same
    * integer recipe as the oracle's [[registers0Sql]] (h < 2^32, so
    * the double division inside floor is exact). */
  def registers0(nodes: DataFrame): DataFrame = {
    val h = graft.text.TextFunctions.md5Long(col("node"))
    nodes.select(col("node"),
      pmod(h, lit(M.toLong)).as("j"),
      (pmod(floor(h / lit(M.toDouble)).cast("long"),
        lit(1048576L)) + lit(1048576L)).as("w"))
      .selectExpr("node", "j", s"${rhoSql("w")} AS r")
  }

  /** Registers as 16 COLUMNS r0..r15 (absent = 0) — the PIVOTED form
    * q343 runs: sparse (node, j, r) rows put up to m× more rows
    * through every round's hash aggregate than nodes exist, while one
    * row per node makes the merge a single groupBy(node) with m
    * codegen'd MAX aggregates and the per-node estimate pure
    * row-local column arithmetic (no grouping at all). Register
    * VALUES are identical to the sparse form — HyperBallSpec pins
    * round-by-round estimate parity — so the oracle's sparse CTEs
    * are untouched. registers0 emits exactly one row per node, so
    * the pivot is a plain select. */
  def registers0Pivoted(nodes: DataFrame): DataFrame =
    registers0(nodes).select(col("node") +: (0 until M).map(i =>
      when(col("j") === i, col("r")).otherwise(lit(0L)).as(s"r$i")): _*)

  /** One synchronous merge round in the pivoted form: union self and
    * both neighbor-carried orientations, then per-register MAX —
    * 2·|E| + |V| rows of m columns instead of up to m× that in
    * 3-column rows. The caller's round driver cuts the result. */
  def mergeRoundPivoted(regs: DataFrame, canon: DataFrame): DataFrame = {
    val rcols = (0 until M).map(i => col(s"r$i"))
    val fromB = canon.join(regs.withColumnRenamed("node", "b"), "b")
      .select(col("a").as("node") +: rcols: _*)
    val fromA = canon.join(regs.withColumnRenamed("node", "a"), "a")
      .select(col("b").as("node") +: rcols: _*)
    val aggs = (0 until M).map(i => max(col(s"r$i")).as(s"r$i"))
    regs.unionByName(fromB).unionByName(fromA)
      .groupBy(col("node"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** One-row neighborhood-function estimate at hop `t` over pivoted
    * registers: present and the scaled register sum are row-local sums
    * over the 16 columns (a zero column is an absent register), so the
    * only aggregate left is the corpus reduction. */
  def estimateRowPivoted(regs: DataFrame, t: Int): DataFrame =
    estimateRow(withEstMicro(regs).agg(sums.head, sums.tail: _*), lit(t))

  private def sums = Seq(count(lit(1)).as("n_nodes"),
    sum(col("est_micro")).as("nf_micro"))

  /** `regs`, observed by `obs` for the corpus sums of
    * [[estimateRowPivoted]] in the job that materializes it. */
  def observeEstimate(regs: DataFrame, obs: Observation): DataFrame =
    withEstMicro(regs).observe(obs, sums.head, sums.tail: _*)
      .drop("present", "sumpow", "est_micro")

  /** The estimate row at hop `t` from the sums [[observeEstimate]] took. */
  def estimateRow(spark: SparkSession, t: Int, obs: Observation): DataFrame = {
    val sums = obs.get
    estimateRow(spark.range(1).select(
      lit(sums("n_nodes")).cast("long").as("n_nodes"),
      lit(sums("nf_micro")).cast("long").as("nf_micro")), lit(t))
  }

  private def estimateRow(sums: DataFrame, t: Column): DataFrame =
    sums.select(t.as("t"), col("n_nodes"),
      (col("nf_micro") / lit(1e6)).as("nf_est"),
      graft.functions.ExactRound.microMean6(col("nf_micro"),
        col("n_nodes")).as("avg_ball_est"))

  /** `regs` plus each node's estimate in micro-units, `est_micro`. */
  private def withEstMicro(regs: DataFrame): DataFrame = {
    val present = (0 until M)
      .map(i => when(col(s"r$i") > 0, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    // 2^(21−r) by shift instead of the 21-branch CASE per register:
    // this projection is q343's hottest step (BENCH_EXPLAIN r15 —
    // 16 CASE chains × |V| rows × 4 estimate legs dominated the
    // corpus-sum aggregates at ~13 s task-time), and
    // shiftright(2^21, r) produces the IDENTICAL exact BIGINT for
    // r ∈ [1, 21] (dyadic, no rounding anywhere), 0 for an absent
    // register — same values, so the oracle's CASE text twin and
    // HyperBallSpec's sparse-form parity are untouched.
    val sumpow = (0 until M)
      .map(i => when(col(s"r$i") > 0,
        expr(s"shiftright(CAST(2097152 AS BIGINT), CAST(r$i AS INT))"))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    regs.withColumn("present", present).withColumn("sumpow", sumpow)
      .withColumn("est_micro", expr(estMicroSql("present", "sumpow")))
  }

  // ---- oracle twins (same generated CASE text) ----------------------

  /** reg0 CTE over a `nodes(node)` CTE. */
  def registers0Sql: String = {
    val h = graft.text.TextFunctions.sql.md5Long("node")
    s"""reg_0 AS MATERIALIZED (
       |  SELECT node, ($h % $M + $M) % $M AS j,
       |    ${rhoSql(s"(($h // $M) % 1048576 + 1048576)")} AS r
       |  FROM nodes)""".stripMargin
  }

  /** reg_{t} CTE from reg_{t−1} over a `canon(a, b)` CTE. */
  def mergeRoundSql(t: Int): String =
    s"""reg_$t AS MATERIALIZED (
       |  SELECT node, j, CAST(max(r) AS BIGINT) AS r FROM (
       |    SELECT node, j, r FROM reg_${t - 1}
       |    UNION ALL
       |    SELECT c.a AS node, g.j, g.r FROM canon c
       |    JOIN reg_${t - 1} g ON g.node = c.b
       |    UNION ALL
       |    SELECT c.b, g.j, g.r FROM canon c
       |    JOIN reg_${t - 1} g ON g.node = c.a) u
       |  GROUP BY 1, 2)""".stripMargin

  /** One estimate leg (SELECT, no CTE wrapper) for reg_{t}. */
  def estimateSql(t: Int): String =
    s"""SELECT $t AS t, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(est_micro) AS BIGINT) / 1e6 AS nf_est,
       |  ${graft.functions.ExactRound.sql.microMean6(
          "CAST(sum(est_micro) AS BIGINT)", "count(*)")}
       |    AS avg_ball_est
       |FROM (
       |  SELECT node,
       |    ${estMicroSql("present", "sumpow", intDiv = "//")}
       |      AS est_micro
       |  FROM (
       |    SELECT node, CAST(count(*) AS BIGINT) AS present,
       |      CAST(sum(${pow2Scaled21Sql("r")}) AS BIGINT) AS sumpow
       |    FROM reg_$t GROUP BY 1) p) e""".stripMargin
}
