package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Lineage.LineageOps
import graft.temporal.TemporalOps
import graft.text.{TextFunctions => TF}

/** Temporal / trend / statistics family (SURVEY.md §2.7). */
object TemporalQueries {

  private def events(s: SparkSession, dir: String) = Tables.load(s, dir, "events")

  /** Daily (event_type, day) series reused by several queries. */
  private def daily(s: SparkSession, dir: String): DataFrame =
    TemporalOps.dailySeries(events(s, dir), "event_type", "ts")
      .withColumn("idx", datediff(to_date(col("day")), lit("2024-01-01")))

  private val dailySql =
    """daily AS (
      |  SELECT event_type AS k, strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
      |    date_diff('day', DATE '2024-01-01', CAST(strftime(ts, '%Y-%m-%d') AS DATE)) AS idx
      |  FROM events GROUP BY 1, 2)""".stripMargin

  // -- q36: temporal range filter, sorted desc, capped (temporal_query,
  //         enhanced_mcp_endpoint.py:347-460)
  private def q36(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-17 00:00:00")))
      .select(col("event_id"), col("event_type"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"))
      .orderBy(col("sec").desc, col("event_id"))
      .limit(100)

  private val q36Sql =
    """SELECT event_id, event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-17 00:00:00'
      |ORDER BY sec DESC, event_id LIMIT 100""".stripMargin

  // -- q37: daily series + cumulative window
  private def q37(s: SparkSession, dir: String): DataFrame =
    daily(s, dir).select(col("k"), col("day"), col("cnt"), col("cum"))
      .orderBy(col("k"), col("day"))

  private val q37Sql =
    s"""WITH $dailySql
       |SELECT k, day, cnt,
       |  CAST(sum(cnt) OVER (PARTITION BY k ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |FROM daily ORDER BY k, day""".stripMargin

  // -- q38: OLS trend slope + direction + strength per event_type
  private def q38(s: SparkSession, dir: String): DataFrame =
    TemporalOps.trend(daily(s, dir), "k", "idx", "cnt")
      .select(col("k"), round(col("slope"), 6).as("slope"), col("direction"),
        round(col("strength"), 6).as("strength"))
      .orderBy(col("k"))

  private val q38Sql =
    s"""WITH $dailySql
       |SELECT k, round(slope, 6) AS slope,
       |  CASE WHEN slope > 0.1 THEN 'increasing'
       |       WHEN slope < -0.1 THEN 'decreasing' ELSE 'stable' END AS direction,
       |  round(CASE WHEN rng > 0 THEN least(abs(slope) * n / rng, 1.0) ELSE 0.0 END, 6)
       |    AS strength
       |FROM (
       |  SELECT k, regr_slope(cnt * 1.0, idx * 1.0) AS slope, count(*) AS n,
       |    (max(cnt) - min(cnt)) * 1.0 AS rng
       |  FROM daily GROUP BY k) x
       |ORDER BY k""".stripMargin

  // -- q39: sudden-change detection (before/after sliding windows).
  //         Ratio 0.15, not the reference's 0.5 default: the synthetic
  //         feed is near-uniform (max observed ratio ≈ 0.29 at sf0.01),
  //         and a threshold above it would make this a vacuous 0-row
  //         check — the operator takes the ratio as a parameter either way
  private def q39(s: SparkSession, dir: String): DataFrame =
    TemporalOps.suddenChanges(daily(s, dir), "k", "idx", "cnt", w = 3, ratio = 0.15)
      .select(col("k"), col("day"),
        round(col("avg_before"), 6).as("avg_before"),
        round(col("avg_after"), 6).as("avg_after"),
        round(col("change_ratio"), 6).as("change_ratio"))
      .orderBy(col("k"), col("day"))

  private val q39Sql =
    s"""WITH $dailySql,
       |win AS (
       |  SELECT k, day,
       |    avg(cnt) OVER (PARTITION BY k ORDER BY idx ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS avg_before,
       |    avg(cnt) OVER (PARTITION BY k ORDER BY idx ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS avg_after
       |  FROM daily)
       |SELECT k, day, round(avg_before, 6) AS avg_before,
       |  round(avg_after, 6) AS avg_after,
       |  round(abs(avg_after - avg_before) / avg_before, 6) AS change_ratio
       |FROM win
       |WHERE avg_before IS NOT NULL AND avg_before > 0
       |  AND abs(avg_after - avg_before) / avg_before > 0.15
       |ORDER BY k, day""".stripMargin

  // -- q40: cycle detection — autocorrelation at lags 1..3 plus per-phase
  //         cycle amplitude at candidate periods 2/3 (insight_discovery
  //         .py:1243-1306: amplitude = max − min of phase means)
  private def q40(s: SparkSession, dir: String): DataFrame =
    TemporalOps.autocorrelation(daily(s, dir), "k", "idx", "cnt", Seq(1, 2, 3))
      .join(TemporalOps.cycleAmplitude(daily(s, dir), "k", "idx", "cnt",
        Seq(2, 3)), "k")
      .select(col("k"), round(col("ac1"), 6).as("ac1"),
        round(col("ac2"), 6).as("ac2"), round(col("ac3"), 6).as("ac3"),
        round(col("amp2"), 6).as("amp2"), round(col("amp3"), 6).as("amp3"))
      .orderBy(col("k"))

  private val q40Sql =
    s"""WITH $dailySql,
       |lagged AS (
       |  SELECT k, cnt,
       |    lag(cnt, 1) OVER (PARTITION BY k ORDER BY idx) AS lag1,
       |    lag(cnt, 2) OVER (PARTITION BY k ORDER BY idx) AS lag2,
       |    lag(cnt, 3) OVER (PARTITION BY k ORDER BY idx) AS lag3
       |  FROM daily),
       |ac AS (
       |  SELECT k, round(corr(cnt, lag1), 6) AS ac1,
       |    round(corr(cnt, lag2), 6) AS ac2, round(corr(cnt, lag3), 6) AS ac3
       |  FROM lagged GROUP BY k),
       |amp2 AS (
       |  SELECT k, max(m) - min(m) AS amp2 FROM (
       |    SELECT k, idx % 2 AS phase, avg(cnt) AS m FROM daily GROUP BY 1, 2) x
       |  GROUP BY k),
       |amp3 AS (
       |  SELECT k, max(m) - min(m) AS amp3 FROM (
       |    SELECT k, idx % 3 AS phase, avg(cnt) AS m FROM daily GROUP BY 1, 2) x
       |  GROUP BY k)
       |SELECT ac.k, ac1, ac2, ac3, round(amp2, 6) AS amp2, round(amp3, 6) AS amp3
       |FROM ac JOIN amp2 ON ac.k = amp2.k JOIN amp3 ON ac.k = amp3.k
       |ORDER BY ac.k""".stripMargin

  // -- q41: IQR outliers with z-score severity, over per-user daily value sums
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val series = events(s, dir)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(sum(col("value")), 6).as("v"))
    TemporalOps.iqrOutliers(series, "user_id", "v")
      .select(col("user_id"), col("day"), col("v"),
        round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
        round(col("severity"), 6).as("severity"))
      .orderBy(col("user_id"), col("day"))
  }

  private val q41Sql =
    """WITH series AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, round(sum(value), 6) AS v
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT user_id, quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3,
      |    avg(v) AS mu, stddev(v) AS sigma
      |  FROM series GROUP BY user_id)
      |SELECT s.user_id, s.day, s.v, round(q1, 6) AS q1, round(q3, 6) AS q3,
      |  round(CASE WHEN sigma > 0 THEN least(abs(v - mu) / sigma / 5, 1.0) ELSE 0.0 END, 6)
      |    AS severity
      |FROM series s JOIN stats t ON s.user_id = t.user_id
      |WHERE s.v < q1 - 1.5 * (q3 - q1) OR s.v > q3 + 1.5 * (q3 - q1)
      |ORDER BY s.user_id, s.day""".stripMargin

  // -- q42: Apriori-lite frequent token pairs within documents
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val docTokens = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("doc"),
        explode(TF.distinctTokens(col("text"))).as("tok"))
    TemporalOps.frequentPairs(docTokens, minSupport = 100L, minPairSupport = 150L)
      .orderBy(col("a_tok"), col("b_tok"))
  }

  private val q42Sql =
    """WITH dt AS (
      |  SELECT doc_id AS doc, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |freq AS (SELECT tok FROM dt GROUP BY tok HAVING count(*) >= 100),
      |ft AS (SELECT doc, dt.tok FROM dt JOIN freq USING (tok))
      |SELECT a.tok AS a_tok, b.tok AS b_tok, count(*) AS support
      |FROM ft a JOIN ft b ON a.doc = b.doc AND a.tok < b.tok
      |GROUP BY 1, 2 HAVING count(*) >= 150
      |ORDER BY a_tok, b_tok""".stripMargin

  // -- q43: 30-day evolution periods (tumbling epoch-aligned buckets)
  private def q43(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("period", floor(unix_timestamp(col("ts")) / 2592000L))
      .groupBy(col("period"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("period"), col("event_type"))

  private val q43Sql =
    """SELECT CAST(floor(floor(epoch(ts)) / 2592000) AS BIGINT) AS period, event_type,
      |  count(*) AS cnt, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY period, event_type""".stripMargin

  // -- q211: ingest coverage gaps — runs of calendar HOURS with zero
  //          events per event type (the "did the feed stall"
  //          data-quality audit complementing q61's value declines —
  //          gaps are absence, not decrease). Expected-hour grid =
  //          1-row min/max broadcast × the bounded type list; missing
  //          hours via anti-join; runs via the islands trick
  //          (hour − row_number is constant within a run — pure
  //          integers). Gaps of length ≥ MinGapHours reported. Scale
  //          shape: one scan to hourly counts, the grid is
  //          (hours × types)-bounded — calendar-sized, never
  //          event-sized.
  private val MinGapHours = 2

  private def q211(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = events(s, dir)
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("h"))
    val present = ev.distinct()
    val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val types = ev.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val missing = grid.join(present, Seq("event_type", "h"), "left_anti")
    val w = W.partitionBy(col("event_type")).orderBy(col("h"))
    missing
      .withColumn("grp", col("h") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(min(col("h")).as("gap_start_h"), max(col("h")).as("gap_end_h"),
        count(lit(1)).as("gap_hours"))
      .filter(col("gap_hours") >= MinGapHours)
      .select(col("event_type"), col("gap_start_h"), col("gap_end_h"),
        col("gap_hours"))
      .orderBy(col("event_type"), col("gap_start_h"))
  }

  private val q211Sql =
    s"""WITH ev AS (
       |  -- floor(), NOT '// 3600' + CAST: DuckDB's // on DOUBLE is
       |  -- plain division and CAST double->int ROUNDS, which shifted
       |  -- late-hour events into the next hour vs Spark's integer div
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
       |  FROM events),
       |present AS (SELECT DISTINCT event_type, h FROM ev),
       |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
       |types AS (SELECT DISTINCT event_type FROM ev),
       |grid AS (
       |  SELECT event_type, CAST(x AS BIGINT) AS h
       |  FROM types, bounds, unnest(range(h0, h1 + 1)) r(x)),
       |missing AS (
       |  SELECT g.event_type, g.h FROM grid g
       |  WHERE NOT EXISTS (SELECT 1 FROM present p
       |    WHERE p.event_type = g.event_type AND p.h = g.h)),
       |runs AS (
       |  SELECT event_type, h,
       |    h - row_number() OVER (PARTITION BY event_type ORDER BY h)
       |      AS grp
       |  FROM missing)
       |SELECT event_type, min(h) AS gap_start_h, max(h) AS gap_end_h,
       |  count(*) AS gap_hours
       |FROM runs GROUP BY event_type, grp
       |HAVING count(*) >= $MinGapHours
       |ORDER BY event_type, gap_start_h""".stripMargin

  // -- q213: ordered event funnel — per user, the earliest
  //          signup → view → purchase chain (each step strictly after
  //          the previous one); report per-step user counts and
  //          exact-integer conversion rates. The classic product
  //          funnel as three conditional-min aggregates + two
  //          user-keyed joins — no sessionizing scan, no per-user
  //          sorting; each step frame is user-bounded.
  private def q213(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      expr("unix_timestamp(ts)").as("sec"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("t1"))
    val s2 = ev.filter(col("event_type") === "view").join(s1, "user_id")
      .filter(col("sec") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("sec")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("sec") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("sec")).as("t3"))
    val counts = s1.agg(count(lit(1)).as("n")).select(lit(1).as("step"),
        lit("signup").as("event_type"), col("n"))
      .unionByName(s2.agg(count(lit(1)).as("n")).select(lit(2).as("step"),
        lit("view_after_signup").as("event_type"), col("n")))
      .unionByName(s3.agg(count(lit(1)).as("n")).select(lit(3).as("step"),
        lit("purchase_after_view").as("event_type"), col("n")))
    val base = s1.agg(count(lit(1)).as("n_base"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("n"),
        ExactRound.ratio6(col("n"), col("n_base")).as("conversion"))
      .orderBy(col("step"))
  }

  private val q213Sql =
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |s1 AS (SELECT user_id, min(sec) AS t1 FROM ev
       |       WHERE event_type = 'signup' GROUP BY user_id),
       |s2 AS (SELECT e.user_id, min(e.sec) AS t2
       |       FROM ev e JOIN s1 USING (user_id)
       |       WHERE e.event_type = 'view' AND e.sec > s1.t1
       |       GROUP BY e.user_id),
       |s3 AS (SELECT e.user_id, min(e.sec) AS t3
       |       FROM ev e JOIN s2 USING (user_id)
       |       WHERE e.event_type = 'purchase' AND e.sec > s2.t2
       |       GROUP BY e.user_id),
       |counts AS (
       |  SELECT 1 AS step, 'signup' AS event_type, count(*) AS n FROM s1
       |  UNION ALL
       |  SELECT 2, 'view_after_signup', count(*) FROM s2
       |  UNION ALL
       |  SELECT 3, 'purchase_after_view', count(*) FROM s3),
       |base AS (SELECT count(*) AS n_base FROM s1)
       |SELECT step, event_type, n,
       |  ${graft.functions.ExactRound.sql.ratio6("n", "n_base")} AS conversion
       |FROM counts, base
       |ORDER BY step""".stripMargin

  // -- q214: retention cohort matrix — users grouped by first-seen day
  //          (cohort), activity counted per day-offset from that first
  //          day: the classic retention triangle. Two aggregates (first
  //          day per user; distinct active (user, day)) + one join —
  //          the matrix is (days × offsets)-bounded, calendar-sized.
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"),
      expr("unix_timestamp(ts) div 86400").as("d"))
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    val active = ev.distinct()
    active.join(first, "user_id")
      .select(col("user_id"), col("d0"),
        (col("d") - col("d0")).as("day_offset"))
      .filter(col("day_offset") <= 7)
      .groupBy(col("d0"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("d0"), col("day_offset"))
  }

  private val q214Sql =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
      |  FROM events),
      |first AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id)
      |SELECT f.d0, e.d - f.d0 AS day_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN first f USING (user_id)
      |WHERE e.d - f.d0 <= 7
      |GROUP BY 1, 2
      |ORDER BY d0, day_offset""".stripMargin

  // -- q215: event-type Markov transition matrix — per user, each event
  //          and the NEXT event of the same user (lead over the
  //          user-scoped (sec, event_id) total order, the q59
  //          tie-break); transition probability per previous state as
  //          an exact integer ratio. The first-order behavioral model
  //          feeding next-action prediction and funnel design (q213
  //          measures ONE fixed path; this measures all of them at
  //          depth 1). Scale shape: user-keyed window (partition-local,
  //          no global sort) → a #types²-bounded aggregate → a
  //          #types-bounded marginals join. 100 TB-safe by the same
  //          argument as q59's sessionization window.
  private def q215(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val W = org.apache.spark.sql.expressions.Window
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      expr("unix_timestamp(ts)").as("sec"), col("event_id"))
    val w = W.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cnt = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("prev_type")).agg(sum(col("n")).as("n_prev"))
    cnt.join(tot, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        ExactRound.ratio6(col("n"), col("n_prev")).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  private val q215Sql =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |nxt AS (
       |  SELECT event_type AS prev_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY sec, event_id) AS next_type
       |  FROM ev),
       |cnt AS (
       |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (
       |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev
       |  FROM cnt GROUP BY 1)
       |SELECT c.prev_type, c.next_type, c.n,
       |  ${graft.functions.ExactRound.sql.ratio6("c.n", "t.n_prev")} AS p
       |FROM cnt c JOIN tot t USING (prev_type)
       |ORDER BY prev_type, next_type""".stripMargin

  // -- q216: session path mining — the most frequent within-session
  //          event-type TRIGRAMS, over the exact session labeling q59
  //          aggregates (EventStream.sessionLabels, 30-min gap). Two
  //          leads inside the (user, session) partition build the
  //          3-step path; paths crossing a session boundary are
  //          excluded by the partition itself (the leads run out, not
  //          wrap). The "what do users actually do" companion to
  //          q215's depth-1 matrix. Scale shape: the same user-keyed
  //          sessionization window as q59, one more user+session-keyed
  //          window, then a #types³-bounded aggregate and a top-k that
  //          plans as TakeOrderedAndProject.
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val lab = graft.streaming.EventStream
      .sessionLabels(events(s, dir), 1800L)
      .select(col("user_id"), col("session_id"), col("sec"),
        col("event_id"), col("event_type"))
    val w = W.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("sec"), col("event_id"))
    lab
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  private val q216Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, event_type, sec,
      |    CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
      |      THEN 1 ELSE 0 END AS boundary
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |lab AS (
      |  SELECT user_id, event_id, event_type, sec,
      |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM b),
      |tri AS (
      |  SELECT event_type AS t1,
      |    lead(event_type, 1) OVER w2 AS t2,
      |    lead(event_type, 2) OVER w2 AS t3
      |  FROM lab
      |  WINDOW w2 AS (PARTITION BY user_id, session_id
      |    ORDER BY sec, event_id))
      |SELECT t1 || '>' || t2 || '>' || t3 AS path,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM tri WHERE t3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  // -- q218: user-activity concentration — Lorenz deciles over per-user
  //          event counts: users ranked by activity, cut into ntile(10)
  //          deciles, each decile's share and cumulative share of all
  //          events (the "how heavy-tailed is the feed" audit beside
  //          q199's source Gini — user-grained, so the rank frame is
  //          NOT bounded and the global rank must not be one window).
  //          Scale shape: events reduce to one row per user first; the
  //          global (n, user_id) rank is the q141 TWO-LEVEL
  //          decomposition — per-range counts cumsum'd over the small
  //          range frame + a row_number within each range (ranges come
  //          from n itself, so range order extends the rank order);
  //          ntile's uneven-bucket rule is then a closed integer form
  //          of (rank, n_users) — the oracle takes DuckDB's native
  //          ntile road, proving the decomposition. Downstream frames
  //          are 10-row bounded.
  private def q218(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val W = org.apache.spark.sql.expressions.Window
    val ua = events(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rng", expr("n div 8"))
    val beforeRange = W.orderBy(col("rng"))
      .rowsBetween(W.unboundedPreceding, -1)
    val rangeCum = ua.groupBy(col("rng"))
      .agg(count(lit(1)).as("range_users"))
      .withColumn("range_before",
        coalesce(sum(col("range_users")).over(beforeRange), lit(0L)))
    val within = W.partitionBy(col("rng")).orderBy(col("n"), col("user_id"))
    val ranked = ua
      .join(rangeCum.select(col("rng"), col("range_before")), Seq("rng"))
      .withColumn("rnk", col("range_before") + row_number().over(within))
    val totals = ua.agg(count(lit(1)).as("n_users_total"),
      sum(col("n")).as("n_events_total"))
    // ntile(10) closed form: first (U mod 10) buckets hold (U div 10)+1
    // rows, the rest (U div 10) — pure integer arithmetic on the rank.
    val dec = ranked.crossJoin(broadcast(totals))
      .withColumn("base", expr("n_users_total div 10"))
      .withColumn("rem", expr("n_users_total % 10"))
      .withColumn("decile",
        when(col("rnk") <= col("rem") * (col("base") + 1),
          expr("(rnk - 1) div (base + 1)") + 1)
          .otherwise(col("rem") +
            expr("(rnk - rem * (base + 1) - 1) div base") + 1))
    val byDec = dec.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
        max(col("n_events_total")).as("tot"))
    byDec
      .withColumn("cum_events", sum(col("n_events")).over(
        W.orderBy(col("decile"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("decile"), col("n_users"), col("n_events"),
        ExactRound.ratio6(col("n_events"), col("tot")).as("share"),
        ExactRound.ratio6(col("cum_events"), col("tot")).as("cum_share"))
      .orderBy(col("decile"))
  }

  private val q218Sql =
    s"""WITH ua AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY user_id),
       |dec AS (
       |  SELECT n, ntile(10) OVER (ORDER BY n, user_id) AS decile FROM ua),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM ua),
       |byd AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(n) AS BIGINT) AS n_events
       |  FROM dec GROUP BY decile),
       |cum AS (
       |  SELECT decile, n_users, n_events,
       |    CAST(sum(n_events) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_events
       |  FROM byd)
       |SELECT decile, n_users, n_events,
       |  ${graft.functions.ExactRound.sql.ratio6("n_events", "tot")} AS share,
       |  ${graft.functions.ExactRound.sql.ratio6("cum_events", "tot")}
       |    AS cum_share
       |FROM cum, tot
       |ORDER BY decile""".stripMargin

  // -- q223: hour-of-week seasonality — per event type, the 168-cell
  //          hour-of-week profile's chi-square statistic against a
  //          uniform feed, plus the peak cell: "is this event type
  //          seasonal, and when does it spike". Complements q40
  //          (autocorrelation finds WHICH lag repeats; this tests
  //          whether the weekly profile deviates at all) and q211
  //          (gaps are absence; this is shape). Cell = hour-since-epoch
  //          mod 168 (arbitrary but fixed week phase, same formula
  //          both engines). Determinism: observed counts are exact
  //          ints; expected = n/168 is one division; the chi-square
  //          folds cell-ordered over the ≤168-row frame, then adds the
  //          zero-cell mass (168−k)·e in one step. Scale shape: one
  //          scan to (type × 168)-bounded counts; everything after is
  //          calendar-sized.
  private def q223(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"),
      expr("unix_timestamp(ts) div 3600 % 168").as("cell"))
    val cells = ev.groupBy(col("event_type"), col("cell"))
      .agg(count(lit(1)).as("o"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("o")).as("n_events"))
    val terms = cells.join(totals, Seq("event_type"))
      .withColumn("e", col("n_events").cast("double") / lit(168.0))
      .withColumn("term",
        (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
    val pk = cells.groupBy(col("event_type")).agg(max(col("o")).as("peak_count"))
    val peak = cells.join(pk, Seq("event_type"))
      .filter(col("o") === col("peak_count"))
      .groupBy(col("event_type"))
      .agg(min(col("cell")).as("peak_cell"), max(col("o")).as("peak_count"))
    terms.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("cell"), col("term"))))
          .as("tl"),
        max(col("n_events")).as("n_events"),
        count(lit(1)).as("k"), max(col("e")).as("e"))
      .select(col("event_type"), col("n_events"),
        round(aggregate(col("tl"), lit(0.0d), (a, x) => a + x("term")) +
          (lit(168) - col("k")) * col("e"), 6).as("chi2"))
      .join(peak, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  private val q223Sql =
    """WITH ev AS (
      |  SELECT event_type,
      |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 168 AS cell
      |  FROM events),
      |cells AS (
      |  SELECT event_type, cell, CAST(count(*) AS BIGINT) AS o
      |  FROM ev GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(sum(o) AS BIGINT) AS n_events
      |  FROM cells GROUP BY 1),
      |terms AS (
      |  SELECT c.event_type, c.cell, c.o, t.n_events,
      |    CAST(t.n_events AS DOUBLE) / 168.0 AS e
      |  FROM cells c JOIN tot t USING (event_type)),
      |agg AS (
      |  SELECT event_type, CAST(max(n_events) AS BIGINT) AS n_events,
      |    round(sum((o - e) * (o - e) / e ORDER BY cell) +
      |      (168 - count(*)) * max(e), 6) AS chi2
      |  FROM terms GROUP BY 1),
      |pk AS (SELECT event_type, max(o) AS peak_count FROM cells GROUP BY 1),
      |peak AS (
      |  SELECT c.event_type, min(c.cell) AS peak_cell,
      |    CAST(max(c.o) AS BIGINT) AS peak_count
      |  FROM cells c JOIN pk p
      |    ON c.event_type = p.event_type AND c.o = p.peak_count
      |  GROUP BY 1)
      |SELECT a.event_type, a.n_events, a.chi2, peak.peak_cell,
      |  peak.peak_count
      |FROM agg a JOIN peak USING (event_type)
      |ORDER BY event_type""".stripMargin

  // -- q224: conversion attribution — for every purchase, credit (a)
  //          the immediately preceding event of the same user within a
  //          24 h lookback (LAST-touch) and (b) the first event of the
  //          purchase's 30-min session (FIRST-touch, over the exact q59
  //          labeling via EventStream.sessionLabels). 'none' when no
  //          toucher qualifies: no prior event, lookback exceeded, or
  //          the purchase opens its own session. The two canonical
  //          attribution models side by side, with exact-integer
  //          shares. Scale shape: the q59 user-keyed windows plus one
  //          session-keyed first_value — all partition-local; the
  //          report is (#models × #types)-bounded.
  private val AttrWindowSec = 86400L

  private def q224(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val W = org.apache.spark.sql.expressions.Window
    val lab = graft.streaming.EventStream
      .sessionLabels(events(s, dir), 1800L)
      .select(col("user_id"), col("session_id"), col("sec"),
        col("event_id"), col("event_type"))
    val byUser = W.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val bySess = W.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("sec"), col("event_id"))
    val pur = lab
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("first_type", first(col("event_type")).over(bySess))
      .withColumn("first_id", first(col("event_id")).over(bySess))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("prev_sec").isNotNull &&
            col("sec") - col("prev_sec") <= AttrWindowSec,
          col("prev_type")).otherwise(lit("none")).as("last_touch"),
        when(col("first_id") =!= col("event_id"), col("first_type"))
          .otherwise(lit("none")).as("first_touch"))
    val lt = pur.groupBy(col("last_touch").as("attributed_type"))
      .agg(count(lit(1)).as("n")).withColumn("model", lit("last_touch"))
    val ft = pur.groupBy(col("first_touch").as("attributed_type"))
      .agg(count(lit(1)).as("n")).withColumn("model", lit("first_touch"))
    val tot = pur.agg(count(lit(1)).as("n_pur"))
    lt.unionByName(ft).crossJoin(broadcast(tot))
      .select(col("model"), col("attributed_type"), col("n"),
        ExactRound.ratio6(col("n"), col("n_pur")).as("share"))
      .orderBy(col("model"), col("attributed_type"))
  }

  private val q224Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |bnd AS (
       |  SELECT user_id, event_id, event_type, sec,
       |    CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
       |      THEN 1 ELSE 0 END AS boundary
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
       |lab AS (
       |  SELECT user_id, event_id, event_type, sec,
       |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY sec, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM bnd),
       |enr AS (
       |  SELECT user_id, session_id, sec, event_id, event_type,
       |    lag(event_type) OVER wu AS prev_type,
       |    lag(sec) OVER wu AS prev_sec,
       |    first_value(event_type) OVER ws AS first_type,
       |    first_value(event_id) OVER ws AS first_id
       |  FROM lab
       |  WINDOW wu AS (PARTITION BY user_id ORDER BY sec, event_id),
       |    ws AS (PARTITION BY user_id, session_id ORDER BY sec, event_id)),
       |pur AS (
       |  SELECT
       |    CASE WHEN prev_sec IS NOT NULL AND sec - prev_sec <= $AttrWindowSec
       |      THEN prev_type ELSE 'none' END AS last_touch,
       |    CASE WHEN first_id <> event_id THEN first_type
       |      ELSE 'none' END AS first_touch
       |  FROM enr WHERE event_type = 'purchase'),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pur FROM pur),
       |u AS (
       |  SELECT 'last_touch' AS model, last_touch AS attributed_type,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM pur GROUP BY 2
       |  UNION ALL
       |  SELECT 'first_touch', first_touch, CAST(count(*) AS BIGINT)
       |  FROM pur GROUP BY 2)
       |SELECT model, attributed_type, n,
       |  ${graft.functions.ExactRound.sql.ratio6("n", "n_pur")} AS share
       |FROM u, tot ORDER BY model, attributed_type""".stripMargin

  // -- q227: RFM segmentation — classic recency/frequency/monetary user
  //          segments over the event feed: recency anchored to the
  //          corpus max timestamp, frequency = event count, monetary =
  //          exact micro-quantized value sum (per-row quantization →
  //          integer fold, the q212 determinism pattern — a plain
  //          double sum would be shuffle-order-dependent). Fixed
  //          documented thresholds (7 days / median frequency / median
  //          spend) rather than data-dependent quantiles, so segments
  //          are stable release-to-release; q218 holds the
  //          distributional view. Scale shape: one scan to per-user
  //          aggregates, one 1-row anchor broadcast, 8-row output.
  private def q227(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val ev = events(s, dir).select(col("user_id"),
      expr("unix_timestamp(ts)").as("sec"),
      expr("CAST(round(value * 1e6) AS LONG)").as("vmicro"))
    val anchor = ev.agg(max(col("sec")).as("now_sec"))
    val rfm = ev.groupBy(col("user_id"))
      .agg(max(col("sec")).as("last_sec"), count(lit(1)).as("f"),
        sum(col("vmicro")).as("m6"))
      .crossJoin(broadcast(anchor))
      .select(
        when(expr("(now_sec - last_sec) div 86400") <= 7, "active")
          .otherwise("lapsed").as("r_seg"),
        when(col("f") >= 67, "frequent").otherwise("occasional")
          .as("f_seg"),
        when(col("m6") >= 3300L * 1000000L, "high_value")
          .otherwise("low_value").as("m_seg"))
    val tot = rfm.agg(count(lit(1)).as("n_total"))
    rfm.groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("r_seg"), col("f_seg"), col("m_seg"), col("n_users"),
        ExactRound.ratio6(col("n_users"), col("n_total")).as("share"))
      .orderBy(col("r_seg"), col("f_seg"), col("m_seg"))
  }

  private val q227Sql =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       |    CAST(round(value * 1e6) AS BIGINT) AS vmicro
       |  FROM events),
       |anchor AS (SELECT max(sec) AS now_sec FROM ev),
       |rfm AS (
       |  SELECT
       |    CASE WHEN (a.now_sec - max(e.sec)) // 86400 <= 7 THEN 'active'
       |      ELSE 'lapsed' END AS r_seg,
       |    CASE WHEN count(*) >= 67 THEN 'frequent'
       |      ELSE 'occasional' END AS f_seg,
       |    CASE WHEN sum(e.vmicro) >= 3300000000 THEN 'high_value'
       |      ELSE 'low_value' END AS m_seg
       |  FROM ev e, anchor a
       |  GROUP BY e.user_id, a.now_sec),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rfm)
       |SELECT r_seg, f_seg, m_seg, CAST(count(*) AS BIGINT) AS n_users,
       |  ${graft.functions.ExactRound.sql.ratio6("count(*)", "n_total")}
       |    AS share
       |FROM rfm, tot
       |GROUP BY r_seg, f_seg, m_seg, n_total
       |ORDER BY r_seg, f_seg, m_seg""".stripMargin

  // -- q240: Kaplan–Meier session-duration survival curve — S(t) =
  //          P(session lasts ≥ t minutes), estimated over the exact
  //          q59 sessionization with RIGHT-CENSORING: each user's LAST
  //          session is truncated by the corpus end (we never observe
  //          the gap that would have closed it), so it counts as
  //          at-risk up to its observed length but never as an ending
  //          — the estimator a naive duration histogram gets wrong.
  //          S(t) = Π_{t'≤t} (1 − d/n) at complete-session durations
  //          t'. Determinism: n_risk/d are exact longs (n_risk via a
  //          reverse cumulative window, no total-frame broadcast);
  //          S(t) = exp(running sum of ln((n−d)/n)) over the
  //          duration-ORDERED window — both engines fold identical
  //          doubles in identical order; a saturated step (n = d) pins
  //          survival to exactly 0.0 from there on rather than relying
  //          on ln(0). Scale shape: q59's user-keyed windows + one
  //          per-session aggregate; after that everything is bounded
  //          by #distinct minute-durations (session-length range, not
  //          data-sized) — the only unpartitioned windows run over
  //          that bounded frame.
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val sess = graft.streaming.EventStream
      .sessionizeBatch(events(s, dir), 1800L)
    val byT = sess
      .withColumn("last_sid",
        max(col("session_id")).over(W.partitionBy(col("user_id"))))
      .select(expr("duration_sec div 60").as("t"),
        when(col("session_id") < col("last_sid"), 1L).otherwise(0L)
          .as("complete"))
      .groupBy(col("t"))
      .agg(sum(col("complete")).as("d"), count(lit(1)).as("ends"))
    val wRisk = W.orderBy(col("t"))
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    val wCum = W.orderBy(col("t"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    byT.withColumn("n_risk", sum(col("ends")).over(wRisk))
      .filter(col("d") > 0)
      .withColumn("ln_t", when(col("n_risk") > col("d"),
        log((col("n_risk") - col("d")).cast("double") / col("n_risk"))))
      .withColumn("z", when(col("n_risk") === col("d"), 1).otherwise(0))
      .select(col("t").as("duration_min"), col("n_risk"),
        col("d").as("n_ended"),
        when(max(col("z")).over(wCum) === 1, lit(0.0))
          .otherwise(round(exp(sum(col("ln_t")).over(wCum)), 6))
          .as("survival"))
      .orderBy(col("duration_min"))
  }

  private val q240Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
      |      THEN 1 ELSE 0 END AS boundary
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT user_id, sec,
      |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM b),
      |g AS (
      |  SELECT user_id, session_id,
      |    CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec
      |  FROM sess GROUP BY 1, 2),
      |gl AS (
      |  SELECT duration_sec, session_id,
      |    max(session_id) OVER (PARTITION BY user_id) AS last_sid
      |  FROM g),
      |byt AS (
      |  SELECT duration_sec // 60 AS t,
      |    CAST(sum(CASE WHEN session_id < last_sid
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS ends
      |  FROM gl GROUP BY 1),
      |risk AS (
      |  SELECT t, d,
      |    CAST(sum(ends) OVER (ORDER BY t
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |      AS n_risk
      |  FROM byt),
      |steps AS (
      |  SELECT t, n_risk, d,
      |    CASE WHEN n_risk > d
      |      THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk) END AS ln_t,
      |    CASE WHEN n_risk = d THEN 1 ELSE 0 END AS z
      |  FROM risk WHERE d > 0)
      |SELECT t AS duration_min, n_risk, d AS n_ended,
      |  CASE WHEN max(z) OVER w = 1 THEN 0.0
      |       ELSE round(exp(sum(ln_t) OVER w), 6) END AS survival
      |FROM steps
      |WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
      |  AND CURRENT ROW)
      |ORDER BY duration_min""".stripMargin

  // -- q241: backward as-of join — each purchase aligned to the user's
  //          most recent view at-or-before it, within a 1-hour
  //          tolerance: the point-in-time lookup behind attribution
  //          (q224 counts ANY prior view in a window; this binds THE
  //          latest one and its exact gap) and behind feature-store
  //          "state as of event time" reads. Runs the AsOfJoin
  //          merge-scan operator (union + ONE user-keyed window — no
  //          range explode); views are pre-aggregated unique per
  //          (user, sec) with max_by on the unique event id, so the
  //          match is deterministic on both engines. The oracle is
  //          DuckDB's NATIVE ASOF JOIN — an independent implementation
  //          of the operator's semantics, not a transliteration of its
  //          plan.
  private def q241(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      expr("unix_timestamp(ts)").as("sec"), col("event_type"), col("value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("sec"), col("event_id").as("p_eid"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("sec"))
      .agg(max(col("event_id")).as("v_eid"),
        max_by(col("value"), col("event_id")).as("v_value"))
    graft.operators.AsOfJoin
      .backward(p, v, Seq("user_id"), "sec", Some(3600L))
      .select(col("user_id"), col("p_eid"), col("sec").as("p_sec"),
        col("v_eid"), col("asof_ord").as("v_sec"),
        col("asof_gap").as("gap_sec"), col("v_value"))
      .orderBy(col("p_eid"))
  }

  private val q241Sql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    event_type, value
      |  FROM events),
      |p AS (SELECT user_id, sec, event_id AS p_eid FROM ev
      |      WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, sec, max(event_id) AS v_eid,
      |        max_by(value, event_id) AS v_value
      |      FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.user_id, p_eid, p.sec AS p_sec,
      |  CASE WHEN v.sec IS NOT NULL AND p.sec - v.sec <= 3600
      |    THEN v_eid END AS v_eid,
      |  CASE WHEN v.sec IS NOT NULL AND p.sec - v.sec <= 3600
      |    THEN v.sec END AS v_sec,
      |  CASE WHEN v.sec IS NOT NULL AND p.sec - v.sec <= 3600
      |    THEN p.sec - v.sec END AS gap_sec,
      |  CASE WHEN v.sec IS NOT NULL AND p.sec - v.sec <= 3600
      |    THEN v_value END AS v_value
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.sec <= p.sec
      |ORDER BY p_eid""".stripMargin

  // -- q252: CUSUM control chart over the daily event-count series per
  //          event_type (Page 1954) — the sequential shift detector a
  //          pipeline health monitor runs on ingest volumes. Exactness:
  //          the series is mean-centered WITHOUT division by scaling
  //          each count by n_days (s_t = cnt·D − total, integer), and
  //          the one-sided CUSUMs use the prefix-sum decomposition
  //          CUSUM+_t = S_t − min_{0≤j≤t} S_j (resp. max − S_t, with
  //          S_0 = 0 folded in via least/greatest), so the
  //          recurrence max(0, prev + x) becomes two window functions —
  //          no fold at all. Threshold h = 8·MAD of the centered
  //          series, MAD as exact lower-median order statistics.
  //          Scale shape: one scan → (type × day)-bounded daily frame;
  //          windows partition by event_type over ≤ #days rows.
  private def q252(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = daily(s, dir)
    val sized = d.groupBy(col("k"))
      .agg(count(lit(1)).as("nd"), sum(col("cnt")).as("total"),
        sort_array(collect_list(col("cnt"))).as("sorted"))
      .select(col("k"), col("nd"), col("total"),
        element_at(col("sorted"), ((col("nd") + 1) / 2).cast("int"))
          .as("med"))
    val cent = d.join(sized, Seq("k"))
      .withColumn("s_t", col("cnt") * col("nd") - col("total"))
      .withColumn("adev", abs(col("cnt") - col("med")) * col("nd"))
    val mad = cent.groupBy(col("k"))
      .agg(sort_array(collect_list(col("adev"))).as("sa"),
        count(lit(1)).as("n2"))
      .select(col("k"),
        element_at(col("sa"), ((col("n2") + 1) / 2).cast("int")).as("mad"))
    val wCum = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = cent.join(mad, Seq("k"))
      .withColumn("ps", sum(col("s_t")).over(wCum))
      // S_0 = 0 joins the running extrema (the recurrence's 0-floor)
      .withColumn("cpos",
        col("ps") - least(min(col("ps")).over(wCum), lit(0L)))
      .withColumn("cneg",
        greatest(max(col("ps")).over(wCum), lit(0L)) - col("ps"))
      .withColumn("alarm",
        col("cpos") > col("mad") * 8 || col("cneg") > col("mad") * 8)
    marked.groupBy(col("k"))
      .agg(count(lit(1)).as("n_days"),
        max(col("cpos")).as("max_cusum_pos"),
        max(col("cneg")).as("max_cusum_neg"),
        first(col("mad")).as("mad"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("alarm"), col("day"))).as("first_alarm_day"))
      .orderBy(col("k"))
  }

  private val q252Sql =
    s"""WITH $dailySql,
       |sized AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(cnt) AS BIGINT) AS total,
       |    (list_sort(list(cnt)))[CAST((count(*) + 1) // 2 AS INT)] AS med
       |  FROM daily GROUP BY 1),
       |cent AS (
       |  SELECT d.k, d.day, d.cnt * s.nd - s.total AS s_t,
       |    abs(d.cnt - s.med) * s.nd AS adev
       |  FROM daily d JOIN sized s USING (k)),
       |mad AS (
       |  SELECT k,
       |    (list_sort(list(adev)))[CAST((count(*) + 1) // 2 AS INT)] AS mad
       |  FROM cent GROUP BY 1),
       |marked AS (
       |  SELECT c.k, c.day, m.mad,
       |    ps - least(min(ps) OVER w, 0) AS cpos,
       |    greatest(max(ps) OVER w, 0) - ps AS cneg
       |  FROM (
       |    SELECT k, day,
       |      CAST(sum(s_t) OVER (PARTITION BY k ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS BIGINT) AS ps
       |    FROM cent) c JOIN mad m USING (k)
       |  WINDOW w AS (PARTITION BY c.k ORDER BY c.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT k, CAST(count(*) AS BIGINT) AS n_days,
       |  CAST(max(cpos) AS BIGINT) AS max_cusum_pos,
       |  CAST(max(cneg) AS BIGINT) AS max_cusum_neg,
       |  CAST(min(mad) AS BIGINT) AS mad,
       |  CAST(sum(CASE WHEN cpos > mad * 8 OR cneg > mad * 8
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       |  min(CASE WHEN cpos > mad * 8 OR cneg > mad * 8 THEN day END)
       |    AS first_alarm_day
       |FROM marked GROUP BY k ORDER BY k""".stripMargin

  // -- q253: EWMA control chart (Roberts 1959) with α = 1/2, the one
  //          smoothing constant whose fold stays engine-portable: each
  //          step is (E + x) / 2 — add then halve, both exact IEEE ops
  //          applied in the SAME sorted-day order on both engines (the
  //          ordered-fold determinism contract of the JS-divergence
  //          family). A day alarms when today's count deviates from
  //          yesterday's smoothed level by more than 50% of it. Scale
  //          shape: the per-type series is #days-bounded (documented
  //          like q51/q62's bounded-k contract), so the O(days²)
  //          prefix-fold enumeration is metadata-scale; everything
  //          before it is one scan + one keyed aggregate.
  private def q253(s: SparkSession, dir: String): DataFrame =
    daily(s, dir).groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("day"), col("cnt"))))
        .as("sd"))
      .select(col("k"),
        expr("transform(sd, p -> cast(p.cnt as double))").as("xs"))
      .withColumn("es", expr(
        """transform(sequence(1, size(xs)), t ->
          |  aggregate(slice(xs, 1, t), cast(-1.0 as double),
          |    (acc, x) -> case when acc < cast(0.0 as double) then x
          |                else (acc + x) / cast(2.0 as double) end))"""
          .stripMargin))
      // sequence(2, 1) would run DESCENDING in Spark — guard 1-day series
      .withColumn("ts", expr(
        "case when size(xs) > 1 then sequence(2, size(xs)) " +
          "else array() end"))
      .withColumn("devs", expr(
        """transform(ts, t ->
          |  abs(element_at(xs, t) - element_at(es, t - 1)))"""
          .stripMargin))
      .select(col("k"), size(col("xs")).cast("long").as("n_days"),
        round(element_at(col("es"), size(col("xs"))), 6).as("ewma_final"),
        round(coalesce(array_max(col("devs")), lit(0.0).cast("double")), 6)
          .as("max_dev"),
        expr("""cast(size(filter(ts, t ->
          |  abs(element_at(xs, t) - element_at(es, t - 1)) *
          |    cast(2.0 as double) > element_at(es, t - 1))) as bigint)"""
          .stripMargin).as("n_alarms"))
      .orderBy(col("k"))

  private val q253Sql =
    s"""WITH $dailySql,
       |ser AS (
       |  SELECT k, list_transform(list(cnt ORDER BY day),
       |    c -> CAST(c AS DOUBLE)) AS xs
       |  FROM daily GROUP BY 1),
       |folded AS (
       |  SELECT k, xs,
       |    list_transform(range(1, len(xs) + 1), t ->
       |      list_reduce(xs[1:t], (acc, x) -> (acc + x) / 2.0)) AS es
       |  FROM ser),
       |devs AS (
       |  SELECT k, xs, es,
       |    list_transform(range(2, len(xs) + 1), t ->
       |      abs(xs[t] - es[t - 1])) AS dv
       |  FROM folded)
       |SELECT k, CAST(len(xs) AS BIGINT) AS n_days,
       |  round(es[len(xs)], 6) AS ewma_final,
       |  round(coalesce(list_max(dv), 0.0), 6) AS max_dev,
       |  CAST(len(list_filter(range(2, len(xs) + 1), t ->
       |    abs(xs[t] - es[t - 1]) * 2.0 > es[t - 1])) AS BIGINT)
       |    AS n_alarms
       |FROM devs ORDER BY k""".stripMargin

  // -- q265: STL-lite decomposition — the classical additive
  //          trend + weekly-seasonal + residual split (the hand
  //          computation inside STL/X-11 before loess smoothing):
  //          trend = centered 7-day moving average over a RANGE(idx)
  //          frame (only days with the full ±3 neighborhood), seasonal
  //          = per-weekday mean of the detrended series, residual =
  //          the rest. Exactness: detrended values are ×7-scaled
  //          integers (cnt·7 − sum7), seasonal/residual are micro6
  //          rationals of those integers — no float folds anywhere.
  //          Scale shape: one scan → (type × day)-bounded daily frame;
  //          the MA window ranges over idx per type; weekday means are
  //          a (type × 7)-bounded aggregate.
  private def q265(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.ExactRound
    val d = daily(s, dir)
      .withColumn("dow", weekday(to_date(col("day"))))
    val wMa = Window.partitionBy(col("k")).orderBy(col("idx"))
      .rangeBetween(-3, 3)
    val withTrend = d
      .withColumn("n7", count(lit(1)).over(wMa))
      .withColumn("sum7", sum(col("cnt")).over(wMa))
      .filter(col("n7") === 7)
      .withColumn("detr7", col("cnt") * 7 - col("sum7"))
    // sdetr can be negative and integral-divide semantics differ on
    // negatives across engines (truncate vs floor): shift by C = 1e7
    // per unit, round in positive territory, shift back exactly
    val seasonal = withTrend.groupBy(col("k"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("detr7")).as("sdetr"))
      .withColumn("seas_micro",
        ExactRound.micro6(
          col("sdetr") + lit(10000000L) * lit(7L) * col("n_days"),
          lit(7L) * col("n_days")) - lit(10000000L * 1000000L))
    // residual per day in micro units: cnt·1e6 − trend − seasonal
    val resid = withTrend.join(
        seasonal.select(col("k"), col("dow"), col("seas_micro")),
        Seq("k", "dow"))
      .withColumn("resid_micro",
        col("cnt") * 1000000L -
          ExactRound.micro6(col("sum7"), lit(7L)) - col("seas_micro"))
    val residStats = resid.groupBy(col("k"))
      .agg(sum(abs(col("resid_micro"))).as("sabs"),
        count(lit(1)).as("nr"), max(abs(col("resid_micro"))).as("mabs"))
    seasonal.join(residStats, Seq("k"))
      .select(col("k"), col("dow"), col("n_days"),
        (col("seas_micro") / lit(1e6)).as("seasonal"),
        ExactRound.microMean6(col("sabs"), col("nr"))
          .as("residual_abs_mean"),
        (col("mabs") / lit(1e6)).as("residual_abs_max"))
      .orderBy(col("k"), col("dow"))
  }

  private lazy val q265Sql = {
    import graft.functions.{ExactRound => ER}
    s"""WITH $dailySql,
       |dd AS (SELECT k, day, cnt, idx,
       |         isodow(CAST(day AS DATE)) - 1 AS dow
       |       FROM daily),
       |ma AS (
       |  SELECT *, count(*) OVER w AS n7,
       |    CAST(sum(cnt) OVER w AS BIGINT) AS sum7
       |  FROM dd
       |  WINDOW w AS (PARTITION BY k ORDER BY idx
       |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |wt AS (SELECT *, cnt * 7 - sum7 AS detr7 FROM ma WHERE n7 = 7),
       |seasonal AS (
       |  SELECT k, dow, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(detr7) AS BIGINT) AS sdetr,
       |    ${ER.sql.micro6("sum(detr7) + 10000000 * 7 * count(*)",
      "7 * count(*)")} - 10000000000000 AS seas_micro
       |  FROM wt GROUP BY 1, 2),
       |resid AS (
       |  SELECT w.k,
       |    w.cnt * 1000000 - ${ER.sql.micro6("w.sum7", "7")}
       |      - s.seas_micro AS resid_micro
       |  FROM wt w JOIN seasonal s ON s.k = w.k AND s.dow = w.dow),
       |rs AS (
       |  SELECT k, CAST(sum(abs(resid_micro)) AS BIGINT) AS sabs,
       |    CAST(count(*) AS BIGINT) AS nr,
       |    CAST(max(abs(resid_micro)) AS BIGINT) AS mabs
       |  FROM resid GROUP BY 1)
       |SELECT s.k, s.dow, s.n_days,
       |  s.seas_micro / 1e6 AS seasonal,
       |  ${ER.sql.microMean6("r.sabs", "r.nr")} AS residual_abs_mean,
       |  r.mabs / 1e6 AS residual_abs_max
       |FROM seasonal s JOIN rs r ON r.k = s.k
       |ORDER BY s.k, s.dow""".stripMargin
  }

  // -- q272: forecast backtest — seasonal-naive (lag-7) vs naive
  //          (lag-1) one-step-ahead forecasts of the per-type daily
  //          count series, graded by MASE (Hyndman & Koehler 2006: the
  //          seasonal model's MAE over the naive benchmark's — MASE
  //          < 1 means weekly structure is real and a forecaster
  //          should use it). The go/no-go check run before wiring any
  //          seasonal model into capacity planning. Lags are over
  //          OBSERVED days in day order (calendar gaps are rare in
  //          this series and identically treated on both engines).
  //          Determinism: absolute errors are exact integer sums;
  //          MAEs are ExactRound ratios and MASE is the cross-product
  //          ratio6(s7·n1, s1·n7) — pure integer arithmetic, no
  //          float-on-float division. Scale shape: the series frame
  //          is (type × day)-bounded metadata; two lags in one window
  //          pass, one keyed rollup.
  private def q272(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("k")).orderBy(col("day"))
    val lagged = daily(s, dir)
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .withColumn("l7", lag(col("cnt"), 7).over(w))
    lagged.groupBy(col("k").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        count(col("l1")).as("n1"),
        sum(abs(col("cnt") - col("l1"))).as("s1"),
        count(col("l7")).as("n7"),
        sum(abs(col("cnt") - col("l7"))).as("s7"))
      .select(col("event_type"), col("n_days"),
        ExactRound.ratio6(col("s1"), col("n1")).as("mae_naive"),
        ExactRound.ratio6(col("s7"), col("n7")).as("mae_seasonal"),
        when(col("s1") > 0 && col("n7") > 0,
          ExactRound.ratio6(col("s7") * col("n1"), col("s1") * col("n7")))
          .as("mase"))
      .orderBy(col("event_type"))
  }

  private val q272Sql = {
    val er = graft.functions.ExactRound.sql
    s"""WITH $dailySql,
       |lagged AS (
       |  SELECT k, cnt,
       |    lag(cnt, 1) OVER (PARTITION BY k ORDER BY day) AS l1,
       |    lag(cnt, 7) OVER (PARTITION BY k ORDER BY day) AS l7
       |  FROM daily),
       |agg AS (
       |  SELECT k AS event_type,
       |    CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(count(l1) AS BIGINT) AS n1,
       |    CAST(sum(abs(cnt - l1)) AS BIGINT) AS s1,
       |    CAST(count(l7) AS BIGINT) AS n7,
       |    CAST(sum(abs(cnt - l7)) AS BIGINT) AS s7
       |  FROM lagged GROUP BY 1)
       |SELECT event_type, n_days,
       |  ${er.ratio6("s1", "n1")} AS mae_naive,
       |  ${er.ratio6("s7", "n7")} AS mae_seasonal,
       |  CASE WHEN s1 > 0 AND n7 > 0
       |    THEN ${er.ratio6("s7 * n1", "s1 * n7")} END AS mase
       |FROM agg ORDER BY event_type""".stripMargin
  }

  // -- q275: Mann–Kendall trend test (Mann 1945, Kendall 1975) per
  //          event type — the NONPARAMETRIC companion to q38's OLS
  //          slope: S = Σ_{i<j} sign(c_j − c_i) over the daily series,
  //          variance with the exact tie correction, z with continuity
  //          correction. The monotone-trend gate that doesn't care
  //          about outliers or the noise distribution. Scale shape:
  //          the series is (type × day)-bounded METADATA (≤ a few
  //          hundred rows per type), so the pairwise self-join is
  //          n²-per-type over tiny n — never corpus-scale rows.
  //          Determinism: S and 18·Var(S) are exact integer sums
  //          (sign() of integer differences; tie groups from a keyed
  //          count); z is identical expression text over those longs.
  private val MkZ = 1.96

  private def q275(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val d = daily(s, dir).select(col("k"), col("idx"), col("cnt"))
      .truncateLineage()
    val pairs = d.select(col("k"), col("idx").as("i"), col("cnt").as("ci"))
      .join(d.select(col("k"), col("idx").as("j"), col("cnt").as("cj")),
        Seq("k"))
      .filter(col("i") < col("j"))
      .groupBy(col("k"))
      .agg(sum(signum(col("cj") - col("ci")).cast("long")).as("s_stat"))
    val base = d.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val ties = d.groupBy(col("k"), col("cnt")).agg(count(lit(1)).as("t"))
      .groupBy(col("k"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie18"))
    val z = "(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0) " +
      "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0) " +
      "ELSE 0.0 END)"
    base.join(pairs, Seq("k")).join(ties, Seq("k"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie18"))
      .select(col("k").as("event_type"), col("n").as("n_days"),
        col("s_stat"),
        ExactRound.ratio6(col("var18"), lit(18L)).as("var_s"),
        expr(s"round($z, 6)").as("z"),
        expr(s"CASE WHEN $z > $MkZ THEN 'increasing' " +
          s"WHEN $z < -$MkZ THEN 'decreasing' ELSE 'no_trend' END")
          .as("trend"))
      .orderBy(col("event_type"))
  }

  private val q275Sql = {
    val er = graft.functions.ExactRound.sql
    val z = "(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0) " +
      "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0) " +
      "ELSE 0.0 END)"
    s"""WITH $dailySql,
       |pr AS (
       |  SELECT a.k, CAST(sum(sign(b.cnt - a.cnt)) AS BIGINT) AS s_stat
       |  FROM daily a JOIN daily b ON a.k = b.k AND a.idx < b.idx
       |  GROUP BY 1),
       |base AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM daily
       |         GROUP BY 1),
       |ties AS (
       |  SELECT k, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
       |  FROM (SELECT k, cnt, CAST(count(*) AS BIGINT) AS t
       |        FROM daily GROUP BY 1, 2) g
       |  GROUP BY 1),
       |st AS (
       |  SELECT base.k, n, s_stat,
       |    n * (n - 1) * (2 * n + 5) - tie18 AS var18
       |  FROM base JOIN pr USING (k) JOIN ties USING (k))
       |SELECT k AS event_type, n AS n_days, s_stat,
       |  ${er.ratio6("var18", "18")} AS var_s,
       |  round($z, 6) AS z,
       |  CASE WHEN $z > $MkZ THEN 'increasing'
       |    WHEN $z < -$MkZ THEN 'decreasing' ELSE 'no_trend' END AS trend
       |FROM st ORDER BY event_type""".stripMargin
  }

  // -- q276: Theil–Sen slope (Theil 1950 / Sen 1968) per event type —
  //          the robust regression companion to q38 (median of all
  //          pairwise slopes shrugs off the spike days that drag OLS).
  //          Same metadata-scale pairwise frame as q275; the median is
  //          the mean of the two middle ranks under a TOTAL order
  //          (slope, i, j), so ties cannot make engines pick different
  //          rows. Slopes are integer-ratio doubles (identical IEEE
  //          division on both engines).
  private def q276(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = daily(s, dir).select(col("k"), col("idx"), col("cnt"))
      .truncateLineage()
    val slopes = d.select(col("k"), col("idx").as("i"), col("cnt").as("ci"))
      .join(d.select(col("k"), col("idx").as("j"), col("cnt").as("cj")),
        Seq("k"))
      .filter(col("i") < col("j"))
      .select(col("k"), col("i"), col("j"),
        ((col("cj") - col("ci")).cast("double") /
          (col("j") - col("i"))).as("slope"))
    val w = W.partitionBy(col("k")).orderBy(col("slope"), col("i"), col("j"))
    val ranked = slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(W.partitionBy(col("k"))))
    ranked
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("(np + 2) div 2"))
      .groupBy(col("k"))
      .agg(max(col("np")).as("n_pairs"),
        (sum(col("slope")) / count(lit(1))).as("m"))
      .select(col("k").as("event_type"), col("n_pairs"),
        round(col("m"), 6).as("theil_sen_slope"))
      .orderBy(col("event_type"))
  }

  private val q276Sql =
    s"""WITH $dailySql,
       |slopes AS (
       |  SELECT a.k, a.idx AS i, b.idx AS j,
       |    CAST(b.cnt - a.cnt AS DOUBLE) / (b.idx - a.idx) AS slope
       |  FROM daily a JOIN daily b ON a.k = b.k AND a.idx < b.idx),
       |ranked AS (
       |  SELECT k, slope,
       |    row_number() OVER (PARTITION BY k ORDER BY slope, i, j) AS rn,
       |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS np
       |  FROM slopes)
       |SELECT k AS event_type, max(np) AS n_pairs,
       |  round(sum(slope) / count(*), 6) AS theil_sen_slope
       |FROM ranked
       |WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
       |GROUP BY k
       |ORDER BY event_type""".stripMargin

  /** Shared sessionization CTE chain (the q240 labeling, ending in
    * `gl(user_id, session_id, duration_sec, last_sid)`). Declared
    * before its consumers: object vals initialize in order, and a
    * forward reference would interpolate null into the SQL. */
  private val SessionSqlCtes =
    """e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
      |      THEN 1 ELSE 0 END AS boundary
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT user_id, sec,
      |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM b),
      |g AS (
      |  SELECT user_id, session_id,
      |    CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec
      |  FROM sess GROUP BY 1, 2),
      |gl AS (
      |  SELECT user_id, duration_sec, session_id,
      |    max(session_id) OVER (PARTITION BY user_id) AS last_sid
      |  FROM g)""".stripMargin

  // -- q281: Nelson–Aalen cumulative hazard (Nelson 1972, Aalen 1978)
  //          over session durations — the estimator-of-choice
  //          companion to q240's Kaplan–Meier: H(t) = Σ_{ti≤t} d_i/n_i
  //          is a SUM (mergeable, variance-friendly) where KM is a
  //          product, and exp(−H) is the Fleming–Harrington survival
  //          curve reported next to it. Same risk-set frame as q240
  //          (last session per user censored). Determinism: per-time
  //          hazard increments quantize to micro units (exact d/n
  //          rationals), the cumulative sum is integer, and exp runs
  //          over the exact micro total on both engines. Scale shape:
  //          the same (duration-minute)-bounded metadata frame as
  //          q240 — two window passes.
  private def q281(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val W = org.apache.spark.sql.expressions.Window
    val sess = graft.streaming.EventStream
      .sessionizeBatch(events(s, dir), 1800L)
    val byT = sess
      .withColumn("last_sid",
        max(col("session_id")).over(W.partitionBy(col("user_id"))))
      .select(expr("duration_sec div 60").as("t"),
        when(col("session_id") < col("last_sid"), 1L).otherwise(0L)
          .as("complete"))
      .groupBy(col("t"))
      .agg(sum(col("complete")).as("d"), count(lit(1)).as("ends"))
    val wRisk = W.orderBy(col("t"))
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    val wCum = W.orderBy(col("t"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    byT.withColumn("n_risk", sum(col("ends")).over(wRisk))
      .filter(col("d") > 0)
      .withColumn("h_micro", ExactRound.micro6(col("d"), col("n_risk")))
      .withColumn("ch_micro", sum(col("h_micro")).over(wCum))
      .select(col("t").as("duration_min"), col("n_risk"),
        col("d").as("n_ended"),
        (col("ch_micro") / lit(1e6)).as("cum_hazard"),
        round(exp(-col("ch_micro") / lit(1e6)), 6).as("fh_survival"))
      .orderBy(col("duration_min"))
  }

  private val q281Sql = {
    val er = graft.functions.ExactRound.sql
    s"""WITH ${SessionSqlCtes},
       |byt AS (
       |  SELECT duration_sec // 60 AS t,
       |    CAST(sum(CASE WHEN session_id < last_sid
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS ends
       |  FROM gl GROUP BY 1),
       |risk AS (
       |  SELECT t, d,
       |    CAST(sum(ends) OVER (ORDER BY t
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
       |      AS n_risk
       |  FROM byt),
       |haz AS (
       |  SELECT t, d, n_risk, ${er.micro6("d", "n_risk")} AS h_micro
       |  FROM risk WHERE d > 0)
       |SELECT t AS duration_min, n_risk, d AS n_ended,
       |  CAST(sum(h_micro) OVER wc AS BIGINT) / 1e6 AS cum_hazard,
       |  round(exp(-(CAST(sum(h_micro) OVER wc AS BIGINT) / 1e6)), 6)
       |    AS fh_survival
       |FROM haz
       |WINDOW wc AS (ORDER BY t
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY duration_min""".stripMargin
  }

  // -- q282: log-rank test (Mantel 1966) — do the q267 experiment's
  //          two arms have the SAME session-duration survival curve?
  //          The standard two-sample censored-data test: at each
  //          pooled event time, arm A's observed events vs its
  //          hypergeometric expectation and variance, summed, then
  //          z = (O − E)/√V. Determinism: O is an exact integer; the
  //          per-time E and V terms are IEEE doubles of exact integer
  //          risk counts, summed IN TIME ORDER on both engines via
  //          the q155 sorted-fold ↔ ordered-aggregate equivalence
  //          (the time frame is duration-minute-bounded metadata).
  private val LrZ = 1.96

  private def q282(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val W = org.apache.spark.sql.expressions.Window
    val sess = graft.streaming.EventStream
      .sessionizeBatch(events(s, dir), 1800L)
      .withColumn("last_sid",
        max(col("session_id")).over(W.partitionBy(col("user_id"))))
      .select(expr("duration_sec div 60").as("t"),
        when(col("session_id") < col("last_sid"), 1L).otherwise(0L)
          .as("complete"),
        when(Sampling.hashBucket(col("user_id"), 2, "ab") === 0L, 1L)
          .otherwise(0L).as("in_a"))
    val byT = sess.groupBy(col("t")).agg(
      sum(col("complete") * col("in_a")).as("da"),
      sum(col("complete")).as("d"),
      sum(col("in_a")).as("ends_a"),
      count(lit(1)).as("ends"))
    val wRisk = W.orderBy(col("t"))
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    val terms = byT
      .withColumn("na", sum(col("ends_a")).over(wRisk))
      .withColumn("n", sum(col("ends")).over(wRisk))
      .filter(col("d") > 0)
      .select(col("t"), col("da"), col("d"), col("na"), col("n"),
        (col("d").cast("double") * col("na") / col("n")).as("e_t"),
        when(col("n") > 1,
          col("d").cast("double") * col("na") / col("n") *
            (col("n") - col("na")) / col("n") *
            (col("n") - col("d")) / (col("n") - 1))
          .otherwise(lit(0.0)).as("v_t"))
    val z = "(CASE WHEN v > 0 THEN (o_a - e_a) / sqrt(v) ELSE 0.0 END)"
    terms.agg(
        count(lit(1)).as("n_times"),
        sum(col("da")).as("o_a"),
        sort_array(collect_list(struct(col("t"), col("e_t")))).as("es"),
        sort_array(collect_list(struct(col("t"), col("v_t")))).as("vs"))
      .select(col("n_times"), col("o_a"),
        aggregate(col("es"), lit(0.0d), (acc, x) => acc + x("e_t"))
          .as("e_a"),
        aggregate(col("vs"), lit(0.0d), (acc, x) => acc + x("v_t"))
          .as("v"))
      .select(col("n_times"), col("o_a"), round(col("e_a"), 6).as("e_a"),
        round(col("v"), 6).as("variance"),
        expr(s"round($z, 6)").as("z"),
        expr(s"abs($z) > $LrZ").as("significant"))
  }

  private val q282Sql = {
    import graft.pipeline.Sampling
    val h = Sampling.sql.hashBucket("user_id", 2, "ab")
    val z = "(CASE WHEN v > 0 THEN (o_a - e_a) / sqrt(v) ELSE 0.0 END)"
    s"""WITH ${SessionSqlCtes},
       |sa AS (
       |  SELECT duration_sec // 60 AS t,
       |    CASE WHEN session_id < last_sid THEN 1 ELSE 0 END AS complete,
       |    CASE WHEN $h = 0 THEN 1 ELSE 0 END AS in_a
       |  FROM gl),
       |byt AS (
       |  SELECT t, CAST(sum(complete * in_a) AS BIGINT) AS da,
       |    CAST(sum(complete) AS BIGINT) AS d,
       |    CAST(sum(in_a) AS BIGINT) AS ends_a,
       |    CAST(count(*) AS BIGINT) AS ends
       |  FROM sa GROUP BY 1),
       |terms AS (
       |  SELECT t, da, d,
       |    CAST(sum(ends_a) OVER wr AS BIGINT) AS na,
       |    CAST(sum(ends) OVER wr AS BIGINT) AS n
       |  FROM byt
       |  WINDOW wr AS (ORDER BY t
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
       |ft AS (
       |  SELECT t, da, d, na, n,
       |    CAST(d AS DOUBLE) * na / n AS e_t,
       |    CASE WHEN n > 1 THEN CAST(d AS DOUBLE) * na / n *
       |      (n - na) / n * (n - d) / (n - 1) ELSE 0.0 END AS v_t
       |  FROM terms WHERE d > 0),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_times,
       |    CAST(sum(da) AS BIGINT) AS o_a,
       |    sum(e_t ORDER BY t) AS e_a,
       |    sum(v_t ORDER BY t) AS v
       |  FROM ft)
       |SELECT n_times, o_a, round(e_a, 6) AS e_a, round(v, 6) AS variance,
       |  round($z, 6) AS z, abs($z) > $LrZ AS significant
       |FROM agg""".stripMargin
  }

  // -- q298: inter-arrival burstiness per event type (Goh & Barabási
  //          2008, "Burstiness and memory in complex systems"):
  //          B = (σ−μ)/(σ+μ) over the inter-arrival gaps — B → −1 a
  //          metronome, 0 Poisson, → 1 heavy-tailed bursts. The
  //          event-TIMING complement to q221's word burstiness
  //          (tf/df) and q223's seasonality χ²; a data pipeline reads
  //          it to size ingestion buffers and spot scraper storms.
  //          Determinism: gaps are integer seconds off a per-type
  //          ordered lag (tie order can permute equal timestamps but
  //          the gap MULTISET is invariant); Σg is a long, Σg² sums
  //          in decimal (a 1e7-second gap squares past long headroom
  //          at sf1.0); μ/σ/B/CV are per-type single-row double
  //          formulas over the exact sums, round6.
  private def q298(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sec"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("event_type"), expr("unix_timestamp(ts)").as("sec"),
        col("event_id"))
      .withColumn("g", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("g").isNotNull)
    gaps.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("sq"))
      .select(col("event_type"), col("n_gaps"),
        expr("round(CAST(sg AS DOUBLE) / n_gaps, 6)").as("mean_gap_s"),
        expr("round(sqrt(greatest(CAST(sq AS DOUBLE) / n_gaps - " +
          "pow(CAST(sg AS DOUBLE) / n_gaps, 2), 0)) / " +
          "nullif(CAST(sg AS DOUBLE) / n_gaps, 0), 6)").as("cv"),
        expr("round((sqrt(greatest(CAST(sq AS DOUBLE) / n_gaps - " +
          "pow(CAST(sg AS DOUBLE) / n_gaps, 2), 0)) - " +
          "CAST(sg AS DOUBLE) / n_gaps) / " +
          "nullif(sqrt(greatest(CAST(sq AS DOUBLE) / n_gaps - " +
          "pow(CAST(sg AS DOUBLE) / n_gaps, 2), 0)) + " +
          "CAST(sg AS DOUBLE) / n_gaps, 0), 6)").as("burstiness_b"))
      .orderBy(col("event_type"))
  }

  private val q298Sql =
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    event_id
      |  FROM events),
      |gaps AS (
      |  SELECT event_type,
      |    sec - lag(sec) OVER (PARTITION BY event_type
      |      ORDER BY sec, event_id) AS g
      |  FROM ev),
      |agg AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(sum(g) AS BIGINT) AS sg,
      |    sum(g * g) AS sq
      |  FROM gaps WHERE g IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps,
      |  round(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
      |  round(sqrt(greatest(CAST(sq AS DOUBLE) / n_gaps -
      |    pow(CAST(sg AS DOUBLE) / n_gaps, 2), 0)) /
      |    nullif(CAST(sg AS DOUBLE) / n_gaps, 0), 6) AS cv,
      |  round((sqrt(greatest(CAST(sq AS DOUBLE) / n_gaps -
      |    pow(CAST(sg AS DOUBLE) / n_gaps, 2), 0)) -
      |    CAST(sg AS DOUBLE) / n_gaps) /
      |    nullif(sqrt(greatest(CAST(sq AS DOUBLE) / n_gaps -
      |    pow(CAST(sg AS DOUBLE) / n_gaps, 2), 0)) +
      |    CAST(sg AS DOUBLE) / n_gaps, 0), 6) AS burstiness_b
      |FROM agg ORDER BY event_type""".stripMargin

  // -- q313: exact single changepoint per event type (binary
  //          segmentation, first split — Scott & Knott / CUSUM's
  //          model-based sibling): the split of the daily-count
  //          series maximizing the between-segment sum of squares
  //          gain(t) = s₁²/n₁ + s₂²/n₂ − S²/N, evaluated EXACTLY at
  //          every candidate boundary from per-type prefix sums — no
  //          iterative fitting, one windowed pass. Complements q65's
  //          CUSUM (which detects drift online; this locates the
  //          single best break in a batch). Determinism: prefix/total
  //          sums are exact longs; gain is an IEEE double over them,
  //          micro-floored, and argmax breaks ties on earliest day —
  //          a total order. Scale shape: the windows are per-type
  //          over the DAY grid (metadata-sized), partitioned by type.
  private def q313(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = daily(s, dir)
    val wk = Window.partitionBy(col("k")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = d
      .withColumn("n1", count(lit(1)).over(wk))
      .withColumn("s1", sum(col("cnt")).over(wk))
    val tot = d.groupBy(col("k")).agg(count(lit(1)).as("nt"),
      sum(col("cnt")).as("st"))
    val g = pre.join(tot, "k").filter(col("n1") < col("nt"))
      .withColumn("gain_micro", expr(
        "CAST(floor((CAST(s1 AS DOUBLE)*s1/n1 + " +
        "CAST(st - s1 AS DOUBLE)*(st - s1)/(nt - n1) - " +
        "CAST(st AS DOUBLE)*st/nt) * 1000000) AS BIGINT)"))
    import graft.functions.{ExactRound => ER}
    g.withColumn("rn", row_number().over(Window.partitionBy(col("k"))
        .orderBy(col("gain_micro").desc, col("idx"))))
      .filter(col("rn") === 1)
      .select(col("k").as("event_type"), col("nt").as("n_days"),
        col("day").as("split_day"), col("n1").as("n_left"),
        (col("nt") - col("n1")).as("n_right"),
        ER.ratio6(col("s1"), col("n1")).as("mean_left"),
        ER.ratio6(col("st") - col("s1"), col("nt") - col("n1"))
          .as("mean_right"),
        expr("round(gain_micro / 1e6, 6)").as("gain"))
      .orderBy(col("event_type"))
  }

  private val q313Sql = {
    import graft.functions.{ExactRound => ER}
    s"""WITH $dailySql,
       |pre AS (
       |  SELECT k, day, idx,
       |    CAST(count(*) OVER wk AS BIGINT) AS n1,
       |    CAST(sum(cnt) OVER wk AS BIGINT) AS s1
       |  FROM daily
       |  WINDOW wk AS (PARTITION BY k ORDER BY idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tot AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS nt,
       |    CAST(sum(cnt) AS BIGINT) AS st
       |  FROM daily GROUP BY 1),
       |g AS (
       |  SELECT p.k, p.day, p.idx, p.n1, p.s1, t.nt, t.st,
       |    CAST(floor((CAST(p.s1 AS DOUBLE)*p.s1/p.n1 +
       |      CAST(t.st - p.s1 AS DOUBLE)*(t.st - p.s1)/(t.nt - p.n1) -
       |      CAST(t.st AS DOUBLE)*t.st/t.nt) * 1000000) AS BIGINT)
       |      AS gain_micro
       |  FROM pre p JOIN tot t USING (k) WHERE p.n1 < t.nt),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY k
       |    ORDER BY gain_micro DESC, idx) AS rn
       |  FROM g)
       |SELECT k AS event_type, nt AS n_days, day AS split_day,
       |  n1 AS n_left, CAST(nt - n1 AS BIGINT) AS n_right,
       |  ${ER.sql.ratio6("s1", "n1")} AS mean_left,
       |  ${ER.sql.ratio6("st - s1", "nt - n1")} AS mean_right,
       |  round(gain_micro / 1e6, 6) AS gain
       |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin
  }

  // -- q317: permutation entropy (Bandt & Pompe 2002, order m = 3,
  //          normalized) of each event type's daily-count series —
  //          the ordinal-pattern complexity readout: ~1 for
  //          noise-like series, low for monotone/periodic structure;
  //          robust to monotone transforms of the counts, so it
  //          complements q40's autocorrelation (which is amplitude-
  //          sensitive). Each consecutive day triple maps to one of
  //          6 ordinal patterns via pure integer comparisons (ties
  //          broken by position, the B&P convention); H = −Σp·ln p /
  //          ln 6 over the pattern census. Determinism: the census is
  //          exact integers; per-pattern entropy terms are micro-
  //          floored before the integer sum (the q283 ln contract,
  //          strengthened by quantization). Scale: per-type lag
  //          windows over the day grid (metadata-sized, partitioned).
  private def q317(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(col("idx"))
    val tri = daily(s, dir)
      .withColumn("c0", col("cnt"))
      .withColumn("c1", lead(col("cnt"), 1).over(w))
      .withColumn("c2", lead(col("cnt"), 2).over(w))
      .filter(col("c1").isNotNull && col("c2").isNotNull)
      .withColumn("pattern", expr(
        "( (CASE WHEN c1 < c0 THEN 1 ELSE 0 END) + " +
        "  (CASE WHEN c2 < c0 THEN 1 ELSE 0 END) ) * 9 + " +
        "( (CASE WHEN c0 <= c1 THEN 1 ELSE 0 END) + " +
        "  (CASE WHEN c2 < c1 THEN 1 ELSE 0 END) ) * 3 + " +
        "( (CASE WHEN c0 <= c2 THEN 1 ELSE 0 END) + " +
        "  (CASE WHEN c1 <= c2 THEN 1 ELSE 0 END) )"))
    val cen = tri.groupBy(col("k"), col("pattern"))
      .agg(count(lit(1)).as("np"))
    val tot = cen.groupBy(col("k")).agg(sum(col("np")).as("nt"),
      count(lit(1)).as("n_patterns"))
    cen.join(tot, "k")
      .select(col("k"), col("nt"), col("n_patterns"),
        expr("CAST(floor(-(CAST(np AS DOUBLE)/nt) * " +
          "ln(CAST(np AS DOUBLE)/nt) / ln(6.0) * 1000000) AS BIGINT)")
          .as("hm"))
      .groupBy(col("k")).agg(max(col("nt")).as("n_triples"),
        max(col("n_patterns")).as("n_patterns"),
        sum(col("hm")).as("h_micro"))
      .select(col("k").as("event_type"), col("n_triples"),
        col("n_patterns"),
        expr("round(h_micro / 1e6, 6)").as("perm_entropy"))
      .orderBy(col("event_type"))
  }

  private val q317Sql =
    s"""WITH $dailySql,
       |tri AS (
       |  SELECT k, cnt AS c0,
       |    lead(cnt, 1) OVER wk AS c1, lead(cnt, 2) OVER wk AS c2
       |  FROM daily
       |  WINDOW wk AS (PARTITION BY k ORDER BY idx)),
       |pat AS (
       |  SELECT k,
       |    ( (CASE WHEN c1 < c0 THEN 1 ELSE 0 END) +
       |      (CASE WHEN c2 < c0 THEN 1 ELSE 0 END) ) * 9 +
       |    ( (CASE WHEN c0 <= c1 THEN 1 ELSE 0 END) +
       |      (CASE WHEN c2 < c1 THEN 1 ELSE 0 END) ) * 3 +
       |    ( (CASE WHEN c0 <= c2 THEN 1 ELSE 0 END) +
       |      (CASE WHEN c1 <= c2 THEN 1 ELSE 0 END) ) AS pattern
       |  FROM tri WHERE c1 IS NOT NULL AND c2 IS NOT NULL),
       |cen AS (
       |  SELECT k, pattern, CAST(count(*) AS BIGINT) AS np
       |  FROM pat GROUP BY 1, 2),
       |tot AS (
       |  SELECT k, CAST(sum(np) AS BIGINT) AS nt,
       |    CAST(count(*) AS BIGINT) AS n_patterns
       |  FROM cen GROUP BY 1),
       |terms AS (
       |  SELECT c.k, t.nt, t.n_patterns,
       |    CAST(floor(-(CAST(c.np AS DOUBLE)/t.nt) *
       |      ln(CAST(c.np AS DOUBLE)/t.nt) / ln(6.0) * 1000000)
       |      AS BIGINT) AS hm
       |  FROM cen c JOIN tot t USING (k))
       |SELECT k AS event_type, CAST(max(nt) AS BIGINT) AS n_triples,
       |  CAST(max(n_patterns) AS BIGINT) AS n_patterns,
       |  round(CAST(sum(hm) AS BIGINT) / 1e6, 6) AS perm_entropy
       |FROM terms GROUP BY k ORDER BY event_type""".stripMargin

  // -- q320: interval-overlap join via bucketized equi-join — the
  //          distributed pattern for "join each alert window to every
  //          event inside it" (the incident-correlation query an
  //          observability pipeline runs; reference analogue: the
  //          temporal-proximity scans behind memory_core's evolution
  //          analytics, q26's band join generalized to explicit
  //          intervals). Each error event opens a 10-minute window
  //          [t, t+600); the overlap join maps every window to its ≤2
  //          covering 600 s buckets (explode side = INTERVALS, whose
  //          span/bucket ratio is ≤ 2 by construction), every probe
  //          event to its 1 bucket, equi-joins on the bucket key and
  //          re-checks true containment — the shuffle is a hash join
  //          on a dense integer key instead of the O(|W|·|E|)
  //          cross-range scan a naive range predicate plans (DuckDB's
  //          IEJoin handles that single-node; distributed, the bucket
  //          key IS the partitioner). A window's two bucket rows are
  //          distinct, and a probe has one bucket, so no pair dedupe
  //          is needed. Determinism: second-truncated epochs, integer
  //          counts, cents sums. Scale shape: one shuffle on the
  //          bucket key (AQE splits hot buckets); output linear in
  //          windows with ≥1 hit.
  private val IvWindowSec = 600L

  private def q320(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_id"), col("event_type"),
      expr("CAST(ts AS LONG)").as("sec"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val win = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("sec").as("w0"))
      .withColumn("bkt", explode(array(
        expr(s"w0 div $IvWindowSec"),
        expr(s"w0 div $IvWindowSec + 1"))))
    val probe = ev.filter(col("event_type") =!= "error")
      .withColumn("bkt", expr(s"sec div $IvWindowSec"))
    win.join(probe, "bkt")
      .filter(col("sec") >= col("w0") &&
        col("sec") < col("w0") + IvWindowSec)
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_in_window"),
        sum((col("event_type") === "purchase").cast("long"))
          .as("n_purchase"),
        sum(col("cents")).as("value_cents"))
      .orderBy(col("win_id"))
  }

  private val q320Sql =
    s"""WITH ev AS (
       |  SELECT event_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |w AS (SELECT event_id AS win_id, sec AS w0 FROM ev
       |      WHERE event_type = 'error')
       |SELECT w.win_id, CAST(count(*) AS BIGINT) AS n_in_window,
       |  CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_purchase,
       |  CAST(sum(e.cents) AS BIGINT) AS value_cents
       |FROM w JOIN ev e ON e.event_type <> 'error'
       |  AND e.sec >= w.w0 AND e.sec < w.w0 + $IvWindowSec
       |GROUP BY 1 ORDER BY win_id""".stripMargin

  // -- q332: Markov entropy rate of the behavior chain — how
  //          PREDICTABLE is the next action given the current one:
  //          H(next|prev) = −Σ_ij (n_ij/N)·ln(p_ij) over q215's
  //          transition matrix (Shannon 1948's entropy rate for a
  //          first-order chain under the empirical distribution),
  //          with the per-state conditional entropies H_i alongside —
  //          a state whose H_i ≪ rate is a funnel stage (next step
  //          near-deterministic), one at ln(k) is a wanderer. Uses
  //          the empirical prev-state frequencies as the occupation
  //          weights. Determinism: ln terms are micro-FLOORED per
  //          transition cell before the integer weighted sum (the
  //          q296 contract; the grid is #types² = 25 cells), readouts
  //          via microMean6. Scale shape: q215's user-keyed lead
  //          window → 25-cell grid; everything after is grid-sized.
  private def q332(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactRound
    val W = org.apache.spark.sql.expressions.Window
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      expr("unix_timestamp(ts)").as("sec"), col("event_id"))
    val w = W.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val cnt = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val perPrev = cnt
      .withColumn("n_prev", sum(col("n")).over(
        W.partitionBy(col("prev_type"))))
      .withColumn("lt", expr(
        "CAST(floor(ln(CAST(n AS DOUBLE) / n_prev) * 1000000)" +
          " AS BIGINT)"))
      .groupBy(col("prev_type"))
      .agg(max(col("n_prev")).as("n_prev"),
        sum(col("n") * col("lt")).as("s_micro"))
    val tot = perPrev.agg(sum(col("n_prev")).as("nn"),
      sum(col("s_micro")).as("ss"))
    perPrev.crossJoin(broadcast(tot))
      .select(col("prev_type"), col("n_prev"),
        ExactRound.ratio6(col("n_prev"), col("nn")).as("pi"),
        ExactRound.microMean6(-col("s_micro"), col("n_prev"))
          .as("h_cond_nats"),
        ExactRound.microMean6(-col("ss"), col("nn"))
          .as("entropy_rate_nats"))
      .orderBy(col("prev_type"))
  }

  private val q332Sql = {
    import graft.functions.{ExactRound => ER}
    s"""WITH ev AS (
       |  SELECT user_id, event_type, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |nxt AS (
       |  SELECT event_type AS prev_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY sec, event_id) AS next_type
       |  FROM ev),
       |cnt AS (
       |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |cell AS (
       |  SELECT prev_type, n,
       |    CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
       |      AS n_prev
       |  FROM cnt),
       |per_prev AS (
       |  SELECT prev_type, max(n_prev) AS n_prev,
       |    CAST(sum(n * CAST(floor(ln(CAST(n AS DOUBLE) / n_prev)
       |      * 1000000) AS BIGINT)) AS BIGINT) AS s_micro
       |  FROM cell GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_prev) AS BIGINT) AS nn,
       |  CAST(sum(s_micro) AS BIGINT) AS ss FROM per_prev)
       |SELECT prev_type, n_prev,
       |  ${ER.sql.ratio6("n_prev", "nn")} AS pi,
       |  ${ER.sql.microMean6("-s_micro", "n_prev")} AS h_cond_nats,
       |  ${ER.sql.microMean6("-ss", "nn")} AS entropy_rate_nats
       |FROM per_prev CROSS JOIN tot
       |ORDER BY prev_type""".stripMargin
  }

  // -- q344: rolling 7-day distinct users via DAILY HLL sketches —
  //          the production dashboard pattern (Heule/Nunkesser/Hall
  //          2013 "HyperLogLog in Practice"): exact rolling distincts
  //          need the raw id set per window (unshippable at 100 TB);
  //          mergeable per-day register tables make any window a
  //          register-max roll-up of 7 tiny rows. Registers reuse
  //          q343's constant-table machinery (HyperBall.rhoSql /
  //          pow2Scaled21Sql / estMicroSql — m = 16, micro-floored
  //          estimates via exact integer cross-multiplication); the
  //          roll-up is an EXPLODE-to-7-target-days
  //          equi-join, never a range join. The exact rolling count
  //          rides along as the audit column (affordable here, the
  //          thing the sketch replaces at scale) with the relative
  //          error. Scale shape: one scan → (day × 16) register grid;
  //          everything after is grid-sized.
  private def q344(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.HyperBall
    val du = events(s, dir)
      .select(expr("CAST(ts AS LONG) div 86400").as("day"),
        col("user_id")).distinct()
    // the register table is the shared mergeable state — the
    // streaming twin (sketch/DailyHll, DailyHllStreamSpec) appends
    // per-batch partials of exactly this frame
    val daily = graft.sketch.DailyHll.dailyRegisters(events(s, dir))
    val days = du.select(col("day")).distinct()
    val rolled = daily
      .withColumn("target", explode(sequence(col("day"),
        col("day") + 6)))
      .join(days.withColumnRenamed("day", "target"), "target")
      .groupBy(col("target"), col("j")).agg(max(col("r")).as("r"))
    val est = rolled.groupBy(col("target"))
      .agg(count(lit(1)).as("present"),
        sum(expr(HyperBall.pow2Scaled21Sql("r"))).as("sumpow"))
      .selectExpr("target",
        s"${HyperBall.estMicroSql("present", "sumpow")} AS est_micro")
    val exact = du
      .withColumn("target", explode(sequence(col("day"),
        col("day") + 6)))
      .join(days.withColumnRenamed("day", "target"), "target")
      .groupBy(col("target"))
      .agg(countDistinct(col("user_id")).as("exact_d7"))
    est.join(exact, "target")
      .select(col("target").as("day"), col("exact_d7"),
        (col("est_micro") / lit(1e6)).as("est_d7"),
        expr("round((est_micro / 1e6 - exact_d7) / exact_d7, 6)")
          .as("rel_err"))
      .orderBy(col("day"))
  }

  private val q344Sql = {
    import graft.graph.HyperBall
    val h = graft.text.TextFunctions.sql
      .md5Long("CAST(user_id AS VARCHAR)")
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400
       |    AS day, user_id
       |  FROM events),
       |hashed AS (
       |  SELECT day, ($h % 16 + 16) % 16 AS j,
       |    ${HyperBall.rhoSql(s"(($h // 16) % 1048576 + 1048576)")}
       |      AS r
       |  FROM du),
       |daily AS (
       |  SELECT day, j, CAST(max(r) AS BIGINT) AS r
       |  FROM hashed GROUP BY 1, 2),
       |days AS (SELECT DISTINCT day FROM du),
       |rolled AS (
       |  SELECT t.target, d.j, CAST(max(d.r) AS BIGINT) AS r
       |  FROM daily d
       |  JOIN (SELECT day AS target FROM days) t
       |    ON t.target BETWEEN d.day AND d.day + 6
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT target,
       |    ${HyperBall.estMicroSql("present", "sumpow",
              intDiv = "//")} AS est_micro
       |  FROM (
       |    SELECT target, CAST(count(*) AS BIGINT) AS present,
       |      CAST(sum(${HyperBall.pow2Scaled21Sql("r")}) AS BIGINT)
       |        AS sumpow
       |    FROM rolled GROUP BY 1) p),
       |exact AS (
       |  SELECT t.target,
       |    CAST(count(DISTINCT u.user_id) AS BIGINT) AS exact_d7
       |  FROM du u
       |  JOIN (SELECT day AS target FROM days) t
       |    ON t.target BETWEEN u.day AND u.day + 6
       |  GROUP BY 1)
       |SELECT e.target AS day, x.exact_d7,
       |  e.est_micro / 1e6 AS est_d7,
       |  round((e.est_micro / 1e6 - x.exact_d7) / x.exact_d7, 6)
       |    AS rel_err
       |FROM est e JOIN exact x ON e.target = x.target
       |ORDER BY day""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("q36_temporal_filter", q36, Some(q36Sql)),
    Q("q37_daily_cumulative", q37, Some(q37Sql)),
    Q("q38_trend_slope", q38, Some(q38Sql), headline = true),
    Q("q39_sudden_change", q39, Some(q39Sql)),
    Q("q40_autocorrelation", q40, Some(q40Sql)),
    Q("q41_iqr_outliers", q41, Some(q41Sql)),
    Q("q42_frequent_pairs", q42, Some(q42Sql), headline = true),
    Q("q43_evolution_periods", q43, Some(q43Sql)),
    Q("q211_coverage_gaps", q211, Some(q211Sql)),
    Q("q213_event_funnel", q213, Some(q213Sql)),
    Q("q214_retention_cohorts", q214, Some(q214Sql)),
    Q("q215_markov_transitions", q215, Some(q215Sql)),
    Q("q216_session_paths", q216, Some(q216Sql)),
    Q("q218_activity_deciles", q218, Some(q218Sql)),
    Q("q223_seasonality_chi2", q223, Some(q223Sql)),
    Q("q224_attribution", q224, Some(q224Sql)),
    Q("q227_rfm_segments", q227, Some(q227Sql)),
    Q("q240_km_retention", q240, Some(q240Sql)),
    Q("q241_asof_join", q241, Some(q241Sql)),
    Q("q252_cusum_chart", q252, Some(q252Sql)),
    Q("q253_ewma_chart", q253, Some(q253Sql)),
    Q("q265_stl_decomposition", q265, Some(q265Sql)),
    Q("q272_forecast_backtest", q272, Some(q272Sql)),
    Q("q275_mann_kendall", q275, Some(q275Sql)),
    Q("q276_theil_sen", q276, Some(q276Sql)),
    Q("q281_nelson_aalen", q281, Some(q281Sql)),
    Q("q282_logrank_test", q282, Some(q282Sql)),
    Q("q298_interarrival_burstiness", q298, Some(q298Sql)),
    Q("q313_changepoint_binseg", q313, Some(q313Sql)),
    Q("q317_permutation_entropy", q317, Some(q317Sql)),
    Q("q320_interval_join", q320, Some(q320Sql)),
    Q("q332_markov_entropy_rate", q332, Some(q332Sql)),
    Q("q344_rolling_hll_users", q344, Some(q344Sql)))
}
