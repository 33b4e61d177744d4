package graft

import graft.monitoring.AlertRules

/** Pins the AlertManager semantics (alert_config.py:321-389): the
  * five-way condition arithmetic, unknown-condition fail-closed, and the
  * cooldown throttle's emitted-chain greediness (suppression measures
  * from the last EMITTED alert, not the last triggered one). */
class AlertRulesSpec extends SparkSpec {
  import spark.implicits._

  test("evaluate applies the five comparators; unknown conditions never fire") {
    val metrics = Seq(
      (0L, "cpu_percent", 90.0),    // gt 85 fires, gt 95 does not
      (0L, "cache_hit_rate", 0.3),  // lt 0.3: boundary does NOT fire
      (0L, "mystery", 1.0))
      .toDF("ts", "metric_type", "value")
    val rules = AlertRules.defaults :+
      AlertRules.Rule("odd", "mystery", "between", 0.5, "warning")
    val fired = AlertRules.evaluate(metrics, rules)
      .select("rule_name").collect().map(_.getString(0)).sorted
    assert(fired.toSeq == Seq("high_cpu_utilization"))
  }

  test("throttle emits the greedy chain per rule") {
    // rule a triggers at 0,100,200,400 with cooldown 300:
    // emit 0; 100/200 inside cooldown of 0; 400 - 0 >= 300 -> emit.
    // rule b is independent state.
    val trig = Seq(
      ("a", 0L, "warning", 1.0, 0.5),
      ("a", 100L, "warning", 1.0, 0.5),
      ("a", 200L, "warning", 1.0, 0.5),
      ("a", 400L, "warning", 1.0, 0.5),
      ("b", 150L, "critical", 2.0, 0.5))
      .toDF("rule_name", "ts", "severity", "value", "threshold")
    val out = AlertRules.throttle(trig, 300L)
      .select("rule_name", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq(("a", 0L), ("a", 400L), ("b", 150L)))
  }
}
