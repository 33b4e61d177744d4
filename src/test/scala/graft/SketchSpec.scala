package graft

import graft.queries.Catalog

/** Sketch-audit invariants (q250 HLL, q251 count-min). */
class SketchSpec extends SparkSpec {

  test("q250: register partition identity and HLL error envelope") {
    val rows = Catalog.byName("q250_hll_distinct").run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the monoid law: per-day max-merged registers == direct registers
      assert(r.getAs[Boolean]("merge_consistent"),
        s"merge mismatch for ${r.getAs[String]("event_type")}")
      val active = r.getAs[Long]("active_registers")
      val zero = r.getAs[Long]("zero_registers")
      assert(active + zero == 256L)
      assert(active > 0L)
      // 1.04/sqrt(256) = 6.5% standard error; allow 4 sigma plus the
      // uncorrected small-range bias visible through zero_registers
      val relErr = math.abs(r.getAs[Double]("rel_err"))
      assert(relErr < 0.30, s"rel_err $relErr out of envelope")
      assert(r.getAs[Double]("hll_estimate") > 0.0)
    }
  }

  test("q251: count-min never undercounts and bounds hold at sketch width") {
    val rows = Catalog.byName("q251_cms_heavy_hitters").run(spark, sf).collect()
    assert(rows.nonEmpty, "expected heavy hitters at cnt*2000 >= total")
    rows.foreach { r =>
      val t = r.getAs[Long]("true_cnt")
      val e = r.getAs[Long]("cms_est")
      assert(e >= t, s"CMS undercounted ${r.getAs[String]("token")}: $e < $t")
      assert(r.getAs[Long]("overcount") == e - t)
    }
    // d=4 rows of w=1024: expected overcount N/1024 per row; the min of
    // four should keep at least one heavy hitter inside the 2N/w bound
    assert(rows.exists(_.getAs[Boolean]("within_bound")))
  }

  test("q264: inclusion-exclusion overlap tracks the exact intersection") {
    val rows = Catalog.byName("q264_hll_overlap").run(spark, sf).collect()
    assert(rows.nonEmpty)
    var exTot = 0L; var errAbs = 0.0
    rows.foreach { r =>
      val ex = r.getAs[Long]("n_exact_overlap")
      exTot += ex
      errAbs += math.abs(r.getAs[Double]("err"))
      assert(math.abs(r.getAs[Double]("err") -
        (r.getAs[Double]("hll_overlap_est") - ex)) < 1e-6)
    }
    assert(exTot > 0, "event types should share users")
    // inclusion-exclusion inherits ~3x single-sketch error; demand the
    // aggregate estimate lands within 60% of the aggregate truth
    assert(errAbs / exTot < 0.6, s"aggregate err $errAbs vs $exTot")
  }

  test("q261: bottom-k merge law holds and KMV stays in its envelope") {
    val rows = Catalog.byName("q261_bottomk_kmv").run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // per-day bottom-k unioned and re-truncated == direct bottom-k
      assert(r.getAs[Boolean]("merge_consistent"))
      val n = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("kmv_estimate")
      if (n < 32L) assert(est == n) // sketch holds everything: exact
      else {
        assert(r.getAs[Long]("n_kept") == 32L)
        // 1/sqrt(k-1) ~ 18% std error; allow ~3 sigma
        assert(math.abs(r.getAs[Double]("rel_err")) < 0.6,
          s"${r.getAs[String]("event_type")}: est=$est n=$n")
      }
    }
  }

  test("q259: histogram quantiles bracket the exact order statistics") {
    val rows = Catalog.byName("q259_histogram_quantiles").run(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // partial histograms summed == direct (the monoid law)
      assert(r.getAs[Boolean]("merge_consistent"))
      val est = r.getAs[Double]("hist_estimate")
      val exact = r.getAs[Long]("exact_value")
      // the exact value lives inside the estimate's bin: the estimate
      // can miss by at most one 64-char bin width on either side —
      // except in the OPEN top bin (values >= 4032), where the sketch
      // only promises the bin floor
      if (exact < 64L * 63L)
        assert(math.abs(est - exact) <= 64.0 + 1e-9,
          s"${r.getAs[String]("source")} q${r.getAs[Long]("q_pct")}: " +
            s"est=$est exact=$exact")
    }
    // quantile estimates are monotone in q within a source
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val byQ = rs.sortBy(_.getAs[Long]("q_pct"))
        .map(_.getAs[Double]("hist_estimate"))
      assert(byQ.zip(byQ.tail).forall { case (a, b) => a <= b })
    }
  }
}
