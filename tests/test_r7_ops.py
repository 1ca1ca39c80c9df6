"""Invariant tests for the round-7 operator additions — mathematical
properties that must hold regardless of corpus values, checked
independently of the DuckDB oracle (numpy/scipy-free closed-form checks
where applicable)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from kwery_spark.registry import QUERIES, load_all

load_all()


def test_survival_km_is_monotone_decreasing(spark, sf_dir):
    rows = QUERIES["events_survival_km"](spark, sf_dir).collect()
    assert rows, "life table must not be empty"
    prev = 1.0 + 1e-9
    for r in rows:
        assert 0.0 <= r["km_survival"] <= 1.0
        assert r["km_survival"] <= prev + 1e-9  # product-limit never rises
        prev = r["km_survival"]
        assert r["n_risk"] >= r["n_death"] + r["n_censored"] - 1e-9


def test_assoc_rules_measure_identities(spark, sf_dir):
    rows = QUERIES["assoc_basket_rules"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # support/confidence/lift re-derive from the raw counts
        assert abs(r["support"] - round(r["n_ab"] / r["n_baskets"], 6)) < 1e-9
        assert abs(r["confidence"] - round(r["n_ab"] / r["n_ante"], 6)) < 1e-9
        assert r["n_ab"] <= min(r["n_ante"], r["n_cons"])
        assert r["confidence"] <= 1.0 + 1e-9


def test_weighted_sample_is_sorted_unique_topk(spark, sf_dir):
    rows = QUERIES["sample_weighted"](spark, sf_dir).collect()
    assert len(rows) == 100
    assert [r["rk"] for r in rows] == list(range(1, 101))
    assert len({r["doc_id"] for r in rows}) == 100
    keys = [r["key_e6"] for r in rows]
    assert keys == sorted(keys)  # exponential race: smallest keys win


def test_decision_stump_gain_bounds(spark, sf_dir):
    rows = QUERIES["ml_decision_stump"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 22
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    for r in rows:
        # Gini gain of a binary split is bounded by the base impurity <= 0.5
        assert -1e-9 <= r["gain"] <= 0.5 + 1e-9
        assert r["pos_match"] <= r["n_match"]
        assert r["pos_rest"] <= r["n_rest"]


def test_kcore_peel_is_monotone(spark, sf_dir):
    rows = QUERIES["graph_kcore"](spark, sf_dir).collect()
    assert [r["peel_round"] for r in rows] == list(range(0, 7))
    for a, b in zip(rows, rows[1:]):
        assert b["n_users"] <= a["n_users"]  # peeling never adds users
        assert b["n_edges"] <= a["n_edges"]
        assert b["removed_users"] == a["n_users"] - b["n_users"]
        if b["converged"]:
            assert b["removed_users"] == 0


def test_assortativity_is_a_correlation(spark, sf_dir):
    r = QUERIES["graph_assortativity"](spark, sf_dir).collect()[0]
    assert -1.0 - 1e-6 <= r["assortativity"] <= 1.0 + 1e-6
    # Cauchy-Schwarz on the exact sums: (sum jk) <= sum degsq / ... sanity
    assert r["sum_jk"] > 0 and r["sum_degsq"] > 0


def test_calibration_ece_is_weighted_gap_mean(spark, sf_dir):
    rows = QUERIES["ml_calibration_ece"](spark, sf_dir).collect()
    assert rows
    n_tot = sum(r["n"] for r in rows)
    ece_re = sum(abs(r["mean_score"] - r["conv_rate"]) * r["n"] for r in rows) / n_tot
    # all bins carry the same ece column; re-derivation agrees to rounding
    assert abs(rows[0]["ece"] - ece_re) < 5e-6
    for r in rows:
        assert 0.0 <= r["mean_score"] <= 1.0
        assert 0.0 <= r["conv_rate"] <= 1.0


def test_grid_density_neighborhood_superset(spark, sf_dir):
    rows = QUERIES["geo_grid_density"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_hood"] >= r["n_points"]  # 3x3 sum includes the cell
        assert abs(r["smoothed"] - round(r["n_hood"] / 9.0, 6)) < 1e-9


def test_quality_ablation_funnel_monotone(spark, sf_dir):
    rows = QUERIES["pipeline_quality_ablation"](spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == [0, 1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert b["n_docs"] <= a["n_docs"]  # each gate only removes docs
        assert b["n_chars"] <= a["n_chars"]
        assert b["keep_frac"] <= a["keep_frac"] + 1e-9


def test_top_paths_shares_sum_below_one(spark, sf_dir):
    rows = QUERIES["events_top_paths"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    counts = [r["n_sessions"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert sum(r["sess_frac"] for r in rows) <= 1.0 + 1e-6


def test_power_mde_scales_with_sqrt_n(spark, sf_dir):
    rows = QUERIES["events_power_mde"](spark, sf_dir).collect()
    for r in rows:
        # mde re-derives from the emitted variance and n
        expected = round(math.sqrt(7.848887 * 2.0 * r["var_v"] / r["n"]), 6)
        assert abs(r["mde_abs"] - expected) < 5e-6
        assert r["n_per_arm_for_5pct"] > 0


def test_silhouette_in_unit_interval(spark, sf_dir):
    rows = QUERIES["ml_kmeans_silhouette"](spark, sf_dir).collect()
    assert len(rows) == 8
    assert sum(r["n_vecs"] for r in rows) > 0
    for r in rows:
        # argmax-dot assignment makes the simplified silhouette >= 0
        assert -1e-9 <= r["mean_silhouette"] <= 1.0 + 1e-9


def test_inter_arrival_moments_consistent(spark, sf_dir):
    rows = QUERIES["events_inter_arrival"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["mean_gap_sec"] > 0 and r["median_gap_sec"] > 0
        assert r["cv"] >= 0
        # rate re-derives from the mean gap
        assert abs(r["rate_per_hour"] - round(3600.0 / r["mean_gap_sec"], 6)) < max(1e-3, r["rate_per_hour"] * 1e-4)


def test_km_matches_direct_product(spark, sf_dir):
    # recompute the product-limit directly from the emitted life table —
    # a full-precision third opinion on the exp-sum-ln 9dp path
    rows = QUERIES["events_survival_km"](spark, sf_dir).collect()
    s = 1.0
    for r in rows:
        if r["n_death"] >= r["n_risk"]:
            s = 0.0
        else:
            s *= 1.0 - r["n_death"] / r["n_risk"]
        assert abs(r["km_survival"] - s) < 5e-6, (r, s)


def test_stump_gain_recomputes_from_counts(spark, sf_dir):
    rows = QUERIES["ml_decision_stump"](spark, sf_dir).collect()
    n_tot = rows[0]["n_match"] + rows[0]["n_rest"]
    p_tot = rows[0]["pos_match"] + rows[0]["pos_rest"]

    def gini(pos, n):
        if n == 0:
            return 0.0
        p = pos / n
        return 1.0 - p * p - (1.0 - p) * (1.0 - p)

    base = gini(p_tot, n_tot)
    for r in rows:
        split = (
            r["n_match"] * gini(r["pos_match"], r["n_match"])
            + r["n_rest"] * gini(r["pos_rest"], r["n_rest"])
        ) / n_tot
        assert abs(r["gain"] - (base - split)) < 5e-6, r


def test_assortativity_recomputes_from_sums(spark, sf_dir):
    r = QUERIES["graph_assortativity"](spark, sf_dir).collect()[0]
    m = r["n_edges"]
    mean_half = r["sum_deg"] / (2 * m)
    num = r["sum_jk"] / m - mean_half * mean_half
    den = r["sum_degsq"] / (2 * m) - mean_half * mean_half
    assert abs(r["assortativity"] - num / den) < 5e-6, r


def test_srm_chi2_recomputes_from_counts(spark, sf_dir):
    rows = QUERIES["events_srm_guardrail"](spark, sf_dir).collect()
    n_tot = rows[0]["n_total"]
    exp = n_tot / 2.0
    chi2 = sum((r["n_users"] - exp) ** 2 / exp for r in rows)
    for r in rows:
        assert abs(r["chi2"] - chi2) < 5e-6, (r, chi2)
        assert r["srm_ok"] == (1 if chi2 < 3.841459 else 0)


def test_holt_matches_direct_recursion(spark, sf_dir):
    # replay the recursion in python from the raw daily series
    import collections
    rows = QUERIES["events_forecast_holt"](spark, sf_dir).collect()
    from kwery_spark.catalog import table as _t
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum(F.round("value", 2).cast("decimal(18,2)")).cast("double").alias("y"))
        .collect()
    )
    series = collections.defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["d"], r["y"]))
    for et, sv in series.items():
        ys = [y for _, y in sorted(sv)]
        l, b = ys[0], ys[1] - ys[0]
        for y in ys[2:]:
            nl = 0.5 * y + 0.5 * (l + b)
            b = 0.5 * (nl - l) + 0.5 * b
            l = nl
        for r in [r for r in rows if r["event_type"] == et]:
            assert abs(r["forecast"] - (l + r["h"] * b)) < 5e-6, (et, r)


def test_fd_discovery_key_candidates_hold(spark, sf_dir):
    rows = {r["fd"]: r for r in QUERIES["dq_fd_discovery"](spark, sf_dir).collect()}
    assert len(rows) == 10
    for fd, r in rows.items():
        assert r["det_cnt"] <= r["pair_cnt"]
        assert 0.0 < r["strength"] <= 1.0 + 1e-9
        assert r["holds"] == (1 if r["det_cnt"] == r["pair_cnt"] else 0)
    # the PK-shaped determinants are genuine dependencies
    for fd in (
        "orders.o_orderkey->o_orderstatus",
        "customer.c_custkey->c_nationkey",
        "nation.n_nationkey->n_regionkey",
        "supplier.s_suppkey->s_nationkey",
        "part.p_partkey->p_brand",
    ):
        assert rows[fd]["holds"] == 1, fd


def test_rec_cf_cosine_bounds_and_rank(spark, sf_dir):
    rows = QUERIES["rec_item_item_cf"](spark, sf_dir).collect()
    per_brand = {}
    for r in rows:
        assert -1e-9 <= r["cosine"] <= 1.0 + 1e-9
        per_brand.setdefault(r["brand"], []).append((r["rk"], r["cosine"]))
    for b, rs in per_brand.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1)), b
        cosines = [c for _, c in rs]
        assert cosines == sorted(cosines, reverse=True), b


def test_cohort_ltv_cumulative_monotone(spark, sf_dir):
    rows = QUERIES["events_cohort_ltv"](spark, sf_dir).collect()
    per = {}
    for r in rows:
        assert r["n_active"] <= r["cohort_size"]
        per.setdefault(r["cohort_day"], []).append(
            (r["day_offset"], r["cum_ltv_per_user"])
        )
    for c, rs in per.items():
        rs.sort()
        vals = [v for _, v in rs]
        assert vals == sorted(vals), c  # revenue only accumulates


def test_diff_in_diff_recomputes(spark, sf_dir):
    for r in QUERIES["events_diff_in_diff"](spark, sf_dir).collect():
        did = (r["mean_t_post"] - r["mean_t_pre"]) - (
            r["mean_c_post"] - r["mean_c_pre"]
        )
        assert abs(r["did_estimate"] - did) < 5e-6, r


def test_geo_radius_counts_consistent(spark, sf_dir):
    for r in QUERIES["geo_radius_join"](spark, sf_dir).collect():
        assert r["n_matched"] <= r["n_suppliers"]
        assert r["pairs_within"] >= r["n_matched"]
        assert r["min_dist"] == -1.0 or 0.0 <= r["min_dist"] <= 5.0


def test_zonemap_skipping_bounds(spark, sf_dir):
    rows = QUERIES["scan_zonemap_skipping"](spark, sf_dir).collect()
    assert len(rows) == 4
    n_zones = {r["n_zones"] for r in rows}
    assert len(n_zones) == 1  # same zone table for every predicate
    for r in rows:
        assert 0 <= r["n_skipped"] <= r["n_zones"]
        assert abs(r["skip_frac"] - round(r["n_skipped"] / r["n_zones"], 6)) < 1e-9


def test_sft_format_mask_accounting(spark, sf_dir):
    rows = QUERIES["pipeline_sft_format"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_examples"] > 0
        assert 0.0 < r["loss_frac"] <= 1.0
        total = r["prompt_tokens"] + r["loss_tokens"]
        assert abs(r["loss_frac"] - round(r["loss_tokens"] / total, 6)) < 1e-9


def test_temporal_pit_conserves_events(spark, sf_dir):
    from kwery_spark.catalog import table as _t

    rows = QUERIES["join_temporal_pit"](spark, sf_dir).collect()
    n_total = sum(r["n_events"] for r in rows)
    assert n_total == _t(spark, sf_dir, "events").count()


def test_try_safe_null_semantics(spark, sf_dir):
    for r in QUERIES["fn_try_safe"](spark, sf_dir).collect():
        assert (r["safe_div"] is None) == (r["o_orderkey"] % 7 == 0)
        assert r["status_num"] is None  # status letters never cast
        assert r["prio_digit"] is not None  # leading digit always casts
        assert r["first2_digits"] >= 0  # orderkey 0 exists in the corpus


def test_referential_integrity_declared_fks_hold(spark, sf_dir):
    rows = {r["fk"]: r for r in QUERIES["dq_referential_integrity"](spark, sf_dir).collect()}
    assert len(rows) == 5
    # the TPC-H-shaped FKs are generated consistent; events may orphan
    for fk in (
        "lineitem.l_orderkey->orders",
        "lineitem.l_partkey->part",
        "orders.o_custkey->customer",
        "customer.c_nationkey->nation",
    ):
        assert rows[fk]["ri_holds"] == 1, rows[fk]
    for r in rows.values():
        assert 0.0 <= r["orphan_rate"] <= 1.0


def test_cuped_reduction_is_rho_squared(spark, sf_dir):
    for r in QUERIES["events_cuped_adjust"](spark, sf_dir).collect():
        # var_adjusted = var_post * (1 - reduction), within rounding
        assert 0.0 <= r["variance_reduction"] <= 1.0 + 1e-6, r
        lhs = r["var_adjusted"]
        rhs = r["var_post"] * (1.0 - r["variance_reduction"])
        assert abs(lhs - rhs) <= max(1e-4, 1e-5 * abs(r["var_post"])), r
