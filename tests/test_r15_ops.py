"""Round-15 invariants (optimization round): the assoc_basket_rules
orderkey-bucketed arm (VERDICT r14 #4) must be value-identical to the raw
arm and obey the kill switch, and the r15 text_bm25 single-scan rewrite
must keep the registered schema."""

from __future__ import annotations

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark.registry import QUERIES

SF001 = "/root/testdata/sf0.001"


def test_assoc_bucketed_arm_value_identical(spark):
    """r15: assoc_basket_rules reads lineitem from the orderkey-bucketed
    layout when it exists (the basket groupBy(l_orderkey) rides the
    bucketing exchange-free) — rows must be IDENTICAL to the raw-scan
    arm, and the kill switch must force raw. All float columns derive
    from identical integer counts through the same round6 chain, so
    exact equality is the right assert (no cross-arm addend reorder)."""
    from kwery_spark.catalog import build_bucketed

    build_bucketed(spark, SF001)  # idempotent; seconds at sf0.001
    bucketed = sorted(map(tuple, QUERIES["assoc_basket_rules"](spark, SF001).collect()))
    spark.conf.set("spark.kwery.bucketed", "false")
    try:
        raw = sorted(map(tuple, QUERIES["assoc_basket_rules"](spark, SF001).collect()))
    finally:
        spark.conf.unset("spark.kwery.bucketed")
    assert bucketed == raw and len(raw) > 0


def test_bm25_schema_and_rowcount(spark):
    """The r15 single-scan rewrite keeps the registered contract: top-20
    rows, (doc_id, bm25, n_terms_hit) schema, every row hitting >= 1
    query term."""
    df = QUERIES["text_bm25"](spark, SF001)
    assert df.columns == ["doc_id", "bm25", "n_terms_hit"]
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert all(1 <= r.n_terms_hit <= 3 for r in rows)
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)


def _arm_rows(spark, key, mode):
    spark.conf.set("spark.kwery.contract", mode)
    try:
        return sorted(map(tuple, QUERIES[key](spark, SF001).collect()))
    finally:
        spark.conf.set("spark.kwery.contract", "auto")


def test_text_contraction_arms_value_identical(spark):
    """r15 continuation: the gated distinct-text contraction arms of
    text_tfidf / text_rake_keywords / text_pmi_cooccurrence must be
    value-identical to the raw arms under the spark.kwery.contract kill
    switch. Scores are exact-integer ratios pushed through the same
    round chain in both arms (df/N/tf/n_occ/dab decompose exactly over
    distinct texts x multiplicity), so exact tuple equality is the
    right assert."""
    for key in ("text_tfidf", "text_rake_keywords", "text_pmi_cooccurrence"):
        raw = _arm_rows(spark, key, "off")
        contracted = _arm_rows(spark, key, "on")
        assert raw == contracted and len(raw) > 0, key


def test_text_contraction_plan_no_parquet_rescan(spark):
    """Contracted arms collapse all corpus-sized work into the single
    checkpoint build: the FINAL plan must contain no documents parquet
    scan (the before-plans re-scanned documents 6-10x through aliased
    consumers — plans/r15/*_before.txt)."""
    from kwery_spark.plans.inspect import formatted_plan

    spark.conf.set("spark.kwery.contract", "on")
    try:
        for key in ("text_tfidf", "text_rake_keywords", "text_pmi_cooccurrence"):
            plan = formatted_plan(QUERIES[key](spark, SF001))
            assert "Scan parquet" not in plan, key
    finally:
        spark.conf.set("spark.kwery.contract", "auto")


def test_rake_phrase_contraction_single_scan(spark):
    """The raw rake arm (below the clone gate) still contracts at
    phrase level: the FINAL plan is checkpoint-fed (zero parquet scans
    — the one real documents scan lives inside the eager phrase-count
    checkpoint build, outside the inspected plan). The single-vs-two
    scan claim for the build itself is evidenced by the r15 probe
    numbers, not by this assert (ADVICE r15 docstring fix)."""
    from kwery_spark.plans.inspect import formatted_plan

    spark.conf.set("spark.kwery.contract", "off")
    try:
        plan = formatted_plan(QUERIES["text_rake_keywords"](spark, SF001))
        assert "Scan parquet" not in plan  # final plan is checkpoint-fed
    finally:
        spark.conf.set("spark.kwery.contract", "auto")


def test_q18_single_lineitem_pass(spark):
    """r15 continuation: one per-orderkey aggregate serves both the
    HAVING filter and the output sum_qty — the final plan scans
    lineitem ONCE (the old shape scanned and shuffled it twice)."""
    from kwery_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["q18_large_volume"](spark, SF001))
    assert plan.count("lineitem.parquet") == 1, plan[:2000]


def test_q9_gated_broadcasts_fire(spark):
    """r15 continuation: under the footer byte gate the 'red' part key
    set and the supplier (s_suppkey, s_nationkey) map broadcast — the
    semi and supplier joins are BHJs, leaving the orderkey SMJ as the
    only lineitem exchange."""
    from kwery_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["q9_product_profit"](spark, SF001))
    assert "BroadcastHashJoin LeftSemi" in plan, plan[:3000]
    assert plan.count("SortMergeJoin") <= 1, plan[:3000]


def test_dq_ri_ratio_gated_broadcasts(spark):
    """r15 continuation: parent key sets broadcast only under BOTH the
    byte gate and the child:parent row-ratio >= 6 gate — part/customer
    legs are broadcast anti-joins, the orders leg (ratio 4, measured
    slower broadcast) stays a shuffle anti-join."""
    from kwery_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["dq_referential_integrity"](spark, SF001))
    assert plan.count("BroadcastHashJoin LeftAnti") >= 3, plan[:3000]
    # The orders leg carries no explicit hint (ratio 4 < 6) — at
    # sf0.001 Catalyst still broadcasts it on its own size estimate, so
    # the shuffle fallback is only visible at scale: the sf10 probe
    # (probe heavy_keys_decomp, BASELINE.md "Retired probes") and the captured
    # plans/r15/dq_referential_integrity_after.txt show that leg as the
    # single remaining SortMergeJoin LeftAnti.
