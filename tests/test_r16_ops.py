"""Round-16 invariants (optimization round 2): the dq RI broadcast-gate
decision logic as pure footer arithmetic and the tfidf bounded join-back
re-expansion."""

from __future__ import annotations

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark.registry import QUERIES

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_ri_gate_predicate_per_leg():
    """ADVICE r15: the ratio-gate NEGATIVE (orders parent, child:parent
    ratio 4, must stay on the shuffle anti-join) was previously only
    evidenced by a probe + plan file — at sf0.001 Catalyst broadcasts
    that leg on its own estimate, so no plan assert can lock it. The
    predicate is pure footer metadata, so lock the decision itself.
    TPC-H row ratios are SF-invariant, so the same verdicts hold at
    every corpus; asserted at both gate SFs."""
    from kwery_spark.operators.quality import _ri_parent_broadcastable

    for sf in (SF001, SF01):
        # lineitem:orders is ~4 — the measured-loss leg stays shuffled.
        assert not _ri_parent_broadcastable(sf, "lineitem", "orders"), sf
        # lineitem:part ~30, orders:customer ~10, events:customer — all
        # past the >= 6 ratio and byte gates.
        assert _ri_parent_broadcastable(sf, "lineitem", "part"), sf
        assert _ri_parent_broadcastable(sf, "orders", "customer"), sf
        assert _ri_parent_broadcastable(sf, "events", "customer"), sf
        # nation is the spec-constant dim: unconditional.
        assert _ri_parent_broadcastable(sf, "customer", "nation"), sf


def test_q18_limit_below_customer_join(spark):
    """r16 (VERDICT r15 #6): the LIMIT 100 moves below the customer
    join — the top-100 qualifying orders come off the orders⋈oq join as
    a TakeOrderedAndProject and then BROADCAST into a bare customer
    scan, so no custkey exchange exists anywhere in the plan (the r15
    shape shuffled both the qualifying orders and the full customer
    table on custkey). The r15 single-lineitem-pass invariant holds."""
    from kwery_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["q18_large_volume"](spark, SF001))
    assert plan.count("lineitem.parquet") == 1, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "hashpartitioning(c_custkey" not in plan, plan[:3000]
    assert "hashpartitioning(o_custkey" not in plan, plan[:3000]


def test_tfidf_contracted_reexpansion_bounded(spark):
    """r16: the contracted tfidf arm re-expands through a join back to a
    (md5(text), doc_id) projection — no collect_list row linear in clone
    multiplicity anywhere in the plan — and stays value-identical to the
    raw arm (the hardening must not change a single row)."""
    from kwery_spark.plans.inspect import formatted_plan

    spark.conf.set("spark.kwery.contract", "on")
    try:
        df = QUERIES["text_tfidf"](spark, SF001)
        plan = formatted_plan(df)
        assert "collect_list" not in plan, plan[:2000]
        assert "Scan parquet" not in plan  # still checkpoint-fed
        contracted = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.kwery.contract", "auto")
    spark.conf.set("spark.kwery.contract", "off")
    try:
        raw = sorted(map(tuple, QUERIES["text_tfidf"](spark, SF001).collect()))
    finally:
        spark.conf.set("spark.kwery.contract", "auto")
    assert contracted == raw and len(raw) > 0

def test_lckpt_captures_partitioning_under_aqe(spark):
    """r16 capture fix (catalog.snap_captured): with AQE on — the graded
    session state at sf10+/sweeps — a localCheckpoint of an AQE-flexible
    shuffle (repartition(col)/groupBy output) records UnknownPartitioning,
    so a same-key consumer re-exchanges; catalog.lckpt must capture
    hashpartitioning so the consumer plans ZERO exchanges. Each arm
    builds a FRESH frame (a DataFrame's physical plan compiles once, so
    a shared instance would leak the first arm's conf into the second);
    the plain arm pins coalescing off for its snap only, so the tiny
    test frame keeps >1 partition (a 1-partition frame satisfies any
    distribution and would hide the defect)."""
    import pyspark.sql.functions as F

    from kwery_spark.catalog import lckpt, table
    from kwery_spark.plans.inspect import formatted_plan

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def fresh_base():
        return (
            table(spark, SF001, "lineitem")
            .select("l_suppkey")
            .repartition("l_suppkey")
            .groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def consumer_plan(d):
        return formatted_plan(d.groupBy("l_suppkey").agg(F.sum("n").alias("s")))

    captured = lckpt(fresh_base())
    assert consumer_plan(captured).count("Exchange") == 0, consumer_plan(captured)

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        plain = fresh_base().localCheckpoint(eager=True)
        assert plain.rdd.getNumPartitions() > 1
        assert consumer_plan(plain).count("Exchange") >= 1, consumer_plan(plain)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # AQE conf is restored after every snap
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

