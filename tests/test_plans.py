"""Plan-shape tests: lock in the Catalyst behaviors the engine relies on
(SURVEY.md §4). A change that silently turns a broadcast join into a
shuffle join, or drops parquet filter pushdown, fails here."""

from __future__ import annotations

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from kwery_spark.catalog import table
from kwery_spark.plans import inspect


def _q(name):
    return entrymod.queries()[name]


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = _q("filter_compare")(spark, sf_dir)
    assert inspect.has_pushed_filters(df), inspect.formatted_plan(df)


def test_column_pruning_reaches_reader(spark, sf_dir):
    df = _q("scan_projected")(spark, sf_dir)
    cols = inspect.read_schema_columns(df)
    assert set(cols) == {"o_orderkey", "o_totalprice", "o_orderstatus"}, cols


def test_q1_prunes_unused_columns(spark, sf_dir):
    df = _q("q1_pricing_summary")(spark, sf_dir)
    cols = inspect.read_schema_columns(df)
    # 11-column table, 7 needed
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols


def test_dim_joins_are_broadcast(spark, sf_dir):
    df = _q("join_broadcast")(spark, sf_dir)
    assert inspect.has_broadcast_join(df), inspect.formatted_plan(df)


def test_topk_fuses_to_take_ordered(spark, sf_dir):
    df = _q("topk")(spark, sf_dir)
    assert inspect.has_take_ordered(df), inspect.formatted_plan(df)


def test_q1_is_wholestage_codegen(spark, sf_dir):
    df = _q("q1_pricing_summary")(spark, sf_dir)
    assert inspect.has_wholestage_codegen(df)


def test_q1_single_shuffle(spark, sf_dir):
    # scan → partial agg → ONE exchange → final agg (+ sort exchange is
    # fused into TakeOrdered-like sort; allow <=2)
    df = _q("q1_pricing_summary")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_asof_join_is_single_shuffle(spark, sf_dir):
    # the union+window as-of formulation should shuffle once (on user_id),
    # not per-side
    df = _q("join_asof")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 1, inspect.formatted_plan(df)


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    df = _q("join_range")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "NestedLoop" not in plan, plan


def test_events_ts_is_timestamp(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_theta_join_broadcasts_small_side(spark, sf_dir):
    df = _q("join_theta")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_bucketed_join_has_no_shuffle_before_agg(spark, sf_dir):
    # both sides bucketed+sorted by the join key with equal bucket counts:
    # the join itself must need no Exchange; the only shuffle allowed in
    # the whole plan is the post-aggregation one.
    df = _q("sink_bucketed")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 1, inspect.formatted_plan(df)
    assert "SortMergeJoin" in inspect.formatted_plan(df)


def test_decontaminate_is_equi_join_no_cartesian(spark, sf_dir):
    # gram-hash equi-join: the plan must contain hash/merge joins only —
    # a nested-loop/cartesian here would mean the gram blocking broke
    df = _q("dedup_decontaminate")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_merge_upsert_joins_on_key(spark, sf_dir):
    # MERGE core: full-outer join must stay a shuffle/sort-merge or hash
    # join on the key — never nested-loop
    df = _q("merge_upsert")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join FullOuter" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_scd2_windows_share_one_user_shuffle(spark, sf_dir):
    # lag-flag, cumsum, and collapse all partition by o_custkey: Catalyst
    # should reuse the partitioning instead of re-exchanging per window
    df = _q("scd2_dimension")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_sessionize_single_user_shuffle(spark, sf_dir):
    df = _q("events_sessionize")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_chunking_no_shuffle(spark, sf_dir):
    # per-doc chunk explosion is narrow: zero exchanges
    df = _q("doc_chunking")(spark, sf_dir)
    assert inspect.shuffle_count(df) == 0, inspect.formatted_plan(df)


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    # directory-level partition pruning: a segment filter over the
    # partitionBy(c_mktsegment) layout must land in PartitionFilters, not
    # a post-scan Filter over all partitions
    from kwery_spark.sources.scans import _scratch

    _q("sink_partitioned")(spark, sf_dir).collect()  # materialize the layout
    out = _scratch("parquet", "customer_by_segment")
    df = (
        spark.read.parquet(out)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    plan = inspect.formatted_plan(df)
    assert "PartitionFilters" in plan and "BUILDING" in plan, plan


def test_pretraining_corpus_shuffle_budget(spark, sf_dir):
    # flagship composition: gram join + dedup hash + final agg (+ AQE
    # bookkeeping) — must not balloon into per-stage re-exchanges or
    # fall back to a cartesian
    df = _q("pipeline_pretraining_corpus")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert inspect.shuffle_count(df) <= 6, inspect.formatted_plan(df)


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    # the OR-of-ANDs spans both join sides; Catalyst must derive the
    # per-side implied filters and push them into BOTH parquet scans
    df = _q("q19_discounted_revenue")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert plan.count("PushedFilters: [") >= 2, plan
    assert "Or(" in plan, plan  # the derived disjunction reached a scan


def test_q18_and_q10_fuse_topk(spark, sf_dir):
    for key in ("q18_large_volume", "q10_returned_items"):
        df = _q(key)(spark, sf_dir)
        assert inspect.has_take_ordered(df), inspect.formatted_plan(df)


def test_q15_no_global_sort(spark, sf_dir):
    # rank-1 selection must be TakeOrderedAndProject, never a range
    # exchange + full sort
    df = _q("q15_top_supplier")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.has_take_ordered(df), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    # the dim-side filter must reach the fact scan as a dynamic partition
    # pruning subquery — the whole point of scan_partition_pruned
    df = _q("scan_partition_pruned")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_streaks_single_user_shuffle(spark, sf_dir):
    # one explicit repartition(user_id) must serve the day-dedup, both
    # windows, both aggregates, and the final join — no further Exchange
    df = _q("events_streaks")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 1, inspect.formatted_plan(df)


def test_cdc_apply_single_key_shuffle(spark, sf_dir):
    # ranking window and op counters both partition on user_id
    df = _q("warehouse_cdc_apply")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_triangle_count_no_cartesian(spark, sf_dir):
    # every pair/wedge/closing join must be an equi-join on node keys;
    # the only BNLJ allowed is the 1-row summary counter broadcast
    df = _q("graph_triangle_count")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_q21_single_fact_aggregation(spark, sf_dir):
    # the double-correlated-EXISTS rewrite exists to touch lineitem ONCE:
    # join-to-orders + per-order aggregation + bounded final agg must
    # stay within 3 exchanges — the spec shape (two correlated
    # self-joins of lineitem) costs at least 6. r12: the per-order
    # distinct aggregates factored into plain max/count aggregations
    # over the join's orderkey partitioning — the plan must never
    # regrow the Expand (x3 row multiplication) or its extra exchange.
    df = _q("q21_waiting_suppliers")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.shuffle_count(df) <= 3, plan
    assert inspect.has_take_ordered(df), plan
    assert "Expand" not in plan, plan


def test_q16_two_exchanges_no_expand(spark, sf_dir):
    # r12 shape: one broadcast-mapped fact pass + the two-phase
    # COUNT(DISTINCT) exchange pair; the old intermediate pair-DISTINCT
    # (a third full-fact exchange) and the wide 4-column part broadcast
    # must not come back. The gid triple table is checkpointed, so its
    # build shuffle is outside the query plan.
    df = _q("q16_supplier_part_counts")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.shuffle_count(df) <= 2, plan
    assert inspect.has_broadcast_join(df), plan
    assert "Expand" not in plan, plan
    assert inspect.has_take_ordered(df), plan


def test_q2_dims_broadcast_no_cartesian(spark, sf_dir):
    # part/nation/region ride along as broadcasts; the supply aggregation
    # and the per-part window are the only exchanges
    df = _q("q2_min_cost_supplier")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan
    assert inspect.shuffle_count(df) <= 2, plan


def test_q11_total_is_broadcast_not_collected(spark, sf_dir):
    # the fraction-of-total threshold must enter the plan as a broadcast
    # 1-row aggregate (BroadcastNestedLoopJoin over a single row), never
    # a driver-side scalar
    df = _q("q11_important_parts")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.has_broadcast_join(df), plan
    assert inspect.shuffle_count(df) <= 3, plan


def test_bm25_single_scan_stats_broadcast(spark, sf_dir):
    # r15 single-scan shape: the final plan reads ONLY the per-doc
    # profile checkpoint (documents parquet absent — the scan ran once,
    # inside the checkpoint job), corpus stats arrive as a 1-row
    # broadcast aggregate (declared BNLJ), the sole Exchange is that
    # aggregate's SinglePartition merge, and the top-20 fuses to
    # TakeOrderedAndProject — no global sort exchange
    df = _q("text_bm25")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.has_take_ordered(df), plan
    assert "Scan parquet" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert inspect.shuffle_count(df) <= 1, plan


def test_ab_test_single_user_shuffle(spark, sf_dir):
    # per-user collapse shuffles once on user_id; the 2-row arm pivot
    # and the final 1-row stats add at most one tiny exchange each
    df = _q("events_ab_test")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 3, inspect.formatted_plan(df)


def test_txnlog_read_is_plain_scan(spark, sf_dir):
    # log replay resolves to a plain multi-directory parquet scan:
    # committed-version reads carry no extra joins or exchanges beyond
    # the final aggregate in the key itself
    from kwery_spark.sources.txnlog import TxnLogTable

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        t = TxnLogTable(d)
        t.commit(spark, spark.range(100).selectExpr("id", "id % 7 AS k"), "append")
        t.commit(spark, spark.range(100, 150).selectExpr("id", "id % 7 AS k"), "append")
        df = t.read(spark)
        assert inspect.shuffle_count(df) == 0, inspect.formatted_plan(df)
        assert df.count() == 150


def test_mm_decode_stays_arrow_batched(spark, sf_dir):
    # the two-stage encode/decode pipeline must plan as mapInPandas
    # (ArrowEvalPython / MapInPandas), never row-at-a-time Python
    df = _q("mm_decode_features")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_join_hint_forces_shuffled_hash(spark, sf_dir):
    # the hint must land: ShuffledHashJoin in the executed plan, no
    # sort-merge fallback (hints change local algorithm, not results)
    df = _q("join_hinted")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_apply_rules_are_broadcast(spark, sf_dir):
    # the three merge rules must ride as broadcasts (narrow maps over
    # the word stream) — a shuffled rule join would be a regression
    df = _q("pipeline_bpe_apply")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_forecast_single_series_shuffle(spark, sf_dir):
    # daily rollup shuffles once; ranking window + final aggregate must
    # reuse the event_type partitioning rather than re-exchange
    df = _q("events_forecast_ses")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 3, inspect.formatted_plan(df)


def test_partition_overwrite_readback_prunes(spark, sf_dir):
    # the read-back of the partitioned table must scan partition dirs
    # (partition column not in the data ReadSchema)
    df = _q("sink_partition_overwrite")(spark, sf_dir)
    cols = inspect.read_schema_columns(df)
    assert "c_mktsegment" not in cols, cols


def test_bucketed_tpch_paths_exchange_free(spark, sf_dir):
    # the offline bucketed layout (catalog.build_bucketed) must make the
    # q3 plan's lineitem-side aggregation AND the orders join run with
    # NO shuffle exchange at all (broadcast exchanges are fine), and cap
    # q5 at the single tiny n_name aggregation exchange. This is the
    # bench-path plan; the correctness gate never engages it (no CBO).
    import re

    from kwery_spark.catalog import build_bucketed

    build_bucketed(spark, sf_dir)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        for key, max_shuffles in (
            ("q3_shipping_priority", 0),
            ("q5_local_supplier", 1),
        ):
            df = _q(key)(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
            assert len(shuffles) <= max_shuffles, (key, shuffles)
            if key == "q5_local_supplier":
                # the <=25-key ASIA literal derived from the constant
                # nation table must reach the customer parquet scan as a
                # pushed In() — the broadcast-join form of the same
                # pruning measured 2.4x slower at sf10 (cannot push)
                assert re.search(r"PushedFilters: \[[^\]]*In\(c_nationkey", plan), plan
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")


def test_bloom_prune_filter_is_broadcast(spark, sf_dir):
    # the 1024-word bloom bitmap must reach the probe as a broadcast —
    # a shuffled join on word_idx would ship the orders scan instead
    df = _q("agg_bloom_prune")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "BroadcastExchange" in plan, plan


def test_bitmap_distinct_two_bounded_shuffles(spark, sf_dir):
    # (priority, word) then priority — the mergeable-bitmap rollup must
    # not add exchanges beyond the two bounded-key aggregations plus the
    # count-distinct check's own pair
    df = _q("agg_bitmap_distinct")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 5, inspect.formatted_plan(df)


def test_profile_table_single_scan(spark, sf_dir):
    # r16 REVERSAL of the r5 one-pass lock: the single multi-distinct
    # aggregate planned an Expand x7 (rows x columns through the partial
    # agg — ~30 s of the 37 s sf30 key, probe profile_decomp,
    # BASELINE.md "Retired probes");
    # the profile now runs one single-distinct aggregate PER column.
    # Lock the new shape: exactly 6 parquet scans, each pruned to ONE
    # column, and no Expand anywhere.
    df = _q("profile_table")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    import re as _re

    scan_ids = set(_re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 6, plan
    assert "Expand" not in plan, plan
    read_cols = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_cols and all("," not in rc for rc in read_cols), read_cols


def test_dq_fk_check_broadcasts_dimension(spark, sf_dir):
    # orders→customer referential check: at gate SF the pruned dimension
    # key column sits under autoBroadcastJoinThreshold and AQE broadcasts
    # it WITHOUT an explicit hint (the hint was dropped in r6 because
    # customer grows with SF — ADVICE r5); no cartesian anywhere.
    df = _q("dq_expectations")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_attribution_reuses_user_sort(spark, sf_dir):
    # all window passes partition by user_id; Catalyst must not exceed the
    # window exchanges + final 5-group aggregate (no join exchanges at all)
    df = _q("events_attribution")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 4, inspect.formatted_plan(df)


def test_cms_sketch_probe_is_broadcast(spark, sf_dir):
    # the 40-row query side must broadcast against the 1024-cell sketch
    df = _q("agg_cms_estimate")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "BroadcastExchange" in plan, plan


def test_common_neighbors_no_cartesian(spark, sf_dir):
    # the degree-capped pair join must stay an equi-join on custkey
    df = _q("graph_common_neighbors")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert inspect.has_take_ordered(df), plan


def test_skew_twophase_bounded_shuffles(spark, sf_dir):
    # (flag, salt) partials then flag merge + the direct-agg proof side:
    # all exchanges carry bounded-cardinality keys
    df = _q("agg_skew_twophase")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 4, inspect.formatted_plan(df)


def test_phash_dedup_no_pair_join(spark, sf_dir):
    # signature clustering must be a groupBy, never a self-join
    df = _q("mm_phash_dedup")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_snapshot_diff_keyed_joins(spark, sf_dir):
    # the version diff is anti/inner joins on the primary key — no
    # cartesian anywhere
    df = _q("warehouse_snapshot_diff")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_zipf_regression_is_tiny_after_rank(spark, sf_dir):
    # word counts partial-aggregate; the top-100 rank + moments run on
    # vocabulary-sized data (single window over the wc aggregate)
    df = _q("text_zipf_fit")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 6, inspect.formatted_plan(df)


def test_vocab_topk_windows_are_take_ordered(spark, sf_dir):
    # r6 (VERDICT r5 #1): the vocabulary top-K in pmi/zipf must be a
    # distributed TakeOrderedAndProject, never a single-partition
    # row_number window over the full (open at 100 TB) vocabulary.
    pmi = _q("text_pmi_cooccurrence")(spark, sf_dir)
    plan = inspect.formatted_plan(pmi)
    assert inspect.has_take_ordered(pmi), plan
    assert "Window" not in plan, plan  # pmi needs NO window at all
    zipf = _q("text_zipf_fit")(spark, sf_dir)
    zplan = inspect.formatted_plan(zipf)
    assert inspect.has_take_ordered(zipf), zplan
    # zipf's residual rank window runs AFTER the limit(100) — its input
    # is structurally capped (GLOBAL_WIN bound in tools/audit_plans.py)


def test_boilerplate_segments_contracted_no_pairs(spark, sf_dir):
    # r6: segment explode runs over DISTINCT (lang, content) — the plan
    # must contain the content-contraction aggregate and no pair join
    # of any kind (this op never forms doc x doc pairs)
    df = _q("dedup_boilerplate_segments")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    import re

    keys = [
        re.sub(r"#\d+L?", "", ln.strip())
        for ln in plan.splitlines()
        if ln.strip().startswith("Keys")
    ]
    assert any("chash" in k for k in keys), keys


def test_drift_psi_window_is_partitioned(spark, sf_dir):
    # r6: the argmax worst-bucket window partitions by priority — the
    # GLOBAL_WIN audit class must not reappear here
    df = _q("dq_drift_psi")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # formatted plans put "Window" and its windowspecdefinition arguments
    # on DIFFERENT lines, so requiring both on one line matched nothing
    # and the assertion was vacuous (ADVICE r6) — match the spec line
    # alone and require it to exist
    win_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert win_lines, plan
    for ln in win_lines:
        assert "prio" in ln, ln


def test_asof_nearest_single_shuffle_no_join(spark, sf_dir):
    # r7: both-direction as-of is the union+window formulation — one
    # shuffle on user_id, and NO join node anywhere (DuckDB pays two
    # ASOF passes; we pay none)
    df = _q("join_asof_nearest")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Join" not in plan, plan
    assert inspect.shuffle_count(df) <= 1, plan


def test_minhash_containment_contracted_no_pair_space(spark, sf_dir):
    # r7: candidates come from the equi-join ON THE SHINGLE with a df
    # cap — no cartesian/BNLJ pair space. r8: the content contraction
    # (groupBy ckey) moved INSIDE the eager shingle checkpoint, so the
    # final plan must be checkpoint-fed end to end (no parquet scan —
    # one reappearing means the shingle pipeline is re-evaluated per
    # join side, the 127 s sf10 regression the checkpoint removed);
    # the pair join must still block on the shingle itself
    df = _q("text_minhash_containment")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan
    import re

    join_keys = [
        re.sub(r"#\d+L?", "", ln.strip())
        for ln in plan.splitlines()
        if ln.strip().startswith(("Left keys", "Right keys"))
    ]
    assert any(k.endswith("[g]") for k in join_keys), join_keys


def test_cdc_feed_append_path_reads_only_added_files(spark, sf_dir):
    # r7: append commits take the no-join fast path (read the ADDed
    # files), so the whole feed plan contains exactly ONE join — the
    # replace commit's primary-key full-outer diff
    df = _q("stream_cdc_feed")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    joins = [ln for ln in plan.splitlines() if ln.startswith("Join type:")]
    assert joins == ["Join type: FullOuter"], joins


def test_triangle_count_is_content_contracted(spark, sf_dir):
    # r7: all graph arithmetic runs on hour-set representatives — the
    # plan must aggregate on the content key (md5 hour-set) before any
    # pair join; the 2.85B-row per-hour USER pair join (r6 sf10 timeout)
    # must not reappear
    df = _q("graph_triangle_count")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    import re

    keys = [
        re.sub(r"#\d+L?", "", ln.strip())
        for ln in plan.splitlines()
        if ln.strip().startswith("Keys")
    ]
    assert any("ck" in k for k in keys), keys
    # user_id may appear only in the per-user hour-set build, never as a
    # join key (the pair space is rep-level)
    join_lines = [
        ln for ln in plan.splitlines() if "Join condition" in ln or "keys" in ln
    ]
    assert not any("user_id" in ln for ln in join_lines), join_lines


def test_pareto_frontier_contracts_then_broadcasts(spark, sf_dir):
    # r7: the skyline runs on the contracted (size, min_price) set —
    # one hash exchange (the size groupBy), the dominance window over
    # the <=50 contracted rows (declared GLOBAL_WIN, audit-measured),
    # and a broadcast join back; never a pair-space dominance join
    df = _q("topk_pareto_frontier")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the size groupBy + the <=50-row single-partition window exchange
    assert inspect.shuffle_count(df) <= 2, plan


def test_bootstrap_ci_folds_fanout_map_side(spark, sf_dir):
    # r7: the 32x Poisson fan-out must collapse inside the scan stage —
    # a partial HashAggregate on (event_type, b) BEFORE the first
    # exchange — so the shuffle carries |types| x 32 rows, not 32x the
    # input; no join fan-out anywhere (the only join is the tiny
    # base-stats broadcast)
    df = _q("events_bootstrap_ci")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # (event_type, b) groupBy + type window + base-stats groupBy
    assert inspect.shuffle_count(df) <= 3, plan
    # a (event_type, b) grouping must exist — the partial aggregate that
    # folds the 32x explode before its exchange ships anything
    import re

    keys = [
        re.sub(r"#\d+L?", "", ln.strip())
        for ln in plan.splitlines()
        if ln.strip().startswith("Keys")
    ]
    assert any("event_type" in k and ", b" in k for k in keys), keys


def test_logistic_irls_single_data_pass(spark, sf_dir):
    # r7: the three unrolled IRLS rounds must iterate over the <=168-row
    # localCheckpointed grid — the events parquet is scanned ONCE at
    # checkpoint time and must not appear in the final plan at all
    df = _q("ml_logistic_irls")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "events.parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mmr_rerank_candidates_take_ordered(spark, sf_dir):
    # r7: candidate generation must fuse to TakeOrderedAndProject (the
    # only data-scale stage); the greedy rounds run over the 20-row
    # checkpoint, so the embeddings parquet is absent from the final
    # plan and no corpus-level pair space exists
    df = _q("sim_mmr_rerank")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "embeddings.parquet" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_benford_contracts_to_nine_rows(spark, sf_dir):
    # r7: one groupBy to <=9 digit rows; the total window runs over
    # those (declared GLOBAL_WIN); the scan reads only o_totalprice
    df = _q("dq_benford")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert inspect.shuffle_count(df) <= 2, plan
    cols = inspect.read_schema_columns(df)
    assert cols == ["o_totalprice"], cols


def test_lorenz_gini_single_type_shuffle(spark, sf_dir):
    # r7: ranking window and aggregate share the event_type partitioning
    df = _q("events_lorenz_gini")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_assoc_rules_pairs_from_explode_not_self_join(spark, sf_dir):
    # r7: rule pairs are generated map-side by a double explode over each
    # basket's <=25-element brand set — never a row-level self-join on a
    # content key; the only nested-loop site is the declared 1-row
    # basket-count broadcast
    df = _q("assoc_basket_rules")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("Generate") >= 2, plan[:2000]


def test_survival_km_scan_prunes_to_user_ts(spark, sf_dir):
    # r7: the only data-scale stage is the user-lifetime aggregate; the
    # events scan must read exactly (user_id, ts), and the cumulative
    # windows run over the <=31-row life-table grid (declared GLOBAL_WIN)
    df = _q("events_survival_km")(spark, sf_dir)
    cols = inspect.read_schema_columns(df)
    assert set(cols) <= {"user_id", "ts"}, cols


def test_geo_radius_join_is_cell_equi_join(spark, sf_dir):
    # r7: the spatial candidate join must hash on the 5-degree grid cell
    # (supplier side statically replicated 9x) — never a nested loop over
    # |S| x |C| with the distance as the join predicate
    df = _q("geo_radius_join")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_sample_weighted_take_ordered(spark, sf_dir):
    # r7: the exponential-race top-100 must fuse to TakeOrderedAndProject
    # (per-task partial top-k, no global sort); the rank window runs over
    # the 100 survivors only (declared GLOBAL_WIN)
    df = _q("sample_weighted")(spark, sf_dir)
    assert inspect.has_take_ordered(df), inspect.formatted_plan(df)


def test_decision_stump_bounded_grid(spark, sf_dir):
    # r7: the 3x feature fan-out explodes inside the scan stage and
    # map-side combine folds it to <=22 candidate rows before the only
    # data shuffle; the orders scan reads exactly the three input columns
    df = _q("ml_decision_stump")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    cols = inspect.read_schema_columns(df)
    assert set(cols) <= {"o_orderstatus", "o_orderdate", "o_orderpriority"}, cols


def test_kcore_runs_on_checkpointed_contraction(spark, sf_dir):
    # r7: the peel iterates over the localCheckpointed rep frames — the
    # events parquet is scanned once at contraction time and must be
    # absent from the final plan (the ml_logistic_irls discipline)
    df = _q("graph_kcore")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "events.parquet" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_rec_cf_pairs_from_explode_not_self_join(spark, sf_dir):
    # r7: similarity contributions explode map-side from each user's
    # <=25-entry brand vector; norms broadcast; never a row-level
    # self-join on a content key
    df = _q("rec_item_item_cf")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("Generate") >= 2, plan[:2000]
    assert inspect.has_broadcast_join(df), plan[:2000]


def test_fd_discovery_prunes_each_scan(spark, sf_dir):
    # r7: every candidate reads exactly its two columns — spot-check the
    # formatted plan carries no wide ReadSchema (o_totalprice would only
    # appear if pruning regressed)
    df = _q("dq_fd_discovery")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "o_totalprice" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_diff_in_diff_no_data_window(spark, sf_dir):
    # r7: one scan + bounded grid aggregation; the span boundary is the
    # declared 1-row broadcast — no window over data, no join node
    # besides the BNLJ
    df = _q("events_diff_in_diff")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Window" not in plan, plan[:2000]
    assert inspect.shuffle_count(df) <= 3, plan[:2000]


def test_grid_density_take_ordered(spark, sf_dir):
    # r7: the top-20 hottest cells must fuse to TakeOrderedAndProject;
    # the neighborhood explode runs on the <=1728-cell grid, after the
    # map-side-combined binning groupBy
    df = _q("geo_grid_density")(spark, sf_dir)
    assert inspect.has_take_ordered(df), inspect.formatted_plan(df)
    cols = inspect.read_schema_columns(df)
    assert cols == ["c_custkey"], cols


def test_sft_format_renders_map_side(spark, sf_dir):
    # r7: render/hash/count all happen map-side — no window, no
    # cartesian; the only join is the <=|langs| skipped-count broadcast
    df = _q("pipeline_sft_format")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert inspect.has_broadcast_join(df), plan[:2000]


def test_cohort_ltv_bounded_triangle(spark, sf_dir):
    # r7: two user-keyed shuffles + the bounded days-x-days triangle;
    # cohort sizes broadcast; the cumulative window partitions by cohort
    df = _q("events_cohort_ltv")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert inspect.has_broadcast_join(df), plan[:2000]


def test_stream_asof_join_has_no_join_node(spark, sf_dir):
    # r7: the as-of enrichment is the union+window formulation — one
    # shuffle on user_id and NO join node anywhere in the plan
    df = _q("stream_asof_join")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Join" not in plan, plan[:2000]


def test_calibration_single_data_shuffle(spark, sf_dir):
    # r7: one per-user aggregate is the only data-scale shuffle; the bin
    # grid is <=10 rows and the ECE arrives via the declared broadcast
    df = _q("ml_calibration_ece")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    cols = inspect.read_schema_columns(df)
    assert set(cols) <= {"user_id", "event_type"}, cols


def test_zonemap_skipping_prunes_to_two_columns(spark, sf_dir):
    # r7: the zone aggregate reads exactly (o_orderkey, o_orderdate) and
    # the 4-predicate side is a declared bounded broadcast
    df = _q("scan_zonemap_skipping")(spark, sf_dir)
    cols = inspect.read_schema_columns(df)
    assert set(cols) == {"o_orderkey", "o_orderdate"}, cols


def test_assortativity_runs_on_checkpointed_contraction(spark, sf_dir):
    # r7: edge sums run on the localCheckpointed rep frames — events
    # scanned once at contraction time, absent from the final plan
    df = _q("graph_assortativity")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "events.parquet" not in plan, plan[:2000]


def test_power_mde_single_aggregate(spark, sf_dir):
    # r7: one map-side-combined aggregate to the type grid; two-column scan
    df = _q("events_power_mde")(spark, sf_dir)
    cols = inspect.read_schema_columns(df)
    assert set(cols) == {"event_type", "value"}, cols
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_quality_ablation_single_scan_one_row(spark, sf_dir):
    # r7: all four gates evaluate map-side into ONE aggregate row; the
    # 5 stage rows are an unpivot of that row (plan glue, no data moves)
    df = _q("pipeline_quality_ablation")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert inspect.shuffle_count(df) <= 1, plan[:2000]


def test_top_paths_shares_session_partitioning(spark, sf_dir):
    # r7: the rank/count windows and the path aggregation share the
    # (user, day) shuffle; the final top-10 fuses to TakeOrdered
    df = _q("events_top_paths")(spark, sf_dir)
    assert inspect.has_take_ordered(df), inspect.formatted_plan(df)
    assert inspect.shuffle_count(df) <= 3, inspect.formatted_plan(df)


def test_silhouette_single_broadcast_pass(spark, sf_dir):
    # r7: evaluation is one crossJoin(broadcast(k x dim centroids)) pass
    # with a per-vector top-2 window — no pair space
    df = _q("ml_kmeans_silhouette")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_inter_arrival_shares_lag_partitioning(spark, sf_dir):
    # r7: the lag window's (user, type) shuffle is the only data-scale
    # exchange; summary combines map-side to the type grid
    df = _q("events_inter_arrival")(spark, sf_dir)
    assert inspect.shuffle_count(df) <= 2, inspect.formatted_plan(df)


def test_forecast_holt_folds_in_one_projection(spark, sf_dir):
    # r7: the Holt recursion runs as an aggregate() fold over each
    # type's day array — no per-round joins, one data shuffle
    df = _q("events_forecast_holt")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert inspect.shuffle_count(df) <= 2, plan[:2000]


def test_temporal_pit_is_carry_not_range_join(spark, sf_dir):
    # r7: the point-in-time lookup is the union+window carry — no range
    # join (whose build side would shuffle events against every
    # historical regime); one user-keyed exchange family
    df = _q("join_temporal_pit")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Join" not in plan, plan[:2000]


def test_referential_integrity_uses_anti_joins(spark, sf_dir):
    # r7: each FK candidate is a left-anti equi-join — no cartesian, no
    # nested loop beyond the declared 1-row count broadcasts
    df = _q("dq_referential_integrity")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]


def test_cuped_single_user_shuffle(spark, sf_dir):
    # r7: one per-user shuffle feeds the moment grid; span broadcast
    df = _q("events_cuped_adjust")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Window" not in plan, plan[:2000]


def test_dpo_format_pairs_without_self_join(spark, sf_dir):
    # r8: rank-adjacent pairing is lead() over the SAME lang window — a
    # self-join formulation would shuffle the eligible docs twice and
    # carry text through a join build side
    df = _q("pipeline_dpo_format")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "Join" not in plan, plan[:2000]


def test_heavy_hitters_broadcasts_candidate_summary(spark, sf_dir):
    # r8: the exact-count verification join must broadcast the <=64-row
    # merged summary, never shuffle the full per-user aggregate against
    # it; the summary merge itself must not produce a cartesian
    df = _q("agg_heavy_hitters")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_cdc_incremental_agg_single_fullouter_diff(spark, sf_dir):
    # r8: append commits feed straight from committed files (no join);
    # only the replace commit pays a key diff — exactly one FullOuter
    # join in the whole maintained-view plan
    df = _q("stream_cdc_incremental_agg")(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    # count join NODES via their detail sections, not raw substring hits
    # (ADVICE r9: the tree line + detail header each repeat the string, so
    # a raw count encodes the print format and two distinct FullOuter
    # joins printed once each would falsely pass)
    join_types = [
        ln.strip() for ln in plan.splitlines() if ln.strip().startswith("Join type:")
    ]
    assert join_types.count("Join type: FullOuter") == 1, join_types
    assert "CartesianProduct" not in plan, plan[:2000]
