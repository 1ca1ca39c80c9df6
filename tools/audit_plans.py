"""Plan audit: sweep every registry key's physical plan for scale
anti-patterns and print a report.

Flags:
  CARTESIAN   CartesianProduct (never acceptable)
  BNLJ        BroadcastNestedLoopJoin (acceptable only where declared:
              theta/cross joins and broadcast-query kNN shapes)
  PY_ROW      BatchEvalPython (row-at-a-time Python UDF; acceptable only
              in the declared udf_python demo)
  GLOBAL_WIN  WindowExec with an empty partitionSpec (Spark moves ALL rows
              to a single partition to evaluate it; acceptable only where
              the window input is bounded by construction — e.g. ranked
              over a prior orderBy+limit top-K — and declared)

(WholeStageCodegen coverage needs the executed plan under AQE, so it is
asserted per-key in tests/test_plans.py rather than swept here.)

Declared-BNLJ keys are additionally EXECUTED and their broadcast build
sides measured (VERDICT r3 item 6): the whitelist's justification is
"this side is provably tiny", so the audit reads the BroadcastExchange's
``numOutputRows`` metric from the final AQE plan and fails if any
declared build side exceeds ``BNLJ_BUILD_ROW_BOUND`` — a declared key
whose small side silently grows can no longer hide behind its name.

Usage: python tools/audit_plans.py [--sf DIR] [--no-bounds]
Exit code 1 if any UNDECLARED flag fires — suitable as a CI gate.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from kwery_spark.session import get_spark

# Keys where a flagged pattern is the documented, intended strategy.
DECLARED = {
    "join_cross": {"BNLJ"},          # explicit cartesian demo (small x small)
    "join_theta": {"BNLJ"},          # non-equi join, broadcast small side
    "udf_python": {"PY_ROW"},        # row-at-a-time UDF demo by definition
    "udtf_python": {"PY_ROW"},       # Python UDTF evaluates per-row by definition
    "ann_ivf": {"BNLJ"},             # crossJoin(broadcast(8 seed cells / probes))
    "ann_lsh": {"BNLJ"},             # crossJoin(broadcast(6 hyperplanes))
    "ml_kmeans": {"BNLJ"},           # crossJoin(broadcast(k centroids))
    "ml_kmeans_silhouette": {"BNLJ"},  # same k-centroid broadcast cross join
                                     # (shared _kmeans_fit)
    "sim_maxsim": {"BNLJ"},          # crossJoin(broadcast(one label's query vectors))
    "events_gapfill": {"BNLJ"},      # crossJoin(broadcast(1-row min/max bounds))
    "q22_dormant_customers": {"BNLJ"},  # crossJoin(broadcast(1-row avg-balance threshold))
    "analytics_rfm": {"BNLJ"},       # crossJoin(broadcast(1-row horizon / quintile bounds))
    "ml_naive_bayes": {"BNLJ"},      # crossJoin(broadcast(5-row lang priors, 1-row vocab/total))
    "graph_triangle_count": {"BNLJ"},  # crossJoin(broadcast(1-row edge/wedge counters))
    "layout_zorder": {"BNLJ"},       # crossJoin(broadcast(1-row key bounds / match count))
    "maintain_zorder_compact": {"BNLJ"},  # crossJoin(broadcast(1-row key bounds)), the layout_zorder pattern
    "text_perplexity_proxy": {"BNLJ"},  # crossJoin(broadcast(1-row corpus total))
    "graph_pagerank": {"BNLJ"},      # crossJoin(broadcast(1-row node count))
    "embedding_mrl_truncate": {"BNLJ"},  # crossJoin(broadcast(5 query vectors))
    "pipeline_temperature_mixture": {"BNLJ"},  # crossJoin(broadcast(1-row totals))
    "ann_ivfpq": {"BNLJ"},           # crossJoin(broadcast(seeds / codebook / 3 queries))
    "events_churn": {"BNLJ"},        # crossJoin(broadcast(1-row corpus horizon))
    "q11_important_parts": {"BNLJ"},  # crossJoin(broadcast(1-row decimal total))
    "text_tfidf": {"BNLJ"},          # crossJoin(broadcast(1-row corpus size))
    "text_bm25": {"BNLJ"},           # crossJoin(broadcast(1-row corpus stats))
    "embedding_pca": {"BNLJ"},       # crossJoin(broadcast(1-row mean/iterate/scatter))
    "pipeline_bpe_train": {"BNLJ"},  # crossJoin(broadcast(1-row winning pair/round))
    "pipeline_bpe_apply": {"BNLJ"},  # crossJoin(broadcast(1-row merge rule/round))
    "agg_hll_rollup_merge": {"BNLJ"},  # crossJoin(broadcast(1-row exact total))
    "sample_train_test_split": {"BNLJ"},  # crossJoin(broadcast(1-row leak count))
    "agg_bloom_prune": {"BNLJ"},     # crossJoin(broadcast(1-row bloom bitmap words))
    "events_markov_stationary": {"BNLJ"},  # crossJoin(broadcast(1-row type count))
    "sim_recall_eval": {"BNLJ"},     # crossJoin(broadcast(3 query vectors / 1-row recall))
    "agg_hll_intersection": {"BNLJ"},  # join(broadcast(1-row exact-intersection count))
    "dedup_lsh_recall_eval": {"BNLJ"},  # join(broadcast(1-row truth/cand/detected counts))
    "text_pmi_cooccurrence": {"BNLJ"},  # join(broadcast(1-row corpus doc count))
    "sim_range_search": {"BNLJ"},    # crossJoin(broadcast(1-row query vector))
    "text_zipf_fit": {"BNLJ", "GLOBAL_WIN"},  # join(broadcast(1-row top word /
                                     # n_words)); rank window runs AFTER an
                                     # orderBy+limit(100) TakeOrderedAndProject,
                                     # so its input is <=100 rows by construction
                                     # (measured below via GLOBAL_WIN bound)
    "warehouse_snapshot_diff": {"BNLJ"},  # join(broadcast(1-row add/remove counts))
    "dq_benford": {"GLOBAL_WIN"},    # total-count window over the NINE first-
                                     # digit rows (measured bound below)
    "sim_mmr_rerank": {"BNLJ"},      # 20x20 candidate pair cross-join + NOT IN
                                     # anti-joins, all over the checkpointed
                                     # top-20 set (measured bound below)
    "ml_logistic_irls": {"BNLJ"},    # CROSS JOIN(1-row beta vector) x <=168-cell
                                     # grid, once per unrolled IRLS round
    "assoc_basket_rules": {"BNLJ"},  # crossJoin(broadcast(1-row basket count))
    "events_survival_km": {"BNLJ", "GLOBAL_WIN"},  # crossJoin(broadcast(1-row
                                     # horizon)); the three cumulative windows
                                     # run over the life-table grid, <=31 rows
                                     # by construction (one per distinct
                                     # whole-day duration in a 30-day corpus;
                                     # measured below via GLOBAL_WIN bound)
    "topk_pareto_frontier": {"GLOBAL_WIN"},  # suffix-min dominance scan over the
                                     # CONTRACTED (size, min_price) set — p_size
                                     # is a bounded attribute domain (<=50
                                     # values at every SF), measured below
    "sample_weighted": {"GLOBAL_WIN"},  # rank window over the 100 survivors of
                                     # the orderBy+limit(100) exponential race
                                     # (TakeOrderedAndProject; measured below)
    "ml_decision_stump": {"BNLJ", "GLOBAL_WIN"},  # crossJoin(broadcast(1-row
                                     # class totals)); ranking window over the
                                     # <=22-candidate grid (3 statuses + 12
                                     # months + 7 weekdays; measured below)
    "graph_kcore": {"BNLJ", "GLOBAL_WIN"},  # per-round 1-row stat aggregates
                                     # composed via broadcast crossJoins; lag
                                     # window over the 7-row round table
                                     # (measured below)
    "events_diff_in_diff": {"BNLJ"},  # crossJoin(broadcast(1-row corpus-span
                                     # boundary))
    "events_cuped_adjust": {"BNLJ"},  # same 1-row span-boundary broadcast
    "dq_referential_integrity": {"BNLJ"},  # crossJoin(broadcast(1-row orphan
                                     # count)) per FK candidate
    "ml_calibration_ece": {"BNLJ"},  # crossJoin(broadcast(1-row ECE scalar))
    "events_srm_guardrail": {"BNLJ"},  # crossJoin(broadcast(1-row total +
                                     # 1-row chi2))
    "scan_zonemap_skipping": {"BNLJ"},  # crossJoin(broadcast(4-row predicate
                                     # parameter table))
    "graph_assortativity": {"BNLJ"},  # crossJoin(broadcast(1-row intra-clique
                                     # edge-sum aggregate))
    "events_top_paths": {"BNLJ"},    # crossJoin(broadcast(1-row session total))
    "agg_heavy_hitters": {"BNLJ", "GLOBAL_WIN"},  # crossJoin(broadcast(1-row
                                     # total_eps aggregate)); final ranking
                                     # window over the merged node summaries,
                                     # <=64 rows by construction (8 nodes x
                                     # top-8 candidates; both measured below)
    "dedup_semantic": {"BNLJ"},      # crossJoin(broadcast(8 hyperplane vectors))
    "ml_gbdt_residual_boost": {"BNLJ", "GLOBAL_WIN"},  # 1-row moment/best-split
                                     # broadcasts between boosting rounds (the
                                     # ml_decision_stump pattern x2); ranking
                                     # windows over the <=22-candidate grids
                                     # (measured below)
    "pipeline_tokenizer_fertility": {"BNLJ"},  # crossJoin(broadcast(1-row
                                     # English fertility reference))
    "sample_balanced_classes": {"BNLJ"},  # crossJoin(broadcast(1-row
                                     # min-class-size floor))
    "pipeline_interleave_sources": {"GLOBAL_WIN"},  # position window over
                                     # the 50 survivors of orderBy+limit(50)
                                     # (TakeOrderedAndProject; measured below)
    "events_funnel_windowed": {"GLOBAL_WIN"},  # frac/lag windows over the
                                     # 3-row stage table (measured below)
}


# Max rows any declared BNLJ broadcast side may actually produce. Every
# whitelisted side is a 1-row aggregate or a fixed-size parameter table
# (seeds, hyperplanes, codebooks — largest today: ann_ivfpq's 128-entry
# codebook); 1024 leaves parameter headroom while a data-dependent side
# (any table that grows with SF) blows through it immediately.
BNLJ_BUILD_ROW_BOUND = 1024

# Max rows a declared empty-partitionSpec window may actually consume.
# Every declared site ranks the survivors of a prior orderBy+limit top-K
# (TakeOrderedAndProject), so the input is K rows by construction; 1024
# leaves headroom while an undeclared full-vocabulary window (input grows
# with corpus size) blows through it immediately.
GLOBAL_WIN_INPUT_ROW_BOUND = 1024

# Max rows a coalesce(1) site may actually feed through its single task
# (VERDICT r6 item 6 — the one audit blind spot left: every
# `.coalesce(1).sortWithinPartitions(...)` final sort claims its input
# is bounded by construction, but nothing measured it). The biggest
# legitimate single-task outputs today are the multi-kilorow per-key
# detail tables (win_* frames, events_sessionize ~10k at sf0.01); 50k
# leaves headroom while anything proportional to fact-table row count
# blows through immediately at the audit SF.
COALESCE1_INPUT_ROW_BOUND = 50_000

_WINDOW_EXECS = ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _walk(node):
    """Yield (simpleName, node) over the physical plan tree, descending
    through AQE wrappers, materialized query stages, and exchange reuse."""
    name = node.getClass().getSimpleName()
    yield name, node
    if name == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    if name == "ReusedExchangeExec":
        yield from _walk(node.child())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def bnlj_build_rows(df) -> list[int]:
    """Execute ``df`` and return the measured ``numOutputRows`` of every
    BroadcastNestedLoopJoin's build-side BroadcastExchange in the final
    (post-AQE) plan. Shallowest exchange per build subtree = the BNLJ's
    own broadcast (BFS; nested joins' exchanges sit deeper)."""
    from collections import deque

    df.collect()
    rows: list[int] = []
    for name, node in _walk(df._jdf.queryExecution().executedPlan()):
        if name != "BroadcastNestedLoopJoinExec":
            continue
        side = 1 if "BuildRight" in node.buildSide().toString() else 0
        queue = deque([node.children().apply(side)])
        while queue:
            n = queue.popleft()
            nn = n.getClass().getSimpleName()
            if nn == "BroadcastExchangeExec":
                rows.append(int(n.metrics().apply("numOutputRows").value()))
                break
            if nn == "AdaptiveSparkPlanExec":
                queue.append(n.executedPlan())
            elif nn.endswith("QueryStageExec"):
                queue.append(n.plan())
            elif nn == "ReusedExchangeExec":
                queue.append(n.child())
            else:
                ch = n.children()
                for i in range(ch.size()):
                    queue.append(ch.apply(i))
    return rows


def _global_window_nodes(df) -> list:
    """WindowExec-family nodes with an EMPTY partitionSpec in the current
    physical plan (pre- or post-execution — AQE's executedPlan() returns
    whatever plan is current). An empty partitionSpec means Spark funnels
    every input row through one task to evaluate the window."""
    out = []
    for name, node in _walk(df._jdf.queryExecution().executedPlan()):
        if name in _WINDOW_EXECS and node.partitionSpec().isEmpty():
            out.append(node)
    return out


def global_win_input_rows(df) -> list[int]:
    """Execute ``df`` and return, for every empty-partitionSpec window
    node, the measured ``numOutputRows`` of the nearest descendant that
    carries the metric (WindowExec itself has none in Spark 4.x; the
    first metered node below it — typically the GlobalLimit / scan
    feeding the window — is the row count the single window task must
    process)."""
    from collections import deque

    df.collect()
    rows: list[int] = []
    for win in _global_window_nodes(df):
        queue = deque()
        ch = win.children()
        for i in range(ch.size()):
            queue.append(ch.apply(i))
        while queue:
            n = queue.popleft()
            nn = n.getClass().getSimpleName()
            if nn == "AdaptiveSparkPlanExec":
                queue.append(n.executedPlan())
                continue
            if nn.endswith("QueryStageExec"):
                queue.append(n.plan())
                continue
            if nn == "ReusedExchangeExec":
                queue.append(n.child())
                continue
            if nn in (
                "TakeOrderedAndProjectExec",
                "GlobalLimitExec",
                "LocalLimitExec",
                "CollectLimitExec",
            ):
                # A limit node structurally caps the window's input at
                # limit() rows regardless of corpus size — record the cap
                # itself (the metered nodes BELOW the limit would report
                # the full pre-limit cardinality, which is exactly what
                # the limit protects the window from).
                rows.append(int(n.limit()))
                break
            m = n.metrics()
            if m.contains("numOutputRows"):
                rows.append(int(m.apply("numOutputRows").value()))
                break
            cc = n.children()
            for i in range(cc.size()):
                queue.append(cc.apply(i))
    return rows


def _coalesce1_nodes(df) -> list:
    """CoalesceExec nodes that squeeze to ONE partition — the final-sort
    `.coalesce(1).sortWithinPartitions(...)` idiom. Legitimate only when
    the input is bounded by construction; the bound is measured, not
    trusted (same discipline as BNLJ/GLOBAL_WIN)."""
    return [
        node
        for name, node in _walk(df._jdf.queryExecution().executedPlan())
        if name == "CoalesceExec" and int(node.numPartitions()) == 1
    ]


def coalesce1_input_rows(df) -> list[int]:
    """Execute ``df`` and return the measured ``numOutputRows`` of the
    nearest metered descendant under every coalesce(1) — the row count
    its single task must absorb."""
    from collections import deque

    df.collect()
    rows: list[int] = []
    for co in _coalesce1_nodes(df):
        queue = deque()
        ch = co.children()
        for i in range(ch.size()):
            queue.append(ch.apply(i))
        while queue:
            n = queue.popleft()
            nn = n.getClass().getSimpleName()
            if nn == "AdaptiveSparkPlanExec":
                queue.append(n.executedPlan())
                continue
            if nn.endswith("QueryStageExec"):
                queue.append(n.plan())
                continue
            if nn == "ReusedExchangeExec":
                queue.append(n.child())
                continue
            if nn in (
                "TakeOrderedAndProjectExec",
                "GlobalLimitExec",
                "LocalLimitExec",
                "CollectLimitExec",
            ):
                rows.append(int(n.limit()))
                break
            m = n.metrics()
            if m.contains("numOutputRows"):
                rows.append(int(m.apply("numOutputRows").value()))
                break
            cc = n.children()
            for i in range(cc.size()):
                queue.append(cc.apply(i))
    return rows


def audit(key: str, df) -> list[str]:
    plan = plan_of(df)
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BNLJ")
    if "BatchEvalPython" in plan:
        flags.append("PY_ROW")
    if _global_window_nodes(df):
        flags.append("GLOBAL_WIN")
    if _coalesce1_nodes(df):
        flags.append("COALESCE1")
    return flags


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--no-bounds",
        action="store_true",
        help="skip executing declared-BNLJ keys to measure build sides",
    )
    args = ap.parse_args()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    bad = 0
    for key in sorted(queries):
        # NOTE (ADVICE r4): "plan build" is not side-effect-free for every
        # key — the txnlog/sink fixtures run their multi-commit write
        # protocols while the DataFrame is being constructed, and the BNLJ
        # bound check below collect()s declared keys. Tag those keys'
        # failures as execution errors so a transient fixture failure
        # reads differently from a genuinely broken plan build.
        executes_at_build = key.startswith(("sink_", "warehouse_", "merge_", "scd2_", "layout_"))
        try:
            df = queries[key](spark, args.sf)
            flags = audit(key, df)
        except Exception as e:
            kind = "EXEC" if executes_at_build else "ERR "
            print(f"[{kind}] {key}: {type(e).__name__}: {str(e)[:120]}")
            bad += 1
            continue
        # COALESCE1 is not whitelist-declared: EVERY site is measured
        # against its row bound below (the idiom is fleet-wide; the claim
        # "bounded by construction" is what gets verified)
        undeclared = [
            f
            for f in flags
            if f != "COALESCE1" and f not in DECLARED.get(key, set())
        ]
        if undeclared:
            print(f"[FLAG] {key}: {','.join(undeclared)}")
            bad += 1
        elif flags:
            if args.no_bounds or not (
                {"BNLJ", "GLOBAL_WIN", "COALESCE1"} & set(flags)
            ):
                print(f"[ok* ] {key}: declared {','.join(flags)}")
                continue
            notes, oversize = [], []
            try:
                if "BNLJ" in flags:
                    sides = bnlj_build_rows(df)
                    notes.append(f"build rows={sides}")
                    oversize += [
                        f"BNLJ_OVERSIZE build side rows={r} (bound {BNLJ_BUILD_ROW_BOUND})"
                        for r in sides
                        if r > BNLJ_BUILD_ROW_BOUND
                    ]
                if "GLOBAL_WIN" in flags:
                    win_rows = global_win_input_rows(df)
                    notes.append(f"global-window rows={win_rows}")
                    oversize += [
                        f"GLOBAL_WIN_OVERSIZE window input rows={r} "
                        f"(bound {GLOBAL_WIN_INPUT_ROW_BOUND})"
                        for r in win_rows
                        if r > GLOBAL_WIN_INPUT_ROW_BOUND
                    ]
                if "COALESCE1" in flags:
                    co_rows = coalesce1_input_rows(df)
                    notes.append(f"coalesce1 rows={co_rows}")
                    oversize += [
                        f"COALESCE1_OVERSIZE single-task input rows={r} "
                        f"(bound {COALESCE1_INPUT_ROW_BOUND})"
                        for r in co_rows
                        if r > COALESCE1_INPUT_ROW_BOUND
                    ]
            except Exception as e:
                print(f"[ERR ] {key}: bound check: {type(e).__name__}: {str(e)[:100]}")
                bad += 1
                continue
            if oversize:
                for msg in oversize:
                    print(f"[FLAG] {key}: {msg}")
                bad += 1
            else:
                print(f"[ok* ] {key}: declared {','.join(flags)}, {', '.join(notes)}")
        else:
            print(f"[ok  ] {key}")
    print(f"\n{bad} undeclared-flag keys")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
