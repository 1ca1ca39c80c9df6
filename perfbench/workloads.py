"""The benchmark's workloads: which corpus, which set-up path, which keys.

Every workload is a closed loop with one client: one key executes at a
time, and the next is sent only after the previous result has been
fetched and checked. A pass runs every key of the workload once, in an
order the run's ``--seed`` permutes; the seed never changes the key set
or the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

# Base corpus scale: the same row counts as the sf0.01 fixture corpus.
BASE_SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    # 1 = the base corpus; >1 = tools/gen_sf1.ensure_scaled of it
    factor: int
    # True = bench.py's layout, stats and bucketing prep before the first
    # query; False = the raw-file Engine path with no prep
    prep: bool
    keys: tuple[str, ...]
    # keys whose call writes a sink, warehouse table or transaction log
    sink_keys: tuple[str, ...] = ()

    @property
    def sf_label(self) -> str:
        return f"sf{BASE_SF * self.factor:g}"


INTERACTIVE = Workload(
    name="interactive-sf0.01",
    factor=1,
    prep=False,
    keys=(
        # bench.py HEADLINE
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "win_row_number",
        "agg_grouping_sets",
        "stream_tumbling",
        "fn_json",
        "join_semi",
        "sim_knn_bruteforce",
        "text_tokenize",
    ),
)

SINKS = (
    "sink_training_shards",
    "merge_upsert",
)

OLAP_CURATE_WRITE = Workload(
    name="olap-curate-write-sf0.02",
    factor=2,
    prep=True,
    keys=(
        # relational reads over the bucketed, analyzed layout
        "q3_shipping_priority",
        "q5_local_supplier",
        "join_multiway",
        "win_row_number",
        # LLM-data-pipeline operators
        "text_bm25",
        "dedup_exact",
        "pipeline_curate",
        "udf_pandas_scalar",
        # writes
        *SINKS,
    ),
    sink_keys=SINKS,
)

WORKLOADS = {w.name: w for w in (INTERACTIVE, OLAP_CURATE_WRITE)}
