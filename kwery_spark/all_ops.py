"""Import every operator module so the registry is fully populated.

``kwery_spark.registry.load_all()`` imports this module; adding a new
operator module means adding one import line here.
"""

# ruff: noqa: F401
from kwery_spark.operators import (
    aggregates,
    analytics,
    assoc,
    dedup,
    geo,
    graph,
    joins,
    multimodal,
    pipeline,
    projection,
    quality,
    rec,
    reshape,
    setops,
    similarity,
    sorts,
    sql_entry,
    text,
    tpch,
    tpch_ext,
    udfs,
    warehouse,
    windows,
)
from kwery_spark.functions import families
from kwery_spark.sources import scans, txnlog
from kwery_spark.streaming import live, windows as stream_windows
