"""Rewrite-invariance properties: distributed-friendly forms must be
value-identical to their naive reference forms."""

from __future__ import annotations

import pyspark.sql.functions as F

from kwery_spark.catalog import table
from kwery_spark.registry import QUERIES, load_all

load_all()


def test_threshold_pairs_salting_invariance(spark, sf_dir):
    """Triangle-salted ε-join == plain label-blocked self-join, exactly
    (every pair found once, same cosines)."""
    from kwery_spark.operators.similarity import _vecs, dot

    vecs = _vecs(spark, sf_dir)
    plain = (
        vecs.alias("a")
        .join(
            vecs.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dot("a.v", "b.v"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )
    want = {(r.vec_a, r.vec_b): r.cosine for r in plain.collect()}
    got_rows = QUERIES["sim_threshold_pairs"](spark, sf_dir).collect()
    got = {(r.vec_a, r.vec_b): r.cosine for r in got_rows}
    assert len(got_rows) == len(got), "salted join produced duplicate pairs"
    assert got == want


def test_dedup_embedding_salting_invariance(spark, sf_dir):
    """Triangle-salted dedup_embedding == plain label-blocked self-join,
    exactly — salting spreads the block quadratic over S(S+1)/2 tasks
    without changing the pair set (r3, VERDICT item 4)."""
    from kwery_spark.operators.similarity import _vecs, dot

    vecs = _vecs(spark, sf_dir)
    plain = (
        vecs.alias("a")
        .join(
            vecs.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dot("a.v", "b.v"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
    )
    want = {(r.vec_a, r.vec_b): r.cosine for r in plain.collect()}
    got_rows = QUERIES["dedup_embedding"](spark, sf_dir).collect()
    got = {(r.vec_a, r.vec_b): r.cosine for r in got_rows}
    assert len(got_rows) == len(got), "salted join produced duplicate pairs"
    assert got == want


def test_dedup_block_keys_bound_the_quadratic(spark, sf_dir):
    """Block-share locks (r3, VERDICT item 4): the pair-generating joins
    must key on more than the hot attribute, so no single lang/label can
    concentrate the quadratic on one reducer.

    - dedup_ngram_jaccard: candidate join keys include the minhash
      band_hash (lang alone would be |lang|² inside a hot language);
    - dedup_embedding / sim_threshold_pairs: join keys include the
      triangle-salt sub-group (gi, gj), fanning a hot label over
      S(S+1)/2 tasks."""
    import re

    from kwery_spark.plans import inspect

    def physical(key: str) -> str:
        return inspect.formatted_plan(QUERIES[key](spark, sf_dir))

    ngram = physical("dedup_ngram_jaccard")
    join_keys = re.findall(r"(?:Left|Right) keys.*", ngram)
    assert any("band_hash" in k for k in join_keys), (
        f"ngram candidate join not band-blocked: {join_keys}"
    )
    for key in ("dedup_embedding", "sim_threshold_pairs"):
        plan = physical(key)
        keys = re.findall(r"(?:Left|Right) keys.*", plan)
        assert any("gi" in k and "gj" in k for k in keys), (
            f"{key} pair join not salt-spread: {keys}"
        )


def test_doc_chunking_reconstructs_documents(spark, sf_dir):
    """Stride-56/size-64 chunks cover every token: concatenating each
    chunk's first 56 tokens (all of the last chunk) rebuilds the doc, and
    consecutive chunks overlap by exactly 8 tokens."""
    chunks = QUERIES["doc_chunking"](spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        toks = docs[doc_id]
        rebuilt: list[str] = []
        for i, r in enumerate(rows):
            ctoks = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(ctoks) == r.n_chunk_tokens
            assert len(ctoks) <= 64
            if i < len(rows) - 1 and len(ctoks) == 64:
                # 8-token overlap with the next chunk
                nxt = rows[i + 1].chunk_text.split(" ")
                assert ctoks[56:] == nxt[: len(ctoks[56:])]
            rebuilt.extend(ctoks if i == len(rows) - 1 else ctoks[:56])
        assert rebuilt == toks, f"doc {doc_id} not reconstructed"


def test_merge_upsert_action_accounting(spark, sf_dir):
    """updated+unchanged == |target|, updated+inserted == |source|."""
    o = table(spark, sf_dir, "orders")
    n_target = o.filter(F.col("o_orderkey") <= 10000).count()
    n_source = o.filter(F.col("o_orderkey").between(5000, 15000)).count()
    rows = QUERIES["merge_upsert"](spark, sf_dir).collect()
    by_action: dict[str, int] = {}
    for r in rows:
        by_action[r.action] = by_action.get(r.action, 0) + r.n_rows
    assert by_action.get("updated", 0) + by_action.get("unchanged", 0) == n_target
    assert by_action.get("updated", 0) + by_action.get("inserted", 0) == n_source


def test_scratch_writing_keys_are_rerun_idempotent(spark, sf_dir):
    """Keys that stage files or write sinks must return identical results
    when invoked twice in one session — the grading driver (and any
    retry) may re-run them against warm scratch state."""
    for key in [
        "sink_parquet",
        "sink_partitioned",
        "stream_foreach_batch",
        "scan_corrupt_tolerant",
        "scan_binary_files",
    ]:
        first = sorted(map(tuple, QUERIES[key](spark, sf_dir).collect()))
        second = sorted(map(tuple, QUERIES[key](spark, sf_dir).collect()))
        assert first == second, f"{key} not idempotent across re-runs"


def test_contraction_rewrite_plan_shapes(spark, sf_dir):
    """Plan-shape locks for the r5 content-contraction rewrites (VERDICT
    r5 item 8). Each pair-generating key must (a) contain no cartesian,
    (b) aggregate to DISTINCT content (a `Keys: [ckey]`-style contraction
    aggregate) BEFORE any self-join, and (c) block its pair join on a
    bounded content-derived key (LSH band / simhash bucket / salt cell),
    never on raw doc identity alone."""
    import re

    from kwery_spark.plans import inspect

    def keylines(key: str) -> tuple[str, list[str]]:
        plan = inspect.formatted_plan(QUERIES[key](spark, sf_dir))
        lines = [
            re.sub(r"#\d+L?", "", ln.strip())
            for ln in plan.splitlines()
            if re.match(r"(Left keys|Right keys|Keys)", ln.strip())
        ]
        return plan, lines

    # (content-contraction agg key, pair-join blocking key) per rewrite
    expect = {
        "dedup_minhash": ("Keys [1]: [ckey]", "band_id, band_hash"),
        # simhash's contraction agg lives BEFORE its eager localCheckpoint
        # since r8, so it can't appear in the final plan — the checkpoint
        # itself is asserted below (no parquet scan survives)
        "dedup_simhash": (None, "[bucket]"),
        "dedup_clusters": ("Keys [1]: [ckey]", None),  # runs on contracted graph
        "dedup_ngram_jaccard": (None, "band_hash"),  # contraction asserted below
        "dedup_embedding": (None, "gi"),
        "sim_threshold_pairs": (None, "gi"),
        # the content contraction and the hyperplane signature sit behind
        # the eager localCheckpoint of the signature table
        "dedup_semantic": (None, "[bucket]"),
        "dedup_substring_grams": ("Keys [1]: [ckey]", "[g]"),
    }
    for key, (agg, block) in expect.items():
        plan, lines = keylines(key)
        assert "CartesianProduct" not in plan, f"{key}: cartesian appeared"
        if agg is not None:
            assert any(agg in ln for ln in lines), (
                f"{key}: contraction aggregate missing: {lines}"
            )
        if block is not None:
            assert any(
                block in ln for ln in lines if ln.startswith(("Left", "Right"))
            ), f"{key}: pair join not blocked on {block}: {lines}"

    # dedup_simhash r8: sig (one row per distinct content) and keyed
    # (doc_id, ckey) are eager-localCheckpoint'd, so the FINAL plan must
    # be checkpoint-fed end to end — a parquet scan reappearing means the
    # signature pipeline is being re-evaluated per join side again (the
    # 367 s sf10 regression this rewrite removed)
    plan, _ = keylines("dedup_simhash")
    assert "Scan parquet" not in plan, (
        "dedup_simhash final plan re-reads parquet; checkpoint bypassed:\n"
        + plan
    )
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or "Scan RDD" in plan, plan
