"""Text analysis operators over ``documents`` (SURVEY.md §2.10 + the
training-data-pipeline extensions: language ID, quality scoring, token
counting, fingerprinting).

All pure built-in expressions (split/explode/HOF/regexp) — the tokenizer
hot path never leaves the JVM. Every aggregate output is deterministic
(count-desc + token-asc tiebreaks, sorted arrays).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from kwery_spark.catalog import memo, round6, table
from kwery_spark.operators.similarity import _clone_factor, _use_contraction
from kwery_spark.registry import register


def _tokens(df: DataFrame):
    return F.split(F.lower(F.col("text")), " ")


# The distinct-content contraction gate (similarity._use_contraction)
# applies to ``documents.text``: any text-derived aggregate is
# content-bounded at ~1/clone of the row count. On the original corpus
# (sf0.001-0.1, clone ~1.0) the gate keeps the raw arm, so driver oracle
# samples grade the raw plans and .data/sfN checks grade the contracted
# ones.


def _contracted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-text frame with multiplicity ``m``, eagerly checkpointed:
    |distinct texts| rows. Memoized per session+corpus: text_tfidf,
    text_rake_keywords and text_pmi_cooccurrence share one entry, so a
    multi-key session pays the corpus-wide text shuffle once."""

    def build() -> DataFrame:
        # PLAIN localCheckpoint on purpose (r16): capture (catalog.lckpt,
        # the AQE-off snap) was tried here and REGRESSED the trio — tfidf
        # 3.29->3.68 s, rake 1.69->3.77 s, pmi 3.52->4.42 s at sf10
        # (probe capture_scope_ab, BASELINE.md "Retired probes") — the
        # contracted frame is |distinct texts| small, so the re-exchange
        # it saves downstream is cheaper than what the corpus-wide
        # groupBy(text) build loses without AQE.
        docs = table(spark, sf_dir, "documents")
        return docs.groupBy("text").agg(F.count(F.lit(1)).alias("m")).localCheckpoint(
            eager=True
        )

    return memo(spark, sf_dir, ("documents",), "contracted_docs", build)


@register(
    "text_tokenize",
    oracle="""
    SELECT token, count(*) AS freq
    FROM (SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 10
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization + top-10 token frequencies.
    Scale: explode → partial-agg'd count; the shuffle carries one row per
    (partition, distinct token), not per token occurrence."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens(docs)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(10)
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
              FROM documents)
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, token AS top_term, tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, token) AS rn FROM scored)
    WHERE rn = 1
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-scoring term per document. idf = ln(N/df).

    r15: gated distinct-text contraction (``similarity._use_contraction``). A
    document's top term depends only on its text (given global N and the
    df table), and df/N decompose exactly over distinct texts weighted
    by multiplicity (df = Σ m over distinct texts containing the token —
    doc_ids are distinct rows, so this IS count(DISTINCT doc_id)). The
    contracted arm shuffles the corpus ONCE (groupBy(text) for
    multiplicities); tf/df/score/window all run on the
    |distinct texts|-sized checkpoint. Fresh-session A/B at sf10 (probe
    text_contract_decomp, BASELINE.md "Retired probes"): 20.06 -> 3.41 s (-83%),
    all 500k output rows identical. Raw arm unchanged — on a mostly-distinct
    corpus the text-keyed shuffle + re-expansion buys nothing
    (similarity.py gate doctrine, threshold 2.0).

    r16 (VERDICT r15 "what's wrong" #2): the re-expansion no longer
    stores a per-text ``collect_list(doc_id)`` — that row is linear in a
    text's clone multiplicity, so one adversarially mega-cloned text
    made a single unbounded row (§5 memory risk). Instead the per-text
    winners join back to a checkpointed ``(md5(text), doc_id)``
    projection: every row is constant-size, the projection is built
    scan-side with no shuffle, and the final plan stays checkpoint-fed
    (zero parquet scans — locked in test_r15_ops). md5 content keys are
    the repo's sanctioned exact-grouping device (dedup family). The
    winners side broadcasts under the memoized HLL distinct-text
    estimate (no extra job; plain shuffle join past the bound)."""
    docs = table(spark, sf_dir, "documents")
    if _use_contraction(spark, sf_dir, "documents"):
        contr = _contracted_docs(spark, sf_dir)
        tf = (
            contr.select("text", "m", F.explode(_tokens(contr)).alias("token"))
            .groupBy("text", "token")
            .agg(F.count(F.lit(1)).alias("tf"), F.min("m").alias("m"))
        )
        df = tf.groupBy("token").agg(F.sum("m").alias("df"))
        n_docs = contr.agg(F.sum("m").cast("double").alias("n_docs"))
        w = Window.partitionBy("text").orderBy(F.col("tfidf").desc(), F.col("token"))
        top = (
            tf.join(df, "token")
            .crossJoin(F.broadcast(n_docs))
            .select(
                "text",
                "token",
                F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                    "tfidf"
                ),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.md5("text").alias("th"),
                F.col("token").alias("top_term"),
                "tfidf",
            )
        )
        ids = docs.select(F.md5("text").alias("th"), "doc_id").localCheckpoint(
            eager=True
        )
        from kwery_spark.catalog import parquet_rows

        nd_est = parquet_rows(sf_dir, "documents") / _clone_factor(
            spark, sf_dir, "documents"
        )
        if nd_est <= 500_000:  # ~60 B/row winners frame ≤ ~30 MB built
            top = F.broadcast(top)
        return ids.join(top, "th").select("doc_id", "top_term", "tfidf")
    # raw arm: term counts ⋈ document frequencies, window per doc_id.
    # corpus size as a 1-row aggregate broadcast into the plan (not an
    # eager count() at build time — keeps the operator one lazy plan)
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(_tokens(docs)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


@register(
    "text_ngrams",
    oracle="""
    SELECT bigram, count(*) AS freq
    FROM (
        SELECT unnest(list_transform(
            range(1, len(str_split(lower(text), ' '))),
            i -> str_split(lower(text), ' ')[i] || ' ' || str_split(lower(text), ' ')[i+1]
        )) AS bigram
        FROM documents
    )
    GROUP BY bigram
    ORDER BY freq DESC, bigram
    LIMIT 20
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram extraction + top-20 counts (no self-join, no UDF).

    r8 rewrite, measured at sf1 with fresh-instance best-of-2 (the
    same-instance form silently reuses shuffle outputs — CLAUDE.md
    trap): the original sequence(1, n-1) + element_at(toks, i) HOF
    took 28.7 s; zip_with(toks, tail(toks)) is the same bigram list
    for 2.6 s (element_at pays a per-call O(n) array traversal inside
    an interpreted lambda — zip_with walks both arrays once); grouping
    to DISTINCT text first and weighting by multiplicity lands at
    0.7 s (41x) and makes the work content-bounded, the same upscale
    discipline as the dedup family. All three arms value-equal.
    sf10 sweep: 136.7 -> 8.1 s."""
    docs = table(spark, sf_dir, "documents")
    contr = docs.groupBy("text").agg(F.count(F.lit(1)).alias("m"))
    toks = _tokens(docs)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        contr.select(F.explode(bigrams).alias("bigram"), "m")
        .groupBy("bigram")
        .agg(F.sum("m").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "text_stats",
    oracle="""
    SELECT
        lang,
        source,
        count(*) AS n_docs,
        avg(n_chars) AS avg_chars,
        avg(len(str_split(text, ' '))) AS avg_tokens,
        CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column profiling: per (lang, source) doc count, average
    length in chars and tokens, distinct-text count."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("n_chars").alias("avg_chars"),
            F.avg(F.size(F.split("text", " ")).cast("double")).alias("avg_tokens"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
    )


@register(
    "text_search",
    oracle="""
    WITH q AS (SELECT ['scan', 'merge', 'sort'] AS terms)
    SELECT doc_id,
           CAST(len(list_intersect(list_distinct(str_split(lower(text), ' ')), q.terms))
                AS INTEGER) AS n_matched
    FROM documents CROSS JOIN q
    WHERE len(list_intersect(list_distinct(str_split(lower(text), ' ')), q.terms)) >= 2
    """,
)
def text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search: documents matching ≥2 of the query terms, scored by
    match count. Filter + array_intersect — fully pushdown-friendly.

    Terms are corpus-measured so the result is NON-EMPTY at every SF
    (424 docs at sf0.01, 4136 at sf0.1) — r7 verdict flagged the prior
    {data, model, training} set as vacuous (0 rows matched >=2 at every
    SF, so the value-hash had never compared a row)."""
    docs = table(spark, sf_dir, "documents")
    terms = F.array(F.lit("scan"), F.lit("merge"), F.lit("sort"))
    matched = F.size(F.array_intersect(F.array_distinct(_tokens(docs)), terms))
    return (
        docs.select("doc_id", matched.alias("n_matched"))
        .filter(F.col("n_matched") >= 2)
    )


# Per-language marker tokens for the heuristic classifier. Deterministic
# and SQL-replicable — a stand-in for char-n-gram models whose scoring
# pipeline (score per language → argmax) has exactly this shape.
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "und", "die"),
    "zh": ("的", "是", "了"),
}


def _lang_case_sql() -> str:
    """DuckDB scoring: count marker hits per language, argmax with a fixed
    tiebreak order (en<fr<es<de<zh by score-then-name)."""
    scores = ", ".join(
        f"len(list_intersect(t, {list(m)!r})) AS s_{lang}"
        for lang, m in _LANG_MARKERS.items()
    )
    return scores


@register(
    "text_langid",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, list_distinct(str_split(lower(text), ' ')) AS t
        FROM documents
    ),
    scored AS (SELECT doc_id, lang, {_lang_case_sql()} FROM toks)
    SELECT doc_id, lang AS labeled_lang,
           CASE greatest(s_en, s_fr, s_es, s_de, s_zh)
                WHEN 0 THEN 'unknown'
                WHEN s_en THEN 'en'
                WHEN s_fr THEN 'fr'
                WHEN s_es THEN 'es'
                WHEN s_de THEN 'de'
                ELSE 'zh' END AS predicted_lang
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-token hit counts per language →
    argmax (ties broken by the fixed language order en,fr,es,de,zh;
    zero hits → 'unknown'). Shape matches an n-gram classifier: N scoring
    expressions + argmax, all JVM-side."""
    docs = table(spark, sf_dir, "documents")
    t = F.array_distinct(_tokens(docs))
    scores = {
        lang: F.size(F.array_intersect(t, F.array(*[F.lit(x) for x in markers])))
        for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, "unknown")
    for lang in _LANG_MARKERS:  # fixed order = deterministic tiebreak
        pred = pred.when(scores[lang] == best, lang)
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@register(
    "text_quality",
    oracle="""
    SELECT
        doc_id,
        CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens,
        round(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
              / len(str_split(text, ' ')), 6) AS ttr,
        round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
              / length(text), 6) AS nonalpha_ratio,
        round(CAST(len(list_intersect(list_distinct(str_split(text, ' ')),
              ['the', 'and', 'of', 'a', 'to'])) AS DOUBLE) / 5.0, 6) AS stopword_cov,
        (len(str_split(text, ' ')) BETWEEN 5 AND 1000
         AND CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
              / len(str_split(text, ' ')) > 0.2) AS passes_quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for pretraining filters: token count, type-token
    ratio, non-alpha character ratio, stopword coverage, and a composite
    pass/fail gate — the Gopher/C4-style rule shape, all as expressions."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    uniq = F.array_distinct(toks)
    ttr = F.size(uniq).cast("double") / F.size(toks)
    stop = F.array(*[F.lit(x) for x in ("the", "and", "of", "a", "to")])
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(
            F.length(F.regexp_replace("text", "[a-z ]", "")).cast("double")
            / F.length("text"),
            6,
        ).alias("nonalpha_ratio"),
        F.round(F.size(F.array_intersect(uniq, stop)).cast("double") / 5.0, 6).alias(
            "stopword_cov"
        ),
        (F.size(toks).between(5, 1000) & (ttr > 0.2)).alias("passes_quality"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT
        doc_id,
        CAST(len(str_split(text, ' ')) AS INTEGER) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER)
            AS bpe_ish_tokens,
        CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_len_estimate
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (letter runs / digit runs / single punctuation), and the chars/4
    heuristic — the standard budget estimators for LLM data work."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("byte_len_estimate"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH grams AS (
        SELECT doc_id, unnest(list_transform(
                   range(1, len(str_split(text, ' '))),
                   i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
               )) AS gram
        FROM documents
    ),
    hashed AS (SELECT doc_id, md5(gram) AS h FROM grams)
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list(h)))[1:4], ',') AS fingerprint
    FROM hashed
    GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing-lite): hash every word bigram
    (md5 — identical across engines), keep the 4 lexicographically
    smallest distinct hashes as the doc's fingerprint (rendered as one CSV
    string so the grading hasher gates the values). Shared fingerprints
    ⇒ near-dup candidates; constant output size per doc."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    hashes = F.transform(grams, lambda g: F.md5(g.cast("binary")))
    return docs.select(
        "doc_id",
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(hashes)), 1, 4), ","
        ).alias("fingerprint"),
    )


@register(
    "text_perplexity_proxy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t FROM documents
    ),
    uni AS (
        SELECT t, count(*) AS c FROM tok GROUP BY t
    ),
    n AS (SELECT count(*) AS total FROM tok)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(-ln(CAST(c AS DOUBLE) / total)), 6) AS avg_neg_logp
    FROM tok JOIN uni USING (t) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: average -ln p(token) under
    the corpus's own unigram distribution — the cheap perplexity proxy
    data-filtering pipelines use to drop gibberish (high score) and
    boilerplate (low score). One explode, one count shuffle, one join
    back; the total-token count is a scalar broadcast. At 100 TB the
    unigram table is the only state and it is vocabulary-sized."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t"))
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # corpus size as a 1-row aggregate broadcast into the plan — keeps the
    # operator a single lazy plan (no eager driver action at build time)
    total = tok.agg(F.count(F.lit(1)).cast("double").alias("corpus_total"))
    return (
        tok.join(uni, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("corpus_total"))), 6
            ).alias("avg_neg_logp"),
        )
    )


@register(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, str_split(lower(text), ' ') AS toks,
               len(str_split(text, ' ')) AS n
        FROM documents
    ),
    g AS (
        SELECT doc_id, n,
               list_transform(range(1, greatest(n - 1, 1)),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS tri
        FROM t
    )
    SELECT doc_id,
           CAST(len(tri) AS INTEGER) AS n_trigrams,
           CAST(len(list_distinct(tri)) AS INTEGER) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                       / nullif(len(tri), 0), 6) AS dup_trigram_frac,
           round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                       / nullif(len(tri), 0), 6) > 0.2 AS fails_repetition_gate
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (Gopher-style): the duplicate
    word-trigram fraction — boilerplate and degenerate generations repeat
    phrases, clean prose doesn't. Pure per-row HOF arithmetic (no explode,
    no shuffle): each doc computes its own trigram multiset and distinct
    count inline, so the op is embarrassingly parallel and adds ZERO
    exchanges to a curation pipeline that composes it."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    n = F.size(F.split("text", " "))
    # docs under 3 tokens have no trigrams (mirrors the oracle's empty
    # range — Spark's sequence() would otherwise fabricate one)
    tri = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_frac = F.round(
        1.0 - F.size(F.array_distinct(tri)).cast("double")
        / F.nullif(F.size(tri), F.lit(0)),
        6,
    )
    return docs.select(
        "doc_id",
        F.size(tri).alias("n_trigrams"),
        F.size(F.array_distinct(tri)).alias("n_distinct"),
        dup_frac.alias("dup_trigram_frac"),
        (dup_frac > 0.2).alias("fails_repetition_gate"),
    )


@register(
    "text_quality_model",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(str_split(text, ' ')) AS n_tok,
               len(list_distinct(str_split(text, ' ')))
                 / CAST(len(str_split(text, ' ')) AS DOUBLE) AS ttr,
               list_sum(list_transform(str_split(text, ' '), t -> len(t)))
                 / CAST(len(str_split(text, ' ')) AS DOUBLE) AS avg_tok_len,
               len(list_filter(str_split(lower(text), ' '),
                   t -> t IN ('the','a','of','and','to','in','is')))
                 / CAST(len(str_split(text, ' ')) AS DOUBLE) AS stop_ratio
        FROM documents
    )
    SELECT doc_id,
           round(ttr, 6) AS ttr,
           round(avg_tok_len, 6) AS avg_tok_len,
           round(stop_ratio, 6) AS stop_ratio,
           round(1.0 / (1.0 + exp(-(2.0 * ttr + 0.4 * avg_tok_len
                 + 1.5 * stop_ratio - 0.0005 * n_tok - 2.2))), 6) AS quality_score,
           round(1.0 / (1.0 + exp(-(2.0 * ttr + 0.4 * avg_tok_len
                 + 1.5 * stop_ratio - 0.0005 * n_tok - 2.2))), 6) >= 0.5
               AS passes_gate
    FROM f
    """,
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring, the fastText-classifier step of a
    curation pipeline, expressed as in-engine inference: a fixed-weight
    logistic model over cheap text features (type-token ratio, mean
    token length, stopword ratio, length penalty). The point at 100 TB:
    when the model is linear-ish, inference IS a projection — no UDF,
    no model server, whole-stage codegen end to end; swap the weights
    for trained ones and the plan is unchanged. Scores round to 6dp
    before the gate compare so engine exp() ulp noise can't flip a row."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    lower_toks = F.split(F.lower("text"), " ")
    n_tok = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)) / n_tok
    avg_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / n_tok
    )
    stops = F.array([F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is")])
    stop_ratio = (
        F.size(F.filter(lower_toks, lambda t: F.array_contains(stops, t))) / n_tok
    )
    z = (
        2.0 * ttr + 0.4 * avg_len + 1.5 * stop_ratio - 0.0005 * F.size(toks) - 2.2
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return docs.select(
        "doc_id",
        F.round(ttr, 6).alias("ttr"),
        F.round(avg_len, 6).alias("avg_tok_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality_score"),
        (score >= 0.5).alias("passes_gate"),
    )


@register(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    vocab AS (
        SELECT t FROM (
            SELECT t, row_number() OVER (ORDER BY c DESC, t) AS rk FROM freq)
        WHERE rk <= 256)
    SELECT doc_id,
           count(*) AS n_tok,
           count(*) FILTER (WHERE v.t IS NULL) AS n_oov,
           round(count(*) FILTER (WHERE v.t IS NULL)
                 / CAST(count(*) AS DOUBLE), 6) AS oov_rate,
           CAST(coalesce(sum(len(tok.t)) FILTER (WHERE v.t IS NULL), 0)
                AS BIGINT) AS oov_chars
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY doc_id
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage analysis: induce a 256-entry vocab
    (top corpus frequencies, token tiebreak) and measure per-document
    OOV rate and the byte mass that would fall back to char-level
    encoding — the check you run before committing to a tokenizer for a
    new corpus slice. Shape at 100 TB: one token-count shuffle, a
    vocabulary that is top-K-small by construction (broadcast), and one
    per-doc regroup; nothing scales with vocab×corpus."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # global top-K via orderBy+limit → TakeOrderedAndProject: per-partition
    # 256-entry heaps merged on one tiny reduce — NOT a single-partition
    # row_number window, which would funnel every distinct token through
    # one task at 100 TB. Ordering (c desc, t) matches the oracle's
    # row_number tiebreak exactly, so the induced vocab is identical.
    vocab = (
        freq.orderBy(F.col("c").desc(), "t")
        .limit(256)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    oov = F.col("in_vocab").isNull()
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(oov, 1)).alias("n_oov"),
            F.round(
                F.count(F.when(oov, 1)) / F.count(F.lit(1)).cast("double"), 6
            ).alias("oov_rate"),
            F.coalesce(F.sum(F.when(oov, F.length("t"))), F.lit(0))
            .cast("long")
            .alias("oov_chars"),
        )
    )


@register(
    "ml_naive_bayes",
    oracle="""
    WITH train_tok AS (
        SELECT lang, unnest(str_split(lower(text), ' ')) AS token
        FROM documents WHERE doc_id % 2 = 0
    ),
    test_tok AS (
        SELECT doc_id, lang AS true_lang,
               unnest(str_split(lower(text), ' ')) AS token
        FROM documents WHERE doc_id % 2 = 1
    ),
    vocab AS (SELECT count(DISTINCT token) AS v FROM train_tok),
    lang_tot AS (
        SELECT lang, count(*) AS n_tok FROM train_tok GROUP BY lang
    ),
    priors AS (
        SELECT lang,
               ln(CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM documents WHERE doc_id % 2 = 0))
                   AS log_prior
        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    ),
    tok_lang AS (
        SELECT lang, token, count(*) AS c FROM train_tok GROUP BY lang, token
    ),
    doc_tok AS (
        SELECT doc_id, true_lang, token, count(*) AS cnt
        FROM test_tok GROUP BY doc_id, true_lang, token
    ),
    scored AS (
        SELECT d.doc_id, d.true_lang, lt.lang,
               round(
                   max(p.log_prior)
                   + sum(d.cnt * ln((COALESCE(tl.c, 0) + 1.0)
                                    / (lt.n_tok + v.v))),
                   6) AS score
        FROM doc_tok d
        CROSS JOIN lang_tot lt
        CROSS JOIN vocab v
        JOIN priors p ON p.lang = lt.lang
        LEFT JOIN tok_lang tl ON tl.lang = lt.lang AND tl.token = d.token
        GROUP BY d.doc_id, d.true_lang, lt.lang, v.v
    ),
    predicted AS (
        SELECT doc_id, true_lang, lang AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM scored
    )
    SELECT true_lang, pred_lang, count(*) AS n_docs
    FROM predicted WHERE rn = 1
    GROUP BY true_lang, pred_lang
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and evaluated
    entirely in SQL expressions: fit P(token|lang) with add-one smoothing
    on even doc_ids, classify odd doc_ids, emit the confusion matrix.
    Shows the classic "ML training as aggregation" pattern — the model IS
    a (lang, token)->count table, so fitting is one group-by and
    inference is one join + log-sum.

    Scale: the model table is token-keyed — the inference join is a plain
    equi-join on token that AQE can broadcast when the vocabulary is
    small or shuffle when it isn't; per-doc scoring aggregates on
    (doc_id, lang), bounded by |langs| fan-out. No driver-side model.

    Determinism: scores are log-sums of doubles (summation-order-
    dependent in the last ulp), so they round to 6 decimals BEFORE the
    argmax and ties break on lang ascending — both engines pick the same
    winner even on near-tied scores.
    """
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    tok = F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    train_tok = train.select("lang", tok)
    test_tok = test.select(
        "doc_id", F.col("lang").alias("true_lang"), tok
    )
    vocab = train_tok.agg(F.countDistinct("token").alias("v"))
    lang_tot = train_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tok"))
    # total train-doc count stays IN the plan (1-row broadcast) — an eager
    # .count() here would embed a driver-side scan job into plan build
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    priors = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_lang"))
        .join(F.broadcast(n_train))
        .select(
            "lang",
            F.log(F.col("n_docs_lang").cast("double") / F.col("n_train")).alias(
                "log_prior"
            ),
        )
    )
    tok_lang = train_tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    doc_tok = test_tok.groupBy("doc_id", "true_lang", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        doc_tok.join(F.broadcast(lang_tot.join(priors, "lang")))
        .join(F.broadcast(vocab))
        .join(tok_lang, ["lang", "token"], "left")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            F.round(
                F.max("log_prior")
                + F.sum(
                    F.col("cnt")
                    * F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("n_tok") + F.col("v"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("true_lang"), F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_bm25",
    oracle="""
    WITH dl AS (
        SELECT doc_id, len(str_split(lower(text), ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term IN ('join', 'scan', 'filter')
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))),
                 6) AS bm25,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM tf
    JOIN df ON df.term = tf.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 20
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for the fixed query
    {join, scan, filter}: the lexical-search complement to text_tfidf
    and the standard first-stage retriever in RAG / training-data
    curation pipelines.

    r15 single-scan rewrite (VERDICT r14 #1 — the 2.8x bench lines at
    sf1/sf3 decomposed to REDUNDANT PASSES, not scoring cost): the old
    shape paid the documents scan + tokenize 3-4x (dl leg, stats leg,
    tf leg, plus the df broadcast build re-running tf) and ran 10 jobs.
    With a FIXED 3-term query, per-doc term frequencies are three
    conditional sums over one exploded token stream — so one scan
    computes (dl, tf_join, tf_scan, tf_filter) per doc, checkpointed
    (|docs| rows x 5 ints, tiny), and n_docs/avgdl/df all come from one
    1-row aggregate over that checkpoint (broadcast). Scoring is then a
    map-side expression; top-20 fuses to TakeOrderedAndProject.
    Measured fresh-JVM at sf3 (probe bm25_decomp, BASELINE.md "Retired probes"):
    full key 2.73 -> 1.70 s, 10 jobs -> 5; values identical (probe asserts).
    Alternatives measured and rejected: length/replace token-count
    arithmetic (no split at all) 3.2 s — four replace passes over the
    text cost more than one split+explode; pre-filtering the explode to
    query terms with dl from length arithmetic 7.2 s.

    Scale: one linear pass over documents, one doc_id shuffle whose
    map-side partial aggregation compresses to one row per doc per
    partition; no (doc, term) shuffle at all. Determinism: tf/dl/df are
    exact integers; the score is a fixed arithmetic chain over them
    summed in a FIXED 3-term order (the old row-sum added <= 3 addends
    in shuffle-arrival order — strictly less deterministic), rounded to
    6 decimals; zero-tf terms contribute exact 0.0 (x + 0.0 == x in
    IEEE for the positive scores here, so the sum equals the oracle's
    sum over present terms). Ties at the cutoff break on doc_id."""
    K1, B = 1.2, 0.75
    docs = table(spark, sf_dir, "documents")
    per_doc = (
        docs.select("doc_id", F.explode(_tokens(docs)).alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            F.sum(F.when(F.col("term") == "join", 1).otherwise(0)).alias("tfj"),
            F.sum(F.when(F.col("term") == "scan", 1).otherwise(0)).alias("tfs"),
            F.sum(F.when(F.col("term") == "filter", 1).otherwise(0)).alias("tff"),
        )
        .localCheckpoint(eager=True)
    )
    g = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum(F.when(F.col("tfj") > 0, 1).otherwise(0))
        .cast("double")
        .alias("dfj"),
        F.sum(F.when(F.col("tfs") > 0, 1).otherwise(0))
        .cast("double")
        .alias("dfs"),
        F.sum(F.when(F.col("tff") > 0, 1).otherwise(0))
        .cast("double")
        .alias("dff"),
    )

    def term_score(tf, df):
        idf = F.log(1 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
        s = idf * tf * 2.2 / (tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    hits = (
        (F.col("tfj") > 0).cast("long")
        + (F.col("tfs") > 0).cast("long")
        + (F.col("tff") > 0).cast("long")
    )
    return (
        per_doc.join(F.broadcast(g))
        .filter(hits > 0)
        .select(
            "doc_id",
            F.round(
                term_score(F.col("tfj"), F.col("dfj"))
                + term_score(F.col("tfs"), F.col("dfs"))
                + term_score(F.col("tff"), F.col("dff")),
                6,
            ).alias("bm25"),
            hits.alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@register(
    "text_rake_keywords",
    oracle=r"""
    WITH frags AS (
        SELECT unnest(string_split_regex(lower(text),
                                         ' ?\b(?:the|a)\b ?')) AS raw
        FROM documents
    ),
    phrases AS (
        SELECT trim(raw) AS phrase FROM frags WHERE trim(raw) <> ''
    ),
    pw AS (
        SELECT phrase, len(string_split(phrase, ' ')) AS plen,
               unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    wscore AS (
        SELECT w,
               floor(CAST(sum(plen) AS DOUBLE) / count(*)
                     * 1000000.0 + 0.5) / 1000000.0 AS wscore
        FROM pw GROUP BY w
    ),
    dp AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
           FROM phrases GROUP BY phrase),
    dpw AS (
        SELECT phrase, unnest(string_split(phrase, ' ')) AS w
        FROM (SELECT phrase FROM dp)
    ),
    pscore AS (
        SELECT d.phrase, round(sum(s.wscore), 4) AS score
        FROM dpw d JOIN wscore s ON s.w = d.w
        GROUP BY d.phrase
    )
    SELECT p.phrase, d.n_occ, p.score
    FROM pscore p JOIN dp d ON d.phrase = p.phrase
    ORDER BY p.score DESC, p.phrase
    LIMIT 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    (degree = summed length of every phrase instance containing it), a
    phrase scores the sum of its words' scores. The corpus vocabulary's
    stopwords are 'the' and 'a', so phrase splitting is one regex —
    no NLP dependency, pure expression-level.

    Determinism: freq/degree are exact integers, word score is a single
    division rounded to 6; the per-phrase sum over <=O(10) word scores
    is rounded to 4 BEFORE ranking so partial-sum order can't flip the
    top-15 (ties then break on the phrase string).

    Scale (r15 rewrite): the old shape scanned + regex-split the corpus
    TWICE (wscore leg per-instance word explode, dp leg phrase count)
    — the text_bm25 redundant-pass class. Everything downstream of the
    phrase counts is derivable from them alone: wscore =
    Σ plen over instances / #instances = Σ(n_occ·plen) / Σ n_occ over
    DISTINCT phrases — the same exact integers, so round6 is
    bit-identical. So: ONE scan → phrase-level groupBy (map-side
    partial agg collapses repeats before the exchange) → checkpoint at
    |distinct phrases| (17,811 at every SF) → word explode + wscore +
    pscore all on the checkpoint. The phrase-level contraction is
    UNCONDITIONAL (never worse: the word explode shrinks from
    all-instances to distinct-phrases and a full scan+regex pass
    disappears on any corpus). Under the r15 text clone gate
    (``similarity._use_contraction``), the scan side additionally contracts
    to distinct texts first — the regex split runs once per distinct
    text, weighted by multiplicity. Fresh-session A/B at sf10 (probe
    text_contract_decomp, BASELINE.md "Retired probes"): 38.8 s (old two-pass) →
    6.09 s (phrase contraction) → 1.48 s (with text contraction), top-15
    identical on all three arms. The word table stays vocabulary-sized
    (AQE broadcasts it); nothing quadratic, no Python on the data path."""
    if _use_contraction(spark, sf_dir, "documents"):
        base = _contracted_docs(spark, sf_dir).select(
            "m",
            F.explode(
                F.split(F.lower(F.col("text")), r" ?\b(?:the|a)\b ?")
            ).alias("raw"),
        )
    else:
        docs = table(spark, sf_dir, "documents")
        base = docs.select(
            F.lit(1).alias("m"),
            F.explode(
                F.split(F.lower(F.col("text")), r" ?\b(?:the|a)\b ?")
            ).alias("raw"),
        )
    phrases = base.select(F.trim(F.col("raw")).alias("phrase"), "m").filter(
        F.col("phrase") != ""
    )
    # plain localCheckpoint: capture measured a 2.2x rake regression
    # (see _contracted_docs note — same scope A/B)
    dp = (
        phrases.groupBy("phrase")
        .agg(F.sum("m").cast("long").alias("n_occ"))
        .localCheckpoint(eager=True)
    )
    dpw = dp.select(
        "phrase",
        "n_occ",
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wscore = dpw.groupBy("w").agg(
        # round6, not round(.,6): integer sum / count is the tie-capable
        # ratio class (catalog.round6, driver r9 flake)
        round6(
            F.sum(F.col("n_occ") * F.col("plen")).cast("double") / F.sum("n_occ")
        ).alias("wscore")
    )
    pscore = (
        dpw.select("phrase", "w")
        .join(wscore, "w")
        .groupBy("phrase")
        .agg(F.round(F.sum("wscore"), 4).alias("score"))
    )
    return (
        pscore.join(dp, "phrase")
        .select("phrase", "n_occ", "score")
        .orderBy(F.col("score").desc(), "phrase")
        .limit(15)
    )


@register(
    "text_pmi_cooccurrence",
    oracle="""
    WITH n_docs AS (SELECT count(*) AS nd FROM documents),
    doc_words AS (
        SELECT DISTINCT doc_id, tok AS word
        FROM documents, unnest(str_split(text, ' ')) AS u(tok)
        WHERE len(tok) >= 3
    ),
    df AS (
        SELECT word, count(*) AS d FROM doc_words GROUP BY word
    ),
    top AS (
        SELECT word, d FROM (
            SELECT word, d,
                   row_number() OVER (ORDER BY d DESC, word) AS rk
            FROM df)
        WHERE rk <= 50
    ),
    present AS (
        SELECT dw.doc_id, dw.word, t.d
        FROM doc_words dw JOIN top t USING (word)
    ),
    pair_counts AS (
        SELECT a.word AS word_a, b.word AS word_b,
               a.d AS da, b.d AS db, count(*) AS dab
        FROM present a JOIN present b
          ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY 1, 2, 3, 4
    )
    SELECT word_a, word_b, CAST(dab AS BIGINT) AS n_cooccur,
           round(ln(dab * 1.0 * nd / (da * 1.0 * db)), 6) AS pmi
    FROM pair_counts, n_docs
    WHERE dab >= 5
    ORDER BY pmi DESC, word_a, word_b
    LIMIT 30
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over word co-occurrence: the top-50
    document-frequency words (deterministic rank), pairwise co-occurrence
    document counts, PMI = ln(P(a,b)/(P(a)P(b))) with document-level
    probabilities, top-30 most-associated pairs. The collocation-mining
    primitive behind phrase detection and topic seeding.

    Scale: the pair space is VOCABULARY-CAPPED — only the broadcast
    top-50 words survive into the per-doc self-join, so each doc
    contributes at most C(50,2) pairs and the whole pair aggregate is
    bounded by 1225 keys regardless of corpus size. Shuffles: doc-word
    distinct, df aggregate, the doc-blocked pair count. Determinism:
    integer counts, one ln of a single ratio, round 6, full ordering
    tiebreak.

    r15: gated distinct-text contraction (``similarity._use_contraction``).
    Document-level presence depends only on text: df = Σ m over
    distinct texts containing the word, dab = Σ m over distinct texts
    containing both, N = Σ m — doc_ids are distinct rows, so the
    weighted sums ARE the distinct-doc counts. The contracted arm
    shuffles the corpus once (groupBy(text)); the (text, word) distinct
    rides the checkpoint partitioning exchange-free, and the pair
    self-join blocks on text over |distinct texts| rows. Fresh-session
    A/B at sf10 (probe text_contract_decomp, BASELINE.md "Retired probes"):
    19.75 → 2.92 s (-85%), top-30 identical. Raw arm unchanged below
    the gate."""
    docs = table(spark, sf_dir, "documents")
    if _use_contraction(spark, sf_dir, "documents"):
        contr = _contracted_docs(spark, sf_dir)
        ctw = (
            contr.select("text", "m", F.explode(F.split("text", " ")).alias("word"))
            .filter(F.length("word") >= 3)
            .groupBy("text", "word")
            .agg(F.min("m").alias("m"))
        )
        df_counts = ctw.groupBy("word").agg(F.sum("m").alias("d"))
        top = df_counts.orderBy(F.col("d").desc(), "word").limit(50)
        present = ctw.join(F.broadcast(top), "word")
        a = present.alias("a")
        b = present.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.text") == F.col("b.text"))
                & (F.col("a.word") < F.col("b.word")),
            )
            .groupBy(
                F.col("a.word").alias("word_a"),
                F.col("b.word").alias("word_b"),
                F.col("a.d").alias("da"),
                F.col("b.d").alias("db"),
            )
            .agg(F.sum(F.col("a.m")).alias("dab"))
            .filter(F.col("dab") >= 5)
        )
        nd = contr.agg(F.sum("m").alias("nd"))
        return (
            pairs.join(F.broadcast(nd))
            .select(
                "word_a",
                "word_b",
                F.col("dab").cast("long").alias("n_cooccur"),
                F.round(
                    F.log(
                        F.col("dab")
                        * 1.0
                        * F.col("nd")
                        / (F.col("da") * 1.0 * F.col("db"))
                    ),
                    6,
                ).alias("pmi"),
            )
            .orderBy(F.col("pmi").desc(), "word_a", "word_b")
            .limit(30)
        )
    dw = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.length("word") >= 3)
        .distinct()
    )
    df_counts = dw.groupBy("word").agg(F.count(F.lit(1)).alias("d"))
    # global top-K via orderBy+limit → TakeOrderedAndProject: per-partition
    # 50-entry heaps merged on one tiny reduce — NOT a single-partition
    # row_number window, which would funnel the whole (open, at 100 TB:
    # hundreds of millions of tokens) vocabulary through one task.
    # Ordering (d desc, word) matches the oracle's row_number tiebreak,
    # so the selected top-50 set is identical.
    top = df_counts.orderBy(F.col("d").desc(), "word").limit(50)
    present = dw.join(F.broadcast(top), "word")
    a = present.alias("a")
    b = present.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(
            F.col("a.word").alias("word_a"),
            F.col("b.word").alias("word_b"),
            F.col("a.d").alias("da"),
            F.col("b.d").alias("db"),
        )
        .agg(F.count(F.lit(1)).alias("dab"))
        .filter(F.col("dab") >= 5)
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    return (
        pairs.join(F.broadcast(nd))
        .select(
            "word_a",
            "word_b",
            F.col("dab").cast("long").alias("n_cooccur"),
            F.round(
                F.log(
                    F.col("dab")
                    * 1.0
                    * F.col("nd")
                    / (F.col("da") * 1.0 * F.col("db"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "word_a", "word_b")
        .limit(30)
    )


@register(
    "text_readability",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, lang,
               len(str_split(text, ' ')) AS n_words,
               greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
                   AS n_sents,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vowel_groups
        FROM documents
    ),
    scored AS (
        SELECT lang,
               round(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                             - 84.6 * (n_vowel_groups * 1.0 / n_words), 6)
                   AS flesch
        FROM per_doc
        WHERE n_words > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(flesch), 6) AS avg_flesch,
           round(min(flesch), 6) AS min_flesch,
           round(max(flesch), 6) AS max_flesch
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per language: words/sentence and a
    vowel-group syllable proxy feed the classic 206.835 − 1.015·WPS −
    84.6·SPW formula, aggregated per lang. The document-quality feature
    complementary to text_quality's length/ratio gates.

    Syllable counting needs a dictionary; contiguous-vowel-group
    counting is the standard cheap proxy and is exactly replayable in
    both engines (same regex, same lowercasing). Sentence count =
    terminal-punctuation splits, floored at 1 so headline-style docs
    divide cleanly.

    Determinism: integer counts, two divisions per doc, round BEFORE
    the per-lang aggregate (round-before-carry). Scale: map-side
    regexes, one 5-group aggregate."""
    docs = table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_sents = F.greatest(
        F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1)
    )
    n_vg = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    scored = (
        docs.select(
            "lang",
            n_words.alias("n_words"),
            n_sents.alias("n_sents"),
            n_vg.alias("n_vowel_groups"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "lang",
            F.round(
                206.835
                - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sents"))
                - 84.6 * (F.col("n_vowel_groups") * 1.0 / F.col("n_words")),
                6,
            ).alias("flesch"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("flesch"), 6).alias("avg_flesch"),
            F.round(F.min("flesch"), 6).alias("min_flesch"),
            F.round(F.max("flesch"), 6).alias("max_flesch"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH wc AS (
        SELECT tok AS word, count(*) AS cnt
        FROM documents, unnest(str_split(text, ' ')) AS u(tok)
        WHERE tok <> ''
        GROUP BY tok
    ),
    ranked AS (
        SELECT word, cnt,
               row_number() OVER (ORDER BY cnt DESC, word) AS rank
        FROM wc
    ),
    pts AS (
        SELECT CAST(round(ln(rank), 9) AS DECIMAL(25,9)) AS x,
               CAST(round(ln(cnt), 9) AS DECIMAL(25,9)) AS y,
               word, cnt, rank
        FROM ranked WHERE rank <= 100
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                             AS DECIMAL(25,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                             AS DECIMAL(25,9))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_words,
           (SELECT word FROM pts WHERE rank = 1) AS top_word,
           CAST((SELECT cnt FROM pts WHERE rank = 1) AS BIGINT) AS top_count,
           round((m.n * m.sxy - m.sx * m.sy)
                 / (m.n * m.sxx - m.sx * m.sx), 6) AS zipf_slope,
           round((m.sy - (m.n * m.sxy - m.sx * m.sy)
                         / (m.n * m.sxx - m.sx * m.sx) * m.sx) / m.n, 6)
               AS zipf_intercept
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: the top-100 words by
    frequency, log-log regressed (ln freq ~ ln rank) into the Zipf
    exponent — the standard sanity check that a text corpus has natural
    rank-frequency structure (natural language sits near slope -1;
    templated/synthetic text flattens).

    Determinism: ranks break ties by word; each log point and each
    product term is rounded to 9dp and summed as DECIMAL (the same
    order-independence treatment as ml_ols_normal_equations — the
    doubles being rounded are computed identically in both engines,
    rounding just pins the sum order); the closed-form slope then runs
    on identical scalars and rounds to 6dp.

    Scale: word counts partial-aggregate map-side; the global top-100
    rank is a tiny sort; the regression runs on 100 rows."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Two-step global top-K: orderBy+limit first (TakeOrderedAndProject —
    # distributed per-partition heaps, no single-partition vocab sort),
    # THEN rank the surviving ≤100 rows with a no-partition window. The
    # window input is bounded at 100 rows by construction (declared +
    # measured in tools/audit_plans.py GLOBAL_WIN bound), and because the
    # limit's ordering equals the window's ordering, ranks 1..100 within
    # the limited set equal the global ranks.
    top100 = wc.orderBy(F.col("cnt").desc(), "word").limit(100)
    ranked = top100.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("word"))),
    )
    dec = "decimal(25,9)"
    pts = ranked.select(
        "word",
        "cnt",
        "rank",
        F.round(F.log("rank"), 9).cast(dec).alias("x"),
        F.round(F.log("cnt"), 9).cast(dec).alias("y"),
    )
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.round(xd * xd, 9).cast(dec)).cast("double").alias("sxx"),
        F.sum(F.round(xd * yd, 9).cast(dec)).cast("double").alias("sxy"),
    )
    top = pts.filter(F.col("rank") == 1).select(
        F.col("word").alias("top_word"), F.col("cnt").cast("long").alias("top_count")
    )
    n_words = pts.agg(F.count(F.lit(1)).alias("n_words"))
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        m.join(F.broadcast(top))
        .join(F.broadcast(n_words))
        .select(
            F.col("n_words").cast("long"),
            "top_word",
            "top_count",
            F.round(slope, 6).alias("zipf_slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
                "zipf_intercept"
            ),
        )
    )


@register(
    "text_minhash_containment",
    oracle="""
    WITH keyed AS MATERIALIZED (
        SELECT doc_id, md5(text) AS ckey, text FROM documents
    ),
    reps AS (SELECT ckey, min(doc_id) AS rep FROM keyed GROUP BY ckey),
    rt AS MATERIALIZED (
        SELECT r.rep, r.ckey, str_split(k.text, ' ') AS toks,
               len(str_split(k.text, ' ')) AS n
        FROM reps r JOIN keyed k ON k.doc_id = r.rep
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT rep, g FROM (
            SELECT rep,
                   unnest(list_transform(range(1, n - 5 + 2),
                       i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
                       AS g
            FROM rt WHERE n >= 5)
    ),
    agg AS MATERIALIZED (
        SELECT rep, list(g) AS gs, count(*) AS s FROM sh GROUP BY rep
    ),
    df AS (SELECT g FROM sh GROUP BY g HAVING count(*) BETWEEN 2 AND 32),
    cand AS (
        SELECT DISTINCT a.rep AS ra, b.rep AS rb
        FROM sh a JOIN df USING (g) JOIN sh b USING (g)
        WHERE a.rep < b.rep
    ),
    oriented AS (
        SELECT CASE WHEN x.s <= y.s THEN ra ELSE rb END AS rep_small,
               CASE WHEN x.s <= y.s THEN rb ELSE ra END AS rep_big,
               CASE WHEN x.s <= y.s THEN x.gs ELSE y.gs END AS g_small,
               CASE WHEN x.s <= y.s THEN y.gs ELSE x.gs END AS g_big,
               least(x.s, y.s) AS s_small,
               len(list_intersect(x.gs, y.gs)) AS inter
        FROM cand JOIN agg x ON x.rep = ra JOIN agg y ON y.rep = rb
    ),
    scored AS (
        SELECT rep_small, rep_big,
               inter / s_small AS containment,
               len(list_intersect(
                   list_transform(
                       list_slice(
                           list_sort(list_transform(g_small, g -> [md5(g), g])),
                           1, 32),
                       p -> p[2]),
                   g_big)) / least(32, s_small) AS est
        FROM oriented WHERE inter / s_small >= 0.5
    )
    SELECT ks.doc_id AS contained_doc_id, kb.doc_id AS container_doc_id,
           round(s.containment, 6) AS containment,
           round(s.est, 6) AS est_containment,
           abs(s.est - s.containment) <= 0.35 AS est_ok
    FROM scored s
    JOIN rt rs ON rs.rep = s.rep_small
    JOIN rt rb2 ON rb2.rep = s.rep_big
    JOIN keyed ks ON ks.ckey = rs.ckey
    JOIN keyed kb ON kb.ckey = rb2.ckey
    """,
)
def text_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (doc-in-doc): C(A,B) = |A∩B| / |A|
    over 5-token shingle sets, with A the smaller set — the measure that
    catches a document quoted wholesale inside a larger one, which
    symmetric Jaccard misses (J ≈ |A|/|B| can be arbitrarily small while
    containment is 1.0). This is the C4/RefinedWeb complement to
    dedup_boilerplate_segments: that op finds repeated SEGMENTS, this one
    flags near-total inclusion between document pairs.

    Alongside the exact containment, each pair carries a bottom-k sketch
    estimate — the smaller doc's k=32 lexicographically-least shingles
    by md5 (a deterministic KMV sample, replayed hash-for-hash in the
    oracle), probed against the larger doc's full set; est = hits /
    min(k, |A|). The est_ok tolerance band (±0.35 ≈ 2σ at k=32) is
    asserted in BOTH engines, the sketch-op contract every approx
    operator here follows. Exact and estimate are single divisions of
    exact integers, so the 6dp rounds agree bit-for-bit.

    Scale shape (same discipline as dedup_substring_grams): shingle
    document-frequency is counted over DISTINCT contents and capped to
    [2,32] docs, so the candidate equi-join on the shingle itself is
    bounded per-bucket at C(32,2) and NO doc×doc pair space ever forms;
    a corpus upscale that copies contents inflates neither the df counts
    nor the rep-level pair work, and doc-level output expands linearly
    via the content-key join. Identical-content pairs (containment 1.0
    by definition) are exact-dup territory and are not emitted.

    The ORACLE is content-contracted the same way (ADVICE r8): the
    prior doc-level oracle counted shingle df per doc_id and emitted
    identical-content pairs, so it computed a DIFFERENT function on
    corpora with duplicated texts (the gen_sf1 upscale duplicates
    contents 10x — doc-df 40 vs content-df 4 straddles the 32 cap).
    Verified equal at sf1 where the divergence was live."""
    docs = table(spark, sf_dir, "documents")
    # (doc_id, ckey) is read by three expansion legs and the contraction
    # — checkpoint so documents is scanned and hashed ONCE (the r8
    # dedup_simhash finding: un-checkpointed, every alias re-ran the
    # scan+md5 pipeline; sf10 127 s -> see BASELINE.md r8)
    keyed = docs.select(
        "doc_id", F.md5("text").alias("ckey")
    ).localCheckpoint(eager=True)
    groups = keyed.groupBy("ckey").agg(F.min("doc_id").alias("rep"))
    reps = groups.join(docs.select(F.col("doc_id").alias("rep"), "text"), "rep")
    toks = F.split("text", " ")
    n = F.size(toks)
    grams = F.when(
        n >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - 4),
                lambda i: F.array_join(F.slice(toks, i, 5), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # TWO-STEP checkpoint (r8, measured 18.5 s -> 3.9 s at sf1): the
    # interpreted HOF `grams` expression gets NO common-subexpression
    # elimination, so a single projection computing gs + size(grams) +
    # a b32 built from grams re-evaluates the whole shingle transform
    # ~5x per row. Materialize the raw shingle arrays FIRST (one
    # evaluation), then derive size / the bottom-32 KMV sketch / the
    # emptiness filter from the STORED arrays. The sketch (one
    # md5-sort-slice per distinct content, not per candidate pair) and
    # the arrays are then shared by the exploded df/cand legs and BOTH
    # pair-join sides — the r7 repartition("rep") exchange barrier only
    # deduped plan-identical subtrees; the sa/sb aliases still
    # re-shingled per side.
    sh0 = reps.select("rep", "ckey", grams.alias("gs")).localCheckpoint(
        eager=True
    )
    bottom32 = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    F.col("gs"),
                    lambda g: F.struct(F.md5(g).alias("h"), g.alias("g")),
                )
            ),
            1,
            32,
        ),
        lambda p: p.getField("g"),
    )
    shingled = (
        sh0.filter(F.size("gs") > 0)
        .select(
            "rep",
            "ckey",
            "gs",
            F.size("gs").alias("s"),
            bottom32.alias("b32"),
        )
        .localCheckpoint(eager=True)
    )
    sh = shingled.select("rep", F.explode("gs").alias("g"))
    capped = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter((F.col("d") >= 2) & (F.col("d") <= 32))
        .select("g")
    )
    cand = (
        sh.join(capped, "g")
        .select(F.col("rep").alias("rep_a"), "g")
        .join(sh.select(F.col("rep").alias("rep_b"), "g"), "g")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .distinct()
    )
    sa = shingled.select(
        F.col("rep").alias("rep_a"),
        F.col("ckey").alias("ckey_a"),
        F.col("gs").alias("gs_a"),
        F.col("s").alias("s_a"),
        F.col("b32").alias("b32_a"),
    )
    sb = shingled.select(
        F.col("rep").alias("rep_b"),
        F.col("ckey").alias("ckey_b"),
        F.col("gs").alias("gs_b"),
        F.col("s").alias("s_b"),
        F.col("b32").alias("b32_b"),
    )
    a_small = F.col("s_a") <= F.col("s_b")
    g_big = F.when(a_small, F.col("gs_b")).otherwise(F.col("gs_a"))
    s_small = F.least("s_a", "s_b")
    inter = F.size(F.array_intersect("gs_a", "gs_b"))
    bottom = F.when(a_small, F.col("b32_a")).otherwise(F.col("b32_b"))
    est = F.size(F.array_intersect(bottom, g_big)) / F.least(
        F.lit(32), s_small
    )
    scored = (
        cand.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select(
            F.when(a_small, F.col("ckey_a")).otherwise(F.col("ckey_b")).alias(
                "ckey_small"
            ),
            F.when(a_small, F.col("ckey_b")).otherwise(F.col("ckey_a")).alias(
                "ckey_big"
            ),
            (inter / s_small).alias("containment"),
            est.alias("est"),
        )
        .filter(F.col("containment") >= 0.5)
    )
    ks = keyed.select(
        F.col("ckey").alias("ckey_small"), F.col("doc_id").alias("contained_doc_id")
    )
    kb = keyed.select(
        F.col("ckey").alias("ckey_big"), F.col("doc_id").alias("container_doc_id")
    )
    return (
        scored.join(ks, "ckey_small")
        .join(kb, "ckey_big")
        .select(
            "contained_doc_id",
            "container_doc_id",
            F.round("containment", 6).alias("containment"),
            F.round("est", 6).alias("est_containment"),
            (F.abs(F.col("est") - F.col("containment")) <= 0.35).alias("est_ok"),
        )
    )
