"""Training-data curation composites — the end-to-end shapes an LLM data
pipeline runs at 100 TB, built entirely from the operators in this package
(quality gates, dedup, token accounting, deterministic sampling, sequence
packing). Each is one declarative plan: Catalyst fuses the stages, and
every shuffle is keyed on a bounded-cardinality column (lang / hash).

Determinism discipline: sampling and packing decisions derive from md5 of
key strings (identical in Spark and DuckDB) — never from rand() — so runs
are reproducible and oracle-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from kwery_spark.catalog import round6, table
from kwery_spark.registry import register

# Email-ish, phone-ish, and long-digit-run patterns; the corpus is synthetic
# so hits are sparse — the op's contract is the redaction transform itself.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_LONGNUM = r"\b[0-9]{6,}\b"


@register(
    "text_pii_scrub",
    oracle=rf"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_LONGNUM}', '<NUM>', 'g') AS clean_text,
           CAST(length(text)
                - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER)
               AS n_digits
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact email-shaped strings and long digit runs,
    count digit characters as a risk signal. Pure regexp_replace — stays in
    whole-stage codegen, embarrassingly parallel."""
    docs = table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_LONGNUM, "<NUM>"
    )
    n_digits = F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    return docs.select(
        "doc_id", clean.alias("clean_text"), n_digits.cast("int").alias("n_digits")
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT lang, count(*) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
    GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% sample (md5(doc_id) first byte < 0x40), profiled
    per language stratum. Hash-based sampling is reproducible across
    engines and re-runs — the property rand()-sampling can't give a
    100 TB pipeline — and the predicate evaluates scan-side, so the
    shuffle only carries survivors."""
    docs = table(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "40"
    return (
        docs.filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("first_doc"))
    )


@register(
    "pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, len(str_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM toks
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((cum_tokens - 1) // 4096 AS BIGINT) AS batch_id
    FROM packed
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: within each language, docs
    (in stable doc_id order) are packed greedily into ~4096-token batches
    via a running token sum — the window-function form of the classic
    packing loop, so it distributes instead of iterating on a driver.
    Partition key = lang; at scale you'd sub-shard the stratum key."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor((F.col("cum_tokens") - 1) / 4096).alias("batch_id"),
        )
    )


@register(
    "pipeline_curate",
    oracle=r"""
    WITH canon AS (
        SELECT doc_id, lang,
               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS ctext,
               len(str_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                 / len(str_split(text, ' ')) AS ttr
        FROM documents
    ),
    quality AS (
        SELECT * FROM canon WHERE n_tokens BETWEEN 5 AND 1000 AND ttr > 0.2
    ),
    deduped AS (
        SELECT *, row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id)
                      AS copy_rank
        FROM quality
    )
    SELECT lang,
           count(*) AS docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           round(avg(ttr), 6) AS avg_ttr
    FROM deduped
    WHERE copy_rank = 1
    GROUP BY lang
    """,
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality gate (token count + type-token ratio)
    → exact-dedup keeper (min doc_id per canonical-text md5) → per-lang
    corpus accounting. One declarative plan: the gate pushes to the scan,
    dedup is one hash shuffle, accounting is a partial agg — the composed
    pipeline inherits every operator's scale story."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    w = Window.partitionBy("chash").orderBy("doc_id")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.md5(canon).alias("chash"),
            F.size(toks).cast("long").alias("n_tokens"),
            ttr.alias("ttr"),
        )
        .filter(F.col("n_tokens").between(5, 1000) & (F.col("ttr") > 0.2))
        .withColumn("copy_rank", F.row_number().over(w))
        .filter(F.col("copy_rank") == 1)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.round(F.avg("ttr"), 6).alias("avg_ttr"),
        )
    )


@register(
    "doc_chunking",
    oracle="""
    WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               len(str_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(unnest(range(0, len(range(1, n + 1, 56)))) AS INTEGER) AS chunk_id,
           unnest(list_transform(range(1, n + 1, 56),
                  s -> array_to_string(list_slice(toks, s, s + 63), ' ')))
               AS chunk_text,
           CAST(unnest(list_transform(range(1, n + 1, 56),
                       s -> len(list_slice(toks, s, s + 63)))) AS INTEGER)
               AS n_chunk_tokens
    FROM t
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into 64-token chunks
    with 8-token overlap (stride 56) — the standard pre-tokenization shape
    for embedding/RAG/training pipelines. Pure HOF expressions
    (sequence → slice → array_join) + one posexplode; no Python, no
    self-join, and each doc expands independently, so the op is
    embarrassingly parallel at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(1), n, F.lit(56)),
        lambda s: F.struct(
            F.array_join(F.slice(toks, s, 64), " ").alias("chunk_text"),
            F.size(F.slice(toks, s, 64)).alias("n_chunk_tokens"),
        ),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "c")
    ).select("doc_id", "chunk_id", "c.chunk_text", "c.n_chunk_tokens")


@register(
    "dedup_decontaminate",
    oracle="""
    WITH t AS (
        SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 6),
                      i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))))
                   AS gh
        FROM t
    ),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    hits AS (
        SELECT g.doc_id, count(DISTINCT g.gh) AS n_shared
        FROM g JOIN bench USING (gh)
        WHERE g.doc_id % 97 <> 0
        GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_shared, 0) AS n_shared_grams,
           h.n_shared IS NOT NULL AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h USING (doc_id)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data op that removes eval
    leakage: flag every corpus document sharing at least one word-8-gram
    with the held-out set (here: doc_id % 97 == 0, a deterministic
    stand-in for a benchmark suite). Exact n-gram matching, the industry
    default (GPT-3/Llama-style 8-gram overlap).

    Scale: both sides explode to md5'd 8-grams and meet in ONE equi-join
    on the gram hash — no pairwise document comparison ever happens; the
    benchmark side is tiny (distinct grams of the eval suite) and AQE
    broadcasts it. Docs shorter than 8 tokens produce no grams (guarded —
    Spark's sequence() would otherwise generate a descending range)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    grams = F.when(
        F.size(toks) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 7),
            lambda i: F.md5(F.array_join(F.slice(toks, i, 8), " ").cast("binary")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams).alias("gh"))
    bench = g.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    hits = (
        g.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("n_shared"))
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id")
    return corpus.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0).cast("long")).alias("n_shared_grams"),
        F.col("n_shared").isNotNull().alias("contaminated"),
    )


@register(
    "pipeline_mixture",
    oracle="""
    WITH rated AS (
        SELECT doc_id, source, len(str_split(text, ' ')) AS n_tokens,
               CASE CAST(substring(source, 4) AS INTEGER) % 4
                    WHEN 0 THEN 'ff' WHEN 1 THEN '80'
                    WHEN 2 THEN '40' ELSE '1a' END AS threshold
        FROM documents
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
    FROM rated
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= threshold
    GROUP BY source
    """,
)
def pipeline_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: each source gets a deterministic keep
    rate (by source index mod 4: 100% / ~50% / ~25% / ~10%) applied via an
    md5(doc_id) threshold — the reproducible way to hit a target corpus
    mix (web-heavy downsampled, curated sources kept whole). rand() would
    make every run a different corpus; hash-gating is idempotent, resumes
    cleanly, and the predicate evaluates scan-side so dropped docs never
    reach a shuffle."""
    docs = table(spark, sf_dir, "documents")
    src_idx = F.substring("source", 4, 10).cast("int")
    threshold = (
        F.when(src_idx % 4 == 0, "ff")
        .when(src_idx % 4 == 1, "80")
        .when(src_idx % 4 == 2, "40")
        .otherwise("1a")
    )
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= threshold
    return (
        docs.withColumn("threshold", threshold)
        .filter(keep)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.size(F.split("text", " ")).cast("long")).alias("tokens_kept"),
        )
    )


@register(
    "pipeline_pretraining_corpus",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, source, text,
               str_split(lower(text), ' ') AS t,
               len(str_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    bench_grams AS (
        SELECT DISTINCT md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS gh
        FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
        WHERE doc_id % 97 = 0
    ),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(t) - 6),
                            i -> md5(array_to_string(list_slice(t, i, i + 7), ' '))))
                         AS gh
              FROM toks WHERE doc_id % 97 <> 0) g
        JOIN bench_grams USING (gh)
    ),
    clean AS (
        SELECT tk.* FROM toks tk
        WHERE tk.doc_id % 97 <> 0
          AND tk.doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND tk.n_tokens BETWEEN 5 AND 1000
          AND CAST(len(list_distinct(str_split(tk.text, ' '))) AS DOUBLE)
                / tk.n_tokens > 0.2
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                ORDER BY doc_id) AS cr
            FROM clean)
        WHERE cr = 1
    ),
    sampled AS (
        SELECT *,
               CASE CAST(substring(source, 4) AS INTEGER) % 4
                    WHEN 0 THEN 'ff' WHEN 1 THEN '80'
                    WHEN 2 THEN '40' ELSE '1a' END AS threshold
        FROM deduped
    )
    SELECT source,
           count(*) AS docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(sum(len(range(1, n_tokens + 1, 56))) AS BIGINT) AS chunks_kept
    FROM sampled
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= threshold
    GROUP BY source
    """,
)
def pipeline_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end corpus build, composed from this package's
    operators as ONE declarative plan: benchmark decontamination (8-gram
    overlap vs the held-out set) → quality gate (token count +
    type-token ratio) → exact-dedup keeper (min doc_id per canonical
    md5) → deterministic per-source mixture sampling → chunk/token
    accounting (stride-56 chunking arithmetic). Catalyst fuses the
    stages; the only shuffles are the gram-hash join, the dedup hash,
    and the final per-source aggregate — every one on a bounded or
    hash-distributed key, so the composition inherits each stage's
    100 TB story. The oracle replays the whole pipeline as a CTE chain."""
    docs = table(spark, sf_dir, "documents")
    ltoks = F.split(F.lower("text"), " ")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    grams = F.when(
        F.size(ltoks) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(ltoks) - 7),
            lambda i: F.md5(F.array_join(F.slice(ltoks, i, 8), " ").cast("binary")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # 8-gram hashes depend only on the text, and the bench/contaminated
    # legs both consume them — before r8 the md5-per-position HOF ran
    # TWICE over every document (sf10 sweep 95 s). Compute the gram set
    # once per DISTINCT content (content-contraction discipline),
    # checkpoint it, and expand to doc granularity with a cheap ckey
    # join. (At sf10 every content has an exact clone on the bench side
    # of the %97 split, so decontamination correctly removes the entire
    # corpus — the 0-row sweep result is the right answer there; gate
    # SFs have unique texts and stay non-empty.)
    keyed = docs.select(
        "doc_id", F.md5("text").alias("ckey")
    ).localCheckpoint(eager=True)
    creps = (
        keyed.groupBy("ckey")
        .agg(F.min("doc_id").alias("rep"))
        .join(
            docs.select(F.col("doc_id").alias("rep"), "text"), "rep"
        )
        .select("ckey", F.explode(grams).alias("gh"))
        .localCheckpoint(eager=True)
    )
    g = keyed.join(creps, "ckey").select("doc_id", "gh")
    bench = g.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    contaminated = (
        g.filter(F.col("doc_id") % 97 != 0).join(bench, "gh").select("doc_id").distinct()
    )
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    canon = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    src_idx = F.substring("source", 4, 10).cast("int")
    threshold = (
        F.when(src_idx % 4 == 0, "ff")
        .when(src_idx % 4 == 1, "80")
        .when(src_idx % 4 == 2, "40")
        .otherwise("1a")
    )
    w = Window.partitionBy("chash").orderBy("doc_id")
    return (
        docs.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .filter(n_tokens.between(5, 1000) & (ttr > 0.2))
        .select(
            "doc_id", "source", canon.alias("chash"),
            n_tokens.alias("n_tokens"), threshold.alias("threshold"),
        )
        .withColumn("cr", F.row_number().over(w))
        .filter(F.col("cr") == 1)
        .filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            <= F.col("threshold")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum(F.col("n_tokens").cast("long")).alias("tokens_kept"),
            F.sum(
                F.size(F.sequence(F.lit(1), F.col("n_tokens"), F.lit(56))).cast("long")
            ).alias("chunks_kept"),
        )
    )


@register(
    "pipeline_temperature_mixture",
    oracle="""
    WITH s AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, sum(sqrt(c)) AS sw FROM s),
    r AS (
        SELECT lang, c,
               round(least(1.0, (sqrt(c) / sw) * (n / 2.0) / c), 6) AS keep_rate
        FROM s CROSS JOIN tot),
    kept AS (
        SELECT d.lang, count(*) AS n_kept
        FROM documents d JOIN r USING (lang)
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
              / 16777216.0 < keep_rate
        GROUP BY d.lang)
    SELECT r.lang, CAST(r.c AS BIGINT) AS n_total, r.keep_rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN kept k ON k.lang = r.lang
    """,
)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling (mT5/DoReMi style):
    target share q_l ∝ p_l^α with α=0.5, so low-resource languages are
    upsampled relative to their natural share; per-lang keep rate =
    q_l·N_target/c_l (capped at 1, N_target = N/2), applied via the same
    md5(doc_id) uniform used everywhere in this repo — reproducible,
    resumable, scan-side. Rates are computed FROM the data (one tiny
    lang aggregate broadcast back), and rounded to 6dp BEFORE the keep
    compare so both engines gate identically. At 100 TB: one count
    shuffle over |langs| groups, one broadcast join, one filtered scan."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = s.agg(
        F.sum("c").cast("double").alias("n"), F.sum(F.sqrt("c")).alias("sw")
    )
    r = s.crossJoin(F.broadcast(tot)).select(
        "lang",
        "c",
        F.round(
            F.least(
                F.lit(1.0),
                (F.sqrt("c") / F.col("sw")) * (F.col("n") / 2.0) / F.col("c"),
            ),
            6,
        ).alias("keep_rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("double")
        / 16777216.0
    )
    kept = (
        docs.join(F.broadcast(r), "lang")
        .filter(u < F.col("keep_rate"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        r.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("c").alias("n_total"),
            "keep_rate",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def _bpe_oracle(rounds: int = 3) -> str:
    """Unrolled BPE training oracle: each round = weighted pair count →
    argmax (count desc, pair asc) → corpus-wide literal merge. Both
    engines' replace() scans left-to-right without rescanning its own
    output, so the merge step is bit-identical (probed r4)."""
    sql = """
    WITH words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS wcount FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
        WHERE word <> ''
        GROUP BY word),
    rep0 AS (
        SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS rep, wcount
        FROM words)"""
    for r in range(1, rounds + 1):
        sql += f""",
    p{r} AS (
        SELECT syms[i] AS a, syms[i + 1] AS b,
               CAST(sum(wcount) AS BIGINT) AS cnt
        FROM (
            SELECT string_split(trim(rep), ' ') AS syms, wcount,
                   unnest(range(1, len(string_split(trim(rep), ' ')))) AS i
            FROM rep{r - 1})
        GROUP BY a, b),
    best{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    rep{r} AS (
        SELECT replace(rep, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')
                   AS rep,
               wcount
        FROM rep{r - 1} CROSS JOIN best{r})"""
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, a || '+' || b AS pair, "
        f"a || b AS merged_token, cnt AS pair_count FROM best{r}"
        for r in range(1, rounds + 1)
    ]
    return sql + "\n    " + "\n    UNION ALL ".join(selects) + "\n    ORDER BY merge_round"


@register("pipeline_bpe_train", oracle=_bpe_oracle())
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training, 3 merge rounds: the core
    of building a vocabulary for LLM pretraining, run distributed.

    Each round over the word-frequency table (words, not raw tokens —
    the classic weighting that makes BPE corpus-size-independent):
    (1) count adjacent symbol pairs weighted by word frequency,
    (2) pick the argmax pair (count desc, lexicographic tiebreak — fully
    deterministic), (3) merge it corpus-wide with a literal
    space-delimited replace on the symbol string. The merge convention
    is "greedy left-to-right non-overlapping" — both engines' replace()
    scans identically (probed), so the oracle replays the exact rounds.

    Scale: the state per round is ONE broadcast row (the winning pair);
    pair counting is explode → weighted sum (map-side combined), and
    the merge is a narrow per-row map. At 100 TB the word-frequency
    table is the only shuffled structure, and it is vastly smaller than
    the corpus (Zipf); this is how industrial BPE trainers distribute.
    Output: the merge table (round, pair, merged token, weighted count)
    — the artifact a tokenizer ships."""
    merges = _bpe_train(spark, sf_dir, rounds=3)
    out = merges[0].select(*_MERGE_COLS)
    for m in merges[1:]:
        out = out.unionAll(m.select(*_MERGE_COLS))
    return out.coalesce(1).sortWithinPartitions("merge_round")


_MERGE_COLS = ("merge_round", "pair", "merged_token", "pair_count")


def _char_rep(col):
    """Word → space-delimited character symbols, with sentinel spaces so
    every symbol (incl. first/last) is ' '-delimited for literal merges."""
    return F.concat(F.lit(" "), F.regexp_replace(col, "(.)", "$1 "))


def _bpe_merge_rule(rep_col):
    """One BPE merge applied to a symbol-string column: literal
    left-to-right non-overlapping replace of ' a b ' with ' ab '
    (a/b come from the joined winning-pair row)."""
    return F.replace(
        rep_col,
        F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" ")),
        F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")),
    )


def _bpe_train(spark: SparkSession, sf_dir: str, rounds: int) -> list[DataFrame]:
    """Shared BPE trainer: returns one 1-row DataFrame per merge round
    with (merge_round, pair, merged_token, pair_count, a, b). Iterative
    fixed-round op: each round localCheckpoints the winner and the
    re-merged word table (lineage truncation, same pattern as
    ml_kmeans/dedup_clusters)."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    rep = words.select(_char_rep(F.col("word")).alias("rep"), "wcount").localCheckpoint(
        eager=True
    )
    merges = []
    for r in range(1, rounds + 1):
        syms = F.split(F.trim(F.col("rep")), " ")
        pair_structs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.struct(
                    F.element_at(syms, i + 1).alias("a"),
                    F.element_at(syms, i + 2).alias("b"),
                ),
            ),
        ).otherwise(F.array())
        best = (
            rep.select(F.explode(pair_structs).alias("p"), "wcount")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wcount").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merges.append(
            best.select(
                F.lit(r).cast("long").alias("merge_round"),
                F.concat_ws("+", "a", "b").alias("pair"),
                F.concat("a", "b").alias("merged_token"),
                F.col("cnt").alias("pair_count"),
                "a",
                "b",
            )
        )
        rep = rep.crossJoin(F.broadcast(best)).select(
            _bpe_merge_rule(F.col("rep")).alias("rep"), "wcount"
        ).localCheckpoint(eager=True)
    return merges


def _bpe_apply_oracle(rounds: int = 3) -> str:
    """Training CTEs (same as _bpe_oracle) + per-word application of the
    learned merges in round order, aggregated per document."""
    train = _bpe_oracle(rounds)
    # strip the trailing UNION SELECT block; keep the WITH chain
    train_body = train[: train.index("\n    SELECT CAST(1")]
    sql = train_body + """,
    docw AS (
        SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
        WHERE word <> '' AND doc_id < 50),
    a0 AS (
        SELECT doc_id, strlen(word) AS nchar,
               ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS rep
        FROM docw)"""
    for r in range(1, rounds + 1):
        sql += f""",
    a{r} AS (
        SELECT doc_id, nchar,
               replace(rep, ' ' || b.a || ' ' || b.b || ' ',
                       ' ' || b.a || b.b || ' ') AS rep
        FROM a{r - 1} CROSS JOIN best{r} b)"""
    sql += f"""
    SELECT doc_id,
           CAST(sum(nchar) AS BIGINT) AS n_char_tokens,
           CAST(sum(len(string_split(trim(rep), ' '))) AS BIGINT)
               AS n_bpe_tokens,
           round(CAST(sum(len(string_split(trim(rep), ' '))) AS DOUBLE)
                 / sum(nchar), 6) AS compression
    FROM a{rounds}
    GROUP BY doc_id
    ORDER BY doc_id
    """
    return sql


@register("pipeline_bpe_apply", oracle=_bpe_apply_oracle())
def pipeline_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize documents with the trained BPE merges (the other half of
    the tokenizer lifecycle): re-derive the 3 deterministic merge rules,
    apply them per word in round order (merge order is semantics in
    BPE), and report per-document char-level vs BPE token counts + the
    compression ratio — the metric vocab builders actually tune for.

    Scale: the rules are three 1-row broadcasts applied as narrow maps
    over the exploded word stream; one shuffle aggregates per-doc
    counts. At 100 TB this is a pure map-side tokenizer pass, the same
    plan shape a Spark tokenization job over a real vocab table has
    (rules become a broadcast array applied in a single expression)."""
    rounds = 3
    merges = _bpe_train(spark, sf_dir, rounds)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docw = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            F.length("word").alias("nchar"),
            _char_rep(F.col("word")).alias("rep"),
        )
    )
    for best in merges:
        docw = docw.crossJoin(F.broadcast(best.select("a", "b"))).select(
            "doc_id", "nchar", _bpe_merge_rule(F.col("rep")).alias("rep")
        )
    return (
        docw.select(
            "doc_id",
            "nchar",
            F.size(F.split(F.trim("rep"), " ")).alias("ntok"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("nchar").cast("long").alias("n_char_tokens"),
            F.sum("ntok").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("ntok").cast("double") / F.sum("nchar"), 6
            ).alias("compression"),
        )
        .coalesce(1)
        .sortWithinPartitions("doc_id")
    )


@register(
    "sample_train_test_split",
    oracle="""
    WITH tagged AS (
        SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(0 AS BIGINT) AS n_leaked
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/test split by hashed id — the
    foundational eval-hygiene op for any training pipeline. The split
    is md5-derived (first byte < 0xe6 ≈ 230/256 ≈ 90% train), never
    rand(): reruns, retries, and other engines assign every id
    identically, which is what makes the split auditable. n_leaked is
    a REAL anti-join check (train ∩ test by id), not a constant — it
    must come back 0 for both splits, and the oracle pins it.

    Scale: the split is a narrow map (hash + compare); the leak check
    is a self-join on the id that the oracle verifies is empty. The id
    checksum makes membership — not just sizes — part of the value
    hash."""
    docs = table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "e6", "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    train = tagged.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("t_id")
    )
    leaked = (
        tagged.filter(F.col("split") == "test")
        .join(train, F.col("doc_id") == F.col("t_id"), "inner")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "n_docs",
            "id_checksum",
            F.col("n").cast("long").alias("n_leaked"),
        )
        .coalesce(1)
        .sortWithinPartitions("split")
    )


@register(
    "sample_reservoir_per_group",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM ranked
    WHERE rk <= 50
    GROUP BY lang
    ORDER BY lang
    """,
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample: exactly 50 docs per language,
    selected by md5(doc_id) rank — the deterministic equivalent of a
    per-group reservoir sample (a uniform hash order IS a random order,
    but reproducible across engines, re-runs and corpus growth, which
    rand()-reservoirs are not). Emits per-language sample profiles.

    Scale: one window shuffle on lang. A low-cardinality partition key
    is the textbook skew risk; the md5 rank needs only a per-group
    top-50, so at 100 TB this drops to the two-phase top-k trick
    (partial top-50 per map task, then per-group merge) — Spark's sort
    + row_number filter under AQE already prunes everything past the
    window sort spill-side, and the filter keeps 50*|langs| rows."""
    docs = table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    win = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 50)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, lang, source, n_chars,
               len(str_split(text, ' ')) AS n_tokens,
               md5(text) AS content_hash,
               n_chars BETWEEN 100 AND 20000 AS quality_ok
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(count(DISTINCT content_hash) AS BIGINT) AS n_unique_contents,
           floor((1.0 - count(DISTINCT content_hash) * 1.0 / count(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS exact_dup_rate,
           floor(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 1000000.0 + 0.5) / 1000000.0
               AS quality_pass_rate,
           floor(CAST(sum(n_tokens) AS DOUBLE) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_tokens_per_doc
    FROM per_doc
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the one-row corpus summary published alongside a
    training dataset — volume (docs/chars/whitespace tokens), diversity
    (languages, sources), exact-duplicate rate (1 - distinct content
    hashes / docs), and the share passing a simple length gate. Composes
    the pipeline family's accounting into the shipping artifact.

    Scale: ONE scan; the three count-distincts expand into a multi-key
    partial aggregate exactly like profile_table, the content hash is a
    map-side md5, and everything reduces to a single row."""
    docs = table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("content_hash"),
        F.col("n_chars").between(100, 20000).alias("quality_ok"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_ws_tokens"),
        F.countDistinct("content_hash").cast("long").alias("n_unique_contents"),
        # round6: integer-count ratios are the tie-capable class
        # (catalog.round6, driver-r9 flake); the token mean is one exact
        # BIGINT sum divided once
        round6(
            1.0 - F.countDistinct("content_hash") * 1.0 / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
        round6(
            F.sum(F.when(F.col("quality_ok"), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
        ).alias("quality_pass_rate"),
        round6(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1))
        ).alias("avg_tokens_per_doc"),
    )


@register(
    "sink_training_shards",
    oracle="""
    WITH sharded AS (
        SELECT doc_id, lang, n_chars,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 8 AS shard
        FROM documents
        WHERE n_chars >= 100
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
)
def sink_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of a curation pipeline: export the quality-gated
    corpus as hash-balanced JSONL training shards plus a per-shard
    manifest. Shard assignment is md5(doc_id) % 8 — deterministic,
    uniform, and reproducible across reruns and engines (the md5-hash
    discipline every sampling/split key here uses); the data lands as
    real JSON-lines files partitioned by shard (one directory per
    shard, Spark's native distributed text write), and the returned
    manifest is computed by READING THE SHARDS BACK — so the oracle
    cross-checks the written artifact, not just the plan.

    Scale: the write is one shuffle on the shard key (8 writer groups;
    a production export raises the modulus to its target shard count);
    the manifest is one aggregate over the read-back. No driver-side
    data; the JSONL roundtrip exercises schema-carrying text I/O."""
    import os as _os

    from kwery_spark.sources.scans import pid_dir

    out = pid_dir("training_shards", _os.path.basename(sf_dir.rstrip("/")))
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    sharded = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        "text",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 8
        ).alias("shard"),
    )
    sharded.write.mode("overwrite").partitionBy("shard").json(out)
    back = spark.read.json(out)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "total_chars",
            "min_doc",
            "max_doc",
            "n_langs",
        )
        .coalesce(1)
        .sortWithinPartitions("shard")
    )


@register(
    "sample_weighted",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang, n_chars,
               greatest(n_chars, 1) AS wgt,
               (CAST('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)),
                                       1, 8) AS BIGINT) + 1)
                   / 4294967297.0 AS u
        FROM documents
    ),
    k AS (
        SELECT doc_id, lang, n_chars,
               -round(ln(u), 9) / wgt AS sel_key
        FROM w
    ),
    s AS (
        SELECT doc_id, lang, n_chars, sel_key
        FROM k ORDER BY sel_key, doc_id LIMIT 100
    )
    SELECT CAST(row_number() OVER (ORDER BY sel_key, doc_id) AS BIGINT) AS rk,
           doc_id, lang, n_chars,
           round(sel_key * 1000000.0, 6) AS key_e6
    FROM s ORDER BY rk
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by the Efraimidis-Spirakis
    exponential-race scheme (A-ES, 2006): each doc draws an exponential
    key -ln(u)/w (w = its char length) and the 100 SMALLEST keys win —
    the one-pass, merge-friendly formulation of weighted reservoir
    sampling, which is exactly how you'd subsample a 100 TB corpus
    proportionally to document length without a global resample.

    Determinism discipline: u is the md5(doc_id)-derived rational with
    denominator 2^32+1 (never 0, so ln is finite; never rand()), ln is
    rounded to 9dp BEFORE the division by the exact integer weight
    (the repo's transcendental-parity rule), and ties break on doc_id.

    Scale: the top-100 is orderBy+limit, which Spark plans as
    TakeOrderedAndProject — per-task partial top-k then a single
    100-row merge, no global sort, no shuffle of the corpus. The rank
    window runs over the 100 selected rows only (declared GLOBAL_WIN,
    constant bound)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    u = (
        "(CAST(conv(substring(md5(concat('wsamp:', CAST(doc_id AS STRING))), "
        "1, 8), 16, 10) AS BIGINT) + 1) / 4294967297.0"
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            -F.round(F.expr(f"ln({u})"), 9)
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("sel_key"),
    )
    top = keyed.orderBy("sel_key", "doc_id").limit(100)
    w_rk = Window.orderBy("sel_key", "doc_id")
    return (
        top.select(
            F.row_number().over(w_rk).cast("long").alias("rk"),
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.col("sel_key") * 1000000.0, 6).alias("key_e6"),
        )
        .coalesce(1)
        .sortWithinPartitions("rk")
    )


@register(
    "pipeline_sft_format",
    oracle="""
    WITH eligible AS (
        SELECT doc_id, lang, source,
               substring(text, 1, 200) AS prompt,
               substring(text, 201) AS response
        FROM documents WHERE n_chars > 200
    ),
    rendered AS (
        SELECT doc_id, lang, source,
               '<|user|>' || chr(10) || prompt || chr(10)
                   || '<|assistant|>' || chr(10) || response || '<|end|>'
                   AS sample,
               CAST(len(str_split(prompt, ' ')) AS BIGINT) AS prompt_toks,
               CAST(len(str_split(response, ' ')) AS BIGINT) + 1
                   AS loss_toks
        FROM eligible
    ),
    skipped AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_skipped
        FROM documents WHERE n_chars <= 200 GROUP BY lang
    )
    SELECT r.lang,
           CAST(count(*) AS BIGINT) AS n_examples,
           coalesce(any_value(s.n_skipped), 0) AS n_skipped,
           CAST(sum(prompt_toks) AS BIGINT) AS prompt_tokens,
           CAST(sum(loss_toks) AS BIGINT) AS loss_tokens,
           round(CAST(sum(loss_toks) AS DOUBLE)
                 / (sum(prompt_toks) + sum(loss_toks)), 6) AS loss_frac,
           CAST(sum(CAST('0x' || substring(md5(sample), 1, 8) AS BIGINT))
                AS BIGINT) AS render_checksum
    FROM rendered r LEFT JOIN skipped s ON r.lang = s.lang
    GROUP BY r.lang
    ORDER BY r.lang
    """,
)
def pipeline_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering with loss-mask accounting — the
    formatting step between a curated corpus and instruction-tuning:
    each eligible doc (>200 chars) splits into a prompt (first 200
    chars, loss-masked) and a response (the rest + an end token, where
    the loss applies), rendered through a fixed chat template. Emits
    per-language example counts, masked vs trained token totals, the
    trained-token fraction, and an order-independent md5 checksum of
    every rendered sample (sums of exact 32-bit hash prefixes), so a
    downstream trainer can verify the shards byte-for-byte.

    Exactness: all counts and checksums are integers; the loss
    fraction is one double division. documents.text is pure ASCII so
    substring/md5 mirror exactly across engines (repo rule).

    Scale: one scan, everything map-side (render, hash, token counts)
    into a per-language combine; the skipped-doc side is a <=|langs|
    broadcast join. The rendered strings never shuffle — only their
    counts and hashes do."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text", "n_chars"
    )
    el = docs.filter(F.col("n_chars") > 200).select(
        "lang",
        F.substring("text", 1, 200).alias("prompt"),
        F.expr("substring(text, 201)").alias("response"),
    )
    nl = F.lit("\n")
    rendered = el.select(
        "lang",
        F.concat(
            F.lit("<|user|>"),
            nl,
            F.col("prompt"),
            nl,
            F.lit("<|assistant|>"),
            nl,
            F.col("response"),
            F.lit("<|end|>"),
        ).alias("sample"),
        F.size(F.split("prompt", " ")).cast("long").alias("prompt_toks"),
        (F.size(F.split("response", " ")).cast("long") + 1).alias("loss_toks"),
    )
    skipped = (
        docs.filter(F.col("n_chars") <= 200)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_skipped"))
    )
    agg = (
        rendered.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_examples"),
            F.sum("prompt_toks").cast("long").alias("prompt_tokens"),
            F.sum("loss_toks").cast("long").alias("loss_tokens"),
            F.sum(
                F.expr(
                    "CAST(conv(substring(md5(sample), 1, 8), 16, 10) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("render_checksum"),
        )
        .join(F.broadcast(skipped), "lang", "left")
    )
    return (
        agg.select(
            "lang",
            "n_examples",
            F.coalesce(F.col("n_skipped"), F.lit(0)).cast("long").alias("n_skipped"),
            "prompt_tokens",
            "loss_tokens",
            F.round(
                F.col("loss_tokens").cast("double")
                / (F.col("prompt_tokens") + F.col("loss_tokens")),
                6,
            ).alias("loss_frac"),
            "render_checksum",
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "pipeline_quality_ablation",
    oracle="""
    WITH d AS (
        SELECT n_chars,
               str_split(text, ' ') AS toks,
               text
        FROM documents
    ),
    f AS (
        SELECT n_chars,
               (n_chars BETWEEN 100 AND 20000) AS g_len,
               (len(list_distinct(toks)) * 1.0
                    >= 0.3 * len(toks)) AS g_rep,
               (CAST(n_chars AS DOUBLE) / len(toks)
                    BETWEEN 3.0 AND 12.0) AS g_wlen,
               (NOT regexp_matches(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS g_pii
        FROM d
    ),
    c AS (
        SELECT n_chars, g_len,
               g_len AND g_rep AS c2,
               g_len AND g_rep AND g_wlen AS c3,
               g_len AND g_rep AND g_wlen AND g_pii AS c4
        FROM f
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(sum(n_chars) AS BIGINT) AS ch0,
               CAST(sum(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN g_len THEN n_chars ELSE 0 END) AS BIGINT) AS ch1,
               CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN c2 THEN n_chars ELSE 0 END) AS BIGINT) AS ch2,
               CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
               CAST(sum(CASE WHEN c3 THEN n_chars ELSE 0 END) AS BIGINT) AS ch3,
               CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
               CAST(sum(CASE WHEN c4 THEN n_chars ELSE 0 END) AS BIGINT) AS ch4
        FROM c
    )
    SELECT * FROM (
        SELECT 0 AS stage, 'raw' AS gate, n0 AS n_docs, ch0 AS n_chars,
               round(1.0, 6) AS keep_frac FROM agg
        UNION ALL SELECT 1, 'length', n1, ch1,
               round(CAST(n1 AS DOUBLE) / n0, 6) FROM agg
        UNION ALL SELECT 2, '+repetition', n2, ch2,
               round(CAST(n2 AS DOUBLE) / n0, 6) FROM agg
        UNION ALL SELECT 3, '+word_len', n3, ch3,
               round(CAST(n3 AS DOUBLE) / n0, 6) FROM agg
        UNION ALL SELECT 4, '+pii_free', n4, ch4,
               round(CAST(n4 AS DOUBLE) / n0, 6) FROM agg
    ) ORDER BY stage
    """,
)
def pipeline_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel ablation: the four quality gates (length,
    distinct-token repetition, mean word length, PII-free) applied
    CUMULATIVELY, reporting surviving docs, chars and keep fraction
    after each stage — the report a data team reads to see which gate
    costs the tokens before shipping a filter stack (C4/Gopher-style
    ablation accounting).

    Exactness: every gate is a boolean on exact integers/one-division
    doubles; stage totals are integer sums; keep fractions are single
    divisions.

    Scale: ONE scan; all four gates and the cumulative conjunctions
    evaluate map-side; the whole corpus reduces to a single partial-
    aggregated row which then unpivots to the 5 stage rows (plan glue,
    no data movement)."""
    d = table(spark, sf_dir, "documents").select("n_chars", "text")
    toks = F.split("text", " ")
    f = d.select(
        "n_chars",
        F.col("n_chars").between(100, 20000).alias("g_len"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            >= 0.3 * F.size(toks)
        ).alias("g_rep"),
        (
            (F.col("n_chars").cast("double") / F.size(toks)).between(3.0, 12.0)
        ).alias("g_wlen"),
        (~F.col("text").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")).alias(
            "g_pii"
        ),
    )
    c = f.select(
        "n_chars",
        "g_len",
        (F.col("g_len") & F.col("g_rep")).alias("c2"),
        (F.col("g_len") & F.col("g_rep") & F.col("g_wlen")).alias("c3"),
        (
            F.col("g_len") & F.col("g_rep") & F.col("g_wlen") & F.col("g_pii")
        ).alias("c4"),
    )

    def _n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def _ch(cond):
        return F.sum(F.when(cond, F.col("n_chars")).otherwise(0)).cast("long")

    agg = c.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("n_chars").cast("long").alias("ch0"),
        _n(F.col("g_len")).alias("n1"),
        _ch(F.col("g_len")).alias("ch1"),
        _n(F.col("c2")).alias("n2"),
        _ch(F.col("c2")).alias("ch2"),
        _n(F.col("c3")).alias("n3"),
        _ch(F.col("c3")).alias("ch3"),
        _n(F.col("c4")).alias("n4"),
        _ch(F.col("c4")).alias("ch4"),
    )
    stages = agg.select(
        F.expr(
            "stack(5,"
            " 0, 'raw',         n0, ch0, CAST(1.0 AS DOUBLE),"
            " 1, 'length',      n1, ch1, round(CAST(n1 AS DOUBLE) / n0, 6),"
            " 2, '+repetition', n2, ch2, round(CAST(n2 AS DOUBLE) / n0, 6),"
            " 3, '+word_len',   n3, ch3, round(CAST(n3 AS DOUBLE) / n0, 6),"
            " 4, '+pii_free',   n4, ch4, round(CAST(n4 AS DOUBLE) / n0, 6)"
            ") AS (stage, gate, n_docs, n_chars, keep_frac)"
        )
    )
    return stages.coalesce(1).sortWithinPartitions("stage")


@register(
    "pipeline_dpo_format",
    oracle="""
    WITH eligible AS (
        SELECT doc_id, lang, text,
               CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT)
                   AS score
        FROM documents WHERE n_chars > 200
    ),
    ranked AS (
        SELECT lang, text, score, doc_id,
               row_number() OVER w AS rn,
               lead(text) OVER w AS r_text,
               lead(score) OVER w AS r_score
        FROM eligible
        WINDOW w AS (PARTITION BY lang ORDER BY score DESC, doc_id)
    ),
    pairs AS (
        SELECT lang,
               score - r_score AS margin,
               substring(text, 1, 120) AS prompt,
               substring(text, 121) AS chosen_resp,
               substring(r_text, 121) AS rejected_resp
        FROM ranked
        WHERE rn % 2 = 1 AND r_text IS NOT NULL
    ),
    rendered AS (
        SELECT lang, margin,
               '<|user|>' || chr(10) || prompt
                   || chr(10) || '<|chosen|>' || chr(10) || chosen_resp
                   || chr(10) || '<|rejected|>' || chr(10) || rejected_resp
                   || '<|end|>' AS sample,
               CAST(len(str_split(chosen_resp, ' ')) AS BIGINT) AS c_toks,
               CAST(len(str_split(rejected_resp, ' ')) AS BIGINT) AS r_toks
        FROM pairs
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(CAST(margin AS DOUBLE)), 6) AS avg_margin,
           CAST(sum(c_toks) AS BIGINT) AS chosen_tokens,
           CAST(sum(r_toks) AS BIGINT) AS rejected_tokens,
           CAST(sum(CAST('0x' || substring(md5(sample), 1, 8) AS BIGINT))
                AS BIGINT) AS render_checksum
    FROM rendered GROUP BY lang ORDER BY lang
    """,
)
def pipeline_dpo_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair formatting — the sibling of
    pipeline_sft_format for preference optimization: eligible docs
    (>200 chars) are ranked per language by a deterministic quality
    proxy (distinct-token count, tiebreak doc_id) and paired
    consecutively (rank 1-2, 3-4, ...), the higher-scoring member
    becoming the CHOSEN response and the lower the REJECTED one, with
    the chosen doc's first 120 chars as the shared prompt. Each pair
    renders through a fixed chat template; per language the op emits
    pair counts, the mean preference margin, chosen/rejected token
    totals, and an order-independent md5 render checksum (sum of exact
    32-bit hash prefixes) for shard verification — the same trainer
    contract as the SFT key.

    Exactness: the margin is an integer difference averaged once; all
    other outputs are integer sums; documents.text is pure ASCII so
    substring/md5 mirror across engines (repo rule).

    Scale: one scan, one shuffle (the per-lang rank window); pairing
    is lead() over the SAME window — no self-join, no second shuffle —
    and the render/hash/token math is map-side into a <=|langs|
    combine. At 100 TB the window sort is the cost; a real deployment
    would bucket the rank space (rank ranges per reducer) exactly like
    pack_sequences does."""
    el = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 200).select(
        "doc_id",
        "lang",
        "text",
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), "doc_id")
    ranked = el.select(
        "lang",
        "text",
        "score",
        F.row_number().over(w).alias("rn"),
        F.lead("text").over(w).alias("r_text"),
        F.lead("score").over(w).alias("r_score"),
    ).filter((F.col("rn") % 2 == 1) & F.col("r_text").isNotNull())
    nl = F.lit("\n")
    rendered = ranked.select(
        "lang",
        (F.col("score") - F.col("r_score")).alias("margin"),
        F.concat(
            F.lit("<|user|>"),
            nl,
            F.substring("text", 1, 120),
            nl,
            F.lit("<|chosen|>"),
            nl,
            F.expr("substring(text, 121)"),
            nl,
            F.lit("<|rejected|>"),
            nl,
            F.expr("substring(r_text, 121)"),
            F.lit("<|end|>"),
        ).alias("sample"),
        F.size(F.split(F.expr("substring(text, 121)"), " ")).cast("long").alias("c_toks"),
        F.size(F.split(F.expr("substring(r_text, 121)"), " ")).cast("long").alias("r_toks"),
    )
    return (
        rendered.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg(F.col("margin").cast("double")), 6).alias("avg_margin"),
            F.sum("c_toks").cast("long").alias("chosen_tokens"),
            F.sum("r_toks").cast("long").alias("rejected_tokens"),
            F.sum(
                F.expr(
                    "CAST(conv(substring(md5(sample), 1, 8), 16, 10) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("render_checksum"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "pipeline_tokenizer_fertility",
    oracle="""
    WITH per_lang AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(sum(len(text)) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    ),
    en AS (
        SELECT CAST(total_chars AS DOUBLE) / total_tokens AS en_cpt
        FROM per_lang WHERE lang = 'en'
    )
    SELECT lang, n_docs, total_tokens, total_chars,
           floor(CAST(total_chars AS DOUBLE) / total_tokens
                 * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token,
           floor(CAST(total_tokens AS DOUBLE) * 100.0 / total_chars
                 * 1000000.0 + 0.5) / 1000000.0 AS tokens_per_100_chars,
           floor(CAST(total_chars AS DOUBLE) / total_tokens / en.en_cpt
                 * 1000000.0 + 0.5) / 1000000.0 AS fertility_vs_en
    FROM per_lang CROSS JOIN en
    ORDER BY lang
    """,
)
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: per language, tokens and characters
    under the pipeline's whitespace tokenizer, chars-per-token
    (fertility), token density per 100 chars, and the fertility ratio
    against the English reference row — the standard multilingual
    tokenizer-efficiency report (a language whose fertility_vs_en drifts
    high is being over-segmented, i.e. paying more sequence length per
    character of content, which skews mixture weights and training
    cost). Complements text_token_count (per-doc counts) with the
    per-language budget view an LLM data pipeline actually plans on.

    Exactness: token/char totals are exact BIGINT sums; every ratio is a
    single division of exact integers rounded via catalog.round6 (the
    driver-r9 tie class — integer-ratio quotients CAN land on exact
    6th-decimal ties); the cross-language ratio divides two identical
    doubles in both engines.

    Scale: one scan, partial-aggregated to |langs| rows; the English
    reference joins back as a 1-row broadcast. At 100 TB this is the
    same plan — the shuffle carries five rows per input partition."""
    docs = table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )
    cpt = F.col("total_chars").cast("double") / F.col("total_tokens")
    en = per_lang.filter(F.col("lang") == "en").select(cpt.alias("en_cpt"))
    return (
        per_lang.crossJoin(F.broadcast(en))
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_chars",
            round6(cpt).alias("chars_per_token"),
            round6(
                F.col("total_tokens").cast("double")
                * 100.0
                / F.col("total_chars")
            ).alias("tokens_per_100_chars"),
            round6(cpt / F.col("en_cpt")).alias("fertility_vs_en"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "pipeline_context_budget",
    oracle="""
    WITH t AS (
        SELECT lang,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           floor(quantile_cont(toks, 0.5) * 1000000.0 + 0.5) / 1000000.0
               AS p50_tokens,
           floor(quantile_cont(toks, 0.95) * 1000000.0 + 0.5) / 1000000.0
               AS p95_tokens,
           CAST(max(toks) AS BIGINT) AS max_tokens,
           CAST(sum(CASE WHEN toks > 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_over_64,
           floor(CAST(sum(least(toks, 64)) AS DOUBLE) / sum(toks)
                 * 1000000.0 + 0.5) / 1000000.0 AS retention_at_64
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def pipeline_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length budgeting report: per language, the token-length
    distribution (exact p50/p95, max) and what survives truncation at a
    64-token context — docs over the limit and the token-retention
    fraction sum(min(tokens, L))/sum(tokens). This is the question a
    pretraining run asks before choosing sequence length and packing
    strategy; complements pack_sequences (which packs at a GIVEN length)
    and pipeline_tokenizer_fertility (per-language cost per char).

    Exactness: token counts are exact integers; quantile interpolation
    runs on identical integer-valued doubles in both engines and is
    rounded via catalog.round6 (a p50 of an even count is an exact .5
    tie — the driver-r9 class); the retention ratio is one division of
    exact BIGINT sums, also round6.

    Scale: one scan; the per-language percentile is exact over the
    grouped token counts (at 100 TB swap in approx_percentile — same
    plan shape, the corpus fits the exact form the oracle needs)."""
    toks = F.size(F.split("text", " ")).cast("long")
    t = table(spark, sf_dir, "documents").select(
        "lang", toks.alias("toks")
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            round6(F.expr("percentile(toks, 0.5)")).alias("p50_tokens"),
            round6(F.expr("percentile(toks, 0.95)")).alias("p95_tokens"),
            F.max("toks").cast("long").alias("max_tokens"),
            F.sum(F.when(F.col("toks") > 64, 1).otherwise(0))
            .cast("long")
            .alias("docs_over_64"),
            round6(
                F.sum(F.least(F.col("toks"), F.lit(64)))
                .cast("long")
                .cast("double")
                / F.sum("toks")
            ).alias("retention_at_64"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "sample_balanced_classes",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    floor_n AS (SELECT min(n) AS k FROM counts),
    ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ),
    kept AS (
        SELECT r.* FROM ranked r CROSS JOIN floor_n f WHERE r.rk <= f.k
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           floor(CAST(sum(n_chars) AS DOUBLE) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_chars_kept
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-BALANCED downsampling: every language keeps exactly
    min(class size) documents — the equalizing sampler behind balanced
    eval sets and per-language training quotas. Distinct from
    sample_stratified, which PRESERVES the class proportions; this one
    flattens them. Selection is the md5(doc_id) rank per class — the
    repo's reproducible-sampling rule — so membership is identical
    across engines, re-runs, and cluster sizes.

    Exactness: rank ties are impossible (doc_id is unique within the
    tiebreak); the per-class floor arrives as a 1-row broadcast; the id
    checksum is an exact BIGINT sum; the kept-average is one exact
    integer ratio rounded via catalog.round6.

    Scale: one rank window per class (shuffle on lang, bounded
    cardinality) + a 1-row broadcast bound — no collect, no cross
    join with data. At 100 TB the same plan holds; the rank window is
    the standard per-class top-k."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    floor_n = counts.agg(F.min("n").cast("long").alias("k"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    kept = (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("k"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            round6(
                F.sum("n_chars").cast("long").cast("double")
                / F.count(F.lit(1))
            ).alias("avg_chars_kept"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@register(
    "pipeline_interleave_sources",
    oracle="""
    WITH ordered AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ),
    sched AS (
        SELECT source, doc_id, rn,
               row_number() OVER (ORDER BY rn, source, doc_id) AS position
        FROM ordered
    )
    SELECT position, source, doc_id
    FROM sched
    WHERE position <= 50
    ORDER BY position
    """,
)
def pipeline_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source interleaving: the training-order schedule
    that alternates between sources round-robin (rank r of every source
    before rank r+1 of any source) — the tf.data / interleave_datasets
    pattern that stops a run from seeing one source in a long block.
    Within a source the order is the md5(doc_id) shuffle (reproducible
    across engines and re-runs); across sources at equal rank the
    tiebreak is (source, doc_id). Emits the first 50 schedule
    positions.

    Scale: one rank window per source; the GLOBAL position is only
    materialized for the bounded top-50 (orderBy+limit fuses to
    TakeOrderedAndProject — no full global sort), which is exactly how
    a real pipeline would page the schedule out lazily."""
    docs = table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ordered = docs.select("source", "doc_id").withColumn(
        "rn", F.row_number().over(w_src)
    )
    top = ordered.orderBy("rn", "source", "doc_id").limit(50)
    w_pos = Window.orderBy("rn", "source", "doc_id")
    return (
        top.withColumn("position", F.row_number().over(w_pos).cast("long"))
        .select("position", "source", "doc_id")
        .coalesce(1)
        .sortWithinPartitions("position")
    )


@register(
    "pipeline_pack_balanced",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, len(str_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    sized AS (
        SELECT lang, doc_id, n_tokens,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_tokens DESC, doc_id) - 1 AS r,
               CAST(ceil(CAST(sum(n_tokens) OVER (PARTITION BY lang)
                              AS DOUBLE) / 4096) AS BIGINT) AS k
        FROM toks
    ),
    placed AS (
        SELECT lang, n_tokens, k,
               CASE WHEN (r // k) % 2 = 0 THEN r % k
                    ELSE k - 1 - (r % k) END AS bin
        FROM sized
    ),
    bins AS (
        SELECT lang, k, bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM placed GROUP BY lang, k, bin
    )
    SELECT lang,
           CAST(max(k) AS BIGINT) AS n_bins,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(min(bin_tokens) AS BIGINT) AS min_bin_tokens,
           CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
           floor(CAST(max(bin_tokens) AS DOUBLE) * max(k)
                 / sum(bin_tokens) * 1000000.0 + 0.5) / 1000000.0
               AS makespan_ratio
    FROM bins GROUP BY lang ORDER BY lang
    """,
)
def pipeline_pack_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decreasing-first BALANCED sequence packing (VERDICT r10 item 5):
    the training-efficiency complement of pack_sequences' greedy
    order-preserving packer. Per language, docs are sorted by token
    count DESC and dealt serpentine (boustrophedon) across
    k = ceil(total/4096) bins — LPT-style longest-first placement, the
    distributable member of the decreasing-packing family: true
    best-fit-decreasing's per-item bin search is inherently sequential
    (a priority queue over bin loads), while serpentine-LPT is pure
    window algebra with the same training-relevant property (big
    sequences placed first, batch loads balanced; LPT carries the
    classic 4/3 makespan bound). Output: per-lang bin census + the
    max-load/ideal-load makespan ratio.

    Scale: one window per lang stratum (rank + total), one bounded
    groupBy — no driver loop, no iteration; at 100 TB the stratum key
    gains a shard component exactly like pack_sequences. Determinism:
    rank ties break on doc_id; counts are exact BIGINTs; the ratio is
    an integer-ratio round — catalog.round6 (the driver-r9 tie class)."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    wl = Window.partitionBy("lang")
    sized = docs.select("doc_id", "lang", n_tokens.alias("n_tokens")).select(
        "lang",
        "n_tokens",
        (
            F.row_number().over(wl.orderBy(F.col("n_tokens").desc(), "doc_id"))
            - 1
        ).alias("r"),
        F.ceil(
            F.sum("n_tokens").over(wl).cast("double") / 4096
        ).cast("long").alias("k"),
    )
    placed = sized.select(
        "lang",
        "n_tokens",
        "k",
        F.when(
            F.expr("r DIV k") % 2 == 0,
            F.col("r") % F.col("k"),
        )
        .otherwise(F.col("k") - 1 - (F.col("r") % F.col("k")))
        .alias("bin"),
    )
    bins = placed.groupBy("lang", "k", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )
    return (
        bins.groupBy("lang")
        .agg(
            F.max("k").cast("long").alias("n_bins"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
            F.min("bin_tokens").cast("long").alias("min_bin_tokens"),
            F.max("bin_tokens").cast("long").alias("max_bin_tokens"),
            round6(
                F.max("bin_tokens").cast("double")
                * F.max("k")
                / F.sum("bin_tokens")
            ).alias("makespan_ratio"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )
