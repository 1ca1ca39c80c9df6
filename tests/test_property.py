"""Property-based differential testing (SURVEY.md §5.4): Hypothesis
generates small tables; the SAME SQL runs on Spark and DuckDB and results
must agree after the harness's normalization (order-insensitive,
float-tolerant — reused from tools/check.py).

Covers the algebraic core where engine semantics could diverge: GROUP BY
over nullable keys, inner/left joins with null keys, three-valued-logic
filters, and set operations with bag semantics. Doubles are restricted to
quarter-integers so sums stay exact and comparisons bitwise-stable.

derandomize=True: the suite is deterministic run-to-run (CI-stable); raise
max_examples locally to fuzz harder.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from check import norm_rows

KEYS = st.integers(min_value=0, max_value=5)
STRS = st.one_of(st.none(), st.sampled_from(["x", "y", "z", ""]))
QUARTERS = st.integers(min_value=-8, max_value=8).map(lambda n: n / 4.0)

T1_ROWS = st.lists(st.tuples(KEYS, STRS, QUARTERS), min_size=0, max_size=12)
T2_ROWS = st.lists(st.tuples(KEYS, STRS), min_size=0, max_size=8)

SQLS = [
    # grouped agg over nullable string key; count(*) vs count(col) null rules
    """SELECT b, count(*) AS n, count(b) AS n_b, sum(c) AS sum_c
       FROM t1 GROUP BY b""",
    # inner equi-join + projection
    """SELECT t1.a AS a, t1.b AS b, t2.d AS d
       FROM t1 JOIN t2 ON t1.a = t2.a""",
    # left join null-padding + 3VL filter on the padded side
    """SELECT t1.a AS a, t1.c AS c, t2.d AS d
       FROM t1 LEFT JOIN t2 ON t1.a = t2.a
       WHERE t2.d IS NULL OR t2.d = 'x'""",
    # 3-valued logic: NOT over a nullable comparison
    """SELECT a, b FROM t1 WHERE NOT (b = 'x') OR b IS NULL""",
    # bag-semantics set ops on projections
    """SELECT a FROM t1 EXCEPT ALL SELECT a FROM t2""",
    """SELECT a FROM t1 INTERSECT ALL SELECT a FROM t2""",
    # distinct + order-insensitive compare
    """SELECT DISTINCT a, b FROM t1""",
    # SQL:2003 FILTER-clause aggregates (r2 surface)
    """SELECT b, count(*) FILTER (WHERE c > 0) AS n_pos,
              sum(c) FILTER (WHERE a % 2 = 0) AS even_sum
       FROM t1 GROUP BY b""",
    # distribution ranks: tie-stable within peer groups, total tiebreak
    # otherwise (NULLS FIRST spelled out — Spark defaults NULLS FIRST on
    # ASC, DuckDB NULLS LAST)
    """SELECT a, b,
              CAST(row_number() OVER (PARTITION BY b ORDER BY a, c) AS BIGINT)
                  AS rn,
              round(cume_dist() OVER (PARTITION BY b ORDER BY a, c), 6) AS cd,
              round(percent_rank() OVER (PARTITION BY b ORDER BY a, c), 6) AS pr
       FROM t1""",
    # gaps-and-islands running flag-sum (scd2/sessionize core); total
    # order so only full-duplicate rows tie
    """SELECT a, c,
              CAST(sum(CASE WHEN b IS NULL THEN 1 ELSE 0 END)
                   OVER (ORDER BY a, c, b ASC NULLS FIRST
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS flag_cum
       FROM t1""",
    # FULL JOIN + action classification (merge_upsert core shape)
    """SELECT coalesce(t1.a, t2.a) AS k, t1.b AS b, t2.d AS d,
              CASE WHEN t1.a IS NOT NULL AND t2.a IS NOT NULL THEN 'both'
                   WHEN t1.a IS NOT NULL THEN 'left' ELSE 'right' END AS side
       FROM t1 FULL JOIN t2 ON t1.a = t2.a""",
    # correlated LATERAL with a totally-ordered LIMIT
    """SELECT t2.a AS a, t2.d AS d, x.c AS c
       FROM t2, LATERAL (SELECT c FROM t1 WHERE t1.a = t2.a
                         ORDER BY c, b ASC NULLS FIRST LIMIT 1) x""",
]


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@given(t1=T1_ROWS, t2=T2_ROWS)
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_algebraic_core_matches_duckdb(spark, duck, t1, t2):
    p1 = pd.DataFrame(t1, columns=["a", "b", "c"]).astype(
        {"a": "int64", "b": "object", "c": "float64"}
    )
    p2 = pd.DataFrame(t2, columns=["a", "d"]).astype({"a": "int64", "d": "object"})
    spark.createDataFrame(p1, "a long, b string, c double").createOrReplaceTempView("t1")
    spark.createDataFrame(p2, "a long, d string").createOrReplaceTempView("t2")
    duck.register("t1", p1)
    duck.register("t2", p2)
    for sql in SQLS:
        sdf = spark.sql(sql)
        srows = [tuple(r) for r in sdf.collect()]
        rel = duck.sql(sql)
        drows = rel.fetchall()
        assert norm_rows(sdf.columns, srows) == norm_rows(list(rel.columns), drows), sql


ASOF_LEFT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=10
)
ASOF_RIGHT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(-5, 5)),
    min_size=0,
    max_size=10,
    unique_by=lambda r: (r[0], r[1]),  # unique (key, time): ASOF ties are
    # engine-arbitrary, so the generator excludes them
)


@given(lrows=ASOF_LEFT, rrows=ASOF_RIGHT)
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_duckdb_native(spark, duck, lrows, rrows):
    """The union+window asof_join must agree with DuckDB's native ASOF
    LEFT JOIN on arbitrary key/time data, including no-match rows,
    equal-time matches (<=), and duplicate left rows."""
    from kwery_spark.operators.joins import asof_join

    pl = pd.DataFrame(lrows, columns=["k", "t"]).astype("int64")
    pl["lid"] = range(len(pl))
    pr = pd.DataFrame(rrows, columns=["k", "rt", "v"]).astype("int64")
    sl = spark.createDataFrame(pl, "k long, t long, lid long")
    sr = spark.createDataFrame(pr, "k long, rt long, v long")
    got = asof_join(
        sl, sr, by=["k"], left_on="t", right_on="rt", right_cols=["rt", "v"]
    )
    duck.register("al", pl)
    duck.register("ar", pr)
    rel = duck.sql(
        """SELECT al.k AS k, al.t AS t, al.lid AS lid, ar.rt AS rt, ar.v AS v
           FROM al ASOF LEFT JOIN ar ON al.k = ar.k AND ar.rt <= al.t"""
    )
    assert norm_rows(got.columns, [tuple(r) for r in got.collect()]) == norm_rows(
        list(rel.columns), rel.fetchall()
    )


@given(lrows=ASOF_LEFT, rrows=ASOF_RIGHT)
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_forward_negation_matches_duckdb(spark, duck, lrows, rrows):
    """join_asof_forward's negation trick (forward-earliest on t ==
    backward-latest on -t through the same union+window helper) must
    agree with an independent min-over-inequality formulation in DuckDB
    on arbitrary key/time data, including no-match rows and equal-time
    matches (>= includes them)."""
    import pyspark.sql.functions as F

    from kwery_spark.operators.joins import asof_join

    pl = pd.DataFrame(lrows, columns=["k", "t"]).astype("int64")
    pl["lid"] = range(len(pl))
    pr = pd.DataFrame(rrows, columns=["k", "rt", "v"]).astype("int64")
    sl = spark.createDataFrame(pl, "k long, t long, lid long").withColumn(
        "nt", -F.col("t")
    )
    sr = spark.createDataFrame(pr, "k long, rt long, v long").withColumn(
        "nt", -F.col("rt")
    )
    got = asof_join(
        sl, sr, by=["k"], left_on="nt", right_on="nt", right_cols=["rt", "v"]
    ).select("k", "t", "lid", "rt", "v")
    duck.register("fl", pl)
    duck.register("fr", pr)
    rel = duck.sql(
        """WITH m AS (
               SELECT fl.k AS k, fl.t AS t, fl.lid AS lid, min(fr.rt) AS rt
               FROM fl LEFT JOIN fr ON fl.k = fr.k AND fr.rt >= fl.t
               GROUP BY fl.k, fl.t, fl.lid)
           SELECT m.k, m.t, m.lid, m.rt, fr.v
           FROM m LEFT JOIN fr ON fr.k = m.k AND fr.rt = m.rt"""
    )
    assert norm_rows(got.columns, [tuple(r) for r in got.collect()]) == norm_rows(
        list(rel.columns), rel.fetchall()
    )


RANGE_EVENTS = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 3000)),  # (is_error, seconds)
    min_size=1,
    max_size=24,
)


@given(rows=RANGE_EVENTS)
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bucketed_range_join_equals_naive(spark, duck, rows, tmp_path_factory):
    """The equi-prefix bucket rewrite used by join_range (bucket-to-
    {bucket,bucket+1} + exact residual) must return exactly the naive
    range join's answer for any event layout — including events on bucket
    boundaries and windows spanning two buckets."""
    import pyspark.sql.functions as F

    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "is_err": [r[0] for r in rows],
            "sec": [r[1] for r in rows],
        }
    ).astype("int64")
    df = spark.createDataFrame(pdf, "event_id long, is_err long, sec long")
    bucket = (F.col("sec") / 600).cast("long")
    err = df.filter(F.col("is_err") == 1).select(
        F.col("event_id").alias("e_id"), F.col("sec").alias("e_sec"), bucket.alias("e_b")
    )
    err2 = err.withColumn("probe_b", F.explode(F.array(F.col("e_b"), F.col("e_b") + 1)))
    clk = df.filter(F.col("is_err") == 0).select(
        F.col("event_id").alias("c_id"), F.col("sec").alias("c_sec"), bucket.alias("c_b")
    )
    got = (
        err2.join(
            clk,
            (err2.probe_b == clk.c_b)
            & (clk.c_sec >= err2.e_sec)
            & (clk.c_sec < err2.e_sec + 600),
            "left",
        )
        .groupBy(F.col("e_id").alias("event_id"))
        .agg(F.count("c_id").alias("n_in_window"))
    )
    duck.register("ev", pdf)
    rel = duck.sql(
        """SELECT e.event_id AS event_id, count(c.event_id) AS n_in_window
           FROM (SELECT * FROM ev WHERE is_err = 1) e
           LEFT JOIN (SELECT * FROM ev WHERE is_err = 0) c
             ON c.sec >= e.sec AND c.sec < e.sec + 600
           GROUP BY e.event_id"""
    )
    assert norm_rows(got.columns, [tuple(r) for r in got.collect()]) == norm_rows(
        list(rel.columns), rel.fetchall()
    )


TEXTS = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24), min_size=1, max_size=8
)


@given(texts=TEXTS)
@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hof_string_pipelines_match_duckdb(spark, duck, texts):
    """The HOF machinery most oracles lean on — split, distinct+sort+join,
    slice+join, length filter, md5'd n-grams — must agree between Spark's
    array functions and DuckDB's list functions on arbitrary (messy,
    multi-space, empty) strings."""
    p = pd.DataFrame({"i": range(len(texts)), "s": texts}).astype(
        {"i": "int64", "s": "object"}
    )
    spark.createDataFrame(p, "i long, s string").createOrReplaceTempView("tt")
    duck.register("tt", p)
    spark_sql = """
      SELECT i,
             size(split(s, ' ')) AS n_tok,
             array_join(array_sort(array_distinct(split(s, ' '))), '|') AS vocab,
             array_join(slice(split(s, ' '), 1, 2), '|') AS first2,
             coalesce(array_join(filter(split(s, ' '), t -> length(t) > 1), '|'), '')
                 AS long_toks,
             CASE WHEN size(split(s, ' ')) >= 2
                  THEN md5(CAST(array_join(slice(split(s, ' '), 1, 2), ' ') AS BINARY))
                  ELSE '' END AS gram_md5
      FROM tt
    """
    duck_sql = """
      SELECT i,
             CAST(len(str_split(s, ' ')) AS INTEGER) AS n_tok,
             array_to_string(list_sort(list_distinct(str_split(s, ' '))), '|') AS vocab,
             array_to_string(list_slice(str_split(s, ' '), 1, 2), '|') AS first2,
             coalesce(array_to_string(list_filter(str_split(s, ' '),
                                                  t -> len(t) > 1), '|'), '')
                 AS long_toks,
             CASE WHEN len(str_split(s, ' ')) >= 2
                  THEN md5(array_to_string(list_slice(str_split(s, ' '), 1, 2), ' '))
                  ELSE '' END AS gram_md5
      FROM tt
    """
    sdf = spark.sql(spark_sql)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(duck_sql)
    assert norm_rows(sdf.columns, srows) == norm_rows(list(rel.columns), rel.fetchall())


@given(texts=TEXTS)
@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_regex_pipelines_match_duckdb(spark, duck, texts):
    """The r3 regex family on arbitrary messy strings: first-token
    extract, global vowel strip, vowel-run count, alternation match —
    Spark's Java regex vs DuckDB's RE2 must agree on these RE2-safe
    patterns."""
    p = pd.DataFrame({"i": range(len(texts)), "s": texts}).astype(
        {"i": "int64", "s": "object"}
    )
    spark.createDataFrame(p, "i long, s string").createOrReplaceTempView("rt")
    duck.register("rt", p)
    sdf = spark.sql(
        r"""
        SELECT i,
               regexp_extract(s, '^(\\w+)', 1) AS first_word,
               regexp_replace(s, '[ab]', '') AS stripped,
               regexp_count(s, '[ab]+') AS n_runs,
               s RLIKE 'ab|ba' AS has_pair
        FROM rt
        """
    )
    rel = duck.sql(
        r"""
        SELECT i,
               regexp_extract(s, '^(\w+)', 1) AS first_word,
               regexp_replace(s, '[ab]', '', 'g') AS stripped,
               CAST(len(regexp_extract_all(s, '[ab]+')) AS INTEGER) AS n_runs,
               regexp_matches(s, 'ab|ba') AS has_pair
        FROM rt
        """
    )
    srows = [tuple(r) for r in sdf.collect()]
    assert norm_rows(sdf.columns, srows) == norm_rows(list(rel.columns), rel.fetchall())


@given(
    days=st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=12)
)
@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_datetime_arith_matches_duckdb(spark, duck, days):
    """r3 datetime family over arbitrary dates: add_months end-of-month
    clamping, quarter/ISO-week/day-of-year extracts, year-truncated day
    offsets."""
    p = pd.DataFrame({"i": range(len(days)), "d": days}).astype("int64")
    spark.createDataFrame(p, "i long, d long").createOrReplaceTempView("dt")
    duck.register("dt", p)
    sdf = spark.sql(
        """
        SELECT i,
               add_months(date_add(DATE '1995-01-31', CAST(d AS INT)), 3) AS m3,
               quarter(date_add(DATE '1995-01-31', CAST(d AS INT))) AS q,
               weekofyear(date_add(DATE '1995-01-31', CAST(d AS INT))) AS wk,
               dayofyear(date_add(DATE '1995-01-31', CAST(d AS INT))) AS doy
        FROM dt
        """
    )
    rel = duck.sql(
        """
        SELECT i,
               CAST(DATE '1995-01-31' + d * INTERVAL 1 DAY
                    + INTERVAL 3 MONTH AS DATE) AS m3,
               CAST(quarter(DATE '1995-01-31' + d * INTERVAL 1 DAY) AS INTEGER) AS q,
               CAST(weekofyear(DATE '1995-01-31' + d * INTERVAL 1 DAY) AS INTEGER) AS wk,
               CAST(dayofyear(DATE '1995-01-31' + d * INTERVAL 1 DAY) AS INTEGER) AS doy
        FROM dt
        """
    )
    srows = [tuple(r) for r in sdf.collect()]
    assert norm_rows(sdf.columns, srows) == norm_rows(list(rel.columns), rel.fetchall())


GRID_POINTS = st.lists(
    st.tuples(
        st.floats(-60.0, 59.999, allow_nan=False),
        st.floats(-180.0, 179.999, allow_nan=False),
    ),
    min_size=2,
    max_size=30,
)


@given(pts=GRID_POINTS)
@settings(max_examples=50, deadline=None, derandomize=True)
def test_grid_blocking_covers_radius(pts):
    """The geo operators' correctness rests on one lemma: any pair of
    points within planar distance 5 lies within one 5-degree cell of
    each other on BOTH axes (floor is monotone), so the 3x3 cell
    neighborhood probe never misses an in-radius pair. Fuzz it."""
    import math

    cells = [(math.floor(la / 5.0), math.floor(lo / 5.0)) for la, lo in pts]
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (la1, lo1), (la2, lo2) = pts[i], pts[j]
            d2 = (la1 - la2) ** 2 + (lo1 - lo2) ** 2
            if d2 <= 25.0:
                assert abs(cells[i][0] - cells[j][0]) <= 1, (pts[i], pts[j])
                assert abs(cells[i][1] - cells[j][1]) <= 1, (pts[i], pts[j])


@given(texts=TEXTS)
@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zipwith_bigrams_match_duckdb_indexed(spark, duck, texts):
    """r8 rewrite equivalence fuzz: the zip_with(head, tail) bigram build
    (adopted for text_ngrams / dedup_ngram_jaccard — the
    sequence+element_at HOF pays an O(n) traversal per interpreted call)
    must produce exactly the oracle's range-indexed bigram list on
    arbitrary messy strings, including 0/1-token edge cases where
    slice(toks, 2, n-1) must be empty, never a descending range."""
    p = pd.DataFrame({"i": range(len(texts)), "s": texts}).astype(
        {"i": "int64", "s": "object"}
    )
    spark.createDataFrame(p, "i long, s string").createOrReplaceTempView("zb")
    duck.register("zb", p)
    spark_sql = """
      SELECT i,
             coalesce(array_join(
                 zip_with(slice(split(s, ' '), 1, size(split(s, ' ')) - 1),
                          slice(split(s, ' '), 2, size(split(s, ' ')) - 1),
                          (a, b) -> concat_ws(' ', a, b)), '|'), '') AS bigrams
      FROM zb
    """
    duck_sql = """
      SELECT i,
             coalesce(array_to_string(list_transform(
                 range(1, len(str_split(s, ' '))),
                 j -> str_split(s, ' ')[j] || ' ' || str_split(s, ' ')[j+1]),
                 '|'), '') AS bigrams
      FROM zb
    """
    sdf = spark.sql(spark_sql)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(duck_sql)
    assert norm_rows(sdf.columns, srows) == norm_rows(list(rel.columns), rel.fetchall())
