"""THE headline invariant (BASELINE.json north_rule): rank-identical top-k.

Four independent paths must agree on every fixture query:
  WAND (Q4) == exhaustive window (Q5) == pure-Python oracle == DuckDB SQL.
(query_id, rank, doc_id) identical; scores equal to 1e-9.
"""

import duckdb
import pytest

from elasticsearch_eslib_spark.fixtures import gen_queries
from elasticsearch_eslib_spark.functions.analyze import analyze_text
from elasticsearch_eslib_spark.oracle import bm25_topk
from elasticsearch_eslib_spark.plans.run_queries import run_queries


def _golden(oracle_index):
    golden = {}
    for q in gen_queries().itertuples():
        toks = analyze_text(q.query, "en")
        golden[int(q.query_id)] = bm25_topk(oracle_index, toks, int(q.k))
    return golden


def _collect(df):
    out = {}
    for r in df.collect():
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for v in out.values():
        v.sort()
    return out


def _assert_rank_identical(got: dict, golden: dict):
    for qid, expected in golden.items():
        actual = got.get(qid, [])
        assert [(r, d) for r, d, _ in actual] == \
               [(r, d) for r, d, _ in expected], f"query {qid} ranks differ"
        for (_, _, s_a), (_, _, s_e) in zip(actual, expected):
            assert abs(s_a - s_e) < 1e-9, f"query {qid} score drift"
    extra = set(got) - set(golden)
    assert not extra


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(gen_queries())


def test_exhaustive_matches_oracle(spark, built_index, oracle_index, queries_df):
    index_dir, _ = built_index
    got = _collect(run_queries(spark, index_dir, queries_df, path="exhaustive"))
    _assert_rank_identical(got, _golden(oracle_index))


def test_wand_matches_oracle(spark, built_index, oracle_index, queries_df):
    index_dir, _ = built_index
    got = _collect(run_queries(spark, index_dir, queries_df, path="wand"))
    _assert_rank_identical(got, _golden(oracle_index))


def test_wand_equals_exhaustive(spark, built_index, queries_df):
    index_dir, _ = built_index
    a = _collect(run_queries(spark, index_dir, queries_df, path="wand"))
    b = _collect(run_queries(spark, index_dir, queries_df, path="exhaustive"))
    assert set(a) == set(b)
    for qid in a:
        assert [(r, d) for r, d, _ in a[qid]] == [(r, d) for r, d, _ in b[qid]]
        for (_, _, sa), (_, _, sb) in zip(a[qid], b[qid]):
            assert abs(sa - sb) < 1e-9


def test_wand_range_partitioned_matches_oracle(spark, built_index,
                                               oracle_index, queries_df):
    """Range-partitioned WAND (n_ranges=4 over the 1000-doc fixture, so
    every query genuinely crosses range boundaries) must produce the exact
    single-task result: every doc is fully scored in its own range."""
    from elasticsearch_eslib_spark.operators.query import topk_wand
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    got = _collect(topk_wand(queries_df, idx.terms, idx.postings,
                             idx.n_docs, idx.avg_dl, n_ranges=4))
    _assert_rank_identical(got, _golden(oracle_index))


def test_wand_merge_window_hostile_k_times_ranges(spark, built_index):
    """Spill-safety evidence for the per-query merge window: at the
    WAND_MAX_RANGES-scale fan-out with a large k, the merge input is
    ~k·n_ranges rows through ONE window partition per query. Drive the
    unit index at n_ranges=256 with k=1000 (merge input up to 256k rows
    per query — the documented worst-case shape, bounded by
    k·WAND_MAX_RANGES at any corpus size) and require rank-identical
    results to the single-task path: the window must absorb the volume
    without reordering or dropping rows."""
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.operators.query import topk_wand
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    big_k = 1000  # ≥ corpus size: every scored doc survives into the merge
    # query the corpus's own highest-df terms so candidates span all ranges
    top = [r["term"] for r in idx.terms.orderBy(F.col("df").desc())
           .limit(3).collect()]
    queries = spark.createDataFrame(
        [(0, top[0], big_k), (1, " ".join(top), big_k)],
        "query_id long, query string, k int")
    one = _collect(topk_wand(queries, idx.terms, idx.postings,
                             idx.n_docs, idx.avg_dl, n_ranges=1))
    many = _collect(topk_wand(queries, idx.terms, idx.postings,
                              idx.n_docs, idx.avg_dl, n_ranges=256))
    assert len(one) > 0
    _assert_rank_identical(many, one)


def test_wand_range_partition_runs_multiple_groups(spark, built_index,
                                                   queries_df):
    """The ranged plan actually fans out: >1 (query_id, range_id) group
    carries blocks for a multi-range query (not one task per query)."""
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, fetch_postings, resolve_query_terms,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    n_ranges = 4
    width = max(1, (idx.n_docs + n_ranges) // n_ranges)
    resolved = resolve_query_terms(analyze_queries(queries_df), idx.terms,
                                   idx.n_docs)
    blocks = fetch_postings(idx.postings, resolved)
    ranged = (blocks.join(resolved.select("query_id", "term_id"), "term_id")
              .withColumn("range_id", F.explode(F.sequence(
                  (F.col("first_doc") / width).cast("int"),
                  (F.col("last_doc") / width).cast("int")))))
    groups = (ranged.select("query_id", "range_id").distinct()
              .groupBy("query_id").count().collect())
    assert max(r["count"] for r in groups) > 1


def test_duckdb_sql_bm25_matches_oracle(pages_parquet, oracle_index):
    """Independent SQL formulation of the whole chain (analyzer pre-applied
    in Python — DuckDB can't run the canonical analyzer; tokens are passed
    in as a table) — validates df/idf/dl/score algebra end-to-end."""
    import pandas as pd

    pdf = pd.read_parquet(pages_parquet, columns=["url", "text", "lang"])
    pdf = pdf.sort_values("url").reset_index(drop=True)
    rows = []
    for i, (t, lg) in enumerate(zip(pdf["text"], pdf["lang"])):
        for tok in analyze_text(t, lg):
            rows.append((i + 1, tok))
    tokens = pd.DataFrame(rows, columns=["doc_id", "term"])  # noqa: F841
    con = duckdb.connect()
    golden = _golden(oracle_index)
    q8_terms = sorted(set(analyze_text("T000123, t000456!", "en")))
    sql = f"""
    WITH tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tokens GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, count(*)::BIGINT AS dl FROM tokens GROUP BY 1
    ), stats AS (
      SELECT (SELECT count(DISTINCT doc_id) FROM tokens) AS n_docs,
             avg(dl) AS avg_dl FROM dl
    ), df AS (
      SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avg_dl))
           ) AS score
    FROM tf
    JOIN df ON tf.term = df.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({",".join("'" + t + "'" for t in q8_terms)})
    GROUP BY tf.doc_id
    ORDER BY score DESC, tf.doc_id ASC
    LIMIT 10
    """
    got = con.execute(sql).fetchall()
    expected = golden[8]
    assert [d for d, _ in got] == [d for _, d, _ in expected]
    for (_, s_got), (_, _, s_exp) in zip(got, expected):
        assert abs(s_got - s_exp) < 1e-9


def test_ranged_blocks_pin_per_task_posting_ceiling(spark):
    """Head-term serve-path ceiling (the serve analog of build-side
    salting): for a term with df = N/2 over N = 100k docs, range-
    partitioned WAND ships each (query, range) task at most
    df/n_ranges + one boundary block of the term's postings — no task
    ever holds the full posting list. Pinned against the REAL codec block
    layout (encode_posting_blocks), not a synthetic approximation."""
    import numpy as np
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.config import BLOCK_SIZE
    from elasticsearch_eslib_spark.functions.codec import encode_posting_blocks
    from elasticsearch_eslib_spark.operators.query import ranged_blocks

    n_docs = 100_000
    doc_ids = np.arange(1, n_docs + 1, 2)  # every 2nd doc → df = 50k
    df_term = len(doc_ids)
    blocks = encode_posting_blocks(
        doc_ids, np.ones(df_term, dtype=np.int64),
        np.full(df_term, 30, dtype=np.int64))
    rows = [(1, int(b["first_doc"]), int(b["last_doc"]), int(b["n_docs"]))
            for b in blocks]
    bdf = spark.createDataFrame(
        rows, "term_id long, first_doc long, last_doc long, n_docs int")
    n_ranges = 8
    width = max(1, (n_docs + n_ranges) // n_ranges)
    per = (ranged_blocks(bdf, width)
           .groupBy("range_id")
           .agg(F.sum("n_docs").alias("postings")).collect())
    assert len(per) == n_ranges          # the head term spans every range
    # fair share + block-granularity rounding + one boundary block
    ceiling = df_term // n_ranges + 2 * BLOCK_SIZE
    assert max(r["postings"] for r in per) <= ceiling
    # shipping duplication is bounded: Σ per-range ≤ df + one block/boundary
    assert sum(r["postings"] for r in per) <= df_term + n_ranges * BLOCK_SIZE


def test_wand_auto_ranges_rule():
    """Pin the df-keyed auto fan-out (BENCH/wand_stress.json crossover):
    single-task below the measured work/overhead break-even, TARGET-sized
    ranges above it, capped. A corpus-size-keyed rule regressed 37% on
    mid-size indexes (round-4 finding) — this pins the fix."""
    from elasticsearch_eslib_spark.operators.query import (
        WAND_MAX_RANGES, WAND_SPLIT_MIN_DF, WAND_TARGET_POSTINGS_PER_TASK,
        wand_auto_ranges,
    )

    # tail terms and the measured 1M-doc stress point (df=500k, where the
    # 32-range fan-out LOST 0.73x) stay single-task
    assert wand_auto_ranges(0) == 1
    assert wand_auto_ranges(500_000) == 1
    assert wand_auto_ranges(WAND_SPLIT_MIN_DF - 1) == 1
    # the measured 6M-doc stress point (df=5.4M, ranged won 2.11x at ~59k
    # postings/task) splits near the measured sweet spot
    n = wand_auto_ranges(5_400_000)
    assert 2 <= n <= WAND_MAX_RANGES
    per_task = 5_400_000 / n
    assert WAND_TARGET_POSTINGS_PER_TASK / 2 <= per_task \
        <= 2 * WAND_TARGET_POSTINGS_PER_TASK
    # a 10^11-df head term hits the cap (per-task stays bounded by cap)
    assert wand_auto_ranges(10**11) == WAND_MAX_RANGES


def test_wand_auto_uses_resolved_max_df(spark, built_index, queries_df):
    """End-to-end: the auto path consults the resolved terms' max df (all
    fixture terms are tail -> one task per query) and still matches the
    exhaustive path exactly."""
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    wand = topk_wand(queries_df, idx.terms, idx.postings,
                     idx.n_docs, idx.avg_dl)  # n_ranges=None -> auto
    exh = topk_exhaustive(queries_df, idx.terms, idx.postings,
                          idx.n_docs, idx.avg_dl)
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect())
    assert key(wand) == key(exh)


def test_stopword_and_absent_batch_is_empty(spark, built_index):
    """A batch whose queries analyze to nothing (stopwords, punctuation,
    empty) or only to terms absent from the vocabulary resolves zero
    terms: both paths return no rows and raise nothing."""
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    for batch in (["the of and", "", "!!!"],
                  ["zzzabsentzzz", "the qqqnothereqqq"]):
        qdf = spark.createDataFrame(
            [(i, q, 10) for i, q in enumerate(batch)],
            "query_id long, query string, k int")
        args = (qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl)
        assert topk_wand(*args).collect() == []
        assert topk_exhaustive(*args).collect() == []
