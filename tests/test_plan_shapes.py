"""Physical-plan shape assertions — the scale properties the code comments
claim, checked against what Catalyst actually planned:

  * query-time postings scan is PRUNED (p_bucket partition filters +
    term_id pushed filters reach the parquet scan);
  * the query-path term lookup is a BROADCAST join (no shuffle of the
    postings stream to resolve a handful of terms);
  * the S4 encode shuffle carries ONLY the five narrow posting columns
    (term_id, doc_id, tf, dl, salt) — never text/html/arrays;
  * zero-shuffle dedup projections really are exchange-free (minhash
    signatures);
  * ANN brute force broadcasts the query side.

These catch silent plan regressions (a lost broadcast hint, a filter
that stopped pushing down) that row-level tests can't see.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _fmt(df) -> str:
    # public API fallback: capture explain("formatted") text
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_postings_fetch_is_pruned(spark, built_index):
    from elasticsearch_eslib_spark.operators.query import fetch_postings
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    # two REAL vocabulary terms (nonexistent ones constant-fold the whole
    # scan away to an empty LocalTableScan)
    two = idx.terms.orderBy("term_id").limit(2).select("term_id")
    plan = _fmt(fetch_postings(idx.postings, two))
    assert re.search(r"PartitionFilters: \[.*p_bucket", plan), plan
    assert re.search(r"PushedFilters: \[.*[Ii]n\(term_id", plan), plan


def test_terms_lookup_is_pruned(spark, built_index):
    """Q2's vocabulary lookup (`terms.where(term.isin(...))`) must reach
    the parquet scan as a pushed filter. The terms table is WRITTEN in
    term order (assign_dense_ids range-partitions and sorts by term), so
    the pushed predicate prunes row groups by min/max stats — at a 10^8-
    term vocabulary a query batch reads a handful of row groups, not the
    table. Verified here both ways: the plan shows the pushed filter, and
    the committed files are in fact term-ordered (disjoint, ascending
    min/max ranges), which is what makes the pushdown prune."""
    import os

    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    terms = [r["term"] for r in idx.terms.orderBy("term_id").limit(2)
             .select("term").collect()]
    plan = _fmt(idx.terms.where(F.col("term").isin(terms)))
    assert re.search(r"PushedFilters: \[.*term", plan), plan
    # physical order: every file's term column is internally sorted and a
    # file's min is ≥ the previous file's max (range partitioning by term)
    io_ = open_tableio(spark, index_dir)
    tdir = io_.table_path("terms")
    files = sorted(
        os.path.join(tdir, f) for f in os.listdir(tdir)
        if f.endswith(".parquet"))
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("term")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            if st is not None and st.has_min_max:
                ranges.append((st.min, st.max))
    assert ranges, "no term min/max stats in the committed files"
    for (lo, hi) in ranges:
        assert lo <= hi
    flat = [b for r in sorted(ranges) for b in r]
    assert flat == sorted(flat), "term ranges overlap — table not sorted"


def test_query_term_lookup_is_broadcast(spark, built_index):
    from elasticsearch_eslib_spark.fixtures import gen_queries
    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, resolve_query_terms,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    qdf = spark.createDataFrame(gen_queries())
    plan = _fmt(resolve_query_terms(analyze_queries(qdf), idx.terms,
                                    idx.n_docs))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_encode_shuffle_is_narrow(spark, built_index):
    """The one corpus-sized shuffle of S4 must carry exactly the three
    PACKED long columns (ts, doc_id, tfdl) — a regression that widens the
    payload back to unpacked fields (or drags text/arrays through it)
    multiplies shuffle bytes at 100 TB."""
    from elasticsearch_eslib_spark.operators.build import term_freqs
    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    io = open_tableio(spark, index_dir)
    tokenized = io.read("tokenized")
    from elasticsearch_eslib_spark.operators.build import build_postings

    posts = build_postings(term_freqs(tokenized, idx.docs), idx.terms,
                           idx.n_docs, idx.avg_dl)
    plan = _fmt(posts)
    # the encode repartition keys on the packed ts = term_id·256 + salt
    assert re.search(r"hashpartitioning\(ts#\d+L", plan), plan
    # its input projection is exactly the three packed longs — no unpacked
    # tf/dl/salt, no arrays (terms#/tfs# from tokenized), no text, no url
    narrow = [p for p in re.findall(r"Output \[3\]: \[([^\]]+)\]", plan)
              if "ts#" in p and "doc_id" in p and "tfdl#" in p]
    assert narrow, plan
    for p in narrow:
        assert "terms#" not in p and "url#" not in p, p
    # the terms dimension join on the way in is a broadcast, and dl rides
    # the packed rows: exactly ONE join in the whole encode plan (url →
    # doc_id) — a second docs join on doc_id would re-shuffle the exploded
    # stream at corpus scale
    assert plan.count("BroadcastExchange") >= 1, plan
    join_nodes = re.findall(r"\(\d+\) [A-Za-z]*Join[A-Za-z]*", plan)
    assert len(join_nodes) <= 2, \
        f"expected ≤2 join nodes (url map + terms), got {join_nodes}"
    # and none of them keys on doc_id (the removed second docs join)
    assert not re.search(r"keys \[1\]: \[doc_id", plan), plan


def test_vocab_path_has_no_join(spark, built_index):
    """The terms stage (S3/A3) aggregates per term and must never pay the
    corpus-sized url-join with docs — its plan holds zero Join nodes and
    exactly one exchange (the final groupBy on term)."""
    from elasticsearch_eslib_spark.operators.build import (
        build_terms, term_freqs_nodoc,
    )
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    tokenized = open_tableio(spark, index_dir).read("tokenized")
    vocab = term_freqs_nodoc(tokenized).groupBy("term").count()
    plan = _fmt(vocab)
    assert "Join" not in plan, plan
    # build_terms output is unchanged vs the joined path (doc ids never
    # mattered to df/cf): spot-check totals against the committed terms
    from elasticsearch_eslib_spark.operators.ids import unpersist_ids

    terms = build_terms(term_freqs_nodoc(tokenized))
    old = open_tableio(spark, index_dir).read("terms")
    got = terms.selectExpr("count(*) n", "sum(df) df", "sum(cf) cf").first()
    want = old.selectExpr("count(*) n", "sum(df) df", "sum(cf) cf").first()
    unpersist_ids(terms)
    assert (got.n, got.df, got.cf) == (want.n, want.df, want.cf)


def test_minhash_signatures_plan_has_no_exchange(spark, tmp_path):
    """Signatures are a narrow projection over the scan — zero shuffles."""
    import pandas as pd

    from elasticsearch_eslib_spark.operators.dedup import (
        doc_shingle_arrays, signatures_of,
    )

    pdf = pd.DataFrame({
        "doc_id": range(100),
        "text": [f"w{i} w{i+1} w{i+2} w{i+3} common words here"
                 for i in range(100)],
    })
    p = str(tmp_path / "docs.parquet")
    pdf.to_parquet(p)
    docs = spark.read.parquet(p)
    sigs = signatures_of(doc_shingle_arrays(docs, do_spread=False))
    plan = _fmt(sigs)
    assert "Exchange" not in plan
    # the md5 base-hash subtree must appear ONCE (its own projection), not
    # inlined 8× into the sig expressions (cold-compile blowup)
    assert plan.count("md5") <= 2


def test_ann_bruteforce_broadcasts_queries(spark):
    from elasticsearch_eslib_spark.operators.similarity import (
        ann_bruteforce_topk,
    )

    sf = "/root/testdata/sf0.001"
    import os

    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata absent")
    plan = _fmt(ann_bruteforce_topk(spark, sf))
    assert "BroadcastExchange" in plan, plan


def test_query_path_runs_no_python_stage(spark, built_index):
    """Q1/Q2 analyze the query list on the driver: the resolved terms are
    a broadcast join of two local relations, with no Python UDF stage that
    every later use of the frame (each broadcast of it) would re-run."""
    from elasticsearch_eslib_spark.fixtures import gen_queries
    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, resolve_query_terms,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    qdf = spark.createDataFrame(gen_queries())
    plan = _fmt(resolve_query_terms(analyze_queries(qdf), idx.terms,
                                    idx.n_docs))
    for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython"):
        assert node not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_single_query_wand_job_count(spark, built_index):
    """One single-query request is at most 6 Spark jobs: the query-row
    collect, the pruned vocabulary lookup, the two broadcasts of the
    resolved terms and the WAND shuffle + result. Re-running the analyzer
    stage for the distinct-term collect and for each broadcast made it 7,
    three of which started the Python analyzer."""
    from elasticsearch_eslib_spark.operators.query import topk_wand
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    qdf = spark.createDataFrame([(0, "T000123, t000456!", 10)],
                                "query_id long, query string, k int")
    sc = spark.sparkContext
    sc.setJobGroup("single-query-jobcount", "single query job audit")
    try:
        rows = topk_wand(qdf, idx.terms, idx.postings, idx.n_docs,
                         idx.avg_dl).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("single-query-jobcount")
    assert rows
    assert len(jobs) <= 6, f"expected ≤6 jobs per request, saw {len(jobs)}"


def _join_conditions(plan: str) -> list[str]:
    return re.findall(r"Join condition\s*:\s*(.*)", plan)


def test_filter_once_keeps_pair_scores_out_of_join_conditions(spark):
    """The near-dup verify (shingle Jaccard) and the embedding near-dup
    (cosine) filter their pair score above the join: without the
    filter_once barrier Catalyst folds the threshold into the join
    condition, where the array_intersect / unrolled element_at dot runs
    per candidate pair outside codegen and again in the projection."""
    from elasticsearch_eslib_spark.operators.dedup import verify_candidates
    from elasticsearch_eslib_spark.operators.similarity import (
        EMB_DIM, bucket_pairs,
    )

    cand = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    packed = spark.createDataFrame(
        [(1, ["a b c", "b c d"], 2), (2, ["a b c"], 1), (3, ["x y z"], 1)],
        "doc_id long, shs array<string>, n_sh int")
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(EMB_DIM)], i % 2, 1.0)
         for i in range(4)],
        "vec_id long, embedding array<float>, bucket long, nrm double")
    for df in (verify_candidates(cand, packed, 0.5), bucket_pairs(emb, 0.35)):
        plan = _fmt(df)
        conds = _join_conditions(plan)
        assert conds, plan
        for cond in conds:
            assert "element_at" not in cond, cond
            assert "array_intersect" not in cond, cond
