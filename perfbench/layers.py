"""Per-layer measurements of the traced run (layer = package module).

Each function times calls into one module's public functions from here,
or reads what the program already records (manifest stage walls, table
bytes); the package itself carries no instrumentation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time

import numpy as np

from perfbench import inputs

KERNEL_DOCS = 400       # docs of the workload's own corpus fed to the probes
OPERATORS_SF = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01")
ORACLE_TABLES = ("region nation customer supplier part orders lineitem "
                 "events documents embeddings").split()
# the three lifecycle entries build their index under the system temp dir
# and are covered by the build workload's own lifecycle instead
SKIPPED_OPERATORS = ("bm25_wand_indexed", "bm25_wand_appended",
                     "bm25_wand_compacted")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "_manifest.json")) as fh:
        return json.load(fh)


def _updated(stage: dict) -> float:
    return dt.datetime.fromisoformat(
        stage["updated"].replace("Z", "+00:00")).timestamp()


def build_stages(ctx, res, corpus, index_dir: str, build_s: float) -> None:
    """plans.build_index stage walls from the manifest; operators.build
    replays of each stage over its committed inputs into the noop sink;
    sources.tableio commit time (stage wall minus replay) and bytes."""
    from elasticsearch_eslib_spark.operators.build import (
        assign_doc_ids, build_postings, build_terms, extract_analyze_tf,
        term_freqs, term_freqs_nodoc,
    )
    from elasticsearch_eslib_spark.operators.ids import unpersist_ids
    from elasticsearch_eslib_spark.sources.tableio import (
        dir_bytes, open_tableio,
    )

    spark = ctx.spark
    stages = _manifest(index_dir)["stages"]
    walls = {k: stages[k]["metrics"]["wall_ms"] / 1e3
             for k in ("tokenized", "docs_tf", "terms", "postings")}
    lay = res.layers
    for key, stage in (("s1_tokenized_s", "tokenized"),
                       ("s2_docs_tf_s", "docs_tf"), ("s3_terms_s", "terms"),
                       ("s4_postings_s", "postings")):
        lay[f"plans.build_index.{key}"] = walls[stage]
    lay["plans.build_index.driver_residue_s"] = build_s - sum(walls.values())

    io = open_tableio(spark, index_dir)
    tokenized, docs, terms = io.read("tokenized"), io.read("docs"), \
        io.read("terms")
    m2 = io.stage_metrics("docs_tf")

    def replay(fn, df_fn):
        with ctx.tracer.span(f"replay.{fn}"):
            t0 = time.perf_counter()
            df = df_fn()
            _noop(df)
            unpersist_ids(df)
            lay[f"operators.build.{fn}_s"] = time.perf_counter() - t0

    replay("extract_analyze_tf", lambda: extract_analyze_tf(
        spark.read.parquet(corpus.pages_path)))
    replay("assign_doc_ids", lambda: assign_doc_ids(tokenized))
    replay("build_terms", lambda: build_terms(term_freqs_nodoc(tokenized)))
    replay("build_postings", lambda: build_postings(
        term_freqs(tokenized, docs), terms, int(m2["n_docs"]),
        float(m2["avg_dl"]), n_terms=io.stage_metrics("terms")["n_terms"]))
    replays = sum(lay[f"operators.build.{f}_s"] for f in (
        "extract_analyze_tf", "assign_doc_ids", "build_terms",
        "build_postings"))
    lay["sources.tableio.commit_s"] = sum(walls.values()) - replays
    for table in ("tokenized", "docs", "terms", "postings"):
        lay[f"sources.tableio.bytes_written.{table}"] = float(
            dir_bytes(io.table_path(table)))


def kernels(ctx, res, corpus, idx) -> None:
    """functions.* kernel probes in the benchmark process over the
    workload's own corpus and index."""
    from elasticsearch_eslib_spark.functions.analyze import analyze_text
    from elasticsearch_eslib_spark.functions.codec import (
        decode_posting_block, encode_posting_blocks,
    )
    from elasticsearch_eslib_spark.functions.extract import extract_text

    sample = corpus.html_sample(KERNEL_DOCS)
    html = [h for h, _ in sample]
    langs = [lg for _, lg in sample]
    t0 = time.perf_counter()
    texts = [extract_text(h) for h in html]
    res.layers["functions.extract.docs_per_s"] = \
        len(html) / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    n_tok = sum(len(analyze_text(t, lg)) for t, lg in zip(texts, langs))
    res.layers["functions.analyze.tokens_per_s"] = \
        n_tok / (time.perf_counter() - t0)

    # the index's own blocks of the heaviest head terms
    from pyspark.sql import functions as F

    heads = [r["term_id"] for r in idx.terms.orderBy(F.col("df").desc())
             .limit(3).collect()]
    blocks = (idx.postings.where(F.col("term_id").isin(heads))
              .select("first_doc", "doc_deltas", "tfs", "dls").collect())
    t0 = time.perf_counter()
    decoded = [decode_posting_block(b["first_doc"], b["doc_deltas"],
                                    b["tfs"], b["dls"]) for b in blocks]
    n_post = sum(len(d) for d, _, _ in decoded)
    res.layers["functions.codec.decode_postings_per_s"] = \
        n_post / (time.perf_counter() - t0)
    docs = np.concatenate([d for d, _, _ in decoded])
    tfs = np.concatenate([t for _, t, _ in decoded])
    dls = np.concatenate([dl for _, _, dl in decoded])
    order = np.argsort(docs, kind="stable")
    t0 = time.perf_counter()
    encode_posting_blocks(docs[order], tfs[order], dls[order])
    res.layers["functions.codec.encode_postings_per_s"] = \
        len(docs) / (time.perf_counter() - t0)


def lifecycle(ctx, res, corpus, index_dir: str) -> None:
    """plans.append_index and plans.compact_index: one seeded append batch
    onto the built index, then compaction into a fresh directory; the
    compacted index must answer like the appended one."""
    from elasticsearch_eslib_spark.plans.append_index import append_index
    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.plans.compact_index import compact_index
    from elasticsearch_eslib_spark.sources.tableio import dir_bytes

    from perfbench import workloads

    batch = inputs.Corpus(ctx.cache_dir, corpus.hi,
                          corpus.hi + workloads.APPEND_DOCS).ensure()
    lay = res.layers
    t0 = time.time()
    with ctx.tracer.span("lifecycle.append") as sp:
        append_index(ctx.spark, batch.pages_path, index_dir)
    lay["plans.append_index.append_s"] = sp["end"] - sp["start"]
    stages = _manifest(index_dir)["stages"]
    prev = t0
    for key, stage in (("a1_tokenized_s", "tokenized_a1"),
                       ("a2_docs_s", "docs_a1"), ("a3_terms_s", "terms_a1"),
                       ("a4_postings_s", "postings_a1")):
        end = _updated(stages[stage])
        lay[f"plans.append_index.{key}"] = end - prev
        prev = end

    appended = Index(ctx.spark, index_dir)
    epochs_in = 1 + len([s for s in stages if s.startswith("stats_a")])
    bytes_in = sum(dir_bytes(os.path.join(index_dir, t))
                   for t in os.listdir(index_dir)
                   if t.startswith(("docs", "terms", "postings")))
    dst = os.path.join(ctx.run_dir, "compacted")
    with ctx.tracer.span("lifecycle.compact") as sp:
        compact_index(ctx.spark, index_dir, dst)
    lay["plans.compact_index.compact_s"] = sp["end"] - sp["start"]
    lay["plans.compact_index.epochs_in"] = float(epochs_in)
    lay["plans.compact_index.bytes_rewritten"] = float(bytes_in)
    compacted = Index(ctx.spark, dst)
    queries = inputs.query_set(ctx.seed + 1, corpus)
    before = workloads.wand(ctx, appended, queries)
    after = workloads.wand(ctx, compacted, queries)
    for i, q in enumerate(queries):
        res.check(workloads.same_topk(before.get(i, []), after.get(i, [])),
                  f"compacted != appended: {q!r}")


def query_path(ctx, res, idx, queries: list[str]) -> None:
    """operators.query per single query: term resolution (its driver
    collects), blocks fetched, and the exhaustive reference path."""
    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, fetch_postings, resolve_query_terms,
    )

    from perfbench import workloads

    resolve_ms, blocks, exh_ms, wand_ms = [], [], [], []
    for i, q in enumerate(queries):
        qdf = workloads.queries_df(ctx.spark, [q])
        with ctx.tracer.span("query.resolve", request_id=i) as sp:
            resolved = resolve_query_terms(analyze_queries(qdf), idx.terms,
                                           idx.n_docs)
        resolve_ms.append((sp["end"] - sp["start"]) * 1e3)
        blocks.append(fetch_postings(idx.postings, resolved).count())
        with ctx.tracer.span("query.exhaustive", request_id=i) as sp:
            workloads.exhaustive(ctx, idx, [q])
        exh_ms.append((sp["end"] - sp["start"]) * 1e3)
        with ctx.tracer.span("query.wand", request_id=i) as sp:
            workloads.wand(ctx, idx, [q])
        wand_ms.append((sp["end"] - sp["start"]) * 1e3)
    lay = res.layers
    lay["operators.query.resolve_query_terms_ms"] = statistics.median(resolve_ms)
    lay["operators.query.blocks_fetched_per_query"] = statistics.mean(blocks)
    lay["operators.query.topk_exhaustive_ms"] = statistics.median(exh_ms)
    lay["operators.query.topk_wand_ms"] = statistics.median(wand_ms)
    # base: the same queries through topk_exhaustive on the same index
    lay["operators.query.wand_vs_exhaustive"] = (
        lay["operators.query.topk_wand_ms"]
        / lay["operators.query.topk_exhaustive_ms"])


def operators_suite(ctx, res) -> None:
    """Every `__spark_entry__.queries()` operator but the three lifecycle
    entries, over the bundled sf0.01 tables, each checked against its
    `oracle_sql()` DuckDB twin the way scripts/check_oracle.py does. The
    timed action is the collect the compare reads, so each operator runs
    once."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        p = os.path.join(OPERATORS_SF, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sqls = entry.oracle_sql()
    total = 0.0
    for name, fn in entry.queries().items():
        if name in SKIPPED_OPERATORS:
            continue
        try:
            with ctx.tracer.span(f"operators:{name}") as sp:
                sdf = fn(ctx.spark, OPERATORS_SF).toPandas()
            wall = sp["end"] - sp["start"]
            res.layers[f"operators.{name}_s"] = wall
            total += wall
            ok = True
            if name in sqls:
                odf = con.execute(sqls[name]).df()
                cols = sorted(sdf.columns)
                ok = cols == sorted(odf.columns) and len(sdf) == len(odf)
                if ok:
                    pd.testing.assert_frame_equal(
                        sdf[cols].sort_values(cols).reset_index(drop=True),
                        odf[cols].sort_values(cols).reset_index(drop=True),
                        check_dtype=False, check_exact=False, rtol=0,
                        atol=1e-9)
        except Exception:  # a raising operator or a value mismatch
            ok = False
        res.check(ok, f"operator {name} != DuckDB oracle")
    res.layers["operators.suite_s"] = total
    con.close()
