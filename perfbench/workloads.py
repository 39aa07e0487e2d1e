"""The benchmark's workloads, driven through the package's public API.

`build` and `serve` each fill a `Result`: end-to-end metrics (timed with
tracing off), per-layer metrics (traced run only), and the attempted and
failed operation counts of the output checks. Every check runs outside
the timed region.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import inputs
from perfbench.tracing import Tracer

BUILD_DOCS = 4_000         # per-seed corpus of the build workload
APPEND_DOCS = 1_500        # traced lifecycle: one append batch
SERVE_DOCS = 40_000        # the serve index (built once per checkout)
BUILD_REQUESTS = 5         # build: single requests, reference cases 0-4
MIN_ROUNDS = 3             # serve: batch + single rounds per run, at least
REQUEST_TIMEOUT_S = 60.0   # a request slower than this counts as failed
SCORE_TOL = 1e-9


class Result:
    def __init__(self):
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failures", []).append(what)


class Context:
    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float,
                 traced: bool, cache_dir: str, run_dir: str, cores: int,
                 generated=lambda: None):
        self.spark = spark
        # called once one-time input generation is done, so that its memory
        # does not count toward the run's peak
        self.generated = generated
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.cores = cores


# ---------------------------------------------------------------- queries

def queries_df(spark, queries: list[str]):
    return spark.createDataFrame(
        [(i, q, inputs.TOPK) for i, q in enumerate(queries)],
        "query_id long, query string, k int")


def _ranked(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"])))
    return out


def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return (len(a) == len(b)
            and all(da == db and abs(sa - sb) < SCORE_TOL
                    for (da, sa), (db, sb) in zip(a, b)))


def wand(ctx: Context, idx, queries: list[str]):
    from elasticsearch_eslib_spark.operators.query import topk_wand

    return _ranked(topk_wand(queries_df(ctx.spark, queries), idx.terms,
                             idx.postings, idx.n_docs, idx.avg_dl,
                             bound_avgdl=idx.bound_avgdl).collect())


def exhaustive(ctx: Context, idx, queries: list[str]):
    from elasticsearch_eslib_spark.operators.query import topk_exhaustive

    return _ranked(topk_exhaustive(queries_df(ctx.spark, queries), idx.terms,
                                   idx.postings, idx.n_docs,
                                   idx.avg_dl).collect())


def request(ctx: Context, idx, q: str, i: int,
            span: str) -> tuple[str, list, float]:
    """One single-query request: (query, top-k or the exception, wall)."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(span, request_id=i):
            got = wand(ctx, idx, [q]).get(0, [])
    except Exception as exc:  # a failed request is counted, not fatal
        got = exc
    return q, got, time.perf_counter() - t0


def reference(ctx: Context, res: Result, idx,
              queries: list[str]) -> dict[str, list]:
    """`topk_exhaustive` answers to the query set on `idx`, one batch job.
    Workloads compute them before their timed region, which the job also
    warms: it plans and runs the query path's resolve, fetch and decode."""
    t0 = time.perf_counter()
    ref = exhaustive(ctx, idx, queries)
    res.notes["exhaustive_check_s"] = time.perf_counter() - t0
    return {q: ref.get(i, []) for i, q in enumerate(queries)}


def check_results(res: Result, answered: list, ref: dict[str, list],
                  corpus: inputs.Corpus) -> None:
    """Every answer against the `topk_exhaustive` reference, and every
    query of the set against `oracle.bm25_topk`."""
    for q, got, wall in answered:
        ok = (not isinstance(got, Exception) and wall <= REQUEST_TIMEOUT_S
              and same_topk(got, ref[q]))
        res.check(ok, f"wand != exhaustive: {q!r}")
    t0 = time.perf_counter()
    for q, expect in corpus.oracle(list(ref)).items():
        res.check(same_topk(ref[q], expect), f"exhaustive != oracle: {q!r}")
    res.notes["oracle_check_s"] = time.perf_counter() - t0


def _latency_ms(answered: list) -> float:
    return statistics.median(w for _, _, w in answered) * 1e3


def _index_bytes(idx_dir: str, tables: list[str]) -> int:
    from elasticsearch_eslib_spark.sources.tableio import dir_bytes

    return sum(dir_bytes(os.path.join(idx_dir, t)) for t in tables)


# ---------------------------------------------------------------- build

def run_build(ctx: Context) -> Result:
    """Cold `build_index` over the seed's corpus, then BUILD_REQUESTS
    single-query requests on the fresh index: the query set's first cases,
    which all have postings to score."""
    from elasticsearch_eslib_spark.plans.build_index import Index, build_index

    res = Result()
    lo = (ctx.seed % 100_000) * BUILD_DOCS
    corpus = inputs.Corpus(ctx.cache_dir, lo, lo + BUILD_DOCS).ensure()
    res.notes["generation_s"] = corpus.generation_s
    ctx.generated()
    queries = inputs.query_set(ctx.seed, corpus)
    index_dir = os.path.join(ctx.run_dir, "index")

    with ctx.tracer.span("build") as sp:
        build_index(ctx.spark, corpus.pages_path, index_dir)
    build_s = sp["end"] - sp["start"]
    t0 = time.perf_counter()
    with ctx.tracer.span("open"):
        idx = Index(ctx.spark, index_dir)
    open_s = time.perf_counter() - t0
    ref = reference(ctx, res, idx, queries)
    answered = [request(ctx, idx, q, i, "serve.request")
                for i, q in enumerate(queries[:BUILD_REQUESTS])]

    check_results(res, answered, ref, corpus)
    res.check(idx.n_docs == corpus.n_docs, "build n_docs")
    res.metrics.update({
        "throughput_per_s": corpus.n_docs / build_s,
        "request_p50_ms": _latency_ms(answered),
        "index_bytes_per_doc": _index_bytes(
            index_dir, ["docs", "terms", "postings"]) / corpus.n_docs,
    })
    res.notes.update({"build_s": build_s, "open_s": open_s,
                      "request_s": [w for _, _, w in answered],
                      "corpus": [corpus.lo, corpus.hi]})
    if ctx.traced:
        from perfbench import layers

        res.layers["plans.build_index.index_open_s"] = open_s
        layers.build_stages(ctx, res, corpus, index_dir, build_s)
        layers.kernels(ctx, res, corpus, idx)
        layers.lifecycle(ctx, res, corpus, index_dir)
    return res


# ---------------------------------------------------------------- serve

def serve_index(ctx: Context, corpus: inputs.Corpus) -> tuple[str, float]:
    """The serve index, built once per checkout over the first SERVE_DOCS
    fixture docs (one-time generation, outside setup_s)."""
    from elasticsearch_eslib_spark.plans.build_index import build_index

    index_dir = os.path.join(ctx.cache_dir, f"serve-index-{corpus.n_docs}")
    marker = os.path.join(index_dir, "_BENCH_COMPLETE")
    if os.path.exists(marker):
        return index_dir, 0.0
    t0 = time.perf_counter()
    build_index(ctx.spark, corpus.pages_path, index_dir)
    with open(marker, "w") as fh:
        fh.write("ok")
    return index_dir, time.perf_counter() - t0


def run_serve(ctx: Context) -> Result:
    """Rounds of one batch job of the whole query set and one single-query
    request (the set's cases in order) on a warm single-epoch index, for
    `seconds`."""
    from elasticsearch_eslib_spark.plans.build_index import Index

    res = Result()
    corpus = inputs.Corpus(ctx.cache_dir, 0, SERVE_DOCS).ensure()
    index_dir, index_s = serve_index(ctx, corpus)
    res.notes["generation_s"] = corpus.generation_s + index_s
    ctx.generated()
    queries = inputs.query_set(ctx.seed, corpus)

    # set-up: open the index a few times (median), then one warm-up batch job
    opens = []
    for _ in range(3):
        t0 = time.perf_counter()
        idx = Index(ctx.spark, index_dir)
        opens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wand(ctx, idx, queries)
    res.notes["setup_open_s"] = statistics.median(opens)
    res.notes["setup_warmup_s"] = time.perf_counter() - t0
    ref = reference(ctx, res, idx, queries)

    t_start = time.perf_counter()
    batch_s, batched, singles = [], [], []
    r = 0
    while r < MIN_ROUNDS or time.perf_counter() - t_start < ctx.seconds:
        try:
            with ctx.tracer.span("serve.batch", request_id=r) as sp:
                got = wand(ctx, idx, queries)
        except Exception as exc:  # every query of a failed job is counted
            got = dict.fromkeys(range(len(queries)), exc)
        batch_s.append(sp["end"] - sp["start"])
        batched += [(q, got.get(i, []), 0.0) for i, q in enumerate(queries)]
        singles.append(request(ctx, idx, queries[r % len(queries)], r,
                               "serve.request"))
        r += 1
    res.notes["window_s"] = time.perf_counter() - t_start

    check_results(res, batched + singles, ref, corpus)
    res.metrics.update({
        # every batch query of the window over all batch time: a rate over
        # the whole window, not one job's
        "throughput_per_s": len(queries) * len(batch_s) / sum(batch_s),
        "request_p50_ms": _latency_ms(singles),
        "index_bytes_per_doc": _index_bytes(
            index_dir, ["docs", "terms", "postings"]) / corpus.n_docs,
    })
    res.notes.update({"batch_s": batch_s,
                      "request_s": [w for _, _, w in singles]})
    if ctx.traced:
        from perfbench import layers

        res.layers["plans.build_index.index_open_s"] = res.notes["setup_open_s"]
        layers.query_path(ctx, res, idx, queries[:3])
        layers.kernels(ctx, res, corpus, idx)
        layers.operators_suite(ctx, res)
    return res


WORKLOADS = {"build": run_build, "serve": run_serve}
