"""Similarity search over the `embeddings` table (vec_id, embedding
array<float>, label).

Two paths, as a 100 TB pipeline needs:
  * `ann_bruteforce_topk` — exact cosine top-k: broadcast the (tiny) query
    set against the full table; dot products computed JVM-side as unrolled
    codegen chains (no Python in the hot path — see _dot); the scan stays a
    single pass, the only shuffle is the final per-query top-k window over
    ≤ n·q scored rows.
  * `ann_lsh_topk` — the scale path: random-hyperplane LSH (sign of dot
    with H pinned deterministic hyperplanes) buckets vectors; queries probe
    only their own bucket. Recall < 1 by design; the bruteforce path is its
    oracle (tested for overlap, not equality).

Hyperplanes are derived from seeded numpy (seed pinned) and inlined as
literal arrays — identical in every engine/run.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from elasticsearch_eslib_spark.functions.planutil import spread

N_QUERY_VECS = 5       # vec_id < 5 are the pinned query vectors
TOPK = 10
LSH_PLANES = 6         # 2^6 = 64 buckets (query-probe path)
EMB_DIM = 64
_PLANES_SEED = 20260816
_MAX_PLANES = 40  # bucket id built as LONG: 2^40 bucket space

# near-dup bucket sizing: choose planes so the EXPECTED bucket occupancy is
# ~TARGET_BUCKET_OCCUPANCY. Within-bucket all-pairs then costs
# Σ occupancy² ≈ (n / occ) · occ² = n · occ — LINEAR in corpus size, not
# O(n²/constant). At 10^12 vectors this yields 2^34 buckets; at test scale
# it degrades gracefully to the 4-plane floor.
TARGET_BUCKET_OCCUPANCY = 100
MIN_NEAR_DUP_PLANES = 4


def near_dup_planes(n_vecs: int) -> int:
    want = np.log2(max(1, n_vecs) / TARGET_BUCKET_OCCUPANCY)
    return int(np.clip(np.ceil(want), MIN_NEAR_DUP_PLANES, _MAX_PLANES))


def _hyperplanes(n_planes: int = LSH_PLANES) -> np.ndarray:
    """PREFIX-NESTED pinned hyperplanes: planes(k) is the first k rows of
    planes(K) for any K ≥ k, so raising the plane count strictly refines
    buckets (every bucket at k+1 planes is a subset of one at k) — the
    near-dup candidate set shrinks monotonically, which the recall test
    exploits."""
    rng = np.random.default_rng(_PLANES_SEED)
    return rng.standard_normal((_MAX_PLANES, EMB_DIM))[:n_planes]


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def pin_near_dup_planes(spark: SparkSession, sf_dir: str,
                        meta_dir: str) -> int:
    """Ingest-time plane pinning: compute the occupancy-scaled plane count
    ONCE and record it (with the table fingerprint) in a sidecar manifest
    next to wherever the bucketed table lives. Readers use the recorded
    value, never a fresh count — two jobs bucketing the same table can
    never disagree (the round-2 risk: a driver-side count at query time).
    Atomic write (os.replace), idempotent for the same table state."""
    import json
    import os

    from elasticsearch_eslib_spark.sources.tableio import fingerprint_path

    n = near_dup_planes(load_embeddings(spark, sf_dir).count())
    os.makedirs(meta_dir, exist_ok=True)
    path = os.path.join(meta_dir, "_near_dup_planes.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"n_planes": n, "seed": _PLANES_SEED,
                   "fingerprint":
                       fingerprint_path(f"{sf_dir}/embeddings.parquet")}, fh)
    os.replace(tmp, path)
    return n


def pinned_near_dup_planes(meta_dir: str,
                           expect_fingerprint: str | None = None
                           ) -> int | None:
    """Read a pinned plane count back; None when no pin exists.

    `expect_fingerprint` (the current embeddings-table fingerprint) guards
    against a STALE pin: if the table was rewritten/regrown since
    `pin_near_dup_planes` recorded it, the sidecar's fingerprint no longer
    matches and None is returned — callers then fall back to a fresh count
    instead of silently bucketing with an occupancy-wrong plane count."""
    import json
    import os

    path = os.path.join(meta_dir, "_near_dup_planes.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        data = json.load(fh)
    if (expect_fingerprint is not None
            and data.get("fingerprint") not in (None, expect_fingerprint)):
        return None
    return int(data["n_planes"])


def _dot(a: str, b: str):
    """Dot product as an UNROLLED codegen expression chain, built from ONE
    SQL string (`a`/`b` are column references, qualifiers allowed).

    Bit-identical to the previous `F.aggregate(F.zip_with(...))` fold —
    the float64 operation order is unchanged (acc starts at 0.0 and adds
    one element product at a time, left to right; SQL `+` is
    left-associative) — but higher-order functions are interpreted per
    element (lambda closures, boxed values, no whole-stage codegen), which
    made every pair comparison in the LSH/bruteforce joins pay ~3
    interpreted 64-element folds. The unrolled chain compiles into the
    stage's generated code.

    Why a string and not a Column-API loop: building the same 64-term
    chain through pyspark Columns costs ~400 py4j round-trips PER DOT —
    measured ~1.0 s of pure driver-side plan construction per dot and
    2-5 s per similarity query (the dominant cost of these operators at
    driver bench scale). One expr() parse is ~3 ms for the identical
    tree (value-equality pinned by test_dot_expr_matches_column_fold)."""
    terms = " + ".join(
        f"CAST(element_at({a}, {i}) AS DOUBLE)"
        f" * CAST(element_at({b}, {i}) AS DOUBLE)"
        for i in range(1, EMB_DIM + 1))  # element_at is 1-based
    return F.expr(f"0.0D + {terms}")


def _norm(a: str):
    return F.sqrt(_dot(a, a))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_vec_id, rank, vec_id, cosine) exact top-10 per pinned query vec;
    order pinned by (round(cosine,6) desc, vec_id asc); self-match excluded."""
    # norms are hoisted to ONE per-row column on each side: computed on the
    # same row values, sqrt(dot(e,e)) is the identical double whether
    # evaluated per row or per pair, so the rounded cosine is bit-identical
    # while the pair loop drops from 3 dot folds to 1
    emb = spread(load_embeddings(spark, sf_dir), "vec_id").withColumn(
        "nrm", _norm("embedding"))
    q = (emb.where(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("q_vec_id"),
                 F.col("embedding").alias("q_emb"),
                 F.col("nrm").alias("q_nrm")))
    scored = (emb.crossJoin(F.broadcast(q))
              .where(F.col("vec_id") != F.col("q_vec_id"))
              .withColumn("cosine", F.round(
                  _dot("embedding", "q_emb")
                  / (F.col("nrm") * F.col("q_nrm")), 6)))
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOPK)
            .select("q_vec_id", F.col("rank").cast("int").alias("rank"),
                    "vec_id", "cosine"))


def lsh_bucket_expr(emb_col: str, n_planes: int = LSH_PLANES):
    """Bucket id: sign bits of dot products with the pinned hyperplanes.

    One SQL string (see _dot for why): the plane coefficients are inlined
    as CAST('<repr>' AS DOUBLE) literals — Java's parseDouble round-trips
    Python's repr exactly, and constant folding reduces them to the same
    Literal doubles the old literal-array element_at form folded to."""
    planes = _hyperplanes(n_planes)
    bucket = "CAST(0 AS BIGINT)"
    for j in range(n_planes):
        terms = " + ".join(
            # float() first: repr of a RAW numpy scalar is
            # 'np.float64(...)' under numpy >= 2 and would not parse
            f"CAST(element_at({emb_col}, {i + 1}) AS DOUBLE)"
            f" * CAST('{float(planes[j][i])!r}' AS DOUBLE)"
            for i in range(EMB_DIM))
        bucket = (f"({bucket}) * 2 + "
                  f"(CASE WHEN (0.0D + {terms}) > 0 THEN 1 ELSE 0 END)")
    return F.expr(bucket)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: probe only the query's LSH bucket.

    Scale path: the bucket column is computed once at ingest in a real
    deployment (partition/bucket the table by it → queries prune to one
    partition); here it is computed on the fly over the small test table.
    """
    # per-row bucket + hoisted norm (see ann_bruteforce_topk: bit-identical)
    emb = spread(load_embeddings(spark, sf_dir), "vec_id").withColumn(
        "bucket", lsh_bucket_expr("embedding")).withColumn(
        "nrm", _norm("embedding"))
    # multi-probe: each query probes its own bucket plus every bucket at
    # hamming distance 1 (flip one hyperplane sign) — the standard recall
    # lift; probe count = LSH_PLANES+1, still a tiny broadcast
    probes = F.array(F.col("bucket"),
                     *[F.expr(f"bucket ^ {1 << j}") for j in range(LSH_PLANES)])
    q = (emb.where(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("q_vec_id"),
                 F.col("embedding").alias("q_emb"),
                 F.col("nrm").alias("q_nrm"),
                 F.explode(probes).alias("q_bucket")))
    scored = (emb.join(F.broadcast(q), emb["bucket"] == q["q_bucket"])
              .where(F.col("vec_id") != F.col("q_vec_id"))
              .withColumn("cosine", F.round(
                  _dot("embedding", "q_emb")
                  / (F.col("nrm") * F.col("q_nrm")), 6)))
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOPK)
            .select("q_vec_id", F.col("rank").cast("int").alias("rank"),
                    "vec_id", "cosine"))


def embedding_near_dup(spark: SparkSession, sf_dir: str,
                       threshold: float = 0.35,
                       n_planes: int | None = None,
                       meta_dir: str | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets: (vec_a, vec_b,
    cosine ≥ threshold), pairs only within a bucket.

    Plane count scales with corpus size (near_dup_planes: buckets ∝ n at
    TARGET_BUCKET_OCCUPANCY) so the within-bucket all-pairs stays linear
    in n — the fixed 64-bucket O(n²/64) this replaces died at scale.

    Plane-count resolution order: explicit `n_planes` → the value PINNED at
    ingest (`pin_near_dup_planes` sidecar in `meta_dir`) → a fresh
    metadata-only count (parquet footers / Iceberg stats; test-scale
    convenience only — production buckets at ingest and pins)."""
    if n_planes is None and meta_dir is not None:
        from elasticsearch_eslib_spark.sources.tableio import fingerprint_path

        n_planes = pinned_near_dup_planes(
            meta_dir,
            expect_fingerprint=fingerprint_path(
                f"{sf_dir}/embeddings.parquet"))
    if n_planes is None:
        n_planes = near_dup_planes(load_embeddings(spark, sf_dir).count())
    # bucket AND norm are per-row columns: the pair loop (the one
    # quadratic-in-occupancy cost) evaluates a single dot per candidate
    # instead of three — sqrt(dot(e,e)) per row is the identical double it
    # was per pair, so the rounded cosine (and the oracle hash) is
    # unchanged. The dot is a codegen'd unrolled chain, not an interpreted
    # fold, and bucket_pairs keeps the cosine filter out of the join
    # condition.
    # spread: the pair stage (the quadratic-in-occupancy cost) runs on the
    # STREAM side's partitions; the single-row-group local file scans 1-2
    # wide and would serialize it on 2 of 32 slots (no-op on a many-file
    # corpus)
    emb = spread(load_embeddings(spark, sf_dir), "vec_id").withColumn(
        "bucket", lsh_bucket_expr("embedding", n_planes)).withColumn(
        "nrm", _norm("embedding"))
    return bucket_pairs(emb, threshold)


def bucket_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine) for the pairs vec_a < vec_b of `emb` rows
    (vec_id, embedding, bucket, nrm) that share a bucket, with rounded
    cosine ≥ threshold."""
    from elasticsearch_eslib_spark.functions.planutil import filter_once

    a, b = emb.alias("a"), emb.alias("b")
    pairs = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .withColumn("cosine", F.round(
                 _dot("a.embedding", "b.embedding")
                 / (F.col("a.nrm") * F.col("b.nrm")), 6)))
    # filter_once: without the barrier the cosine folds into the join
    # condition and is evaluated per bucket pair outside codegen, then
    # again in the projection (measured 28.0 → 6.6 s on this stage)
    return (filter_once(pairs, F.col("cosine") >= threshold)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"), "cosine"))
