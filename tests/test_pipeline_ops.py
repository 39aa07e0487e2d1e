"""Training-data pipeline operators: dedup / similarity / text stats /
multimodal — semantic unit tests at sf0.001 (the driver's oracle compare
runs at sf0.01 via __spark_entry__; these pin the SEMANTICS)."""

import pytest

SF = "/root/testdata/sf0.001"


def test_dedup_exact_keeps_min_doc(spark):
    from elasticsearch_eslib_spark.operators.dedup import dedup_exact

    rows = dedup_exact(spark, SF).collect()
    assert sum(r["n_copies"] for r in rows) == 500
    # keeper is always a real doc id and hash groups are disjoint
    assert len({r["text_hash"] for r in rows}) == len(rows)


def test_minhash_containment_property(spark):
    """Identical docs would share all sigs; here: every sig is a valid
    shingle hash lower bound (sanity) and signatures are deterministic."""
    from elasticsearch_eslib_spark.operators.dedup import minhash_signatures

    a = {r["doc_id"]: tuple(r[f"sig_{j}"] for j in range(8))
         for r in minhash_signatures(spark, SF).collect()}
    b = {r["doc_id"]: tuple(r[f"sig_{j}"] for j in range(8))
         for r in minhash_signatures(spark, SF).collect()}
    assert a == b
    assert all(all(s >= 0 for s in sig) for sig in a.values())


def test_lsh_pairs_subset_of_true_pairs(spark):
    """LSH candidates that pass verification are TRUE near-dups (precision
    1.0 by construction: pairs carry their exact verified jaccard)."""
    from elasticsearch_eslib_spark.operators.dedup import minhash_lsh_pairs

    rows = minhash_lsh_pairs(spark, SF, jaccard_threshold=0.2).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.2 <= r["jaccard"] <= 1.0


def test_simhash_bits_bounded(spark):
    from elasticsearch_eslib_spark.operators.dedup import simhash

    rows = simhash(spark, SF).collect()
    assert all(0 <= r["simhash_hi"] < 2**32
               and 0 <= r["simhash_lo"] < 2**32 for r in rows)
    assert len(rows) == 500


def test_simhash_pairs_finds_near_identical_docs(spark):
    """A doc pair differing in ONE rare word lands at small hamming and is
    found by the banded pair operator; the band trick provably loses no
    pair ≤ radius (checked against brute force over the small frame)."""
    from elasticsearch_eslib_spark.operators.dedup import (
        HAMMING_RADIUS, simhash_of, simhash_pairs_of,
    )

    base = " ".join(f"word{j:03d}" for j in range(200))
    docs = [(1, base + " sierra"), (2, base + " sierra"),   # identical
            (3, base + " tango"),                            # one word off
            (4, "completely different words entirely unrelated content "
                "nothing shared here at all zebra yankee xray whiskey " * 4)]
    tf = (spark.createDataFrame(docs, "doc_id long, text string")
          .selectExpr("doc_id",
                      "explode(filter(split(text, ' '), x -> x <> '')) AS term")
          .groupBy("doc_id", "term").count().withColumnRenamed("count", "tf"))
    sig = simhash_of(tf)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs_of(sig).collect()}
    # brute force over the 3 signatures
    sigs = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in sig.collect()}
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = (bin(sigs[a][0] ^ sigs[b][0]).count("1")
                   + bin(sigs[a][1] ^ sigs[b][1]).count("1"))
            if ham <= HAMMING_RADIUS:
                expect[(a, b)] = ham
    assert got == expect
    assert got[(1, 2)] == 0  # the identical pair is actually caught


def test_lsh_pairs_survive_boilerplate_shingle_skew(spark, tmp_path):
    """A shingle present in 40% of docs (boilerplate header) must not blow
    up verification: results equal a brute-force pandas Jaccard over the
    LSH candidates, and the plan contains no shingle-table self-join."""
    import itertools

    import pandas as pd

    from elasticsearch_eslib_spark.operators.dedup import (
        SHINGLE_K, minhash_lsh_pairs,
    )

    boiler = "copyright acme corp all rights reserved"
    rows = []
    for i in range(50):
        body = " ".join(f"w{i}x{j}" for j in range(20))
        text = (boiler + " " + body) if i % 5 < 2 else body
        rows.append({"doc_id": i, "text": text, "lang": "en",
                     "source": "t", "n_chars": len(text)})
    # two true near-dup pairs
    rows[10]["text"] = rows[11]["text"] = boiler + " " + \
        " ".join(f"dup{j}" for j in range(30))
    rows[20]["text"] = " ".join(f"nd{j}" for j in range(30))
    rows[21]["text"] = rows[20]["text"] + " extraword"
    sf = str(tmp_path / "skew_sf")
    import os
    os.makedirs(sf, exist_ok=True)
    pd.DataFrame(rows).to_parquet(f"{sf}/documents.parquet")

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(spark, sf, jaccard_threshold=0.5).collect()}
    assert (10, 11) in got and got[(10, 11)] == 1.0
    assert (20, 21) in got and got[(20, 21)] > 0.9

    # every reported jaccard is the true shingle jaccard
    def shingle_set(text):
        toks = [t for t in text.split(" ") if t]
        return {" ".join(toks[i:i + SHINGLE_K])
                for i in range(len(toks) - SHINGLE_K + 1)}

    sets = {r["doc_id"]: shingle_set(r["text"]) for r in rows}
    for (a, b), j in got.items():
        inter = len(sets[a] & sets[b])
        true_j = inter / (len(sets[a]) + len(sets[b]) - inter)
        assert abs(j - true_j) < 1e-6


def test_simhash_pairs_oversized_bucket_recursion(spark):
    """>cap docs sharing one 16-bit band value: the operator detects the
    oversized bucket, recurses onto 12-bit sub-bands of the remaining 48
    bits (multi-index hashing), the result still EXACTLY equals brute
    force, and no recursed join side exceeds the cap."""
    import random
    from collections import Counter

    from elasticsearch_eslib_spark.operators.dedup import (
        HAMMING_RADIUS, simhash_oversized_buckets, simhash_pairs_of,
    )

    rng = random.Random(7)
    rows = []
    for i in range(60):
        hi = rng.getrandbits(32)
        lo = (rng.getrandbits(16) << 16) | 0x1234  # band 0 shared by ALL 60
        rows.append((i, hi, lo))
    # plant a true near-dup pair inside the oversized bucket (hamming 2)
    rows[50] = (50, rows[40][1] ^ 0b101, rows[40][2])
    sig = spark.createDataFrame(
        rows, "doc_id long, simhash_hi long, simhash_lo long")

    over = simhash_oversized_buckets(sig, max_bucket=10).collect()
    assert any(r["band"] == 0 and r["v"] == 0x1234 and r["n"] == 60
               for r in over)

    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs_of(sig, max_bucket=10).collect()}
    expect = {}
    for i, (a, ha, la) in enumerate(rows):
        for b, hb, lb in rows[i + 1:]:
            ham = bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")
            if ham <= HAMMING_RADIUS:
                expect[(min(a, b), max(a, b))] = ham
    assert got == expect
    assert got[(40, 50)] == 2

    # structural bound: replicate the oversized bucket's sub-banding — every
    # (band, v, sub_band, sub_value) group stays within the cap, so neither
    # side of the recursed self-join exceeds it
    cnt: Counter = Counter()
    for _i, hi, lo in rows:
        b1 = (lo >> 16) & 0xFFFF
        b2 = hi & 0xFFFF
        b3 = (hi >> 16) & 0xFFFF
        rem = b1 | (b2 << 16) | (b3 << 32)
        for s in range(4):
            cnt[(s, (rem >> (12 * s)) & 0xFFF)] += 1
    assert max(cnt.values()) <= 10


def test_lsh_oversized_bucket_star_links_cluster(spark):
    """A cluster of >cap docs with identical signatures (near-identical but
    not byte-identical text) is still LINKED — each member pairs with the
    cluster's min doc_id — instead of silently yielding zero pairs."""
    from elasticsearch_eslib_spark.operators.dedup import (
        lsh_candidate_pairs, lsh_oversized_buckets,
    )

    schema = ("doc_id long, " +
              ", ".join(f"sig_{j} long" for j in range(8)))
    rows = [(i, *([42] * 8)) for i in range(30)]       # one 30-doc cluster
    rows += [(100, *range(8)), (101, 0, 1, 77, 78, 79, 80, 81, 82)]
    sigs = spark.createDataFrame(rows, schema)

    over = lsh_oversized_buckets(sigs, max_bucket=10).collect()
    assert len(over) == 4 and all(r["n"] == 30 and r["min_doc"] == 0
                                  for r in over)

    pairs = {(r["doc_a"], r["doc_b"])
             for r in lsh_candidate_pairs(sigs, max_bucket=10).collect()}
    # star: every cluster member linked to doc 0, at O(m) not O(m²)
    assert {(0, i) for i in range(1, 30)} <= pairs
    assert not any(a != 0 and a < 30 and b < 30 for a, b in pairs)
    # normal small-bucket path untouched: 100/101 share band 0 only
    assert (100, 101) in pairs


def test_jaccard_vs_seed_self_is_one(spark):
    from elasticsearch_eslib_spark.operators.dedup import jaccard_vs_seed

    rows = {r["doc_id"]: r["jaccard"] for r in
            jaccard_vs_seed(spark, SF).collect()}
    seed_id = min(rows)
    assert rows[seed_id] == 1.0
    assert all(0.0 <= v <= 1.0 for v in rows.values())


def test_ann_bruteforce_vs_numpy(spark):
    """Spark cosine top-k == numpy cosine top-k (exact, same tie-break)."""
    import numpy as np
    import pandas as pd

    from elasticsearch_eslib_spark.operators.similarity import (
        TOPK, ann_bruteforce_topk,
    )

    pdf = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    got = {}
    for r in ann_bruteforce_topk(spark, SF).collect():
        got.setdefault(r["q_vec_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    for q in range(5):
        qv = vecs[ids == q][0]
        qn = np.sqrt((qv * qv).sum())
        cos = np.round(vecs @ qv / (norms * qn), 6)
        cand = sorted(
            ((float(c), int(i)) for c, i in zip(cos, ids) if i != q),
            key=lambda t: (-t[0], t[1]))[:TOPK]
        expected = [(rank + 1, i, c) for rank, (c, i) in enumerate(cand)]
        assert sorted(got[q]) == expected, f"query vec {q}"


def test_lsh_ann_recall(spark):
    """LSH probe returns a reasonable fraction of the true top-k (its
    bucket only) — recall floor pinned so regressions surface."""
    from elasticsearch_eslib_spark.operators.similarity import (
        ann_bruteforce_topk, ann_lsh_topk,
    )

    truth = {(r["q_vec_id"], r["vec_id"])
             for r in ann_bruteforce_topk(spark, SF).collect()}
    approx = {(r["q_vec_id"], r["vec_id"])
              for r in ann_lsh_topk(spark, SF).collect()}
    # every approx hit must be a real vector pair; recall sanity > 0
    assert approx  # non-empty
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.1


def test_near_dup_planes_occupancy_math():
    from elasticsearch_eslib_spark.operators.similarity import (
        MIN_NEAR_DUP_PLANES, TARGET_BUCKET_OCCUPANCY, near_dup_planes,
    )

    assert near_dup_planes(100) == MIN_NEAR_DUP_PLANES
    # expected occupancy lands within [target/2, target] once above floor
    for n in (10**6, 10**9, 10**12):
        p = near_dup_planes(n)
        occ = n / 2**p
        assert occ <= TARGET_BUCKET_OCCUPANCY
        assert occ > TARGET_BUCKET_OCCUPANCY / 2
    assert near_dup_planes(10**12) <= 40


def test_embedding_near_dup_plane_scaling(spark):
    """Nested hyperplanes: more planes refine buckets, so the pair set at
    8 planes is a subset of the pair set at 4 planes, and every reported
    cosine equals the brute-force cosine (exactness of verification)."""
    import numpy as np
    import pandas as pd

    from elasticsearch_eslib_spark.operators.similarity import (
        embedding_near_dup,
    )

    p4 = {(r["vec_a"], r["vec_b"]): r["cosine"]
          for r in embedding_near_dup(spark, SF, n_planes=4).collect()}
    p8 = {(r["vec_a"], r["vec_b"]): r["cosine"]
          for r in embedding_near_dup(spark, SF, n_planes=8).collect()}
    assert p4  # the fixture contains near-dups
    assert set(p8) <= set(p4)
    for k in p8:
        assert p8[k] == p4[k]
    # verified cosines are the true cosines
    pdf = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    byid = {int(i): v for i, v in zip(ids, vecs)}
    for (a, b), c in p4.items():
        va, vb = byid[a], byid[b]
        true_c = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
        assert abs(c - true_c) < 1e-9


def test_near_dup_planes_pinned_at_ingest(spark, tmp_path):
    """Two jobs over the same table agree on buckets BY CONSTRUCTION: the
    plane count is pinned once at ingest into a sidecar manifest and every
    reader uses the recorded value (never a fresh count)."""
    from elasticsearch_eslib_spark.operators.similarity import (
        embedding_near_dup, pin_near_dup_planes, pinned_near_dup_planes,
    )

    meta = str(tmp_path / "emb_meta")
    n = pin_near_dup_planes(spark, SF, meta)
    # a second "session" (reader) sees the identical pinned value with no
    # count of its own
    assert pinned_near_dup_planes(meta) == n
    via_pin = {(r["vec_a"], r["vec_b"]): r["cosine"]
               for r in embedding_near_dup(spark, SF, meta_dir=meta).collect()}
    explicit = {(r["vec_a"], r["vec_b"]): r["cosine"]
                for r in embedding_near_dup(spark, SF, n_planes=n).collect()}
    assert via_pin == explicit
    # pin is idempotent for the same table state
    assert pin_near_dup_planes(spark, SF, meta) == n


def test_quality_and_langid_shapes(spark):
    from elasticsearch_eslib_spark.functions.textstats import (
        lang_id, quality_score, token_count,
    )

    q = {r["doc_id"]: r for r in quality_score(spark, SF).collect()}
    t = {r["doc_id"]: r for r in token_count(spark, SF).collect()}
    assert set(q) == set(t) and len(q) == 500
    for doc_id, row in q.items():
        assert row["n_tokens"] == t[doc_id]["n_tokens"]
        assert 0 <= row["stopword_ratio"] <= 1
        assert row["quality"] in (0, 1)
    langs = lang_id(spark, SF).collect()
    assert all(r["lang_guess"] in ("en", "de", "es", "fr") for r in langs)


def test_fingerprint_order_sensitivity(spark):
    """Fingerprint is position-weighted: permuted docs differ (checked on
    the real corpus: distinct texts ⇒ overwhelmingly distinct prints)."""
    from elasticsearch_eslib_spark.functions.textstats import fingerprint

    rows = fingerprint(spark, SF).collect()
    vals = [r["fingerprint"] for r in rows]
    assert len(set(vals)) > len(vals) * 0.95


def test_media_features_deterministic_stub(spark):
    from elasticsearch_eslib_spark.operators.multimodal import media_features

    rows = {r["media_id"]: r for r in media_features(spark, SF).collect()}
    assert len(rows) == 500
    for r in rows.values():
        assert r["n_bytes"] == 16
        assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 64
        assert r["media_type"] in ("image", "audio", "video")
    again = {r["media_id"]: r for r in media_features(spark, SF).collect()}
    assert rows == again


def test_media_real_decode_seam(spark):
    """The _decode_real wiring executes through actual Spark workers:
    (a) a stand-in 'real' decoder injected at the seam produces its
    features end-to-end; (b) with a fake PIL module installed, the module
    selects the real path by default and its NotImplementedError surfaces
    through the Spark job (the stub is a tested seam, not dead code)."""
    import importlib
    import sys
    import types

    from elasticsearch_eslib_spark.operators import multimodal as mm

    def standin_real_decode(payload, media_type):
        return len(payload), 424242, 7, 9  # a 'real' decoder's signature

    rows = mm.media_features(spark, SF, decode=standin_real_decode).collect()
    assert len(rows) == 500
    assert all(r["checksum"] == 424242 and r["width"] == 7
               and r["height"] == 9 for r in rows)

    fake_pil = types.ModuleType("PIL")
    sys.modules["PIL"] = fake_pil
    try:
        importlib.reload(mm)
        assert mm._HAVE_MEDIA_LIBS
        with pytest.raises(Exception, match="media decode requires"):
            mm.media_features(spark, SF).collect()
    finally:
        del sys.modules["PIL"]
        importlib.reload(mm)
    assert not mm._HAVE_MEDIA_LIBS


def test_events_hourly_matches_manual(spark):
    from elasticsearch_eslib_spark.operators.events import events_hourly

    rows = events_hourly(spark, SF).collect()
    total_n = sum(r["n"] for r in rows)
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total_n == n_events


def test_stale_near_dup_pin_rejected(tmp_path, spark):
    """A pinned plane count recorded for one embeddings-table state must
    not be silently reused after the table changes: the sidecar's
    fingerprint is validated at read time (round-4 fix) and a mismatch
    falls back to None (fresh count)."""
    from elasticsearch_eslib_spark.operators.similarity import (
        pin_near_dup_planes, pinned_near_dup_planes,
    )
    from elasticsearch_eslib_spark.sources.tableio import fingerprint_path

    meta = str(tmp_path / "emb_meta")
    n = pin_near_dup_planes(spark, SF, meta)
    fp_now = fingerprint_path(f"{SF}/embeddings.parquet")
    assert pinned_near_dup_planes(meta, expect_fingerprint=fp_now) == n
    # table rewritten/regrown → different fingerprint → pin is stale
    assert pinned_near_dup_planes(
        meta, expect_fingerprint="0123456789abcdef") is None
    # legacy sidecars without a fingerprint stay readable
    assert pinned_near_dup_planes(meta) == n


def test_minhash_signature_memo_invalidates_on_table_change(spark, tmp_path):
    """The per-session signature memo is keyed by the documents-table
    fingerprint: rewriting the table must yield FRESH signatures (and
    release the stale cache), never the memoized ones."""
    import os
    import shutil

    import pandas as pd

    from elasticsearch_eslib_spark.operators.dedup import (
        corpus_minhash_signatures,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["alpha beta gamma delta epsilon zeta"] * 2,
        "lang": ["en"] * 2, "n_chars": [36] * 2,
    }).to_parquet(f"{sf}/documents.parquet")
    s1 = corpus_minhash_signatures(spark, sf)
    v1 = {r["doc_id"]: r["sig_0"] for r in s1.collect()}
    assert s1 is corpus_minhash_signatures(spark, sf)  # memo hit

    shutil.rmtree(f"{sf}/documents.parquet", ignore_errors=True)
    os.remove(f"{sf}/documents.parquet") if os.path.exists(
        f"{sf}/documents.parquet") else None
    pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["one two three four five six seven"] * 2,
        "lang": ["en"] * 2, "n_chars": [33] * 2,
    }).to_parquet(f"{sf}/documents.parquet")
    s2 = corpus_minhash_signatures(spark, sf)
    assert s2 is not s1  # stale entry evicted, fresh pipeline
    v2 = {r["doc_id"]: r["sig_0"] for r in s2.collect()}
    assert v1[1] != v2[1]  # new content → new signatures


def test_dot_expr_matches_column_fold(spark):
    """The SQL-string-built unrolled dot (and the literal-plane bucket
    expr) must be VALUE-identical to the Column-API left fold it replaced
    — same float64 op order, plane literals round-tripping exactly
    through repr/parseDouble (operators/similarity.py _dot)."""
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.operators.similarity import (
        EMB_DIM, _dot, _hyperplanes, lsh_bucket_expr,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    acc = F.lit(0.0)
    for i in range(1, EMB_DIM + 1):
        acc = acc + (F.element_at("embedding", i).cast("double")
                     * F.element_at("embedding", i).cast("double"))
    old = emb.select("vec_id", acc.alias("d")).collect()
    new = emb.select("vec_id", _dot("embedding", "embedding").alias("d")
                     ).collect()
    assert old == new

    n_planes = 5
    planes = _hyperplanes(n_planes)
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        prod = F.lit(0.0)
        for i in range(1, EMB_DIM + 1):
            prod = prod + (F.element_at("embedding", i).cast("double")
                           * F.element_at(plane, i).cast("double"))
        bucket = bucket * 2 + F.when(prod > 0, 1).otherwise(0)
    old_b = emb.select("vec_id", bucket.alias("b")).collect()
    new_b = emb.select(
        "vec_id", lsh_bucket_expr("embedding", n_planes).alias("b")).collect()
    assert old_b == new_b


def test_conf_bytes_parses_spark_byte_strings(spark):
    """Spark answers byte configs in byte-string syntax ('4194304b');
    conf_bytes must parse that, bare digits, and unit suffixes — the
    spread()/need_spread split estimates depend on it."""
    from elasticsearch_eslib_spark.functions.planutil import conf_bytes

    # openCostInBytes default comes back with the 'b' suffix
    assert conf_bytes(spark, "spark.sql.files.openCostInBytes") == 4 << 20
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for raw, want in [("8388608", 8 << 20), ("4m", 4 << 20),
                          ("2MB", 2 << 20), ("1g", 1 << 30)]:
            spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
            assert conf_bytes(
                spark, "spark.sql.files.maxPartitionBytes") == want, raw
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_decisions(spark, tmp_path):
    """spread repartitions a tiny single-file scan and leaves a scan
    whose padded size covers the slot count alone (openCost charged per
    file, matching Spark's split packing)."""
    import pandas as pd

    from elasticsearch_eslib_spark.functions.planutil import spread

    small = str(tmp_path / "small.parquet")
    pd.DataFrame({"doc_id": range(100)}).to_parquet(small)
    df = spark.read.parquet(small)
    assert spread(df) is not df  # under-parallel → repartitioned

    many = tmp_path / "many"
    many.mkdir()
    for i in range(20):  # 20 files × (size + 4 MB openCost) ≫ slots × mpb
        pd.DataFrame({"doc_id": [i]}).to_parquet(str(many / f"p{i}.parquet"))
    df2 = spark.read.parquet(str(many))
    assert spread(df2) is df2  # enough padded splits → no-op



def test_bm25_topk_fails_loud_on_empty_corpus(spark, tmp_path):
    """No document holds a token, so avg_dl is undefined: bm25_topk raises
    instead of returning a silently empty ranking. A corpus whose tokens
    miss every query term still answers empty, without an error."""
    import pandas as pd

    from elasticsearch_eslib_spark.operators.fulltext import bm25_topk

    for name, texts in (("empty", ["", "  "]), ("nomatch", ["foo bar", "baz"])):
        (tmp_path / name).mkdir()
        pd.DataFrame({"doc_id": [1, 2], "text": texts}).to_parquet(
            str(tmp_path / name / "documents.parquet"))
    with pytest.raises(Exception, match="empty corpus"):
        bm25_topk(spark, str(tmp_path / "empty")).collect()
    assert bm25_topk(spark, str(tmp_path / "nomatch")).collect() == []

def test_local_path_parses_file_uris():
    """spread() sizes local scans from the files' URIs: both spellings of
    a local file URI give the path (percent-escapes decoded); a URI that
    names a host, or another scheme, is refused, so spread() falls back
    to the RDD probe instead of stat-ing a wrong local path."""
    from elasticsearch_eslib_spark.functions.planutil import local_path

    assert local_path("file:/x/p.parquet") == "/x/p.parquet"
    assert local_path("file:///x/p.parquet") == "/x/p.parquet"
    assert local_path("file:///x/a%20b.parquet") == "/x/a b.parquet"
    for uri in ("file://host/x/p.parquet", "hdfs://nn/x/p.parquet",
                "/x/p.parquet"):
        with pytest.raises(ValueError):
            local_path(uri)
