"""Seeded benchmark inputs: pages corpora, query sets and the BM25 oracle.

Corpora are doc-id ranges of the FIXTURES.md generator
(`fixtures.gen_pages_range`), so any range is new documents from the same
distribution and range [0, n) is a prefix of `bench.py` q1's corpus. Each
corpus is generated once into the benchmark's cache directory together
with its analyzed token stream, which the oracle reads; neither is an
output of the program under test.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from elasticsearch_eslib_spark import fixtures
from elasticsearch_eslib_spark.functions.analyze import STOPWORDS, analyze_text
from elasticsearch_eslib_spark.oracle import OracleIndex, bm25_topk

TOPK = 10


class Corpus:
    """Doc ids [lo, hi) of the fixture generator, as parquet plus oracle data.

    Oracle doc ids are the engine's: dense, 1-based, in url order."""

    def __init__(self, cache_dir: str, lo: int, hi: int):
        self.lo, self.hi = lo, hi
        self.dir = os.path.join(cache_dir, f"pages-{lo}-{hi}")
        self.pages_path = os.path.join(self.dir, "pages.parquet")  # as fixtures writes it
        self.generation_s = 0.0
        self._tokens = self._offsets = self._vocab = None

    @property
    def n_docs(self) -> int:
        return self.hi - self.lo

    def ensure(self) -> "Corpus":
        """Generate once; a marker written last makes a killed run regenerate."""
        import time

        import pyarrow.parquet as pq

        marker = os.path.join(self.dir, "_CORPUS_COMPLETE")
        if os.path.exists(marker):
            return self
        t0 = time.perf_counter()
        shutil.rmtree(self.dir, ignore_errors=True)
        _write_pages(self.dir, self.lo, self.hi)
        pdf = (pq.read_table(self.pages_path, columns=["url", "text", "lang"])
               .to_pandas().sort_values("url"))
        vocab: dict[str, int] = {}
        toks: list[int] = []
        offsets = [0]
        for text, lang in zip(pdf["text"], pdf["lang"]):
            toks.extend(vocab.setdefault(t, len(vocab))
                        for t in analyze_text(text, lang))
            offsets.append(len(toks))
        tokens = np.asarray(toks, dtype=np.int64)
        doc_of_token = np.repeat(np.arange(len(offsets) - 1),
                                 np.diff(offsets))
        pairs = np.unique(doc_of_token * len(vocab) + tokens)
        df = np.bincount(pairs % len(vocab), minlength=len(vocab))
        np.save(os.path.join(self.dir, "tokens.npy"), tokens.astype(np.int32))
        np.save(os.path.join(self.dir, "offsets.npy"),
                np.asarray(offsets, dtype=np.int64))
        np.save(os.path.join(self.dir, "df.npy"), df)
        with open(os.path.join(self.dir, "vocab.json"), "w") as fh:
            json.dump(list(vocab), fh)
        with open(marker, "w") as fh:
            fh.write(str(self.n_docs))
        self.generation_s = time.perf_counter() - t0
        return self

    def df_terms(self) -> dict[str, list[str]]:
        """Terms that analyze to themselves as a query, by case: "K" of
        document frequency exactly TOPK (the least df above it if no term
        has it), "F" of 1 to TOPK - 1."""
        self._load()
        df = np.load(os.path.join(self.dir, "df.npy"))
        terms = sorted(t for t in self._vocab
                       if analyze_text(t, "en") == [t])
        dfs = np.asarray([df[self._vocab[t]] for t in terms])
        k_df = dfs[dfs >= TOPK].min()
        return {"K": [t for t, d in zip(terms, dfs) if d == k_df],
                "F": [t for t, d in zip(terms, dfs) if d < TOPK]}

    def html_sample(self, n: int) -> list[tuple[bytes, str]]:
        """(html, lang) of the first `n` pages."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.pages_path, columns=["html", "lang"]).slice(0, n)
        return list(zip(t.column("html").to_pylist(),
                        t.column("lang").to_pylist()))

    def _load(self) -> None:
        if self._tokens is None:
            self._tokens = np.load(os.path.join(self.dir, "tokens.npy"))
            self._offsets = np.load(os.path.join(self.dir, "offsets.npy"))
            with open(os.path.join(self.dir, "vocab.json")) as fh:
                self._vocab = {t: i for i, t in enumerate(json.load(fh))}

    def oracle(self, queries: list[str]) -> dict[str, list[tuple[int, float]]]:
        """`oracle.bm25_topk` for each query, over an OracleIndex holding
        every doc length and the postings of the queries' terms (exact for
        these queries: BM25 reads no other postings)."""
        self._load()
        dl = np.diff(self._offsets)
        idx = OracleIndex(doc_len={i + 1: int(x) for i, x in enumerate(dl)},
                          n_docs=len(dl), avg_dl=float(dl.mean()))
        doc_of_token = np.repeat(np.arange(1, len(dl) + 1), dl)
        for q in queries:
            for term in set(analyze_text(q, "en")):
                tid = self._vocab.get(term)
                if tid is None or term in idx.postings:
                    continue
                docs, tfs = np.unique(doc_of_token[self._tokens == tid],
                                      return_counts=True)
                idx.postings[term] = dict(zip(docs.tolist(), tfs.tolist()))
        return {q: [(d, s) for _, d, s in
                    bm25_topk(idx, analyze_text(q, "en"), TOPK)]
                for q in queries}


def _write_pages(directory: str, lo: int, hi: int) -> str:
    """`fixtures.write_pages_parquet` (its schema, row-group layout and
    marker) for doc ids [lo, hi). The writer generates ids [0, n) through
    the module's `gen_pages`, which points at the range for the call."""
    gen_pages = fixtures.gen_pages
    fixtures.gen_pages = lambda n: fixtures.gen_pages_range(lo, lo + n)
    try:
        return fixtures.write_pages_parquet(directory, hi - lo)
    finally:
        fixtures.gen_pages = gen_pages


# The FIXTURES.md section 2 reference set (`fixtures.gen_queries`), one
# query per case, in its order. A query set keeps each case and its share
# (1/12) and draws only the terms from the seed: T a Zipf draw below the
# head ranks, H one of head ranks 0-9 (df ~0.55 N), Tu a tail term with
# case and punctuation, D a tail term twice, Z a Zipf-drawn zh word, A a
# term absent from every corpus, S a stopword, K a term of df exactly k
# in the corpus, F one of df below k.
REFERENCE_CASES = (
    ("single tail term", "T"),
    ("single head term", "H"),
    ("head + tail", "H T"),
    ("three tail terms", "T T T"),
    ("four mixed", "H T T T"),
    ("absent from corpus", "A"),
    ("all stopwords", "S S S"),
    ("duplicate term", "D"),
    ("case + punctuation", "Tu T"),
    ("zh unigram path", "Z Z"),
    ("matches exactly k", "K"),
    ("matches fewer than k", "F"),
)
_STOP_EN = sorted(STOPWORDS["en"])
_TAIL_VOCAB = fixtures._VOCAB[fixtures.N_HEAD:]  # noqa: SLF001
_TAIL_P = fixtures._PROBS[fixtures.N_HEAD:] / fixtures._PROBS[fixtures.N_HEAD:].sum()  # noqa: SLF001


def query_set(seed: int, corpus: Corpus) -> list[str]:
    """The seed's query set: one query per REFERENCE_CASES entry, in order,
    with seeded terms. K and F come from the corpus's document
    frequencies, so those cases hold on any doc range."""
    rng = np.random.default_rng([seed, 7])
    df_terms = corpus.df_terms()

    def word(kind: str) -> str:
        if kind == "T":
            return str(rng.choice(_TAIL_VOCAB, p=_TAIL_P))
        if kind == "H":
            return f"t{int(rng.integers(0, fixtures.N_HEAD)):06d}"
        if kind == "Tu":
            return word("T").upper() + ","
        if kind == "D":
            return " ".join([word("T")] * 2)
        if kind == "Z":
            return str(rng.choice(fixtures._ZH_VOCAB, p=fixtures._ZH_PROBS))  # noqa: SLF001
        if kind == "A":
            return f"zzz{int(rng.integers(0, 100_000)):05d}notaterm"
        if kind == "S":
            return str(rng.choice(_STOP_EN))
        return str(rng.choice(df_terms[kind]))

    out = []
    for _, shape in REFERENCE_CASES:
        q = " ".join(word(kind) for kind in shape.split())
        out.append(q + "!" if "Tu" in shape else q)
    return out
