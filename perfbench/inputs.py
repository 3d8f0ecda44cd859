"""Seeded workload inputs: queries, DSL bodies, append batches, delete terms.

Everything here is a pure function of the seed, so the same seed gives
the same inputs and the program under test only ever sees the generated
values. Query terms come from the synthetic corpus vocabulary, drawn
Zipf-weighted over its rank order so both head (stopword-class) and tail
terms appear.
"""

from __future__ import annotations

import numpy as np

from es_loaders_spark.corpus import LANGS, vocabulary

TERM_ZIPF_S = 0.8  # flatter than the corpus' 1.07, so tail terms get drawn
DSL_POOL = 40      # more bodies than querystring's 16-entry cache pool
DSL_ZIPF_S = 1.1   # some bodies repeat (cache hits), the tail evicts
MSEARCH_SIZE = 50
K = 10


def _zipf(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


class Inputs:
    """All generated inputs of one run; draw methods are deterministic."""

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = vocabulary()
        self._term_p = _zipf(len(self.vocab), TERM_ZIPF_S)
        rng = np.random.RandomState(seed)
        self._rng = rng
        self._seen: set[str] = set()
        self._drawn = 0
        self.qs_pool = [self._qs_body(i % 4) for i in range(DSL_POOL)]
        self.mf_pool = [self._mf_body() for _ in range(DSL_POOL)]
        self.aggs_pool = [self._aggs_body() for _ in range(DSL_POOL)]
        self.count_pool = [self._count_body() for _ in range(DSL_POOL)]
        self._pool_p = _zipf(DSL_POOL, DSL_ZIPF_S)
        # tail terms for delete_by_term, in seeded order; each deletes ~2%
        tail = self.vocab[len(self.vocab) // 2:]
        self.delete_terms = [tail[i] for i in rng.permutation(len(tail))]

    def _terms(self, n: int) -> list[str]:
        idx = self._rng.choice(len(self.vocab), size=n, replace=False, p=self._term_p)
        return [self.vocab[i] for i in idx]

    def bm25_query(self) -> str:
        """1-5 Zipf-drawn terms; never repeats within a run.

        The length cycles through 1-5 rather than being drawn, so every run
        gets the same mix of lengths and its median latency varies less
        from seed to seed.
        """
        n = 1 + self._drawn % 5
        self._drawn += 1
        while True:
            q = " ".join(self._terms(n))
            if q not in self._seen:
                self._seen.add(q)
                return q

    def msearch_batch(self) -> list[str]:
        return [self.bm25_query() for _ in range(MSEARCH_SIZE)]

    def _qs_body(self, shape: int) -> dict:
        a, b, c = self._terms(3)
        q = [f"{a} AND ({b} OR {c})", f"({a} OR {b}) AND NOT {c}",
             f"{a}^2 {b} {c}", f"{a} AND {c[:4]}*"][shape]
        # served from the index, as auto does above its 20k-doc crossover
        return {"query": {"query_string": {"query": q, "serve": "index"}}, "size": K}

    def _mf_body(self) -> dict:
        a, b = self._terms(2)
        lang = LANGS[self._rng.randint(len(LANGS))]
        return {"query": {"bool": {"must": {"match": {"text": f"{a} {b}"}},
                                   "filter": {"term": {"lang": lang}}}},
                "size": K}

    def _aggs_body(self) -> dict:
        (a,) = self._terms(1)
        return {"size": 0, "query": {"match": {"text": a}},
                "aggs": {"by_lang": {"terms": {"field": "lang"}, "aggs": {
                    "by_dl": {"histogram": {"field": "dl", "interval": 50}}}}}}

    def _count_body(self) -> dict:
        a, b = self._terms(2)
        return {"query": {"match": {"text": f"{a} {b}"}}}

    def draw(self, pool: list[dict]) -> dict:
        return pool[int(self._rng.choice(len(pool), p=self._pool_p))]

    def sample(self, items: list, n: int) -> list:
        """Seeded choice of up to ``n`` items to check after the window."""
        idx = self._rng.choice(len(items), size=min(n, len(items)), replace=False)
        return [items[i] for i in sorted(idx)]


def append_seed(seed: int, cycle: int) -> int:
    """Corpus seed of the pages appended in ``cycle`` (disjoint from the base)."""
    return seed * 1009 + 1 + cycle


def marker(cycle: int) -> str:
    """A token only the pages appended in ``cycle`` carry."""
    return f"zmark{cycle:04d}"
