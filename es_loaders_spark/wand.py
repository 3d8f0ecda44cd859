"""Block-max top-k BM25 query engine over the compressed sharded index.

Architecture mirrors what Elasticsearch does for every ``search`` the
reference issues (public ES/Lucene execution model; SURVEY §2.6 T3,
§3.3): each shard computes a local top-k with block-max pruning, a
coordinator merge takes the global top-k.

``topk`` and ``topk_batch`` share ONE per-shard body, ``_score_shard``:
a direct parquet read of the union of the queries' terms' posting rows,
then the block-max kernel per query over the shard's live doclens, the
queries sharing the shard's term cursors and so their decoded blocks.
The query terms' dfs come from ``terms/`` with a term-filtered pyarrow
scan on the driver (no Spark job). The body runs on two sites:

- **driver**: when the warm index's live doclens fit Spark's own
  "small enough to hold whole" rule — 16 B/row × n_docs within
  ``spark.sql.autoBroadcastJoinThreshold`` — and the index files are
  visible from the driver, ``_WarmIndex`` keeps per-shard sorted
  ``(doc_id, dl)`` arrays on the driver and ``topk`` loops over the
  shards in-process: no Spark job at all, where a Python-UDF job alone
  costs several hundred ms.
  A ``topk_batch`` (msearch) whose queries × index docs stay within
  ``_DRIVER_BATCH_QUERY_DOCS`` takes the same loop with the whole batch.
- **executors**: otherwise one ``mapInPandas`` stage over the cached,
  shard-partitioned doclens runs ``_score_shard`` per shard; for a
  ``topk_batch`` a per-query window then takes each query's global
  top-k.

Both sites need the index on storage that the driver and every
executor can see (POSIX paths), as the build already does. The
executor site rounds with Spark's ``F.round``; the driver site rounds
in numpy (``_round_scores``: HALF_UP, bit-identical to ``F.round``
except in a band of a few ulps around each half quantum, which still
goes through ``F.round``), so its answer stays in numpy until one Arrow
``createDataFrame``. Setting the threshold to -1 forces the executor
site (its result is then rank- and score-identical — pytest-asserted).
``topk_merged`` scores the merged table in a Spark job of its own. The
DSL's match leaves use the same gate:
``topk(allowed=...)`` (filtered and ``operator: "and"`` matches) and
``match_docs`` / ``match_count`` (the doc set behind ``dsl.count`` and
faceted aggs), which on the driver decodes only the query terms' doc-id
payloads. ``querystring`` trees of term, prefix and wildcard leaves use
the gate too; on the driver they and ``match_docs`` read postings
through one reader, ``_driver_postings``.

Pruning kernel: **Block-Max MaxScore** — the vectorizable member of the
block-max WAND family (same skip guarantees as classic BMW:
a block of term t is decoded only if
``block_ub(t) + Σ ub(weaker terms) > θ``). Chosen over pivot-based
document-at-a-time WAND because it vectorizes with numpy inside Arrow
batches instead of a per-doc Python loop; results are EXACT — tests
assert rank-identity (ids and scores) with the uncompressed join scorer
(bm25.py) and the DuckDB oracle.

Scores accumulate in float64 over terms sorted by descending term upper
bound; final scores rounded to SCORE_DECIMALS like the exact scorer.
"""

from __future__ import annotations

import functools
import json
import math
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyze import tokenize_text
from .bm25 import SCORE_DECIMALS
from .codec import decode_block, decode_blocks_flat_batch, decode_doc_ids_flat_batch
from .postings import B, K1
from .session import empty_frame, is_live, unpersist_quietly


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_contrib(
    term_idf: float, tf: np.ndarray, dl: np.ndarray, avgdl: float,
    k1: float = K1, b: float = B,
) -> np.ndarray:
    """Per-posting BM25 contribution of one term (float64, 0 where tf is
    0): ``bm25.bm25_score_expr``'s arithmetic, operation for operation,
    so the numpy scorers and the Spark plans sum identical doubles."""
    tf = tf.astype(np.float64)
    norm = k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    return np.where(tf > 0, term_idf * tf * (k1 + 1.0) / (tf + norm), 0.0)


def term_blocks_from_flat(idx: pd.DataFrame | pa.Table) -> dict[str, list[dict]]:
    """Group flat block rows (build.INDEX_SCHEMA; a pandas DataFrame or an
    Arrow table) into term → ordered blocks, one dict per block row.

    Ordered by min_doc (not block_id): appended generations contribute
    additional block rows with disjoint higher docID ranges, and cursor
    skip logic needs blocks in global doc order. One stable Arrow sort on
    (term, min_doc), then each term's blocks are a slice of the row list.
    """
    if isinstance(idx, pd.DataFrame):
        idx = pa.Table.from_pandas(idx, preserve_index=False)
    if idx.num_rows == 0:
        return {}
    idx = idx.take(pc.sort_indices(
        idx, sort_keys=[("term", "ascending"), ("min_doc", "ascending")]
    ))
    names = idx.column_names
    rows = [
        dict(zip(names, r)) for r in zip(*(c.to_pylist() for c in idx.columns))
    ]
    terms = idx.column("term").to_numpy(zero_copy_only=False)
    cuts = [0, *(np.flatnonzero(terms[1:] != terms[:-1]) + 1), len(rows)]
    return {terms[a]: rows[a:b] for a, b in zip(cuts[:-1], cuts[1:])}


class _TermCursor:
    """Decoded-on-demand postings of one term inside one shard.

    Block score bounds are computed AT QUERY TIME from the stored impact
    SKYLINE (Pareto frontier of (tf, dl) pairs; codec._block_skyline):
    max over the skyline of idf · tf_norm(tf, dl, avgdl_now) equals the
    block's true maximum for ANY avgdl — tight AND sound under appended
    generations. Legacy rows without skylines fall back to the looser
    (max_tf, min_dl) bound.
    """

    __slots__ = (
        "blocks", "idf", "block_ubs", "min_docs", "max_docs", "_decoded", "ub",
        "k1", "b",
    )

    def __init__(
        self, blocks: list, term_idf: float, avgdl: float,
        k1: float = K1, b: float = B,
    ):
        self.blocks = blocks
        self.idf = term_idf
        # k1/b are stored so scoring kernels use the SAME parameters the
        # block bounds were computed with (a mismatch makes pruning
        # unsound — bounds could undercut true block maxima).
        self.k1 = k1
        self.b = b
        from .codec import tf_norm, varint_decode

        sky_t = [bytes(blk.get("sky_tfs_payload") or b"") for blk in blocks]
        sky_d = [bytes(blk["sky_dls_payload"]) if t else b"" for blk, t in zip(blocks, sky_t)]
        # every block's skyline decodes in ONE varint pass (varints
        # self-delimit); a block's value count is its terminator bytes
        buf = np.frombuffer(b"".join(sky_t), dtype=np.uint8)
        n_ends = np.concatenate([[0], np.cumsum((buf & 0x80) == 0)])
        counts = np.diff(n_ends[np.cumsum([0, *map(len, sky_t)])])
        has = counts > 0
        ubs = np.empty(len(blocks))
        if has.any():
            # tight bound: max tf_norm over the (tf, dl) Pareto skyline
            norms = tf_norm(
                varint_decode(b"".join(sky_t)).astype(np.float64),
                varint_decode(b"".join(sky_d)).astype(np.float64),
                avgdl, k1=k1, b=b,
            )
            starts = np.cumsum(counts) - counts
            ubs[has] = np.maximum.reduceat(norms, starts[has])
        legacy = np.flatnonzero(~has)
        if legacy.size:  # rows without skylines: loose (max_tf, min_dl)
            ubs[legacy] = tf_norm(
                np.asarray([blocks[i]["max_tf"] for i in legacy], dtype=np.float64),
                np.asarray([blocks[i]["min_dl"] for i in legacy], dtype=np.float64),
                avgdl, k1=k1, b=b,
            )
        self.block_ubs = term_idf * ubs if blocks else np.empty(0)
        self.min_docs = np.asarray([b["min_doc"] for b in blocks], dtype=np.int64)
        self.max_docs = np.asarray([b["max_doc"] for b in blocks], dtype=np.int64)
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.ub = float(self.block_ubs.max()) if blocks else 0.0

    def decode(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        if i not in self._decoded:
            self._decoded[i] = decode_block(self.blocks[i])
        return self._decoded[i]

    @property
    def blocks_decoded(self) -> int:
        return len(self._decoded)

    def all_docs(self, block_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if block_ids.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        parts = [self.decode(int(i)) for i in block_ids]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    def tf_for(self, docs: np.ndarray) -> np.ndarray:
        """tf per requested doc (0 if absent) — decodes only covering blocks."""
        tfs = np.zeros(docs.size, dtype=np.int64)
        if not self.blocks or docs.size == 0:
            return tfs
        bi = np.searchsorted(self.max_docs, docs)  # candidate covering block
        valid = (bi < len(self.blocks)) & (docs >= self.min_docs[np.minimum(bi, len(self.blocks) - 1)])
        for i in np.unique(bi[valid]):
            d, t = self.decode(int(i))
            sel = valid & (bi == i)
            pos = np.searchsorted(d, docs[sel])
            hit = (pos < d.size) & (d[np.minimum(pos, d.size - 1)] == docs[sel])
            out = np.zeros(sel.sum(), dtype=np.int64)
            out[hit] = t[pos[hit]]
            tfs[sel] = out
        return tfs


def bmw_topk_kernel(
    term_blocks: dict[str, list],
    term_idfs: dict[str, float],
    doc_ids_sorted: np.ndarray,
    dls_sorted: np.ndarray,
    avgdl: float,
    k: int,
    k1: float = K1,
    b: float = B,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Exact block-max-pruned top-k over one shard's postings.

    Returns (doc_ids, scores, metrics) with metrics counting decoded vs
    total blocks (proof of skipping in tests/bench).
    """
    cursors = [
        _TermCursor(term_blocks[t], term_idfs[t], avgdl, k1=k1, b=b)
        for t in sorted(term_blocks)
    ]
    return bmw_topk_cursors(cursors, doc_ids_sorted, dls_sorted, avgdl, k)


class _SortedSegments:
    """Already-scored-docs membership set with amortized O(n log n) total
    maintenance (VERDICT r04 "What's wrong" #2 / next #7).

    The r4 kernel kept one sorted array and ``np.insert``-ed every chunk:
    O(seen + cand) copy per chunk → superlinear accumulated copying in
    scored candidates on a mega-shard stopword query. Here each scored
    chunk appends as its own sorted segment and neighbouring segments
    merge binary-counter style (LSM memtable flushing): the segment count
    stays O(log n), each element is re-merged O(log n) times, and a
    membership probe is one searchsorted per segment. Int64 merges use
    numpy's stable sort (radix for ints — effectively linear)."""

    __slots__ = ("segs", "size")

    def __init__(self) -> None:
        self.segs: list[np.ndarray] = []
        self.size = 0

    def contains(self, cand: np.ndarray) -> np.ndarray:
        """Boolean mask: which of the (sorted) candidates are present."""
        dup = np.zeros(cand.size, dtype=bool)
        for s in self.segs:
            pos = np.searchsorted(s, cand)
            dup |= (pos < s.size) & (s[np.minimum(pos, s.size - 1)] == cand)
        return dup

    def add(self, cand_sorted: np.ndarray) -> None:
        """Insert a sorted, de-duplicated, disjoint-from-self batch."""
        if cand_sorted.size == 0:
            return
        self.segs.append(cand_sorted)
        self.size += cand_sorted.size
        while (
            len(self.segs) >= 2
            and self.segs[-2].size <= 2 * self.segs[-1].size
        ):
            b = self.segs.pop()
            a = self.segs.pop()
            self.segs.append(np.sort(np.concatenate([a, b]), kind="stable"))


def bmw_topk_cursors(
    cursors: list[_TermCursor],
    doc_ids_sorted: np.ndarray,
    dls_sorted: np.ndarray,
    avgdl: float,
    k: int,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Kernel over prebuilt cursors (batched queries share decode caches).

    k1/b come FROM the cursors (the parameters their block bounds were
    computed with) so a bounds/scoring mismatch is unrepresentable
    (ADVICE r01: caller-passed k1 diverging from cursor bounds made
    pruning unsound).
    """
    cursors = [c for c in cursors if c.blocks]
    if not cursors:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0),
            {"decoded": 0, "total": 0, "scored": 0, "postings": 0},
        )
    k1, b = cursors[0].k1, cursors[0].b
    if any(c.k1 != k1 or c.b != b for c in cursors):
        raise ValueError("all cursors in one query must share k1/b")
    cursors.sort(key=lambda c: -c.ub)
    tail_ub = np.zeros(len(cursors) + 1)  # tail_ub[j] = Σ ub of cursors[j:]
    for j in range(len(cursors) - 1, -1, -1):
        tail_ub[j] = tail_ub[j + 1] + cursors[j].ub

    def dl_lookup(docs: np.ndarray) -> np.ndarray:
        pos = np.searchsorted(doc_ids_sorted, docs)
        return dls_sorted[pos]

    def full_score(docs: np.ndarray) -> np.ndarray:
        dl = dl_lookup(docs)
        total = np.zeros(docs.size)
        for c in cursors:
            total += bm25_contrib(c.idf, c.tf_for(docs), dl, avgdl, k1, b)
        return total

    theta = -np.inf
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0)
    seen = _SortedSegments()  # already-scored docs (bounded maintenance)
    # pre-fill buffer: until k docs are scored θ stays -inf and no
    # selection can prune, so candidates just accumulate here — the
    # repeated O((top+cand)·log) lexsort per chunk was the kernel's
    # quadratic-ish tail on stopword queries at large k (VERDICT r03 #6)
    fill_d: list[np.ndarray] = []
    fill_s: list[np.ndarray] = []
    fill_n = 0

    def select_topk(d_parts: list[np.ndarray], s_parts: list[np.ndarray]):
        # select on the ROUNDED score (the engine-wide tie surface) with
        # docID tiebreak, so the per-shard cut matches global ordering
        all_d = np.concatenate(d_parts)
        all_s = np.concatenate(s_parts)
        order = np.lexsort((all_d, -np.round(all_s, SCORE_DECIMALS)))[:k]
        return all_d[order], all_s[order]

    CHUNK = 4  # blocks scored per θ refresh (pruning granularity)

    for j, c in enumerate(cursors):
        # process this cursor's blocks in DESCENDING bound order, a chunk
        # at a time, re-checking θ between chunks: as the heap fills, the
        # weaker blocks of the same term become skippable mid-traversal
        # (all-at-once scoring made stopword terms exhaustive).
        # A block is worth decoding only if its own bound plus the combined
        # bound of all weaker terms can still reach θ (>= not >: a doc
        # tying the k-th score but with smaller docID wins the docID
        # tie-break, so bound-equal blocks must be scored).
        by_ub = np.argsort(-c.block_ubs, kind="stable")
        for start in range(0, by_ub.size, CHUNK):
            chunk = by_ub[start : start + CHUNK]
            need = chunk[c.block_ubs[chunk] + tail_ub[j + 1] >= theta]
            if need.size == 0:
                break  # descending bounds: the rest of this cursor is weaker
            cand, _ = c.all_docs(need)
            cand = np.sort(cand)
            if seen.size:
                # segmented sorted membership: one searchsorted per
                # segment, O(log seen) segments by construction
                cand = cand[~seen.contains(cand)]
            if cand.size:
                # live-docs check: docs absent from doclens are tombstoned
                # (deletes.py) — skip them, Lucene live-docs style
                pos = np.searchsorted(doc_ids_sorted, cand)
                cand = cand[
                    (pos < doc_ids_sorted.size)
                    & (doc_ids_sorted[np.minimum(pos, doc_ids_sorted.size - 1)] == cand)
                ]
            if cand.size == 0:
                continue
            scores = full_score(cand)
            # segment append + binary-counter merge — amortized
            # O(log seen) re-merges per element, no full-array copy
            seen.add(cand)
            if top_docs.size < k:
                fill_d.append(cand)
                fill_s.append(scores)
                fill_n += cand.size
                if fill_n >= k:
                    top_docs, top_scores = select_topk(
                        [top_docs, *fill_d], [top_scores, *fill_s]
                    )
                    fill_d, fill_s, fill_n = [], [], 0
            else:
                # heap is full: only candidates that can still round-tie
                # the k-th score may enter — everything below θ (k-th minus
                # one rounding quantum) is dropped BEFORE the merge, so the
                # k-sized re-selection runs only when a real entrant exists
                entrants = scores >= theta
                if entrants.any():
                    top_docs, top_scores = select_topk(
                        [top_docs, cand[entrants]], [top_scores, scores[entrants]]
                    )
            if top_docs.size >= k:
                # guard band: a doc whose raw score is within one rounding
                # quantum of the k-th can still tie after rounding and win
                # on docID — it must not be pruned
                theta = float(top_scores[-1]) - 10.0 ** (-SCORE_DECIMALS)

    if fill_n:
        # fewer than k docs scored in total (or trailing unconsolidated
        # buffer from the pre-fill phase)
        top_docs, top_scores = select_topk([top_docs, *fill_d], [top_scores, *fill_s])

    metrics = {
        # blocks decoded (traversal + candidate lookups) vs total blocks
        "decoded": sum(c.blocks_decoded for c in cursors),
        "total": sum(len(c.blocks) for c in cursors),
        # candidates fully scored vs total postings across query terms —
        # the MaxScore pruning metric (lookup decodes are unavoidable for
        # exact scoring, so block counts understate the pruning)
        "scored": int(seen.size),
        "postings": int(sum(int(b["n"]) for c in cursors for b in c.blocks)),
    }
    return top_docs, top_scores, metrics


def load_index_meta(spark: SparkSession, index_dir: str):
    # validates the on-disk format version — pre-marker (format-1) payloads
    # must fail loudly here, not silently mis-decode (ADVICE r02)
    from .build import load_stats

    return load_stats(index_dir)


class _WarmIndex:
    """Per-index serving cache for interactive single-query latency.

    The r02 single-query floor (~1.5 s/query) was dominated by fixed
    per-job work that is identical across queries on the same index:
    re-reading the doclens parquet and re-shuffling every doclens row
    (VERDICT r02 #6). This cache holds

    - ``dls_serve``: the live doclens, one partition per shard
      (``repartition(n_shards, "shard")``) and persisted — the one
      DataFrame the cache pins; the executor site's ``mapInPandas``
      stage reads it without a shuffle;
    - ``stats``: parsed stats.json.

    Invalidation is by snapshot identity: (stats.json mtime+size, deletes
    manifest version). Any append / delete / compact rewrites stats.json
    or the deletes manifest atomically, so a stale cache can never serve
    (catalog.py commit discipline); nothing merged-table-derived is
    cached here — if that ever changes, the merged manifest must join
    the token. Scale note: the cache holds DataFrames (cluster memory
    via .persist) — the same pattern works on a 1000-executor cluster,
    where it is exactly Lucene/ES keeping segment readers open between
    searches. Only a small index also keeps driver-side copies (see
    ``_driver_serves``): per-shard sorted ``(doc_id, dl)`` arrays and
    per-shard pyarrow datasets, so ``topk`` can score on the driver with
    no Spark job; query-term dfs are read per query from ``terms/``. At
    most ``_MAX_WARM`` indexes stay warm; beyond that the
    least-recently-used entry is unpersisted
    (long-lived sessions serving many indexes would otherwise pin every
    index's doclens in cluster memory forever). Entries of a stopped
    session are dropped without a JVM call.
    """

    _by_dir: dict[str, "_WarmIndex"] = {}
    _MAX_WARM = 8

    def __init__(self, spark: SparkSession, index_dir: str, token: tuple):
        from .build import generation_dirs, read_generations
        from .catalog import ManifestCatalog
        from .deletes import filter_deleted

        self.token = token
        self.index_dir = index_dir
        self.stats = load_index_meta(spark, index_dir)
        props = ManifestCatalog(index_dir).load("shards").props
        self.n_shards = int(props.get("n_shards") or 0)
        # shard-dir roots per generation, for the serving path's direct
        # parquet reads (Lucene-style: the shard searcher opens its own
        # segment files)
        self.gen_dirs = generation_dirs(index_dir, "shards")
        live = filter_deleted(
            spark, index_dir, read_generations(spark, index_dir, "doclens")
        )
        self.dls_serve = live.repartition(max(self.n_shards, 1), "shard").persist()
        self.shard_dls: dict[int, tuple[np.ndarray, np.ndarray]] | None = None
        self._terms_ds = None
        self._datasets: dict[int, list] = {}
        # driver-side doclens: taken with the SAME action that
        # materializes the serve cache, so warm-up runs no extra job
        if _driver_serves(spark, int(self.stats["n_docs"]), self.gen_dirs):
            self._load_driver_side()
        else:
            self.dls_serve.count()  # materialize now; queries hit the cache

    def _load_driver_side(self) -> None:
        dls = self.dls_serve.toPandas()
        shard = dls["shard"].to_numpy(np.int64)
        doc = dls["doc_id"].to_numpy(np.int64)
        order = np.lexsort((doc, shard))
        shard, doc = shard[order], doc[order]
        dl = dls["dl"].to_numpy(np.int64)[order]
        cuts = [0, *(np.flatnonzero(shard[1:] != shard[:-1]) + 1), shard.size]
        # a < b skips the one empty slice of an index whose docs are all
        # tombstoned (cuts == [0, 0])
        self.shard_dls = {
            int(shard[a]): (doc[a:b], dl[a:b])
            for a, b in zip(cuts[:-1], cuts[1:]) if a < b
        }

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global dfs of the indexed ones among ``terms``, from a
        term-filtered pyarrow read of ``terms/`` (row-group pushdown, no
        Spark job): the driver keeps no resident term map, whose size
        would grow with the vocabulary."""
        if self._terms_ds is None:
            self._terms_ds = pads.dataset(
                os.path.join(self.index_dir, "terms"), format="parquet"
            )
        t = self._terms_ds.to_table(
            columns=["term", "df"], filter=pads.field("term").isin(terms)
        )
        return dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))

    def term_idfs(self, terms: list[str]) -> dict[str, float]:
        """``term_dfs`` as idfs over the stats.json ``n_docs``."""
        n_docs = int(self.stats["n_docs"])
        return {term: idf(n_docs, df_) for term, df_ in self.term_dfs(terms).items()}

    def driver_side(self, spark: SparkSession) -> bool:
        """Whether ``topk`` serves this index on the driver right now: the
        gate is re-read per query, so setting the broadcast threshold to
        -1 switches a warm index back to the Spark path at once."""
        if not _driver_serves(spark, int(self.stats["n_docs"]), self.gen_dirs):
            return False
        if self.shard_dls is None:  # warmed while the gate was closed
            self._load_driver_side()
        return True

    def live_shards(self, shard_ids: list[int] | None = None) -> dict:
        """Driver-side ``shard → (sorted doc_ids, dls)``, restricted to
        the routed shards when ``shard_ids`` is given."""
        return {
            shard: v for shard, v in self.shard_dls.items()
            if shard_ids is None or shard in shard_ids
        }

    def shard_datasets(self, shard: int) -> list:
        """The shard's posting datasets, discovered once per warm entry."""
        if shard not in self._datasets:
            self._datasets[shard] = _shard_datasets(self.gen_dirs, shard)
        return self._datasets[shard]

    @staticmethod
    def _snapshot_token(index_dir: str) -> tuple:
        def stamp(path: str) -> tuple:
            try:
                st = os.stat(path)
                return (st.st_mtime_ns, st.st_size)
            except FileNotFoundError:
                return (0, 0)

        return (
            stamp(os.path.join(index_dir, "stats.json")),
            stamp(os.path.join(index_dir, "deletes", "_manifest.json")),
        )

    def _unpersist(self) -> None:
        unpersist_quietly(self.dls_serve)

    @classmethod
    def get(cls, spark: SparkSession, index_dir: str) -> "_WarmIndex":
        key = os.path.abspath(index_dir)
        token = cls._snapshot_token(index_dir)
        cached = cls._by_dir.get(key)
        if cached is not None and cached.token == token and is_live(cached.dls_serve):
            cls._by_dir[key] = cls._by_dir.pop(key)  # LRU touch (dict order)
            return cached
        if cached is not None:
            cached._unpersist()
            del cls._by_dir[key]
        while len(cls._by_dir) >= cls._MAX_WARM:
            oldest = next(iter(cls._by_dir))
            cls._by_dir.pop(oldest)._unpersist()
        warm = cls(spark, index_dir, token)
        cls._by_dir[key] = warm
        return warm


_SERVE_COLS = [
    "term", "block_id", "min_doc", "max_doc", "n", "max_tf", "min_dl",
    "docs_payload", "tfs_payload", "sky_tfs_payload", "sky_dls_payload",
]

# driver-side bytes per live doc: the (doc_id long, dl int, shard int) row
_DRIVER_ROW_BYTES = 16

# Largest ``topk_batch`` served on the driver site, as queries × index
# docs (``n_docs``, the count the driver gate reads). One driver thread
# scores a query in time that grows with the index (~5 ms at 5k docs,
# ~30 ms at 40k); the executor stage spreads the batch over the cores
# after a ~0.5 s job floor. So the crossover batch shrinks as the index
# grows, and its product with the docs stays near constant.
# bench/msearch_crossover.py (local[4], medians of 5, aligned shards)
# put it at 455k (5k docs, 91 queries), 683k (10k, 68), 665k (20k, 33)
# and 405k (40k, 10) query-docs; 40k docs in 64 shards, whose job floor
# is ~4.7 s, at 3.9M (98 queries). The constant sits under the smallest.
# Above 40k docs it admits fewer than 10 queries, above 400k docs none.
# The executor stage runs a task per shard, so more cores than the
# sweep's 4 shorten it, and lower the crossover, only on an index of
# more than 4 shards; the sweep does not cover that.
_DRIVER_BATCH_QUERY_DOCS = 400_000


def _driver_serves(spark: SparkSession, n_docs: int, gen_dirs: list[str]) -> bool:
    """The driver-side serving gate: the live doclens fit Spark's own
    "small enough to hold whole" rule (``autoBroadcastJoinThreshold``;
    -1 disables it, and with it driver-side serving) and the index files
    are visible from the driver process."""
    threshold = spark._jconf.autoBroadcastJoinThreshold()
    return (
        0 <= _DRIVER_ROW_BYTES * n_docs <= threshold
        and any(os.path.exists(root) for root in gen_dirs)
    )


def _shard_datasets(gen_dirs: list[str], shard: int) -> list:
    """pyarrow datasets over one shard's posting files: one per
    generation that holds the shard (``<root>/shard=K``)."""
    out = []
    for root in gen_dirs:
        d = os.path.join(root, f"shard={int(shard)}")
        if os.path.exists(d):
            out.append(pads.dataset(d, format="parquet"))
    return out


def _score_shard(
    datasets: list, term_idfs: dict[str, float], queries: dict[str, list[str]],
    doc_sorted: np.ndarray, dl_sorted: np.ndarray, avgdl: float, k: int,
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """One shard's block-max top-k of each query — the body both serve
    execution sites (driver loop, ``mapInPandas`` task) call. Reads the
    posting rows of ``term_idfs``' terms (the union of the queries'
    indexed terms) once, straight from the shard's parquet (term filter
    pushed to row-group statistics); the queries (id → sorted terms)
    then share the shard's term cursors, so a term several queries hold
    decodes each block once. Returns id → (doc_ids, raw float64 scores)
    for the queries with a hit among the shard's sorted live doclens."""
    flt = pads.field("term").isin(sorted(term_idfs))
    tables = [d.to_table(columns=_SERVE_COLS, filter=flt) for d in datasets]
    tables = [t for t in tables if t.num_rows]
    if not tables:
        return {}
    blocks = term_blocks_from_flat(
        pa.concat_tables(tables, promote_options="permissive")
    )
    cursors = {t: _TermCursor(b, term_idfs[t], avgdl) for t, b in blocks.items()}
    found = {}
    for qid, terms in queries.items():
        qc = [cursors[t] for t in terms if t in cursors]
        docs, scores, _ = bmw_topk_cursors(qc, doc_sorted, dl_sorted, avgdl, k)
        if docs.size:
            found[qid] = (docs, scores)
    return found


# Half-quantum band, in float64 ulps of |score|·10^SCORE_DECIMALS, whose
# scores ``_round_half_up`` leaves to the JVM (``_round_scores``)
_ROUND_BAND_ULPS = 16


def _round_half_up(scores: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``F.round(score, SCORE_DECIMALS)`` in numpy, and the mask of the
    scores it cannot decide.

    Spark rounds a double HALF_UP on its decimal rendering, JDK 17's
    ``Double.toString``, which is not always the shortest repr
    (JDK-4511638) but is always a decimal within half an ulp of the
    double. Unless the double is within an ulp or two of a half quantum,
    that decimal and the double round the same way. Here
    ``n = floor(|x|·10^d)``, plus 1 when the fraction is ≥ 0.5, then
    ``n / 10^d`` with x's sign: IEEE division is correctly rounded, as
    is the JVM's decimal → double conversion, so the two agree bit for
    bit (``+ 0.0``: the JVM's decimal has no negative zero). The mask
    holds the non-finite scores and those within ``_ROUND_BAND_ULPS``
    ulps of a half quantum, where only the JVM's own rendering decides
    (tests/test_score_rounding.py)."""
    scale = 10.0 ** SCORE_DECIMALS
    with np.errstate(invalid="ignore", over="ignore"):
        t = np.abs(scores) * scale
        n = np.floor(t)
        frac = t - n  # exact: n is t's integer part
        band = ~np.isfinite(t) | (
            np.abs(frac - 0.5) <= _ROUND_BAND_ULPS * np.spacing(t)
        )
        rounded = np.copysign((n + (frac >= 0.5)) / scale, scores) + 0.0
    return rounded, band


def _round_scores(spark: SparkSession, scores: np.ndarray) -> np.ndarray:
    """Scores rounded exactly as ``F.round(score, SCORE_DECIMALS)``:
    numpy for all but ``_round_half_up``'s band, which goes through
    ``F.round`` over an Arrow LocalRelation (folded without a job; one
    collect). Real scores almost never fall in the band."""
    rounded, band = _round_half_up(scores)
    if band.any():
        rounded[band] = _jvm_round(spark, scores[band])
    return rounded


def _jvm_round(spark: SparkSession, scores: np.ndarray) -> np.ndarray:
    """``F.round(score, SCORE_DECIMALS)`` of each score, by the JVM."""
    rows = spark.createDataFrame(pa.table({
        "i": pa.array(np.arange(scores.size), pa.int64()),
        "score": pa.array(scores, pa.float64()),
    })).select("i", F.round("score", SCORE_DECIMALS)).collect()
    out = np.empty(scores.size)
    for i, r in rows:
        out[i] = r
    return out


def _rank(
    spark: SparkSession, hits: list[tuple[np.ndarray, np.ndarray]], k: int,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Each query's global top-k of driver-site candidates ``(doc_ids,
    raw scores)``, as ``(doc_ids, rounded scores)`` ordered by (score
    desc, doc_id asc) — the order of the executor site.

    Only the candidates that can still reach the top k are rounded:
    rounding moves a score by at most half a quantum, so a candidate
    more than two quanta below the k-th raw score cannot tie into the
    top k (the kernel's guard band, widened). The whole batch rounds in
    one ``_round_scores`` call."""
    kept = []
    for docs, scores in hits:
        if 0 < k < docs.size:
            kth = np.partition(scores, docs.size - k)[docs.size - k]
            keep = scores >= kth - 2 * 10.0 ** (-SCORE_DECIMALS)
            docs, scores = docs[keep], scores[keep]
        kept.append((docs, scores))
    sizes = np.cumsum([docs.size for docs, _ in kept])
    rounded = _round_scores(
        spark, np.concatenate([np.empty(0), *(s for _, s in kept)])
    )
    out = []
    for (docs, _), sc in zip(kept, np.split(rounded, sizes[:-1])):
        top = np.lexsort((docs, -sc))[:k]
        out.append((docs[top], sc[top]))
    return out


def _local_topk(spark: SparkSession, docs: np.ndarray, scores: np.ndarray,
                k: int) -> DataFrame:
    """Global top-k of driver-site candidates (``_rank``) as a
    LocalRelation: one ``createDataFrame`` of an Arrow table, no job."""
    (docs, scores), = _rank(spark, [(docs, scores)], k)
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(docs, pa.int64()),
        "score": pa.array(scores, pa.float64()),
    }))


def warm_index(spark: SparkSession, index_dir: str) -> None:
    """Eagerly build (or refresh) the serving cache for an index.

    Called by ``build_index(..., warm=True)`` / explicitly after an
    append, so the first interactive query runs at steady-state latency.
    Idempotent: a current cache is a no-op (snapshot-token check)."""
    _WarmIndex.get(spark, index_dir)


def evict_index(index_dir: str) -> None:
    """Release the serving cache for an index — call before dropping its
    directory. Unpersists the cached doclens DataFrame and forgets
    the entry, so a dead index never pins cluster memory until LRU
    pressure (and a dropped-then-queried path can't try to recompute
    evicted cached partitions from deleted files). No-op if not warm."""
    cached = _WarmIndex._by_dir.pop(os.path.abspath(index_dir), None)
    if cached is not None:
        cached._unpersist()


def _query_terms(stats: dict, query: str) -> list[str]:
    """Sorted distinct analyzed query terms, honoring the index's
    analysis chain (stats.json "analysis") so a stemmed/stopworded index
    is queried with the SAME chain it was built with."""
    from .analyze import AnalysisChain

    chain = AnalysisChain.from_config(stats.get("analysis"))
    toks = chain.tokens(query) if chain else tokenize_text(query)
    return sorted(set(toks))



def _collect_ids(df: DataFrame) -> np.ndarray:
    """Sorted distinct values of a one-column id relation, on the driver:
    a LocalRelation is read without a job, anything else with one Arrow
    collect."""
    if df.isLocal():
        ids = np.fromiter((r[0] for r in df.collect()), dtype=np.int64)
    else:
        ids = df.toArrow().column(0).to_numpy().astype(np.int64)
    return np.unique(ids)


def _routed_shards(warm: "_WarmIndex", routing: list | str | None) -> list[int] | None:
    """ES routed search: the routing keys' shard ids (None: unrouted).

    Candidates come only from those shards' doclens/posting files (the
    serve sites literally never open the other shard=K dirs — the
    ES/Lucene shard-pruning contract at 10^12 docs); scores stay GLOBAL
    (stats.json n/avgdl + the corpus-wide terms table), so a routed hit
    scores identically to the unrouted query — a documented improvement
    over ES's per-shard-dfs default. As in ES, the routed search sees
    the WHOLE shard: other routing keys hashing to the same shard remain
    visible."""
    if routing is None:
        return None
    from .build import routing_shard_ids

    return routing_shard_ids(
        warm.index_dir, routing, stats=warm.stats, n_shards=warm.n_shards
    )


def topk(
    spark: SparkSession, index_dir: str, query: str, k: int = 10,
    routing: list | str | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k (doc_id, score) over the sharded compressed index.

    Each shard's searcher reads its own posting rows for the query terms
    directly from the partitioned parquet (pyarrow, term-filtered with
    row-group pushdown) and runs the block-max kernel — the Lucene/ES
    serving architecture. The per-shard body, ``_score_shard``, is the
    one ``topk_batch`` runs; here it scores a batch of one query. Where
    it runs depends on the warm index:

    - small index (16 B × n_docs within
      ``spark.sql.autoBroadcastJoinThreshold``) visible from the driver:
      the shards are scored in the driver process and the answer is a
      LocalRelation — a warm query submits no Spark job;
    - otherwise (or with the threshold at -1, which forces this path):
      ONE ``mapInPandas`` stage over the warm-cached shard-partitioned
      doclens, no shuffle; warm latency is the Spark job floor.

    Both sites round like Spark's ``F.round`` (the driver in numpy,
    ``_round_scores``) and return identical answers. ``routing``
    restricts the search to the routing keys' shards
    (``_routed_shards``).

    ``allowed``: a relation with a ``doc_id`` column that restricts the
    candidates (ES filter context — ``dsl.search`` passes a match's
    filter set here). Scores keep the global n_docs, avgdl and dfs. On
    the driver the ids are collected once (one job, none for a
    LocalRelation) and mask each shard's live doclens before the kernel,
    which skips docs missing from them like tombstones; block-max bounds
    stay upper bounds on a subset, so the top-k is exact. The executor
    site semi-joins it into the cached doclens.
    """
    warm = _WarmIndex.get(spark, index_dir)
    terms = _query_terms(warm.stats, query)
    if not terms:
        return empty_frame(spark, "doc_id long, score double")
    shard_ids = _routed_shards(warm, routing)
    term_idfs = warm.term_idfs(terms)
    if not term_idfs:
        return empty_frame(spark, "doc_id long, score double")
    if allowed is not None:
        allowed = allowed.select("doc_id")
    queries = {query: terms}

    if warm.driver_side(spark):
        shard_dls = warm.live_shards(shard_ids)
        if allowed is not None and shard_dls:
            ids = _collect_ids(allowed)
            shard_dls = {
                shard: (doc[keep], dl[keep])
                for shard, (doc, dl) in shard_dls.items()
                if (keep := np.isin(doc, ids, assume_unique=True)).any()
            }
        (docs, scores), = _driver_hits(warm, term_idfs, queries, k, shard_dls)
        return _local_topk(spark, docs, scores, k)

    return (
        _executor_candidates(warm, term_idfs, queries, k, shard_ids, allowed)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _driver_hits(
    warm: "_WarmIndex", term_idfs: dict[str, float],
    queries: dict[str, list[str]], k: int, shard_dls: dict,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """The driver site's loop: ``_score_shard`` over ``shard_dls``
    (shard → sorted live doc ids and dls) with the whole batch, then
    each query's per-shard top-k candidates concatenated as (doc_ids,
    raw scores), in ``queries`` order."""
    found: dict[str, list] = {qid: [] for qid in queries}
    avgdl = float(warm.stats["avgdl"])
    for shard, (doc_sorted, dl_sorted) in shard_dls.items():
        hits = _score_shard(
            warm.shard_datasets(shard), term_idfs, queries, doc_sorted,
            dl_sorted, avgdl, k,
        )
        for qid, hit in hits.items():
            found[qid].append(hit)
    return [
        (np.concatenate([np.empty(0, np.int64), *(d for d, _ in hs)]),
         np.concatenate([np.empty(0), *(s for _, s in hs)]))
        for hs in found.values()
    ]


def _executor_candidates(
    warm: "_WarmIndex", term_idfs: dict[str, float],
    queries: dict[str, list[str]], k: int,
    shard_ids: list[int] | None = None, allowed: DataFrame | None = None,
) -> DataFrame:
    """Every shard's top-k of each query as (query_id, doc_id, rounded
    score): ONE ``mapInPandas`` stage over the warm shard-partitioned
    doclens. Routed (``shard_ids``) tasks only open those shards'
    posting dirs."""
    src = warm.dls_serve
    if shard_ids is not None:
        src = src.filter(F.col("shard").isin(shard_ids))
    if allowed is not None:
        # a task may then hold part of a shard's docs: its top-k of
        # that part is exact, and the global merge is too
        src = src.join(allowed, "doc_id", "left_semi")
    return src.mapInPandas(
        _serve_partition_fn(
            warm.gen_dirs, term_idfs, queries, float(warm.stats["avgdl"]), k
        ),
        "query_id string, doc_id long, score double",
    ).select("query_id", "doc_id", F.round("score", SCORE_DECIMALS).alias("score"))


def _serve_partition_fn(gen_dirs: list[str], term_idfs: dict[str, float],
                        queries: dict[str, list[str]], avgdl: float, k: int):
    """Per-partition serving task: group the cached doclens rows by
    shard and run ``_score_shard`` for each. Candidate docs absent from
    the live doclens are skipped by the kernel (tombstones)."""

    def fn(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        # serving does direct POSIX reads of the index files (the Lucene
        # model: each searcher opens its local segments). If NO generation
        # root is visible from this task, the index path isn't shared
        # storage — fail loudly instead of silently returning empty top-k.
        if not any(os.path.exists(root) for root in gen_dirs):
            raise FileNotFoundError(
                f"index generations not visible from executor: {gen_dirs}; "
                "serving needs the index on storage that the driver and "
                "every executor can see"
            )
        frames = []
        for shard, g in pdf.groupby("shard", sort=False):
            order = np.argsort(g["doc_id"].to_numpy())
            found = _score_shard(
                _shard_datasets(gen_dirs, shard), term_idfs, queries,
                g["doc_id"].to_numpy(dtype=np.int64)[order],
                g["dl"].to_numpy(dtype=np.int64)[order], avgdl, k,
            )
            frames += [
                pd.DataFrame({"query_id": qid, "doc_id": docs, "score": scores})
                for qid, (docs, scores) in found.items()
            ]
        if frames:  # one Arrow batch per task, not one per query and shard
            yield pd.concat(frames, ignore_index=True)

    return fn


class _LivePostings(NamedTuple):
    """Live postings read on the driver (``_driver_postings``)."""

    terms: np.ndarray  # the distinct terms read, sorted
    term_ix: np.ndarray  # per posting: its term's index in ``terms``
    doc_ids: np.ndarray
    dls: np.ndarray
    tfs: np.ndarray | None  # None unless read ``with_tfs``


def _driver_postings(
    warm: "_WarmIndex", flt, shard_ids: list[int] | None = None,
    with_tfs: bool = False,
) -> _LivePostings:
    """The live postings of the term rows the pyarrow filter ``flt``
    selects, on the driver: one read of each (routed) shard's posting
    datasets, one batch decode of the rows (doc ids only unless
    ``with_tfs``), and the shard's sorted live doclens as the live-docs
    mask, which also gives each posting its ``dl``. The driver sites of
    ``match_docs`` and of ``querystring.execute_tree`` read through
    here."""
    cols = ["term", "min_doc", "docs_payload"] + (["tfs_payload"] if with_tfs else [])
    row_terms: list[str] = []
    rows, docs_out, dls_out, tfs_out = ([np.empty(0, np.int64)] for _ in range(4))
    for shard, (live, live_dl) in warm.live_shards(shard_ids).items():
        for ds in warm.shard_datasets(shard):
            t = ds.to_table(columns=cols, filter=flt)
            if not t.num_rows:
                continue
            min_docs = t.column("min_doc").to_numpy()
            payloads = t.column("docs_payload").to_pylist()
            if with_tfs:
                docs, tfs, off = decode_blocks_flat_batch(
                    min_docs, payloads, t.column("tfs_payload").to_pylist()
                )
            else:
                docs, off = decode_doc_ids_flat_batch(min_docs, payloads)
            at = np.minimum(np.searchsorted(live, docs), live.size - 1)
            keep = live[at] == docs
            rows.append(np.repeat(
                np.arange(len(row_terms), len(row_terms) + t.num_rows), np.diff(off)
            )[keep])
            row_terms += t.column("term").to_pylist()
            docs_out.append(docs[keep])
            dls_out.append(live_dl[at[keep]])
            if with_tfs:
                tfs_out.append(tfs[keep])
    terms, row_ix = np.unique(np.asarray(row_terms, dtype=object), return_inverse=True)
    return _LivePostings(
        terms, row_ix[np.concatenate(rows)], np.concatenate(docs_out),
        np.concatenate(dls_out), np.concatenate(tfs_out) if with_tfs else None,
    )


def _driver_match_ids(
    spark: SparkSession, index_dir: str, terms: list[str], conjunctive: bool,
    shard_ids: list[int] | None,
) -> np.ndarray | None:
    """Sorted live doc ids holding any (every, if ``conjunctive``) of the
    distinct ``terms``, computed on the driver from the query terms'
    ``docs_payload`` alone; None when the index is not served on the
    driver right now."""
    if not terms:
        return np.empty(0, dtype=np.int64)
    warm = _WarmIndex.get(spark, index_dir)
    if not warm.driver_side(spark):
        return None
    p = _driver_postings(warm, pads.field("term").isin(terms), shard_ids)
    if not conjunctive:
        return np.unique(p.doc_ids)
    if p.terms.size < len(terms):  # a term with no posting rows at all
        return np.empty(0, dtype=np.int64)
    return functools.reduce(
        np.intersect1d,
        [np.unique(p.doc_ids[p.term_ix == i]) for i in range(p.terms.size)],
    )


def match_docs(
    spark: SparkSession, index_dir: str, terms: list[str],
    conjunctive: bool = False, shard_ids: list[int] | None = None,
) -> DataFrame:
    """Live doc ids (``doc_id``) that hold any of the analyzed ``terms``
    — every one of them when ``conjunctive`` (ES match ``operator``
    or/and) — from the index's postings, never a corpus scan.
    ``shard_ids`` restricts the read to routed shards.

    Same two sites as ``topk``: on the driver, only the query terms'
    docs payloads are decoded from the cached per-shard datasets, and
    the answer is a LocalRelation (no job); otherwise (threshold -1) a
    ``tf_postings`` decode job with a distinct / count-distinct and the
    tombstone anti-join."""
    terms = sorted(set(terms))
    ids = _driver_match_ids(spark, index_dir, terms, conjunctive, shard_ids)
    if ids is not None:
        return spark.createDataFrame(pa.table({"doc_id": pa.array(ids, pa.int64())}))
    return _spark_match_docs(spark, index_dir, terms, conjunctive, shard_ids)


def _spark_match_docs(
    spark: SparkSession, index_dir: str, terms: list[str], conjunctive: bool,
    shard_ids: list[int] | None,
) -> DataFrame:
    from .deletes import filter_deleted
    from .phrase import tf_postings

    tp = tf_postings(spark, index_dir, terms, shards=shard_ids)
    if conjunctive and len(terms) > 1:
        hits = (
            tp.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("_nt"))
            .filter(F.col("_nt") == F.lit(len(terms)))
            .select("doc_id")
        )
    else:
        hits = tp.select("doc_id").distinct()
    return filter_deleted(spark, index_dir, hits)


def match_count(
    spark: SparkSession, index_dir: str, terms: list[str],
    conjunctive: bool = False, shard_ids: list[int] | None = None,
) -> DataFrame:
    """One-row ``n``: the size of ``match_docs``. On the driver site it
    is a LocalRelation, so a warm small index counts with no Spark job."""
    terms = sorted(set(terms))
    ids = _driver_match_ids(spark, index_dir, terms, conjunctive, shard_ids)
    if ids is not None:
        return spark.createDataFrame(pa.table({"n": pa.array([ids.size], pa.int64())}))
    return _spark_match_docs(spark, index_dir, terms, conjunctive, shard_ids).agg(
        F.count(F.lit(1)).alias("n")
    )


def topk_merged(
    spark: SparkSession, index_dir: str, query: str, k: int = 10
) -> DataFrame:
    """BM25 top-k answered from the MERGED (term-partitioned, salted)
    table — the north-rule merge artifact as a query path, with the SAME
    block-max pruning as the per-shard engine (VERDICT r02 #7: the old
    exact-scorer tail decoded every posting of the query terms).

    Plan: term-pushdown block read from merged/ → each block row exploded
    to every salt-range its [min_doc, max_doc] intersects (plain JVM
    range arithmetic, mirroring the merge's salting) → cogroup with the
    live doclens keyed by the same range → ``bmw_topk_cursors`` per
    range. Ranges have disjoint doc sets and the kernel's live-docs
    check drops out-of-range candidates from straddling blocks, so each
    doc is scored exactly once with all its terms' blocks available.
    Rank-identical to the per-shard WAND path (pytest).
    """
    from .catalog import ManifestCatalog

    warm = _WarmIndex.get(spark, index_dir)
    stats = warm.stats
    terms = _query_terms(stats, query)
    if not terms:
        return empty_frame(spark, "doc_id long, score double")
    avgdl = float(stats["avgdl"])
    props = ManifestCatalog(index_dir).load("merged").props
    span = int(props.get("span", max(1, int(stats["n_docs"]))))
    term_idfs = warm.term_idfs(terms)
    if not term_idfs:
        return empty_frame(spark, "doc_id long, score double")

    merged = (
        spark.read.parquet(os.path.join(index_dir, "merged"))
        .filter(F.col("term").isin(terms))
        .select(*_SERVE_COLS)
        .withColumn(
            "rng",
            F.explode(
                F.sequence(
                    (F.col("min_doc") / F.lit(span)).cast("long"),
                    (F.col("max_doc") / F.lit(span)).cast("long"),
                )
            ),
        )
    )
    dls = warm.dls_serve.select(
        "doc_id", "dl", (F.col("doc_id") / F.lit(span)).cast("long").alias("rng")
    )

    def score_range(key, idx_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        if idx_pdf.empty or dl_pdf.empty:
            return pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
            )
        order = np.argsort(dl_pdf["doc_id"].to_numpy())
        doc_sorted = dl_pdf["doc_id"].to_numpy(dtype=np.int64)[order]
        dl_sorted = dl_pdf["dl"].to_numpy(dtype=np.int64)[order]
        cursors = [
            _TermCursor(blocks, term_idfs[term], avgdl)
            for term, blocks in term_blocks_from_flat(idx_pdf).items()
        ]
        docs, scores, _ = bmw_topk_cursors(cursors, doc_sorted, dl_sorted, avgdl, k)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    local = (
        merged.groupBy("rng")
        .cogroup(dls.groupBy("rng"))
        .applyInPandas(score_range, "doc_id long, score double")
    )
    return (
        local.select("doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, str] | list[str],
    k: int = 10,
    routing: list | str | None = None,
) -> DataFrame:
    """Batched multi-query BM25 top-k — the reference's ES ``msearch``
    (SURVEY §2.5 A9, mira_loader.py:267-300): N queries in one pass.

    Each shard runs ``topk``'s body, ``_score_shard``, over the whole
    batch: it reads the union of the queries' posting rows once and the
    queries share one block-decode cache (a hot term decodes once for
    the whole batch). Where it runs:

    - a batch on an index that ``topk`` serves on the driver, when the
      batch's queries times the index's docs are at most
      ``_DRIVER_BATCH_QUERY_DOCS``: the same driver loop and numpy
      rounding as ``topk``; the answer is one Arrow LocalRelation, and a
      warm batch submits no Spark job;
    - otherwise (a larger batch or index, or the threshold at -1):
      ONE ``mapInPandas`` stage over the warm doclens, then a window per
      query_id takes the global top-k.

    Each query's answer equals its own ``topk`` on both sites.
    ``routing`` restricts every query to the routing keys' shards, as in
    ``topk``.

    Returns (query_id, rank, doc_id, score).
    """
    if isinstance(queries, list):
        queries = {f"q{i}": q for i, q in enumerate(queries)}
    schema = "query_id string, rank int, doc_id long, score double"
    warm = _WarmIndex.get(spark, index_dir)
    qterms = {qid: _query_terms(warm.stats, text) for qid, text in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        return empty_frame(spark, schema)
    shard_ids = _routed_shards(warm, routing)
    term_idfs = warm.term_idfs(all_terms)
    if not term_idfs:
        return empty_frame(spark, schema)
    if (len(qterms) * int(warm.stats["n_docs"]) <= _DRIVER_BATCH_QUERY_DOCS
            and warm.driver_side(spark)):
        ranked = _rank(spark, _driver_hits(
            warm, term_idfs, qterms, k, warm.live_shards(shard_ids)
        ), k)
        sizes = [docs.size for docs, _ in ranked]
        return spark.createDataFrame(pa.table({
            "query_id": pa.array(np.repeat(list(qterms), sizes), pa.string()),
            "rank": pa.array(
                np.concatenate([np.arange(1, n + 1, dtype=np.int32) for n in sizes]),
                pa.int32(),
            ),
            "doc_id": pa.array(np.concatenate([d for d, _ in ranked]), pa.int64()),
            "score": pa.array(np.concatenate([s for _, s in ranked]), pa.float64()),
        }))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        _executor_candidates(warm, term_idfs, qterms, k, shard_ids)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
