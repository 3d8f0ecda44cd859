"""Per-layer replays on fixed samples, run after the traced window.

Each replay calls one layer's public kernel directly on data the run
already produced, outside Spark, so its rate shows that layer alone:

- analyze: ``analyze.tokenize_texts`` over the first ingest texts
- codec: ``codec.encode_blocks_flat`` / ``codec.decode_blocks_flat_batch``
  over the postings of that same sample (the decode must round-trip)
- wand: ``wand.bmw_topk_kernel`` per shard for the run's queries; the
  decoded-block and scored-posting ratios are exact counts
- querystring: ``querystring.parse_query_string`` over the body pool
- catalog: per-table bytes from ``catalog.index_stats``
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from es_loaders_spark.analyze import tokenize_texts
from es_loaders_spark.build import generation_dirs, load_stats
from es_loaders_spark.catalog import index_stats
from es_loaders_spark.codec import decode_blocks_flat_batch, encode_blocks_flat
from es_loaders_spark.querystring import parse_query_string
from es_loaders_spark.wand import bmw_topk_kernel, idf, term_blocks_from_flat

from inputs import K

SAMPLE_DOCS = 2_000
REPEATS = 5


def _median_s(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _sample_postings(idx: str):
    """Texts of the lowest doc ids, their token stream and postings."""
    ingest = pq.read_table(os.path.join(idx, "ingest"), columns=["doc_id", "text"])
    ingest = ingest.sort_by("doc_id").slice(0, SAMPLE_DOCS).to_pandas()
    texts = ingest["text"]
    offsets, flat = tokenize_texts(texts)
    doc_of = np.repeat(ingest["doc_id"].to_numpy(np.int64), np.diff(offsets))
    vocab, term_idx = np.unique(flat.astype(str), return_inverse=True)
    order = np.lexsort((doc_of, term_idx))
    pairs = np.stack([term_idx[order], doc_of[order]])
    new = np.ones(pairs.shape[1], dtype=bool)
    new[1:] = (pairs[:, 1:] != pairs[:, :-1]).any(axis=0)
    starts = np.flatnonzero(new)
    tfs = np.diff(np.append(starts, pairs.shape[1]))
    terms, docs = pairs[0, starts], pairs[1, starts]
    seg = np.searchsorted(terms, np.arange(len(vocab) + 1))
    dl_by_doc = dict(zip(ingest["doc_id"], np.diff(offsets)))
    dls = np.asarray([dl_by_doc[d] for d in docs], dtype=np.int64)
    return texts, flat.size, docs, tfs, dls, seg


def codec_and_analyze(idx: str) -> dict:
    texts, n_tokens, docs, tfs, dls, seg = _sample_postings(idx)
    tok_s = _median_s(lambda: tokenize_texts(texts))
    enc = encode_blocks_flat(docs, tfs, dls, seg)
    enc_s = _median_s(lambda: encode_blocks_flat(docs, tfs, dls, seg))

    def decode():
        return decode_blocks_flat_batch(enc["min_doc"], enc["docs_payload"],
                                        enc["tfs_payload"])
    got_docs, got_tfs, _ = decode()
    dec_s = _median_s(decode)
    return {
        "analyze.tokenize_mtok_per_s": n_tokens / tok_s / 1e6,
        "codec.encode_mpost_per_s": docs.size / enc_s / 1e6,
        "codec.decode_mpost_per_s": docs.size / dec_s / 1e6,
        "_roundtrip_ok": bool(np.array_equal(got_docs, docs)
                              and np.array_equal(got_tfs, tfs)),
    }


_KERNEL_COLS = ["term", "block_id", "min_doc", "max_doc", "n", "max_tf", "min_dl",
                "docs_payload", "tfs_payload", "sky_tfs_payload", "sky_dls_payload"]


def wand_replay(idx: str, queries: list[str]) -> dict:
    """Block-max pruning counts of the serving kernel, summed over queries."""
    st = load_stats(idx)
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    dfs = pq.read_table(os.path.join(idx, "terms")).to_pandas()
    dfs = dict(zip(dfs["term"], dfs["df"]))
    doclens = [pq.read_table(d).to_pandas() for d in generation_dirs(idx, "doclens")]
    dl = np.concatenate([x[["doc_id", "dl"]].to_numpy(np.int64) for x in doclens])
    shard_of = np.concatenate([x["shard"].astype(np.int64).to_numpy() for x in doclens])
    roots = generation_dirs(idx, "shards")
    totals = {"decoded": 0, "total": 0, "scored": 0, "postings": 0}
    for q in queries:
        terms = sorted({t for t in q.split() if t in dfs})
        if not terms:
            continue
        idfs = {t: idf(n_docs, int(dfs[t])) for t in terms}
        for shard in np.unique(shard_of):
            parts = [pq.read_table(os.path.join(r, f"shard={shard}"), columns=_KERNEL_COLS,
                                   filters=[("term", "in", terms)]).to_pandas()
                     for r in roots if os.path.exists(os.path.join(r, f"shard={shard}"))]
            blocks = term_blocks_from_flat(pd.concat(parts, ignore_index=True)) if parts else {}
            if not blocks:
                continue
            sel = dl[shard_of == shard]
            sel = sel[np.argsort(sel[:, 0])]
            _, _, m = bmw_topk_kernel(blocks, {t: idfs[t] for t in blocks},
                                      sel[:, 0], sel[:, 1], avgdl, K)
            for key in totals:
                totals[key] += m[key]
    return {
        "wand.blocks_decoded_ratio": totals["decoded"] / max(totals["total"], 1),
        "wand.postings_scored_ratio": totals["scored"] / max(totals["postings"], 1),
    }


def querystring_parse_ms(pool: list[dict]) -> float:
    texts = [b["query"]["query_string"]["query"] for b in pool]

    def parse_all():
        for q in texts:
            parse_query_string(q, "text")
    return _median_s(parse_all, repeats=20) * 1000.0 / len(texts)


def catalog_bytes(idx: str) -> dict:
    tables = index_stats(idx)["tables"]

    def total(name: str) -> int:
        return sum(v["bytes"] for k, v in tables.items() if k.split("_gen")[0] == name)
    return {f"catalog.{n}_bytes": total(n) for n in ("shards", "doclens", "terms")}
