"""Deterministic Common-Crawl-style corpus synthesizer.

Target schema per BASELINE.json ``input_hint``:
    web_pages(url string, warc_ts timestamp, html binary, text string, lang string)

Properties that matter for the engine (SURVEY §7 step 0):

- **Deterministic**: same (n_docs, seed) → identical bytes, independent of
  Spark parallelism. Each partition generates its own row-range from a
  seed derived as ``seed + first_row_index``, so local[8] and local[32]
  produce the same table.
- **Zipfian vocabulary**: term frequencies follow a Zipf law so the
  stopword-class hot-term skew the merge salting handles (SURVEY §7
  step 6) is real even at small scale.
- **Extraction invariant**: ``html`` is a templated wrapper around
  ``text``; extracting the body yields ``text`` byte-identically
  (extract.py). Text never contains ``<``, ``>`` or ``&``.

The reference loads flat scientific files with pandas
(mira/mira_loader.py:94-163); here the corpus is generated in-engine so
tests and benchmarks need no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

LANGS = ["en", "fr", "es", "de", "zh"]

# 1000-word synthetic vocabulary: w0000..w0999 plus a stopword-class head.
_VOCAB_SIZE = 1000
_HEAD_WORDS = [
    "the", "of", "and", "to", "a", "in", "is", "for", "on", "that",
    "data", "spark", "index", "query", "term", "page", "web", "crawl",
]


def vocabulary() -> list[str]:
    """The closed synthetic vocabulary, hot head first (Zipf rank order)."""
    tail = [f"w{i:04d}" for i in range(_VOCAB_SIZE - len(_HEAD_WORDS))]
    return _HEAD_WORDS + tail


_ZIPF_S = 1.07  # exponent; head term ~7% of all tokens, like natural text


def _zipf_probs(v: int) -> np.ndarray:
    ranks = np.arange(1, v + 1, dtype=np.float64)
    p = ranks ** (-_ZIPF_S)
    return p / p.sum()


def generate_pages_pdf(start: int, count: int, seed: int = 42) -> pd.DataFrame:
    """Generate rows [start, start+count) of the corpus as pandas.

    Pure function of (start, count, seed): the generator for row i is
    seeded by ``seed ^ hash(i-block)`` so any partitioning of the row
    space yields identical rows. Vectorized numpy throughout.
    """
    rng = np.random.RandomState((seed * 1_000_003 + start) % (2**31 - 1))
    vocab = np.asarray(vocabulary(), dtype=object)
    probs = _zipf_probs(len(vocab))

    doc_lens = rng.randint(20, 400, size=count)
    total = int(doc_lens.sum())
    tokens = rng.choice(vocab, size=total, p=probs)
    bounds = np.cumsum(doc_lens)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(tokens, bounds)]

    idx = np.arange(start, start + count)
    urls = np.asarray([f"https://site{i % 977:03d}.example.org/page/{i:012d}" for i in idx])
    langs = np.asarray(LANGS, dtype=object)[rng.randint(0, len(LANGS), size=count)]
    # crawl timestamps: deterministic spread over 2024
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        (idx * 104729 + rng.randint(0, 86400, size=count)) % (365 * 86400), unit="s"
    )
    titles = [f"page {i:012d}" for i in idx]
    htmls = [
        (
            f"<html><head><title>{t}</title>"
            f'<meta charset="utf-8"/></head><body>{x}</body></html>'
        ).encode("utf-8")
        for t, x in zip(titles, texts)
    ]
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs}
    )


def synthesize_web_pages(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic synthesis of the web_pages table.

    Scale path: the driver only materializes (start, count) ranges; each
    executor generates its own block with ``mapInPandas`` — at 10^12 docs
    this is a metadata-only fan-out, no driver bottleneck.
    """
    # Generation-block size is a function of n_docs ONLY (never of cluster
    # size or the partitions argument), so the generated rows are identical
    # at any parallelism: generator state is seeded per block start.
    # ``partitions`` only controls how many Spark tasks the blocks spread over.
    block = max(1, min(5000, -(-n_docs // 64)))
    ranges = [
        (start, min(block, n_docs - start)) for start in range(0, n_docs, block)
    ]
    n_part = partitions or min(
        len(ranges), max(1, spark.sparkContext.defaultParallelism)
    )
    ranges_df = spark.createDataFrame(ranges, "start long, count long").repartition(
        n_part, "start"
    )

    def gen(batches):
        for pdf in batches:
            for start, count in zip(pdf["start"], pdf["count"]):
                yield generate_pages_pdf(int(start), int(count), seed)

    return ranges_df.mapInPandas(gen, WEB_PAGES_SCHEMA)
