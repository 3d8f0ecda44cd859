"""Long-format posting lists, corpus statistics and the BM25 scoring
inputs every scorer reads.

Two forms live here:

- **The reference long form** (``postings_long`` / ``doc_lengths`` /
  ``term_df`` / ``corpus_stats``): the uncompressed logical form of the
  inverted index the reference delegates to Elasticsearch/Lucene (SURVEY
  §2.9 X1). The MatrixMarket COO triples the reference streams
  (gene_idx, cell_idx, log_count — mira/mira_loader.py:141-146) have
  exactly this shape with (term, doc_id, tf). It covers the FULL
  vocabulary: the oracle rows, ``suggest`` and ``more_like_this``'s scan
  side (whose seed needs its whole vocabulary) read it.
- **Query-scoped scoring inputs** (``ScoringInputs``): the four BM25
  inputs of one query — tf rows of the terms its selectors match, doc
  lengths, dfs and n/avgdl — and the positions of its phrase words,
  from one of two constructors. ``scan_inputs`` tokenizes the corpus
  ONCE into a persisted ``(doc_id, dl, tokens a selector matches,
  phrase-word positions)`` relation that every input reads.
  ``index_inputs`` reads stats.json, the doclens generations and
  ``terms/`` of a built index, with ``phrase.tf_postings`` and
  ``phrase.positional_postings`` decoding the selected rows. Every
  scorer and every phrase or proximity query takes its inputs from one
  of them, so tf/df/dl/avgdl and positions equal the long form's and
  ``tokens_df``'s by construction.

All scan plans here are pure Catalyst: tokenize (JVM), groupBy partial +
final hash agg, no Python in the hot path. The compressed block form
lives in codec.py/build.py.
"""

from __future__ import annotations

import functools
import operator
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyze import terms_array, tokens_df
from .session import PersistPool, empty_frame

K1 = 1.2
B = 0.75


def postings_long(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chain=None,
) -> DataFrame:
    """(term, doc_id, tf) — one row per distinct (term, doc).

    ``chain`` (analyze.AnalysisChain) applies the index's configured
    stop/synonym/stem filters — scan-path twin of a chained index build.
    """
    return (
        tokens_df(docs, text_col, id_col, chain=chain)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chain=None,
) -> DataFrame:
    """(doc_id, dl) — token count per document (Lucene's field length).

    With ``chain``, dl counts SURVIVING tokens (stopwords removed), the
    Lucene norm semantics."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(terms_array(F.col(text_col), chain=chain)).alias("dl"),
    )


def term_df(postings: DataFrame) -> DataFrame:
    """(term, df) — document frequency per term."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float


def corpus_stats(doc_lens: DataFrame) -> CorpusStats:
    row = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0))


# Bounded pool of tracked persists (session.PersistPool): each scan-side
# scorer caches ONE small query-scoped relation — (doc_id, dl, tokens a
# selector matches, phrase-word positions) — that its tf, df, dl and
# positions inputs all read, and an index-side phrase caches its decoded
# positional postings.
_MAX_TRACKED = 16
_TRACKED_PERSISTS = PersistPool(_MAX_TRACKED)
_persist_tracked = _TRACKED_PERSISTS.persist


def release_scoring_caches() -> None:
    """Unpersist the query-scoped relations the scorers keep cached for
    their multi-reference joins and warm re-serving; call explicitly to
    free memory after the last query of a session."""
    _TRACKED_PERSISTS.release()


_POSITIONS_SCHEMA = "term string, doc_id long, positions array<long>"


@dataclass(frozen=True)
class ScoringInputs:
    """The BM25 inputs of one query, the shapes ``bm25.bm25_scores``
    takes: ``tf`` (term, doc_id, tf) rows of the selected terms (none
    without a selector), ``dl`` (doc_id, dl), ``tdf`` (term, df) — at
    least every selected term — and ``stats``; and ``positions``
    (term, doc_id, ascending positions with the chain's stop gaps) of
    the ``phrase_words``, which ``phrase.phrase_ends`` reads.

    ``dl``, ``tdf`` and ``stats`` are built on first read (each may cost
    a Spark job or a file listing), so a caller that reads only
    ``positions`` or ``tf`` pays for neither."""

    tf: DataFrame
    positions: DataFrame
    _dl: Callable[[], DataFrame]
    _tdf: Callable[[], DataFrame]
    _stats: Callable[[], CorpusStats]

    @functools.cached_property
    def dl(self) -> DataFrame:
        return self._dl()

    @functools.cached_property
    def tdf(self) -> DataFrame:
        return self._tdf()

    @functools.cached_property
    def stats(self) -> CorpusStats:
        return self._stats()


def scan_inputs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chain=None,
    terms=(),
    prefixes=(),
    like_patterns=(),
    fuzzy=(),
    phrase_words=(),
) -> ScoringInputs:
    """Scoring inputs from ONE tokenize pass over ``docs``.

    The selectors pick the tokens kept: exact ``terms``, ``prefixes``,
    LIKE ``like_patterns`` and ``fuzzy`` (base, edits) pairs matching
    tokens within that plain Levenshtein distance. The relation
    (doc_id, dl, selected tokens) is persisted through the query-derived
    pool; it is small, since only tokens a selector matches survive
    in-row. ``stats`` is one aggregate over it, ``tf`` one explode +
    (term, doc_id) count of the selected tokens and ``tdf`` their dfs —
    the same values ``postings_long`` / ``doc_lengths`` / ``term_df`` /
    ``corpus_stats`` give for those terms, without a full-vocabulary
    shuffle. ``dl`` has a row for every doc, with or without tokens, so
    a candidate set that no selector seeds starts from ``dl > 0``.

    ``positions`` of the ``phrase_words`` come from the same projection,
    with no shuffle and no Generate over raw tokens."""
    conds = []
    if terms:
        conds.append(lambda t, vals=sorted(set(terms)): t.isin(*vals))
    conds += [lambda t, v=v: t.startswith(v) for v in prefixes]
    conds += [lambda t, v=v: t.like(v) for v in like_patterns]
    conds += [
        lambda t, b=b, e=e: F.levenshtein(t, F.lit(b)) <= F.lit(int(e))
        for b, e in fuzzy
    ]

    def selected(t):
        return functools.reduce(operator.or_, [c(t) for c in conds], F.lit(False))

    # each array in its OWN projection: referenced twice by the next
    # one, CollapseProject keeps the non-cheap tokenize evaluated once
    # per row (dedup.py discipline)
    words = sorted(set(phrase_words))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        terms_array(F.col(text_col), chain=chain, gaps=bool(words))
        .alias("_toks"),
    )
    pos_cols = []
    if words:
        # a word's positions are its indices in the stop-GAPPED array;
        # without the nulls it is the compact array dl and tf count
        toks = toks.select(
            "doc_id",
            F.filter("_toks", lambda t: t.isNotNull()).alias("_toks"),
            F.filter(F.array(*[
                F.struct(F.lit(w).alias("term"), F.filter(
                    F.transform("_toks", lambda t, i: F.when(t == w, i.cast("long"))),
                    lambda p: p.isNotNull(),
                ).alias("positions"))
                for w in words
            ]), lambda s: F.size(s["positions"]) > 0).alias("_pos"),
        )
        pos_cols = ["_pos"]
    rel = _persist_tracked(toks.select(
        "doc_id",
        F.size("_toks").alias("dl"),
        F.filter("_toks", selected).alias("_sel"),
        *pos_cols,
    ))
    dl = rel.select("doc_id", "dl")
    tf = (
        rel.select("doc_id", F.explode("_sel").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if words:
        positions = rel.select("doc_id", F.inline("_pos")).select(
            "term", "doc_id", "positions"
        )
    else:
        positions = empty_frame(docs.sparkSession, _POSITIONS_SCHEMA)
    return ScoringInputs(tf=tf, positions=positions, _dl=lambda: dl,
                         _tdf=lambda: term_df(tf),
                         _stats=lambda: corpus_stats(dl))


def index_inputs(
    spark: SparkSession,
    index_dir: str,
    terms=(),
    prefixes=(),
    like_patterns=(),
    phrase_words=(),
) -> ScoringInputs:
    """Scoring inputs of a built index: n/avgdl from stats.json, ``dl``
    from the doclens generations, ``tdf`` the whole ``terms/`` table and
    ``tf`` the compressed postings of the selected terms, prefixes and
    LIKE patterns (one pushdown-pruned ``phrase.tf_postings`` decode;
    no read without a selector) and ``positions`` the phrase words'
    (``index_positions``). Like Lucene, not-yet-compacted deletes still
    count in df/avgdl; callers drop tombstoned hits."""
    from .build import load_stats, read_generations
    from .phrase import tf_postings

    st = load_stats(index_dir)
    if terms or prefixes or like_patterns:
        tf = tf_postings(
            spark, index_dir, terms=list(terms) or None,
            prefixes=list(prefixes) or None,
            like_patterns=list(like_patterns) or None,
        )
    else:
        tf = empty_frame(spark, "term string, doc_id long, tf long")
    return ScoringInputs(
        tf=tf,
        positions=index_positions(spark, index_dir, phrase_words),
        _dl=lambda: read_generations(spark, index_dir, "doclens")
        .select("doc_id", "dl"),
        _tdf=lambda: spark.read.parquet(os.path.join(index_dir, "terms")),
        _stats=lambda: CorpusStats(n_docs=int(st["n_docs"]),
                                   avgdl=float(st["avgdl"])),
    )


def index_positions(
    spark: SparkSession, index_dir: str, phrase_words=(), table: str = "shards"
) -> DataFrame:
    """The ``positions`` input of a built index: one
    ``phrase.positional_postings`` decode of the ``phrase_words``,
    persisted through the query-derived pool when it covers more than
    one word (each phrase step reads it). Filters that score nothing
    call it directly, skipping ``index_inputs``' stats.json read."""
    from .phrase import positional_postings

    words = sorted(set(phrase_words))
    if not words:
        return empty_frame(spark, _POSITIONS_SCHEMA)
    positions = positional_postings(spark, index_dir, words, table)
    return _persist_tracked(positions) if len(words) > 1 else positions
