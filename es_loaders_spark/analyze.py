"""Tokenizer / analyzer.

The reference maps every string field to ES ``keyword`` (exact match,
no analysis — utils/elasticsearch.py:42-56); free-text BM25 search is
the implicit capability of the ES indices it creates
(mira/elasticsearch.py:181-186). Our analyzer is therefore pinned to
Lucene-StandardAnalyzer-compatible semantics on the web-page ``text``
column: Unicode word boundaries approximated as maximal runs of
letters/digits, lowercased. No stemming, no stopword removal (Lucene
StandardAnalyzer default).

Two equivalent implementations:

- ``tokens_df`` — pure Catalyst (lower → regexp split → explode/posexplode),
  JVM-side, whole-stage-codegen; the hot path for index builds.
- ``tokenize_texts`` — vectorized pandas path used inside ``mapInPandas``
  stages of the partition-local build (build.py), where tokenization is
  fused with posting construction in one Arrow pass.

Both use the same token grammar so they are interchangeable; DuckDB
oracle SQL mirrors it with the RE2 class ``[^\\pL\\pN]+``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java regex (Spark split) — splits on any run of non-letter/non-digit.
SPLIT_RE_JAVA = r"[^\p{L}\p{N}]+"
# RE2 flavor for the DuckDB oracle.
SPLIT_RE_DUCKDB = r"[^\pL\pN]+"
# Python flavor ([^\W_] == letter or digit under re.UNICODE).
_TOKEN_RE_PY = re.compile(r"[^\W_]+", re.UNICODE)


def terms_array(
    text_col: Column,
    chain: "AnalysisChain | None" = None,
    gaps: bool = False,
) -> Column:
    """array<string> of analyzed terms for a text column (JVM-side).

    With ``chain``: stop tokens are dropped and survivors mapped
    (synonym → stem) — the COMPACT shape (no position gaps). With
    ``gaps=True`` each stop token is a null in place instead, so a
    token's array index is its position with Lucene's stop gaps (the
    positions ``tokens_df`` and the index store); dropping the nulls
    gives the compact shape.
    """
    arr = F.split(F.lower(text_col), SPLIT_RE_JAVA)
    arr = F.filter(arr, lambda t: t != F.lit(""))
    if chain is not None and gaps and chain.stopwords:
        return F.transform(
            arr, lambda t: F.when(chain.keep_col(t), chain.term_col(t))
        )
    if chain is not None:
        if chain.stopwords:
            arr = F.filter(arr, chain.keep_col)
        if chain.synonyms or chain.stemmer:
            arr = F.transform(arr, chain.term_col)
    return arr


def tokens_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chain: "AnalysisChain | None" = None,
) -> DataFrame:
    """Explode documents into (doc_id, pos, term) — one row per token.

    Positions are per-document token offsets (0-based) so phrase-style
    consumers can be layered later; posting builds only need (doc_id, term).
    With ``chain``: stop tokens drop AFTER position assignment (gaps, the
    Lucene stop-filter default) and survivors are synonym/stem mapped.
    """
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(terms_array(F.col(text_col))).alias("pos", "term"),
    )
    if chain is not None:
        if chain.stopwords:
            out = out.filter(chain.keep_col(F.col("term")))
        if chain.synonyms or chain.stemmer:
            out = out.withColumn("term", chain.term_col(F.col("term")))
    return out


def tokenize_text(text: str) -> list[str]:
    """Single-string tokenizer (oracle/tests)."""
    return [t.lower() for t in _TOKEN_RE_PY.findall(text)]


def tokenize_texts(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized batch tokenizer: Series[str] → (doc_offsets, flat_terms).

    ``doc_offsets`` has len(texts)+1 entries; tokens of document i are
    ``flat_terms[doc_offsets[i]:doc_offsets[i+1]]``. Uses pandas C string
    ops (no per-row Python in the caller's loop).
    """
    token_lists = texts.str.lower().str.findall(_TOKEN_RE_PY)
    lens = token_lists.str.len().to_numpy(dtype=np.int64)
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.concatenate([np.asarray(t, dtype=object) for t in token_lists]) if len(
        token_lists
    ) else np.empty(0, dtype=object)
    return offsets, flat


def oracle_tokens_sql(doc_table: str = "documents", text_col: str = "text") -> str:
    """DuckDB SQL producing the same (doc_id, term) token multiset."""
    return f"""
        SELECT doc_id, t AS term
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower({text_col}), '{SPLIT_RE_DUCKDB}')) AS t
            FROM {doc_table}
        )
        WHERE t <> ''
    """


def analyze_api(text: str, chain: "AnalysisChain | None" = None) -> list[dict]:
    """ES ``_analyze`` response shape: tokens with character offsets and
    positions, under the engine's analyzer grammar (the same regex
    tokenize_text uses — parity asserted in tests).

    With ``chain`` (the ES ``?analyzer=`` / index-settings equivalent):
    stop tokens are OMITTED but keep their position slot (the gaps the
    index stores), offsets stay those of the ORIGINAL surface form, and
    the emitted token is the synonym/stem-mapped index term — exactly
    what ES's _analyze shows for a custom analyzer."""
    out = [
        {
            "token": m.group(0).lower(),
            "start_offset": m.start(),
            "end_offset": m.end(),
            "position": i,
        }
        for i, m in enumerate(_TOKEN_RE_PY.finditer(text))
    ]
    if chain is None:
        return out
    kept = []
    for tok in out:
        if tok["token"] in chain._stop_set:
            continue
        tok["token"] = chain.map_term(tok["token"])
        kept.append(tok)
    return kept


# ---------------------------------------------------------------------------
# Configurable analysis chain (r6): lowercase-tokenize → stopwords →
# synonyms → stemmer. Opt-in per index (build_index(analysis=...)); the
# default (None) keeps the StandardAnalyzer-pinned grammar above,
# byte-identical to every pre-r6 index.
#
# ES analogue: the index-settings analyzer the reference's mapping hook
# (utils/elasticsearch.py:42-56) would carry — stop filter, synonym
# filter, and a stemmer. The stemmer is Lucene's EnglishMinimalStemmer
# ("minimal_english": plural stripping only) — deliberately the
# SQL-expressible member of the family so every renderer (python, numpy,
# Catalyst, DuckDB) applies bit-identical rules; Porter/KStem are not
# reproducible as one SQL expression and are out of scope (documented).
#
# Position semantics: stopword removal leaves POSITION GAPS (Lucene stop
# filter default) — tokens_df/oracle CTEs keep the original offsets, and
# doc length (BM25 dl) counts SURVIVING tokens, exactly as Lucene norms
# do. Synonyms are equivalence classes contracted to a canonical term
# ("a, b, c" → all index/query as "a"; "x, y => z" maps x,y → z),
# applied identically at index and query time, BEFORE stemming.
# ---------------------------------------------------------------------------

# the ES/Lucene "_english_" stop set (33 words, public Lucene constant)
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

_STEMMERS = ("minimal_english",)


class AnalysisChain:
    """One analysis configuration, rendered four equivalent ways:
    python (query terms / oracles), numpy (the fused posting build),
    Catalyst (scan-path token arrays), DuckDB SQL (oracle twins).
    Renderer parity is property-tested in tests/test_analysis_chain.py.
    """

    def __init__(
        self,
        stopwords: tuple[str, ...] = (),
        synonyms: tuple[tuple[str, str], ...] = (),
        stemmer: str | None = None,
    ) -> None:
        if stemmer is not None and stemmer not in _STEMMERS:
            raise ValueError(
                f"unsupported stemmer {stemmer!r} (supported: {_STEMMERS}; "
                "Porter/KStem are not SQL-reproducible — see module notes)"
            )
        self.stopwords = tuple(sorted({w.lower() for w in stopwords}))
        self.synonyms = tuple(sorted(synonyms))
        for frm, to in self.synonyms:
            if frm != frm.lower() or to != to.lower():
                raise ValueError(
                    f"synonym terms must be analyzed (lowercase): {frm!r} -> {to!r}"
                )
        self.stemmer = stemmer
        self._syn_map = dict(self.synonyms)
        self._stop_set = frozenset(self.stopwords)

    # -- config (stats.json) -------------------------------------------
    @classmethod
    def from_config(cls, cfg: dict | None) -> "AnalysisChain | None":
        """Parse the stats.json / build_index(analysis=...) dict.

        Keys: ``stopwords`` ("_english_" or a list), ``synonyms`` (list
        of "a, b, c" equivalence classes — all map to the first — or
        explicit "x, y => z" rules), ``stemmer`` ("minimal_english").
        """
        if not cfg:
            return None
        unknown = set(cfg) - {"stopwords", "synonyms", "stemmer"}
        if unknown:
            raise ValueError(f"unknown analysis config keys: {sorted(unknown)}")
        sw = cfg.get("stopwords") or ()
        if sw == "_english_":
            sw = ENGLISH_STOPWORDS
        elif isinstance(sw, str):
            raise ValueError(
                f"stopwords must be '_english_' or a list, got {sw!r}"
            )
        pairs: list[tuple[str, str]] = []
        for rule in cfg.get("synonyms") or ():
            if "=>" in rule:
                lhs, _, rhs = rule.partition("=>")
                to = rhs.strip().lower()
                if not to or "," in to:
                    raise ValueError(f"synonym rule needs ONE target: {rule!r}")
                srcs = [t.strip().lower() for t in lhs.split(",")]
            else:
                terms = [t.strip().lower() for t in rule.split(",")]
                if len(terms) < 2:
                    raise ValueError(f"synonym class needs >= 2 terms: {rule!r}")
                to, srcs = terms[0], terms[1:]
            for s in srcs:
                if s and s != to:
                    pairs.append((s, to))
        chain = cls(
            stopwords=tuple(sw),
            synonyms=tuple(pairs),
            stemmer=cfg.get("stemmer"),
        )
        if not (chain.stopwords or chain.synonyms or chain.stemmer):
            # {"stopwords": []}-style configs are the default grammar —
            # returning an active no-op chain would permanently trigger
            # chain-only refusals (span/intervals, qs phrases) on an
            # index whose analysis changes nothing (review r6)
            return None
        return chain

    def to_config(self) -> dict:
        return {
            "stopwords": list(self.stopwords),
            "synonyms": [f"{f} => {t}" for f, t in self.synonyms],
            "stemmer": self.stemmer,
        }

    # -- python ---------------------------------------------------------
    def _stem_py(self, t: str) -> str:
        # Lucene EnglishMinimalStemmer (public algorithm): plural strip
        if len(t) < 3 or t[-1] != "s":
            return t
        if t[-2] in ("u", "s"):
            return t
        if t[-2] == "e":
            if len(t) > 3 and t[-3] == "i" and t[-4] not in ("a", "e"):
                return t[:-3] + "y"
            if t[-3] in ("i", "a", "o", "e"):
                return t
        return t[:-1]

    def map_term(self, t: str) -> str:
        """synonym → stem for one already-lowercased token."""
        t = self._syn_map.get(t, t)
        return self._stem_py(t) if self.stemmer else t

    def tokens(self, text: str) -> list[str]:
        """Query-side analyzed terms (stop tokens dropped, compacted)."""
        return [
            self.map_term(t)
            for t in tokenize_text(text)
            if t not in self._stop_set
        ]

    def tokens_pos(self, text: str) -> list[tuple[int, str]]:
        """(position, term) with stopword GAPS (index-side semantics)."""
        return [
            (i, self.map_term(t))
            for i, t in enumerate(tokenize_text(text))
            if t not in self._stop_set
        ]

    # -- numpy (fused build) ---------------------------------------------
    def apply_numpy(self, flat: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
        """(keep_mask over flat, mapped survivor terms) — vectorized."""
        s = pd.Series(flat, dtype=object)
        keep = (
            ~s.isin(self._stop_set)
            if self._stop_set
            else pd.Series(True, index=s.index)
        )
        surv = s[keep]
        if self._syn_map:
            surv = surv.map(self._syn_map).fillna(surv)
        if self.stemmer:
            n = surv.str.len()
            last, c2 = surv.str[-1:], surv.str.slice(-2, -1)
            c3, c4 = surv.str.slice(-3, -2), surv.str.slice(-4, -3)
            base = (n >= 3) & (last == "s") & ~c2.isin(("u", "s"))
            ies = base & (c2 == "e") & (n > 3) & (c3 == "i") & ~c4.isin(("a", "e"))
            keep_e = base & (c2 == "e") & ~ies & c3.isin(("i", "a", "o", "e"))
            drop = base & ~ies & ~keep_e
            surv = surv.where(~ies, surv.str[:-3] + "y")
            surv = surv.where(~drop, surv.str[:-1])
        return keep.to_numpy(dtype=bool), surv.to_numpy(dtype=object)

    # -- Catalyst ---------------------------------------------------------
    def keep_col(self, term: Column) -> Column:
        """Boolean: the token survives the stop filter (JVM-side)."""
        if not self.stopwords:
            return F.lit(True)
        return ~term.isin(*self.stopwords)

    def term_col(self, term: Column) -> Column:
        """synonym → stem transform for one term column (JVM-side)."""
        c = term
        if self._syn_map:
            expr = None
            for frm, to in self.synonyms:
                expr = (
                    F.when(c == F.lit(frm), F.lit(to))
                    if expr is None
                    else expr.when(c == F.lit(frm), F.lit(to))
                )
            c = expr.otherwise(c)
        if self.stemmer:
            n = F.length(c)
            last = F.substring(c, -1, 1)
            c2, c3, c4 = (
                F.substring(c, -2, 1),
                F.substring(c, -3, 1),
                F.substring(c, -4, 1),
            )
            c = (
                F.when((n < 3) | (last != "s"), c)
                .when(c2.isin("u", "s"), c)
                .when(
                    (c2 == "e") & (n > 3) & (c3 == "i") & ~c4.isin("a", "e"),
                    F.concat(F.substring(c, F.lit(1), n - 3), F.lit("y")),
                )
                .when((c2 == "e") & c3.isin("i", "a", "o", "e"), c)
                .otherwise(F.substring(c, F.lit(1), n - 1))
            )
        return c

    # -- DuckDB SQL ---------------------------------------------------------
    def sql_keep(self, t: str) -> str:
        if not self.stopwords:
            return "TRUE"
        lst = ", ".join(f"'{w}'" for w in self.stopwords)
        return f"({t} NOT IN ({lst}))"

    def sql_term(self, t: str) -> str:
        e = t
        if self._syn_map:
            whens = " ".join(
                f"WHEN '{frm}' THEN '{to}'" for frm, to in self.synonyms
            )
            e = f"(CASE {e} {whens} ELSE {e} END)"
        if self.stemmer:
            e = f"""(CASE
  WHEN length({e}) < 3 OR substr({e}, length({e}), 1) <> 's' THEN {e}
  WHEN substr({e}, length({e})-1, 1) IN ('u','s') THEN {e}
  WHEN substr({e}, length({e})-1, 1) = 'e' AND length({e}) > 3
       AND substr({e}, length({e})-2, 1) = 'i'
       AND substr({e}, length({e})-3, 1) NOT IN ('a','e')
    THEN substr({e}, 1, length({e})-3) || 'y'
  WHEN substr({e}, length({e})-1, 1) = 'e'
       AND substr({e}, length({e})-2, 1) IN ('i','a','o','e') THEN {e}
  ELSE substr({e}, 1, length({e})-1) END)"""
        return e


def _chain_surface_forms(chain: "AnalysisChain", term: str) -> list[str]:
    """Every surface token that analyzes to ``term`` under ``chain`` —
    the highlighter's inverse map (ES's plain highlighter re-analyzes
    the field text; regex highlighting needs the surface forms
    enumerated instead). Exact by construction: candidates are generated
    (synonym sources from the rule map; plural variants for the minimal
    stemmer) and each is VERIFIED by running the chain forward."""
    cands = {term}
    for frm, to in chain.synonyms:
        if to == term:
            cands.add(frm)
    if chain.stemmer:
        for base in list(cands):
            cands.add(base + "s")
            cands.add(base + "es")
            if base.endswith("y"):
                cands.add(base[:-1] + "ies")
    return sorted(c for c in cands if chain.map_term(c) == term
                  and c not in chain._stop_set)
