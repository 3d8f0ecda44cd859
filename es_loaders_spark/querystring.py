"""ES ``query_string`` — the classic Lucene query-parser syntax.

The reference never issues ``query_string`` bodies itself, but it is the
last major scoring clause of the ES search surface its indices answer
(reference analogue: the implicit capability of every index
``utils/elasticsearch.py`` creates — same tier as ``match`` /
``simple_query_string``, SURVEY §2.9 X4). Supported subset (the
documented classic-parser grammar):

- boolean operators ``AND`` / ``&&``, ``OR`` / ``||``, ``NOT`` / ``!``,
  parenthesized groups, ``+``/``-`` clause modifiers, with Lucene's
  ``addClause`` occur-flag assignment reproduced faithfully (an ``AND``
  upgrades the previous clause to MUST; under ``default_operator=and``
  an ``OR`` downgrades it back to SHOULD);
- ``field:value`` — on the analyzed text column this is a BM25-scored
  term; on ANY other column it is an exact keyword term scored
  ``idf(df)`` (Lucene's BM25 on a keyword field: tf=1, dl=avgdl=1 ⇒
  tf_norm=1, so the score IS the idf — computed, not approximated);
- ``"quoted phrases"`` — positional match, BM25-scored with tf = the
  phrase occurrence count and df = docs containing the phrase
  (Lucene PhraseQuery semantics);
- ``prefix*`` — constant score 1.0 when any vocabulary term expands
  (Lucene's default constant-score multi-term rewrite);
- ``field:[lo TO hi]`` / ``{lo TO hi}`` ranges with ``*`` endpoints —
  constant score 1.0 (same rewrite);
- ``^boost`` on any clause.

- fuzzy ``term~`` / ``term~N`` — scored leaves (wave 11): expands to
  the ≤ 50 vocabulary terms within plain-Levenshtein distance N
  (``~`` alone = AUTO: 0/1/2 by term length, ES rules); per-doc score
  is the MAX over matched expansions of bm25 × (1 − dist/len).
  Documented deviations: plain Levenshtein (a transposition costs 2;
  ES defaults to Damerau) and per-expansion idf instead of Lucene's
  blended-df rewrite — both applied identically in the SQL twin;
- embedded ``?``/``*`` wildcards (``te?t``, ``f*o``) — scored leaves
  (wave 11): on the analyzed column, vocabulary-expansion with constant
  score 1.0 (Lucene's default constant-score multi-term rewrite); on a
  keyword field, an in-row LIKE. Backslash escapes inside a wildcard
  still raise (use the ``wildcard`` leaf clause).

Unsupported pieces raise loudly: regex ``/…/``, per-field groups
``field:(a b)``. A bare term whose analysis yields multiple tokens
raises too — quote it as a phrase.

Scoring: Lucene BooleanQuery — a document matches every MUST, no
MUST_NOT, and (when no MUST exists) at least one SHOULD; its score is
the sum of matching non-prohibited clause scores × their boosts. A
pure-negative group gets ES's ``fixNegativeQueryIfNeeded`` treatment
(an implicit match_all), so ``NOT foo`` returns the complement. Scores
are combined RAW and rounded once at the end (see bm25.bm25_scores on
round-half boundaries); ties break by doc_id ascending.

Two execution sites share the parse tree and its compilation:

- **Driver site** (``_driver_site``): an index-side tree whose leaves
  are all term, prefix or wildcard leaves, over an index ``wand`` serves
  on the driver (warm, small, visible), is evaluated in the driver
  process — one pyarrow read of the leaves' posting rows per shard
  dataset, one numpy array per leaf, and ``_compile_arrays`` over them.
  No Spark job runs (a ``bool`` filter adds its one id collect).
- **Spark site** (every other tree: keyword, range, phrase or fuzzy
  leaves, the scan side, the driver gate closed). Its text leaves read
  one ``postings.ScoringInputs``: the index's posting blocks, doclens,
  ``terms/`` and stats.json, or on the scan side ONE tokenize pass that
  keeps the tokens a term, prefix, wildcard or fuzzy leaf can match.
  The same input carries the phrase words' positions: one decode of
  their positional postings, or the same tokenize pass.
  Plan shape (all Catalyst): ONE pass over those tf rows scores every
  term, prefix and wildcard leaf (conditional aggregation — no per-term
  jobs); each fuzzy leaf takes its expansions from the same rows' dfs;
  each phrase leaf is ``phrase.phrase_ends`` over the shared positions,
  a positional self-join on doc_id; keyword/range leaves are
  in-row predicates with idfs from ONE metadata aggregate over the
  corpus. The boolean tree compiles (``_compile_columns``) into a
  single whole-stage-codegen expression over the joined leaf columns.

``query_string_oracle_sql`` replays the identical compilation
(``_compile_sql``) into DuckDB SQL from the same parse tree; the three
compilers mirror each other clause for clause.
"""

from __future__ import annotations

import functools
import math
import operator
import re
from dataclasses import dataclass, field as dc_field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyze import SPLIT_RE_DUCKDB, tokenize_text
from .phrase import phrase_ends
from .postings import index_inputs, scan_inputs
from .session import empty_frame

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"
MAX_LEAVES = 32  # joined leaf columns; beyond this the query is degenerate


@dataclass
class Leaf:
    kind: str  # term | kwterm | phrase | prefix | range
    field: str
    value: Any
    id: int = -1


@dataclass
class Clause:
    occur: str
    node: Any  # Leaf | Group
    boost: float = 1.0


@dataclass
class Group:
    clauses: list = dc_field(default_factory=list)


_LEX = re.compile(
    r"""\s+
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<phrase>"[^"]*")
      | (?P<range>[\[\{][^\]\}]*[\]\}])
      | (?P<and>AND\b|&&)
      | (?P<or>OR\b|\|\|)
      | (?P<not>NOT\b|!)
      | (?P<plus>\+)
      | (?P<minus>-)
      | (?P<boost>\^\d+(?:\.\d+)?)
      | (?P<term>[^\s()"^\[\]{}]+)
    """,
    re.X,
)


def _lex(q: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(q):
        m = _LEX.match(q, pos)
        if m is None:
            raise ValueError(f"query_string: cannot lex at {q[pos:]!r}")
        pos = m.end()
        if m.lastgroup is not None:
            out.append((m.lastgroup, m.group(m.lastgroup)))
    return out


def _parse_range(field: str, tok: str) -> Leaf:
    incl_lo, incl_hi = tok[0] == "[", tok[-1] == "]"
    body = tok[1:-1].strip()
    m = re.match(r"^(\S+)\s+TO\s+(\S+)$", body)
    if m is None:
        raise ValueError(f"query_string: malformed range {tok!r} (use [a TO b])")

    def val(s: str):
        if s == "*":
            return None
        try:
            return int(s)
        except ValueError:
            try:
                return float(s)
            except ValueError:
                return s
    return Leaf("range", field, (val(m.group(1)), val(m.group(2)), incl_lo, incl_hi))


def parse_query_string(
    q: str, default_field: str, default_operator: str = "or",
    text_field: str = "text",
) -> Group:
    """Parse into a Group tree with Lucene occur-flag assignment."""
    if default_operator not in ("or", "and"):
        raise ValueError(f"default_operator {default_operator!r}")
    toks = _lex(q)
    i = 0

    def peek() -> tuple[str, str] | None:
        return toks[i] if i < len(toks) else None

    def group() -> Group:
        nonlocal i
        g = Group()
        while True:
            t = peek()
            if t is None or t[0] == "rparen":
                break
            conj = None
            if t[0] in ("and", "or"):
                conj = t[0]
                i += 1
                t = peek()
                if t is None or t[0] == "rparen":
                    raise ValueError("query_string: trailing boolean operator")
            mod = None
            if t[0] in ("plus", "minus", "not"):
                mod = "-" if t[0] in ("minus", "not") else "+"
                i += 1
                t = peek()
                if t is None or t[0] == "rparen":
                    raise ValueError(f"query_string: dangling modifier in {q!r}")
            node = clause_body()
            boost = 1.0
            t = peek()
            if t is not None and t[0] == "boost":
                boost = float(t[1][1:])
                i += 1
            # Lucene QueryParserBase#addClause, faithfully:
            if g.clauses and conj == "and" and g.clauses[-1].occur != MUST_NOT:
                g.clauses[-1].occur = MUST
            if (
                g.clauses and default_operator == "and" and conj == "or"
                and g.clauses[-1].occur != MUST_NOT
            ):
                g.clauses[-1].occur = SHOULD
            if mod == "-":
                occur = MUST_NOT
            elif default_operator == "or":
                occur = MUST if (mod == "+" or conj == "and") else SHOULD
            else:
                occur = SHOULD if conj == "or" and mod != "+" else MUST
            g.clauses.append(Clause(occur, node, boost))
        if not g.clauses:
            raise ValueError(f"query_string: empty group in {q!r}")
        return g

    def clause_body():
        nonlocal i
        kind, tok = toks[i]
        if kind == "lparen":
            i += 1
            g = group()
            t = peek()
            if t is None or t[0] != "rparen":
                raise ValueError(f"query_string: unbalanced parentheses in {q!r}")
            i += 1
            return g
        # optional field: prefix — a term ending in ':', possibly fused
        # with its value ('field:value' lexes as one term token)
        fld = default_field
        if kind == "term" and ":" in tok:
            fld, _, rest = tok.partition(":")
            if not fld:
                raise ValueError(f"query_string: empty field in {tok!r}")
            i += 1
            if rest:
                return leaf(fld, "term", rest)
            t = peek()
            if t is None or t[0] not in ("term", "phrase", "range"):
                raise ValueError(
                    f"query_string: field {fld!r} must be followed by a "
                    "term, phrase or range (field-scoped groups are not "
                    "supported)"
                )
            i += 1
            return leaf(fld, t[0], t[1])
        if kind in ("term", "phrase", "range"):
            i += 1
            return leaf(fld, kind, tok)
        raise ValueError(f"query_string: unexpected {tok!r}")

    def leaf(fld: str, kind: str, tok: str):
        if kind == "range":
            return _parse_range(fld, tok)
        if kind == "phrase":
            words = tokenize_text(tok[1:-1])
            if not words:
                raise ValueError(f"query_string: empty phrase {tok!r}")
            if fld != text_field:
                raise ValueError(
                    f"query_string: phrases match the analyzed column "
                    f"{text_field!r}; got field {fld!r}"
                )
            return Leaf("phrase", fld, words)
        if "~" in tok:
            # Lucene fuzzy: term~ (AUTO edits by length) or term~N.
            # Distance is PLAIN Levenshtein (a transposition costs 2);
            # ES defaults to Damerau (transpositions=true, cost 1) —
            # documented deviation, applied identically in the SQL twin.
            base, _, n = tok.partition("~")
            if fld != text_field:
                raise ValueError(
                    f"query_string: fuzzy {tok!r} matches the analyzed "
                    f"column {text_field!r}; got field {fld!r}"
                )
            words = tokenize_text(base)
            if len(words) != 1:
                raise ValueError(f"query_string: bad fuzzy term {tok!r}")
            w = words[0]
            if n == "":
                edits = 0 if len(w) <= 2 else 1 if len(w) <= 5 else 2
            else:
                edits = int(n)
                if edits not in (0, 1, 2):
                    raise ValueError(
                        f"query_string: fuzzy edits must be 0-2 in {tok!r}"
                    )
            return Leaf("fuzzy", fld, (w, edits))
        if tok.endswith("*") and len(tok) > 1 and "*" not in tok[:-1] \
                and "?" not in tok:
            if fld != text_field:
                # keyword-field prefix IS a wildcard (in-row LIKE)
                return Leaf("kwwild", fld, tok)
            stems = tokenize_text(tok[:-1])
            if len(stems) != 1:
                raise ValueError(f"query_string: bad prefix {tok!r}")
            return Leaf("prefix", fld, stems[0])
        if "*" in tok or "?" in tok:
            # Lucene wildcard (* = any run, ? = any one char): on the
            # analyzed column it expands vocabulary terms (constant-score
            # rewrite, like prefix); on a keyword field it is an in-row
            # LIKE. Backslash escapes are not supported here (use the
            # wildcard leaf clause for those).
            if "\\" in tok:
                raise ValueError(
                    f"query_string: backslash escapes in wildcard {tok!r} "
                    "are not supported — use the wildcard leaf clause"
                )
            if fld == text_field:
                return Leaf("wildcard", fld, tok.lower())
            return Leaf("kwwild", fld, tok)
        if fld == text_field:
            words = tokenize_text(tok)
            if len(words) != 1:
                raise ValueError(
                    f"query_string: term {tok!r} analyzes to {len(words)} "
                    "tokens — quote it as a phrase"
                )
            return Leaf("term", fld, words[0])
        # keyword field: exact raw value (int-typed when it looks numeric,
        # matching the reference's keyword mapping of non-text columns)
        try:
            v: Any = int(tok)
        except ValueError:
            v = tok
        return Leaf("kwterm", fld, v)

    g = group()
    if peek() is not None:
        raise ValueError(f"query_string: unbalanced parentheses in {q!r}")
    return g


_DROP = object()  # sentinel: clause removed by the query-time stop filter


def _chain_tree(node, chain, text_field: str):
    """Apply an index's analysis chain to a parsed boolean tree — the
    query-time half of a chained index's analyzer, with Lucene's
    documented per-leaf behavior:

    - ``term`` leaves on the analyzed field: synonym→stem mapped; a
      stopword leaf's CLAUSE is removed entirely (Lucene's query-time
      stop filter emits an empty clause, which BooleanQuery drops —
      so ``the AND spark`` degrades to ``spark``, exactly as in ES);
    - ``prefix`` / ``wildcard`` / ``fuzzy`` leaves pass through
      unchanged: Lucene multi-term queries BYPASS analysis chains
      (lowercase normalization only, already applied by the parser);
      their expansions then run against the chained vocabulary;
    - ``phrase`` leaves analyze each word through the chain with
      Lucene PhraseQuery gap semantics (``chain.tokens_pos``): stop
      words drop but keep their position slot, survivors synonym/stem
      map — ``"tables hold the data"`` over a stop+stem index becomes
      [(0,'table'), (1,'hold'), (3,'data')], so a matching doc needs
      'data' exactly 2 positions after 'hold' (the same gap the
      index-side stop filter left in the doc's positions). An
      all-stopword phrase drops its clause, like an all-stopword term;
    - keyword/range leaves untouched (not analyzed, as in ES).

    A group whose clauses all drop is itself dropped; returns _DROP in
    that case (callers return zero hits for an all-stopword query).
    """
    if isinstance(node, Group):
        out = []
        for cl in node.clauses:
            new = _chain_tree(cl.node, chain, text_field)
            if new is _DROP:
                continue
            out.append(Clause(cl.occur, new, cl.boost))
        return Group(out) if out else _DROP
    leaf = node
    if leaf.field != text_field:
        return leaf
    if leaf.kind == "phrase":
        pairs = chain.tokens_pos(" ".join(leaf.value))
        if not pairs:
            return _DROP  # every phrase word was a stopword
        return Leaf("phrase", leaf.field, tuple(pairs))
    if leaf.kind == "term":
        if leaf.value in chain._stop_set:
            return _DROP
        return Leaf("term", leaf.field, chain.map_term(leaf.value))
    return leaf


def _phrase_pairs(value) -> list[tuple[int, str]]:
    """Normalize a phrase leaf's value to (query_position, term) pairs.

    Unchained parses store a flat word tuple (adjacent positions);
    _chain_tree rewrites it to explicit (pos, term) pairs so stopword
    GAPS survive into the positional joins. Execution and the SQL twin
    only ever use position DELTAS, so a leading dropped stopword is
    harmless."""
    if value and isinstance(value[0], tuple):
        return list(value)
    return list(enumerate(value))


def _collect_leaves(node, out: list[Leaf]) -> None:
    if isinstance(node, Leaf):
        # share one column across identical leaves (a AND a)
        for l in out:
            if (l.kind, l.field, repr(l.value)) == (node.kind, node.field,
                                                    repr(node.value)):
                node.id = l.id
                return
        node.id = len(out)
        out.append(node)
        return
    for c in node.clauses:
        _collect_leaves(c.node, out)


def _compile_columns(node) -> tuple[Column, Column]:
    """(matched, raw score) Catalyst expressions over ``_qs{i}`` columns."""
    if isinstance(node, Leaf):
        c = F.col(f"_qs{node.id}")
        return c.isNotNull(), F.coalesce(c, F.lit(0.0))
    musts, shoulds, nots = [], [], []
    for cl in node.clauses:
        m, s = _compile_columns(cl.node)
        s = s * F.lit(cl.boost) if cl.boost != 1.0 else s
        {MUST: musts, SHOULD: shoulds, MUST_NOT: nots}[cl.occur].append((m, s))
    matched = F.lit(True)
    for m, _ in musts:
        matched = matched & m
    if not musts and shoulds:
        any_should = F.lit(False)
        for m, _ in shoulds:
            any_should = any_should | m
        matched = matched & any_should
    # pure-negative group: ES fixNegativeQueryIfNeeded (implicit match_all)
    for m, _ in nots:
        matched = matched & ~F.coalesce(m, F.lit(False))
    score = F.lit(0.0)
    for m, s in musts + shoulds:
        score = score + F.when(m, s).otherwise(F.lit(0.0))
    return matched, F.when(matched, score).otherwise(F.lit(0.0))


def _compile_arrays(node, cols: dict) -> tuple:
    """The SAME compilation over numpy leaf arrays (``cols``: leaf id →
    float64 array over the candidate docs, NaN where the leaf is null),
    clause for clause and in the same summation order, so the raw
    scores equal ``_compile_columns``' doubles."""
    if isinstance(node, Leaf):
        c = cols[node.id]
        m = ~np.isnan(c)
        return m, np.where(m, c, 0.0)
    n = next(iter(cols.values())).size
    musts, shoulds, nots = [], [], []
    for cl in node.clauses:
        m, s = _compile_arrays(cl.node, cols)
        s = s * cl.boost if cl.boost != 1.0 else s
        {MUST: musts, SHOULD: shoulds, MUST_NOT: nots}[cl.occur].append((m, s))
    matched = np.ones(n, dtype=bool)
    for m, _ in musts:
        matched = matched & m
    if not musts and shoulds:
        any_should = np.zeros(n, dtype=bool)
        for m, _ in shoulds:
            any_should = any_should | m
        matched = matched & any_should
    for m, _ in nots:
        matched = matched & ~m
    score = np.zeros(n)
    for m, s in musts + shoulds:
        score = score + np.where(m, s, 0.0)
    return matched, np.where(matched, score, 0.0)


def _compile_sql(node) -> tuple[str, str]:
    """The SAME compilation, emitted as DuckDB SQL text."""
    if isinstance(node, Leaf):
        c = f"_qs{node.id}"
        return f"({c} IS NOT NULL)", f"coalesce({c}, 0.0)"
    musts, shoulds, nots = [], [], []
    for cl in node.clauses:
        m, s = _compile_sql(cl.node)
        if cl.boost != 1.0:
            s = f"({s} * {cl.boost!r})"
        {MUST: musts, SHOULD: shoulds, MUST_NOT: nots}[cl.occur].append((m, s))
    conds = [m for m, _ in musts]
    if not musts and shoulds:
        conds.append("(" + " OR ".join(m for m, _ in shoulds) + ")")
    conds += [f"(NOT coalesce({m}, FALSE))" for m, _ in nots]
    matched = "(" + " AND ".join(conds) + ")" if conds else "TRUE"
    terms = [f"(CASE WHEN {m} THEN {s} ELSE 0.0 END)" for m, s in musts + shoulds]
    total = "(" + " + ".join(terms) + ")" if terms else "0.0"
    return matched, f"(CASE WHEN {matched} THEN {total} ELSE 0.0 END)"


def query_string_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any] | str,
    filters: dict[str, Any] | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    index_dir: str | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for an ES ``query_string`` clause.

    ``serve`` in the clause body ("auto" default | "index" | "scan")
    picks how text leaves are scored when ``index_dir`` is given — see
    execute_tree's crossover notes."""
    if isinstance(sub, str):
        sub = {"query": sub}
    default_field = sub.get("default_field") or text_col
    tree = parse_query_string(
        sub["query"], default_field,
        str(sub.get("default_operator", "or")).lower(), text_field=text_col,
    )
    return execute_tree(spark, docs, tree, filters, id_col, text_col, k,
                        index_dir=index_dir,
                        serve=str(sub.get("serve", "auto")).lower())


INDEX_SERVE_MIN_DOCS = 20_000
"""Auto-crossover knee for index-served boolean trees: below this corpus
size the scan path wins (one tokenize pass beats per-leaf posting-block
jobs whose fixed latency dominates tiny corpora — measured 3.13 s scan vs
3.93 s indexed at 5k docs, and 2.46× the other way at 60k pages, VERDICT
r05 "What's wrong" #3); above it, decoded posting blocks are
O(query terms), not O(corpus). Explicit ``serve="index"|"scan"``
overrides. The knee predates the driver site, which answers a warm
term/prefix/wildcard tree far below the scan's latency; it has not been
re-measured against it."""


_DRIVER_LEAVES = ("term", "prefix", "wildcard")


def _driver_site(
    spark: SparkSession, docs: DataFrame, tree: Group, leaves: list[Leaf],
    filters: dict[str, Any] | None, id_col: str, index_dir: str, k: int,
) -> DataFrame | None:
    """``execute_tree``'s index side on the driver, for a tree of term,
    prefix and wildcard leaves over an index that ``wand`` serves on the
    driver right now (``_WarmIndex.driver_side``); None otherwise.

    ``wand._driver_postings`` reads the leaves' posting rows (one
    pyarrow read per shard dataset, filtered by the same disjunction as
    ``tf_postings(terms=, prefixes=, like_patterns=)``), decodes them and
    keeps the live docs with their dl. Each leaf becomes one float64
    array over the candidate docs — a term leaf's BM25 contribution
    (``wand.bm25_contrib``, ``terms/`` df, stats.json n/avgdl), 1.0
    where a prefix or wildcard leaf hits, NaN elsewhere —
    ``_compile_arrays`` evaluates the tree and ``wand._local_topk``
    rounds and orders. Candidates are the union of the leaf hits, plus
    every live doc when the tree matches a doc no leaf hits (pure
    negatives); ``filters`` restrict them as ``topk(allowed=)`` does,
    with one id collect (none for a LocalRelation). No other Spark job
    runs."""
    from .dsl import filter_expr
    from .wand import (
        _WarmIndex, _collect_ids, _driver_postings, _local_topk, bm25_contrib,
    )

    warm = _WarmIndex.get(spark, index_dir)
    if not warm.driver_side(spark):
        return None
    term_vals = sorted({l.value for l in leaves if l.kind == "term"})
    field = pads.field("term")
    anyof = [field.isin(term_vals)] if term_vals else []
    for l in leaves:
        if l.kind == "prefix":
            anyof.append(pc.starts_with(field, pattern=l.value))
        elif l.kind == "wildcard":
            anyof.append(pc.match_like(field, pattern=_wild_to_like(l.value)))
    p = _driver_postings(
        warm, functools.reduce(operator.or_, anyof), with_tfs=bool(term_vals)
    )
    cand = np.unique(p.doc_ids)
    if _compile_arrays(tree, {l.id: np.full(1, np.nan) for l in leaves})[0][0]:
        # ES fixNegativeQueryIfNeeded: a doc no leaf hits matches too
        live = [doc for doc, _ in warm.live_shards().values()]
        cand = np.unique(np.concatenate([cand, *live]))
    if filters:
        ids = _collect_ids(docs.filter(filter_expr(filters, id_col)).select(
            F.col(id_col).alias("doc_id")
        ))
        cand = cand[np.isin(cand, ids, assume_unique=True)]
    if cand.size == 0:
        return _local_topk(spark, cand, np.empty(0), k)
    at = np.minimum(np.searchsorted(cand, p.doc_ids), cand.size - 1)
    in_cand = cand[at] == p.doc_ids
    terms = pa.array(p.terms, pa.string())
    idfs = warm.term_idfs(term_vals) if term_vals else {}
    avgdl = float(warm.stats["avgdl"])
    cols = {}
    for l in leaves:
        if l.kind == "term":
            of_leaf = p.terms == l.value
        elif l.kind == "prefix":
            of_leaf = pc.starts_with(terms, pattern=l.value).to_numpy(zero_copy_only=False)
        else:
            of_leaf = pc.match_like(terms, pattern=_wild_to_like(l.value)).to_numpy(
                zero_copy_only=False)
        hit = of_leaf[p.term_ix] & in_cand
        col = np.full(cand.size, np.nan)
        if l.kind != "term":
            col[at[hit]] = 1.0
        elif l.value in idfs:
            col[at[hit]] = bm25_contrib(idfs[l.value], p.tfs[hit], p.dls[hit], avgdl)
        cols[l.id] = col
    matched, score = _compile_arrays(tree, cols)
    return _local_topk(spark, cand[matched], score[matched], k)


def execute_tree(
    spark: SparkSession,
    docs: DataFrame,
    tree: Group,
    filters: dict[str, Any] | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    index_dir: str | None = None,
    serve: str = "auto",
) -> DataFrame:
    """Execute a parsed boolean tree (shared by query_string and
    match_bool_prefix, which IS a bool of term clauses + one prefix).

    Every text leaf reads ONE ``postings.ScoringInputs``. With
    ``index_dir`` it comes from the compressed index
    (``postings.index_inputs``): term, prefix and wildcard leaves share
    one pushdown-pruned decode of their posting blocks, fuzzy leaves
    expand against the term dictionary, and dl / df / corpus stats come
    from the index's doclens/terms tables and stats.json. Tombstoned
    docs are filtered from the result; like Lucene, not-yet-compacted
    deletes still count in df/avgdl until ``compact_index``. Without
    ``index_dir`` (``postings.scan_inputs``) ONE tokenize pass over the
    corpus keeps the tokens a term, prefix, wildcard or fuzzy leaf can
    match, persisted, and serves tf, dl, the dfs and n/avgdl. Correct,
    but a corpus scan per query (the documented anti-pattern at scale;
    SURVEY scale warning). Keyword dfs come from one ``docs`` aggregate
    on either side.

    Phrase leaves read the input's ``positions`` of every phrase word
    of the tree: one positional-postings decode on the index side, the
    same tokenize pass (with the chain's stop gaps) on the scan side.
    Each leaf's tf is the size of its ``phrase.phrase_ends``, its df
    the number of docs holding it (one count job per phrase leaf).

    ``serve="auto"`` (default) picks the faster side from the index's
    own stats.json N (INDEX_SERVE_MIN_DOCS); tombstones are honored
    either way. ``"index"`` / ``"scan"`` force a side.

    On the index side, a tree of only term, prefix and wildcard leaves
    runs on the driver site (``_driver_site``) whenever ``wand`` serves
    the index on the driver: no Spark job for a warm index. It answers
    from the index's LIVE doc set — a pure-negative tree's complement
    and every candidate come from the index, not from ``docs`` (``docs``
    only feeds the ``filters``) — the same answer whenever ``docs`` is
    the indexed table. Setting ``spark.sql.autoBroadcastJoinThreshold``
    to -1 forces the Spark site below, whose answer is identical."""
    from .dsl import filter_expr

    if serve not in ("auto", "index", "scan"):
        raise ValueError(f"serve must be auto|index|scan, got {serve!r}")
    chain = None
    st = None
    if index_dir is not None:
        # one stats.json parse for the chain and the crossover
        from .analyze import AnalysisChain
        from .build import load_stats

        st = load_stats(index_dir)
        chain = AnalysisChain.from_config(st.get("analysis"))
        if chain is not None:
            # query-time half of the index's analyzer: term leaves map,
            # stopword clauses drop, phrase leaves become gapped
            # (position, term) pairs (_chain_tree)
            tree = _chain_tree(tree, chain, text_col)
            if tree is _DROP:
                # every clause was a stopword — zero hits, like ES
                return empty_frame(spark, "doc_id long, score double")
    leaves: list[Leaf] = []
    _collect_leaves(tree, leaves)
    if len(leaves) > MAX_LEAVES:
        raise ValueError(f"query_string: {len(leaves)} leaves > {MAX_LEAVES}")

    text_leaves = [l for l in leaves
                   if l.kind in ("term", "phrase", "prefix", "wildcard",
                                 "fuzzy")]
    need_text = bool(text_leaves)
    # tombstones apply whichever side scores (the scan fallback must not
    # resurrect docs the index deleted)
    deletes_dir = index_dir
    if need_text and index_dir is not None:
        if serve == "scan" or (
            serve == "auto" and int(st["n_docs"]) < INDEX_SERVE_MIN_DOCS
        ):
            index_dir = None  # crossover: scan side is faster down here
    if index_dir is not None and all(l.kind in _DRIVER_LEAVES for l in leaves):
        served = _driver_site(spark, docs, tree, leaves, filters, id_col,
                              index_dir, k)
        if served is not None:
            return served
    kw_leaves = [l for l in leaves if l.kind == "kwterm"]
    kw_row_f = None
    if kw_leaves:
        # keyword idfs need one metadata aggregate over the corpus:
        # submit it NOW from a driver thread so it overlaps the text
        # leaves' jobs below (guide §2.6)
        from .build import _aux_pool

        cnt_exprs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(
                F.when(F.col(l.field) == F.lit(l.value), 1).otherwise(0)
            ).alias(f"_d{l.id}")
            for l in kw_leaves
        ]
        kw_row_f = _aux_pool().submit(docs.agg(*cnt_exprs).first)
    term_vals = sorted({l.value for l in leaves if l.kind == "term"})
    prefixes = [l.value for l in leaves if l.kind == "prefix"]
    likes = [_wild_to_like(l.value) for l in leaves if l.kind == "wildcard"]
    ph_words = [t for l in leaves if l.kind == "phrase"
                for _, t in _phrase_pairs(l.value)]
    # ONE input relation for every text leaf (postings.ScoringInputs):
    # the index's stats.json/doclens/terms with one pushdown-pruned
    # decode of the term, prefix and wildcard leaves' postings and one
    # of the phrase words' positions, or one tokenize pass over the
    # corpus keeping only the tokens a term, prefix, wildcard or fuzzy
    # leaf can match and the phrase words' positions. The scan side of
    # a CHAINED index analyzes with the same chain (stop gaps included),
    # so the crossover stays invisible.
    si = None
    if need_text and index_dir is not None:
        si = index_inputs(spark, index_dir, terms=term_vals,
                          prefixes=prefixes, like_patterns=likes,
                          phrase_words=ph_words)
    elif need_text:
        si = scan_inputs(
            docs, text_col=text_col, id_col=id_col, chain=chain,
            terms=term_vals, prefixes=prefixes, like_patterns=likes,
            fuzzy=[l.value for l in leaves if l.kind == "fuzzy"],
            phrase_words=ph_words,
        )

    base = docs
    if filters:
        # ES filter context: restricts candidates only — corpus stats,
        # dfs and keyword idfs come from the UNFILTERED corpus
        base = base.filter(filter_expr(filters, id_col))
    if id_col != "doc_id":
        base = base.withColumnRenamed(id_col, "doc_id")
    sel = base

    grp_leaves = [l for l in leaves if l.kind in ("term", "prefix", "wildcard")]
    if grp_leaves:
        # the term, prefix and wildcard leaves share the input's tf rows:
        # df attaches as a LEFT broadcast join (prefix/wildcard rows
        # carry no df and score constant 1.0 under the when() guards)
        # and ONE groupBy(doc_id) computes every leaf column
        grp_src = si.tf
        if term_vals:
            from .bm25 import bm25_score_expr

            qterms = spark.createDataFrame(
                [(t,) for t in term_vals], "term string"
            )
            grp_src = (
                grp_src.join(
                    F.broadcast(si.tdf.join(qterms, "term")), "term", "left"
                )
                .join(si.dl, "doc_id")
                .withColumn("_c", bm25_score_expr(si.stats))
            )
        aggs = []
        for l in grp_leaves:
            if l.kind == "term":
                aggs.append(
                    F.max(
                        F.when(F.col("term") == l.value, F.col("_c"))
                    ).alias(f"_qs{l.id}")
                )
            elif l.kind == "prefix":
                aggs.append(
                    F.max(
                        F.when(F.col("term").startswith(l.value), F.lit(1.0))
                    ).alias(f"_qs{l.id}")
                )
            else:  # wildcard
                aggs.append(
                    F.max(
                        F.when(
                            F.col("term").like(_wild_to_like(l.value)),
                            F.lit(1.0),
                        )
                    ).alias(f"_qs{l.id}")
                )
        sel = sel.join(grp_src.groupBy("doc_id").agg(*aggs), "doc_id", "left")

    for l in leaves:
        if l.kind == "phrase":
            # phrase tf = the number of phrase ends in the doc (Lucene
            # PhraseQuery): phrase.phrase_ends over the positions input,
            # stepping by the position DELTAS of the (query_position,
            # term) pairs — adjacent for plain parses, gapped where
            # _chain_tree dropped a stopword slot (so is the SQL twin)
            tf_rel = phrase_ends(si.positions, _phrase_pairs(l.value)).select(
                "doc_id", F.size("ends").cast("double").alias("tf"))
            # phrase df is a METADATA scalar (one tiny job per phrase —
            # phrases per query are few), like corpus_stats' collect.
            # (r7 note: persisting tf_rel here was measured SLOWER than
            # recomputing the intersection from the persisted positions
            # — interleaved A/B +0.3 s on the indexed row — the cache
            # write/read round-trip exceeds the tiny join recompute)
            df_ph = tf_rel.count()
            from .postings import B, K1

            idf = math.log(1.0 + (si.stats.n_docs - df_ph + 0.5) / (df_ph + 0.5))
            ph = tf_rel.join(si.dl, "doc_id").select(
                "doc_id",
                (
                    F.lit(idf) * F.col("tf") * F.lit(K1 + 1.0)
                    / (F.col("tf") + F.lit(K1) * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dl") / F.lit(float(si.stats.avgdl))
                    ))
                ).alias(f"_qs{l.id}"),
            )
            sel = sel.join(ph, "doc_id", "left")
        elif l.kind == "fuzzy":
            # Lucene fuzzy, deterministic variant: expansions = the
            # ≤ 50 vocabulary terms within `edits` (ES max_expansions),
            # ordered (distance asc, df desc, term asc); per-doc score =
            # MAX over matched expansions of bm25_contrib × the Lucene
            # length-normalized boost (1 − dist/len(term)). Deviation
            # from Lucene's blended-df rewrite documented: same match
            # set, per-expansion idf instead of blended idf.
            from .bm25 import bm25_score_expr

            base_t, edits = l.value
            exp = (
                si.tdf.withColumn(
                    "dist", F.levenshtein(F.col("term"), F.lit(base_t))
                )
                .filter(F.col("dist") <= F.lit(int(edits)))
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
                .limit(50)
            )
            if index_dir is not None:
                from .phrase import tf_postings

                # expansion list is query metadata (≤ 50 short strings)
                terms_l = [r.term for r in exp.select("term").collect()]
                fsrc = (
                    tf_postings(spark, index_dir, terms_l)
                    if terms_l else None
                )
            else:
                # the scan relation kept every token within `edits`
                fsrc = si.tf.join(F.broadcast(exp.select("term")), "term")
            if fsrc is None:
                sel = sel.withColumn(
                    f"_qs{l.id}", F.lit(None).cast("double")
                )
            else:
                boost = (
                    F.lit(1.0)
                    - F.col("dist") / F.lit(float(len(base_t)))
                )
                fcontrib = (
                    fsrc.join(F.broadcast(exp), "term")
                    .join(si.dl, "doc_id")
                    .withColumn("_c", bm25_score_expr(si.stats) * boost)
                    .groupBy("doc_id")
                    .agg(F.max("_c").alias(f"_qs{l.id}"))
                )
                sel = sel.join(fcontrib, "doc_id", "left")

    if kw_leaves:
        # ONE metadata aggregate computes every keyword df + the row
        # count (submitted above, overlapping the text leaves' jobs)
        row = kw_row_f.result()
        n_total = float(row["_n"])
        for l in kw_leaves:
            df_kw = float(row[f"_d{l.id}"])
            idf = math.log(1.0 + (n_total - df_kw + 0.5) / (df_kw + 0.5))
            sel = sel.withColumn(
                f"_qs{l.id}",
                F.when(F.col(l.field) == F.lit(l.value), F.lit(idf)),
            )
    for l in leaves:
        if l.kind == "range":
            lo, hi, ilo, ihi = l.value
            cond = F.lit(True)
            c = F.col(l.field)
            if lo is not None:
                cond = cond & (c >= F.lit(lo) if ilo else c > F.lit(lo))
            if hi is not None:
                cond = cond & (c <= F.lit(hi) if ihi else c < F.lit(hi))
            sel = sel.withColumn(f"_qs{l.id}", F.when(cond, F.lit(1.0)))
        elif l.kind == "kwwild":
            # wildcard on a keyword field: in-row LIKE, constant score
            sel = sel.withColumn(
                f"_qs{l.id}",
                F.when(
                    F.col(l.field).like(_wild_to_like(l.value)), F.lit(1.0)
                ),
            )

    matched, score = _compile_columns(tree)
    out = (
        sel.withColumn("_m", matched).withColumn("_s", score)
        .filter(F.col("_m"))
        .select("doc_id", F.round(F.col("_s"), 4).alias("score"))
    )
    if deletes_dir is not None:
        from .deletes import filter_deleted

        out = filter_deleted(spark, deletes_dir, out)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _wild_to_like(pattern: str) -> str:
    """Lucene wildcard (* ?) → SQL LIKE (% _), escaping LIKE's own
    metacharacters. Backslash escapes rejected at parse time."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _sql_quote(v: Any) -> str:
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def query_string_oracle_sql(
    query: str,
    k: int = 10,
    doc_table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    default_field: str | None = None,
    default_operator: str = "or",
    chain=None,
) -> str:
    """DuckDB twin: replays the identical compilation from the same parse
    tree — BM25 term contributions, positional phrase tf/df, prefix
    expansion, keyword idfs and the boolean occur-flag algebra are all
    RECOMPUTED in SQL, nothing is copied from the Spark run.

    ``chain`` (analyze.AnalysisChain): the tree goes through the SAME
    query-time transform execute_tree applies (_chain_tree — term leaves
    map, stopword clauses drop) and the tokens CTE re-renders the chain
    in SQL, the chained-index twin."""
    tree = parse_query_string(
        query, default_field or text_col, default_operator, text_field=text_col
    )
    if chain is not None:
        tree = _chain_tree(tree, chain, text_col)
        if tree is _DROP:
            return ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                    "CAST(NULL AS DOUBLE) AS score WHERE FALSE")
    return tree_oracle_sql(tree, k, doc_table, text_col, id_col, chain=chain)


def tree_oracle_sql(
    tree: Group,
    k: int = 10,
    doc_table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    chain=None,
) -> str:
    """SQL twin for an already-parsed boolean tree."""
    from .postings import B, K1

    leaves: list[Leaf] = []
    _collect_leaves(tree, leaves)

    ctes: list[str] = []
    need_text = any(
        l.kind in ("term", "phrase", "prefix", "wildcard", "fuzzy")
        for l in leaves
    )
    if need_text and chain is not None:
        ctes.append(f"""tokens AS (
    SELECT {id_col} AS doc_id, {chain.sql_term('t')} AS term
    FROM (SELECT {id_col},
                 unnest(regexp_split_to_array(lower({text_col}),
                                              '{SPLIT_RE_DUCKDB}')) AS t
          FROM {doc_table}) WHERE t <> '' AND {chain.sql_keep('t')})""")
    elif need_text:
        ctes.append(f"""tokens AS (
    SELECT {id_col} AS doc_id, t AS term
    FROM (SELECT {id_col},
                 unnest(regexp_split_to_array(lower({text_col}),
                                              '{SPLIT_RE_DUCKDB}')) AS t
          FROM {doc_table}) WHERE t <> '')""")
    if need_text:
        ctes.append("postings AS (SELECT term, doc_id, count(*)::DOUBLE AS tf "
                    "FROM tokens GROUP BY term, doc_id)")
        ctes.append("doc_lens AS (SELECT doc_id, count(*)::DOUBLE AS dl "
                    "FROM tokens GROUP BY doc_id)")
        ctes.append("stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl "
                    "FROM doc_lens)")
        ctes.append("tdf AS (SELECT term, count(*)::DOUBLE AS df "
                    "FROM postings GROUP BY term)")

    joins: list[str] = []
    cols: list[str] = [f"d.{id_col} AS doc_id"]
    term_leaves = [l for l in leaves if l.kind == "term"]
    if term_leaves:
        in_list = ", ".join(_sql_quote(l.value) for l in term_leaves)
        cases = ", ".join(
            f"max(CASE WHEN p.term = {_sql_quote(l.value)} THEN "
            f"ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * p.tf * ({K1} + 1) "
            f"/ (p.tf + {K1} * (1 - {B} + {B} * dlen.dl / s.avgdl)) END) "
            f"AS _qs{l.id}"
            for l in term_leaves
        )
        ctes.append(f"""termcols AS (
    SELECT p.doc_id, {cases}
    FROM postings p JOIN tdf f USING (term)
    JOIN doc_lens dlen USING (doc_id) CROSS JOIN stats s
    WHERE p.term IN ({in_list}) GROUP BY p.doc_id)""")
        joins.append(f"LEFT JOIN termcols tc ON tc.doc_id = d.{id_col}")
        cols += [f"tc._qs{l.id}" for l in term_leaves]

    if any(l.kind == "phrase" for l in leaves):
        raw_pos = f"""(
    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                          i -> {{'term': toks[i], 'pos': i - 1}}),
                          recursive := true)
    FROM (SELECT {id_col} AS doc_id,
                 list_filter(regexp_split_to_array(lower({text_col}),
                                                   '{SPLIT_RE_DUCKDB}'),
                             x -> x <> '') AS toks
          FROM {doc_table}))"""
        if chain is not None:
            # chain-aware positional tokens: positions assigned BEFORE
            # the stop filter (gaps), survivors synonym/stem mapped —
            # the SQL render of tokens_df(chain=...)
            ctes.append(
                f"pos AS (SELECT doc_id, {chain.sql_term('term')} AS term, "
                f"pos FROM {raw_pos} WHERE {chain.sql_keep('term')})"
            )
        else:
            ctes.append(f"pos AS {raw_pos}")
    for l in leaves:
        if l.kind == "phrase":
            pairs = _phrase_pairs(l.value)
            conds = [f"a0.term = {_sql_quote(pairs[0][1])}"]
            frm = "pos a0"
            qpos0 = pairs[0][0]
            for j, (qpos, w) in enumerate(pairs[1:], start=1):
                frm += (f" JOIN pos a{j} ON a{j}.doc_id = a0.doc_id "
                        f"AND a{j}.pos = a0.pos + {qpos - qpos0}")
                conds.append(f"a{j}.term = {_sql_quote(w)}")
            ctes.append(
                f"ph{l.id}_tf AS (SELECT a0.doc_id, count(*)::DOUBLE AS tf "
                f"FROM {frm} WHERE {' AND '.join(conds)} GROUP BY a0.doc_id)"
            )
            dfq = f"(SELECT count(*)::DOUBLE FROM ph{l.id}_tf)"
            ctes.append(f"""ph{l.id} AS (
    SELECT t.doc_id,
           ln(1 + (s.n - {dfq} + 0.5) / ({dfq} + 0.5)) * t.tf * ({K1} + 1)
           / (t.tf + {K1} * (1 - {B} + {B} * dlen.dl / s.avgdl)) AS c
    FROM ph{l.id}_tf t JOIN doc_lens dlen USING (doc_id) CROSS JOIN stats s)""")
            joins.append(f"LEFT JOIN ph{l.id} ON ph{l.id}.doc_id = d.{id_col}")
            cols.append(f"ph{l.id}.c AS _qs{l.id}")
        elif l.kind == "prefix":
            esc = l.value.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
            ctes.append(
                f"pre{l.id} AS (SELECT DISTINCT doc_id FROM postings "
                f"WHERE term LIKE '{esc}%' ESCAPE '\\')"
            )
            joins.append(f"LEFT JOIN pre{l.id} ON pre{l.id}.doc_id = d.{id_col}")
            cols.append(
                f"(CASE WHEN pre{l.id}.doc_id IS NOT NULL THEN 1.0 END) "
                f"AS _qs{l.id}"
            )
        elif l.kind == "wildcard":
            pat = _wild_to_like(l.value).replace("'", "''")
            ctes.append(
                f"wc{l.id} AS (SELECT DISTINCT doc_id FROM postings "
                f"WHERE term LIKE '{pat}' ESCAPE '\\')"
            )
            joins.append(f"LEFT JOIN wc{l.id} ON wc{l.id}.doc_id = d.{id_col}")
            cols.append(
                f"(CASE WHEN wc{l.id}.doc_id IS NOT NULL THEN 1.0 END) "
                f"AS _qs{l.id}"
            )
        elif l.kind == "kwwild":
            pat = _wild_to_like(l.value).replace("'", "''")
            cols.append(
                f"(CASE WHEN d.{l.field} LIKE '{pat}' ESCAPE '\\' "
                f"THEN 1.0 END) AS _qs{l.id}"
            )
        elif l.kind == "fuzzy":
            base_t, edits = l.value
            bq = _sql_quote(base_t)
            ctes.append(f"""fz{l.id}_exp AS (
    SELECT term, df, levenshtein(term, {bq}) AS dist FROM tdf
    WHERE levenshtein(term, {bq}) <= {int(edits)}
    ORDER BY dist ASC, df DESC, term ASC LIMIT 50)""")
            ctes.append(f"""fz{l.id} AS (
    SELECT p.doc_id,
           max(ln(1 + (s.n - e.df + 0.5) / (e.df + 0.5)) * p.tf * ({K1} + 1)
               / (p.tf + {K1} * (1 - {B} + {B} * dlen.dl / s.avgdl))
               * (1.0 - e.dist / {float(len(base_t))!r})) AS c
    FROM postings p JOIN fz{l.id}_exp e USING (term)
    JOIN doc_lens dlen USING (doc_id) CROSS JOIN stats s
    GROUP BY p.doc_id)""")
            joins.append(f"LEFT JOIN fz{l.id} ON fz{l.id}.doc_id = d.{id_col}")
            cols.append(f"fz{l.id}.c AS _qs{l.id}")
        elif l.kind == "kwterm":
            dfq = (f"(SELECT count(*)::DOUBLE FROM {doc_table} "
                   f"WHERE {l.field} = {_sql_quote(l.value)})")
            nq = f"(SELECT count(*)::DOUBLE FROM {doc_table})"
            cols.append(
                f"(CASE WHEN d.{l.field} = {_sql_quote(l.value)} THEN "
                f"ln(1 + ({nq} - {dfq} + 0.5) / ({dfq} + 0.5)) END) AS _qs{l.id}"
            )
        elif l.kind == "range":
            lo, hi, ilo, ihi = l.value
            conds = []
            if lo is not None:
                conds.append(f"d.{l.field} {'>=' if ilo else '>'} {_sql_quote(lo)}")
            if hi is not None:
                conds.append(f"d.{l.field} {'<=' if ihi else '<'} {_sql_quote(hi)}")
            cond = " AND ".join(conds) or "TRUE"
            cols.append(f"(CASE WHEN {cond} THEN 1.0 END) AS _qs{l.id}")

    ctes.append(
        "base AS (SELECT " + ", ".join(cols)
        + f" FROM {doc_table} d " + " ".join(joins) + ")"
    )
    matched, score = _compile_sql(tree)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, round({score}, 4) AS score FROM base"
        + f"\nWHERE {matched}"
        + f"\nORDER BY round({score}, 4) DESC, doc_id ASC LIMIT {int(k)}"
    )
