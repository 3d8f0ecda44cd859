"""Configurable analysis chain (VERDICT r05 "What's missing" #1).

The chain (stopwords → synonyms → minimal-english stemmer,
analyze.AnalysisChain) is rendered FOUR equivalent ways — python
(query analysis / oracles), numpy (the fused posting build kernel),
Catalyst (scan-path token arrays), DuckDB SQL (oracle twins) — and this
module property-tests that all four agree token-for-token, then checks
the index-level contract: stats.json records the chain, appends and
compaction inherit it, queries analyze with it, doc lengths count
survivors (Lucene norm semantics), and phrase matching honors stopword
position GAPS (Lucene stop-filter default).

ES analogue: a custom analyzer in index settings — the mapping hook the
reference's utils/elasticsearch.py:42-56 would carry.
"""

from __future__ import annotations

import string

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from es_loaders_spark.analyze import (
    ENGLISH_STOPWORDS,
    AnalysisChain,
    terms_array,
    tokens_df,
)

CFG = {
    "stopwords": "_english_",
    "stemmer": "minimal_english",
    "synonyms": ["tbl => table", "query, qry"],  # class contracts to FIRST term
}
CHAIN = AnalysisChain.from_config(CFG)


# ---------------------------------------------------------------------------
# config parsing
# ---------------------------------------------------------------------------

def test_from_config_none_is_identity():
    assert AnalysisChain.from_config(None) is None
    assert AnalysisChain.from_config({}) is None


def test_from_config_rejects_unknown_keys():
    with pytest.raises(ValueError, match="unknown analysis config"):
        AnalysisChain.from_config({"tokenizer": "whitespace"})


def test_from_config_rejects_unknown_stemmer():
    with pytest.raises(ValueError, match="unsupported stemmer"):
        AnalysisChain.from_config({"stemmer": "porter"})


def test_synonym_rule_forms():
    c = AnalysisChain.from_config(
        {"synonyms": ["a1, b1, c1", "x1, y1 => z1"]}
    )
    # equivalence class: all map to the first
    assert c.map_term("b1") == "a1" and c.map_term("c1") == "a1"
    # explicit rule: sources map to the target
    assert c.map_term("x1") == "z1" and c.map_term("y1") == "z1"
    with pytest.raises(ValueError, match="ONE target"):
        AnalysisChain.from_config({"synonyms": ["a => b, c"]})
    with pytest.raises(ValueError, match=">= 2 terms"):
        AnalysisChain.from_config({"synonyms": ["lonely"]})


def test_config_roundtrip():
    assert AnalysisChain.from_config(CHAIN.to_config()).to_config() == CHAIN.to_config()


# ---------------------------------------------------------------------------
# stemmer unit semantics (Lucene EnglishMinimalStemmer)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    ("word", "stem"),
    [
        ("tables", "table"),     # plain plural strip
        ("queries", "query"),    # -ies → -y
        ("sparks", "spark"),
        ("class", "class"),      # -ss kept
        ("focus", "focus"),      # -us kept
        ("as", "as"),            # too short
        ("goes", "goes"),        # -oes kept (c3 'o' in i,a,o,e)
        ("dies", "dies"),        # len 4, ies but c4 guard n>3 fails? len=4>3, c4='d' not a/e → "dy"? Lucene: dies→dy
        ("data", "data"),        # no trailing s
    ],
)
def test_minimal_english_stemmer(word, stem):
    c = AnalysisChain(stemmer="minimal_english")
    if word == "dies":
        # pin the actual Lucene rule outcome rather than intuition
        assert c.map_term(word) == "dy"
    else:
        assert c.map_term(word) == stem


# ---------------------------------------------------------------------------
# four-renderer parity (python / numpy / Catalyst / DuckDB)
# ---------------------------------------------------------------------------

_words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=9)
_texts = st.lists(_words, min_size=0, max_size=25).map(" ".join)


@settings(max_examples=60, deadline=None)
@given(_texts)
def test_python_vs_numpy_parity(text):
    toks = text.split()
    flat = np.array(toks, dtype=object)
    keep, mapped = CHAIN.apply_numpy(flat)
    py_survivors = [CHAIN.map_term(t) for t in toks if t not in set(ENGLISH_STOPWORDS)]
    assert list(mapped) == py_survivors
    assert [t for t, k in zip(toks, keep) if k] == [
        t for t in toks if t not in set(ENGLISH_STOPWORDS)
    ]


@settings(max_examples=60, deadline=None)
@given(_texts)
def test_python_vs_duckdb_parity(text):
    toks = [t for t in text.split() if t]
    con = duckdb.connect()
    got = []
    for t in toks:
        keep, term = con.execute(
            f"SELECT {CHAIN.sql_keep('t')}, {CHAIN.sql_term('t')} FROM (SELECT ? AS t)",
            [t],
        ).fetchone()
        if keep:
            got.append(term)
    assert got == CHAIN.tokens(" ".join(toks))


def test_python_vs_catalyst_parity(spark):
    rows = [
        ("the tables and tbl queries",),
        ("a qry goes into focus class dies data",),
        ("sparks will be sparks",),
        ("",),
        ("the a of to",),  # all stopwords
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [r[0] for r in df.select(terms_array(F.col("text"), chain=CHAIN)).collect()]
    want = [CHAIN.tokens(t) for (t,) in rows]
    assert got == want


def test_tokens_pos_gaps():
    # stopwords drop AFTER position assignment: gaps preserved
    assert CHAIN.tokens_pos("the tables and tbl") == [
        (1, "table"),
        (3, "table"),
    ]


def test_tokens_df_gap_positions(spark):
    df = spark.createDataFrame([(7, "the tables and tbl")], "doc_id long, text string")
    got = sorted(
        tuple(r) for r in tokens_df(df, chain=CHAIN).collect()
    )
    assert got == [(7, 1, "table"), (7, 3, "table")]


# ---------------------------------------------------------------------------
# index-level contract
# ---------------------------------------------------------------------------

DOCS = [
    (0, "the tables hold the data rows"),
    (1, "a tbl of queries and tables"),
    (2, "sparks query tables quickly"),
    (3, "plain text with no mapped words"),
    (4, "query query query tables"),
]


@pytest.fixture(scope="module")
def chain_idx(spark, tmp_path_factory):
    from es_loaders_spark.build import build_index

    d = str(tmp_path_factory.mktemp("chain_idx"))
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, d, n_shards=2, analysis=CFG)
    return d


def test_stats_records_canonical_analysis(chain_idx):
    from es_loaders_spark.build import load_stats

    st_ = load_stats(chain_idx)
    assert st_["analysis"]["stemmer"] == "minimal_english"
    assert "the" in st_["analysis"]["stopwords"]
    # canonical rule form, both synonym syntaxes normalized to "a => b"
    assert "tbl => table" in st_["analysis"]["synonyms"]
    assert "qry => query" in st_["analysis"]["synonyms"]


def test_dl_counts_survivors(spark, chain_idx):
    # doc 0: "the ... the" drop → dl 4; doc 1: "a"/"of"/"and" drop → dl 3
    from es_loaders_spark.build import read_generations

    dl = {
        r["doc_id"]: r["dl"]
        for r in read_generations(spark, chain_idx, "doclens").collect()
    }
    assert dl[0] == 4 and dl[1] == 3 and dl[4] == 4


def test_query_side_chain_rank_identity(spark, chain_idx):
    """Index-served top-k over the chained index == scan-path exact scorer
    over chain-applied postings with chain-analyzed query terms."""
    from es_loaders_spark.bm25 import bm25_topk
    from es_loaders_spark.postings import (
        corpus_stats,
        doc_lengths,
        postings_long,
        term_df,
    )
    from es_loaders_spark.wand import topk

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    query = "the tbl queries"  # analyzed → [table, query]
    served = [(r["doc_id"], r["score"]) for r in topk(spark, chain_idx, query, k=5).collect()]
    p = postings_long(docs, chain=CHAIN)
    dl = doc_lengths(docs, chain=CHAIN)
    scan = bm25_topk(
        spark, p, dl, term_df(p), corpus_stats(dl), CHAIN.tokens(query), k=5
    )
    assert served == [(r["doc_id"], r["score"]) for r in scan.collect()]
    # the chain genuinely matters: doc 1 ("tbl", "queries", "tables")
    # matches only through synonym+stem mapping
    assert 1 in {d for d, _ in served}
    assert 3 not in {d for d, _ in served}


def test_phrase_honors_stop_gaps(spark, chain_idx):
    """"tables hold the data" over the chained index: 'the' drops from
    the query but keeps its position slot, so doc 0 (whose own 'the' left
    the same gap) matches — Lucene PhraseQuery stop-gap semantics."""
    from es_loaders_spark.phrase import phrase_docs

    hits = sorted(
        r["doc_id"] for r in phrase_docs(spark, chain_idx, "tables hold the data").collect()
    )
    assert hits == [0]
    # gap must be EXACT: "tables hold data" (no gap) does NOT match doc 0
    assert phrase_docs(spark, chain_idx, "tables hold data").count() == 0


def test_append_inherits_chain(spark, chain_idx):
    from es_loaders_spark.build import append_documents, load_stats
    from es_loaders_spark.wand import evict_index, topk

    extra = spark.createDataFrame(
        [(10, "the freshest tables of queries")], "doc_id long, text string"
    )
    append_documents(spark, extra, chain_idx, batch_tag="chain-app-1")
    assert load_stats(chain_idx)["analysis"]["stemmer"] == "minimal_english"
    evict_index(chain_idx)
    got = {r["doc_id"] for r in topk(spark, chain_idx, "tbl", k=10).collect()}
    assert 10 in got  # appended doc matched via synonym→stem chain


def test_compact_preserves_chain(spark, chain_idx):
    from es_loaders_spark.build import load_stats
    from es_loaders_spark.deletes import compact_index

    compact_index(spark, chain_idx)
    assert load_stats(chain_idx)["analysis"]["stemmer"] == "minimal_english"


def test_build_refuses_precomputed_dl_with_chain(spark, tmp_path):
    from es_loaders_spark.build import build_index

    docs = spark.createDataFrame(
        [(0, "the tables", 2)], "doc_id long, text string, dl long"
    )
    with pytest.raises(ValueError, match="analysis chain changes doc lengths"):
        build_index(spark, docs, str(tmp_path / "idx"), n_shards=1, analysis=CFG)


# ---------------------------------------------------------------------------
# chain consistency across every index-served DSL path (r6 audit)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def chain_idx_ro(spark, tmp_path_factory):
    """Immutable chained index — the append/compact tests above MUTATE
    chain_idx (doc 10 lands), so exact-set assertions need their own."""
    from es_loaders_spark.build import build_index

    d = str(tmp_path_factory.mktemp("chain_idx_ro"))
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, d, n_shards=2, analysis=CFG)
    return d


def test_dsl_count_uses_index_chain(spark, chain_idx_ro):
    """_count's posting-block fast path analyzes with the index's chain:
    'tbl queries' must count docs containing table/query."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    body = {"query": {"match": {"text": "tbl queries"}}}
    n = dsl.count(spark, docs, body, index_dir=chain_idx_ro).first()["n"]
    assert n == 4  # docs 0,1,2,4 contain table/query post-chain


def test_dsl_aggs_fastpath_uses_index_chain(spark, chain_idx_ro):
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    body = {
        "query": {"match": {"text": "tbl"}},
        "aggs": {"n": {"value_count": {"field": "doc_id"}}},
        "size": 0,
    }
    n = dsl.search(spark, docs, body, index_dir=chain_idx_ro).first()[0]
    assert n >= 4  # every doc with 'table'/'tables'/'tbl' matches


def test_dsl_match_and_operator_chain_consistent(spark, chain_idx_ro):
    """operator=and is index-served: the conjunction (wand.match_docs)
    analyzes with the index's chain, so or/and differ only by the
    conjunction, not by analyzer grammar."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = dsl.search(
        spark, docs,
        {"query": {"match": {"text": {
            "query": "the tbl queries", "operator": "and"}}}, "size": 10},
        index_dir=chain_idx_ro,
    ).collect()
    ids = [r["doc_id"] for r in got]
    # docs containing BOTH table and query post-chain: 1, 2, 4
    assert set(ids) == {1, 2, 4}
    # and-scores equal the or-path scores for the same docs (same sums)
    or_scores = {
        r["doc_id"]: r["score"]
        for r in dsl.search(
            spark, docs,
            {"query": {"match": {"text": "the tbl queries"}}, "size": 10},
            index_dir=chain_idx_ro,
        ).collect()
    }
    for r in got:
        assert r["score"] == or_scores[r["doc_id"]]


def test_timetravel_uses_index_chain(spark, chain_idx_ro):
    from es_loaders_spark.timetravel import topk_as_of
    from es_loaders_spark.wand import topk

    got = [(r["doc_id"], r["score"])
           for r in topk_as_of(spark, chain_idx_ro, "tbl queries", k=5).collect()]
    want = [(r["doc_id"], r["score"])
            for r in topk(spark, chain_idx_ro, "tbl queries", k=5).collect()]
    assert got == want and got


def test_more_like_this_indexed_chain_seed(spark, chain_idx_ro):
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = dsl.more_like_this(
        spark, docs,
        {"query": {"more_like_this": {
            "like": {"doc_id": 4}, "min_term_freq": 1, "min_doc_freq": 1,
        }}, "size": 5},
        index_dir=chain_idx_ro,
    ).collect()
    # seed doc 4 ("query query query tables") must find docs sharing
    # the STEMMED terms (1 and 2 contain query/table variants)
    assert {r["doc_id"] for r in out} >= {1, 2}


def test_span_near_over_chain_basic(spark, chain_idx_ro):
    """span_near works over a chained index (r6 fourth wave — this was
    a loud refusal): doc 0 stores table@1, data@4 → gap 2 fits slop=2;
    the gapped-position suite below pins the exact arithmetic."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    body = {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "table"}},
                    {"span_term": {"text": "data"}}],
        "slop": 2, "in_order": True}}, "size": 5}
    rows = dsl.search(spark, docs, body, index_dir=chain_idx_ro).collect()
    assert [r["doc_id"] for r in rows] == [0]


def test_highlight_surface_forms_over_chained_index(spark, chain_idx_ro):
    """A stemmed query highlights every surface form in the hit text —
    'tbl queries' marks 'tables', 'queries', 'tbl', 'query' (ES's plain
    highlighter re-analyzes; we enumerate chain-verified forms)."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    body = {
        "query": {"match": {"text": "tbl queries"}},
        "highlight": {"fields": {"text": {}}},
        "size": 10,
    }
    rows = dsl.search(spark, docs, body, index_dir=chain_idx_ro).collect()
    hl = {r["doc_id"]: r["highlight_text"] for r in rows}
    assert "<em>tbl</em>" in hl[1] and "<em>queries</em>" in hl[1]
    assert "<em>tables</em>" in hl[1]
    assert "<em>query</em>" in hl[4] and "<em>tables</em>" in hl[4]
    # doc 0 matched via 'tables' only — highlighted, not NULL
    assert hl[0] is not None and "<em>tables</em>" in hl[0]


def test_reindex_switches_analyzer(spark, tmp_path):
    """ES _reindex analogue: plain index → reindex with a chain —
    deletes applied, settings inherited-then-overridden, and the new
    index answers stemmed queries rank-identically to a fresh chained
    build over the live set."""
    from es_loaders_spark.build import build_index, load_stats, reindex
    from es_loaders_spark.deletes import delete_ids
    from es_loaders_spark.wand import evict_index, topk

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path / "plain_idx")
    build_index(spark, docs, src, n_shards=2)
    # plain index: only doc 1's literal "queries" matches (no chain)
    assert {r["doc_id"] for r in topk(spark, src, "tbl queries", k=5).collect()} == {1}
    delete_ids(spark, src, spark.createDataFrame([(2,)], "doc_id long"))

    dst = str(tmp_path / "chained_idx")
    stats = reindex(spark, docs, src, dst, analysis=CFG)
    assert stats["analysis"]["stemmer"] == "minimal_english"
    assert stats["n_docs"] == 4  # tombstoned doc 2 excluded
    got = [(r["doc_id"], r["score"]) for r in topk(spark, dst, "tbl queries", k=5).collect()]
    # fresh chained build over the live set must agree exactly
    ref = str(tmp_path / "ref_idx")
    build_index(spark, docs.filter("doc_id <> 2"), ref, n_shards=2, analysis=CFG)
    want = [(r["doc_id"], r["score"]) for r in topk(spark, ref, "tbl queries", k=5).collect()]
    assert got == want and got
    assert 2 not in {d for d, _ in got}

    # guards: same dir, existing destination
    with pytest.raises(ValueError, match="fresh destination"):
        reindex(spark, docs, src, src)
    with pytest.raises(ValueError, match="already holds"):
        reindex(spark, docs, src, dst)
    for d in (src, dst, ref):
        evict_index(d)


def test_reindex_inherits_source_settings(spark, tmp_path):
    from es_loaders_spark.build import build_index, load_stats, reindex
    from es_loaders_spark.wand import evict_index

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path / "src_chain")
    build_index(spark, docs, src, n_shards=2, analysis=CFG, positions=False)
    dst = str(tmp_path / "dst_inherit")
    stats = reindex(spark, docs, src, dst)  # no overrides
    assert stats["analysis"] == load_stats(src)["analysis"]
    assert stats["positions"] is False
    # explicit analysis=None strips the chain
    dst2 = str(tmp_path / "dst_plain")
    stats2 = reindex(spark, docs, src, dst2, analysis=None)
    assert stats2["analysis"] is None
    for d in (src, dst, dst2):
        evict_index(d)


def test_analyze_api_with_chain():
    from es_loaders_spark.analyze import analyze_api

    got = analyze_api("The Tables and tbl", chain=CHAIN)
    assert got == [
        {"token": "table", "start_offset": 4, "end_offset": 10, "position": 1},
        {"token": "table", "start_offset": 15, "end_offset": 18, "position": 3},
    ]
    # chain=None keeps the default grammar untouched
    assert [t["token"] for t in analyze_api("The Tables")] == ["the", "tables"]


def test_index_stats_reports_analysis(spark, chain_idx_ro):
    from es_loaders_spark.catalog import index_stats

    st_ = index_stats(chain_idx_ro)
    assert st_["analysis"]["stemmer"] == "minimal_english"


# ---------------------------------------------------------------------------
# r6 review fixes
# ---------------------------------------------------------------------------


def test_noop_config_is_no_chain():
    """{'stopwords': []}-style configs are the default grammar — an
    active no-op chain would permanently trigger chain-only refusals."""
    assert AnalysisChain.from_config({"stopwords": []}) is None
    assert AnalysisChain.from_config({"synonyms": []}) is None
    assert AnalysisChain.from_config({"stopwords": [], "stemmer": None}) is None
    assert AnalysisChain.from_config({"stemmer": "minimal_english"}) is not None


def test_compound_scoring_uses_index_chain(spark, chain_idx_ro):
    """function_score/dis_max over a chained index analyze like plain
    match (review r6: they silently used the default grammar)."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    plain = {r["doc_id"]: r["score"] for r in dsl.search(
        spark, docs, {"query": {"match": {"text": "tbl queries"}}, "size": 10},
        index_dir=chain_idx_ro).collect()}
    assert plain  # stemmed/synonym matching works on the plain path

    fs = dsl.search(
        spark, docs,
        {"query": {"function_score": {
            "query": {"match": {"text": "tbl queries"}},
            "boost_mode": "sum", "functions": []}}, "size": 10},
        index_dir=chain_idx_ro,
    ).collect()
    # neutral function component (sum → +0): same docs, same scores
    assert {r["doc_id"]: r["score"] for r in fs} == plain

    dm = dsl.search(
        spark, docs,
        {"query": {"dis_max": {"queries": [
            {"match": {"text": "tbl queries"}}]}}, "size": 10},
        index_dir=chain_idx_ro,
    ).collect()
    assert {r["doc_id"]: r["score"] for r in dm} == plain


def test_match_phrase_highlight_over_chain(spark, chain_idx_ro):
    """Chain-matched phrase hits get surface-form highlights, not NULL
    (review r6: the literal phrase pattern missed stem variants)."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    body = {
        "query": {"match_phrase": {"text": "tables hold the data"}},
        "highlight": {"fields": {"text": {}}},
        "size": 5,
    }
    rows = dsl.search(spark, docs, body, index_dir=chain_idx_ro).collect()
    assert [r["doc_id"] for r in rows] == [0]
    hl = rows[0]["highlight_text"]
    assert hl is not None and "<em>tables</em>" in hl and "<em>data</em>" in hl


# ---------------------------------------------------------------------------
# r6 third wave: query_string phrases over a chained index
# ---------------------------------------------------------------------------


def test_query_string_phrase_over_chain_both_sides(spark, chain_idx_ro):
    """A quoted phrase inside query_string analyzes through the index's
    chain with stop-GAP semantics (the former loud refusal): "tables
    hold the data" becomes [(0,table),(1,hold),(3,data)] and matches
    doc 0 only — identically on the index-served and scan sides."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def run(q, serve):
        body = {"query": {"query_string": {"query": q, "serve": serve}},
                "size": 10}
        return [(r["doc_id"], r["score"]) for r in dsl.search(
            spark, docs, body, index_dir=chain_idx_ro).collect()]

    q = '"tables hold the data" OR sparks'
    served, scanned = run(q, "index"), run(q, "scan")
    assert served == scanned and served
    ids = [d for d, _ in served]
    assert 0 in ids and 2 in ids  # phrase hit + 'sparks'→'spark' term hit
    # doc 0 scores the phrase leaf, so it must beat its own term-only twin
    # gap must be EXACT: no-gap variant loses doc 0
    nogap = run('"tables hold data" OR sparks', "index")
    assert 0 not in [d for d, _ in nogap]
    assert nogap == run('"tables hold data" OR sparks', "scan")


def test_query_string_all_stopword_phrase_drops_clause(spark, chain_idx_ro):
    """An all-stopword phrase drops its CLAUSE (like a stopword term):
    '"the of" OR sparks' degrades to 'sparks'; a query that was ONLY the
    stopword phrase returns zero hits."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def run(q):
        return [(r["doc_id"], r["score"]) for r in dsl.search(
            spark, docs,
            {"query": {"query_string": {"query": q}}, "size": 10},
            index_dir=chain_idx_ro).collect()]

    assert run('"the of" OR sparks') == run("sparks")
    assert run('"the of"') == []


def test_query_string_phrase_chain_oracle_parity(spark, chain_idx_ro):
    """query_string_oracle_sql(chain=...) replays the gapped-phrase
    compilation in DuckDB — same doc_ids AND scores as both Spark
    sides."""
    import pandas as pd

    from es_loaders_spark import dsl
    from es_loaders_spark.querystring import query_string_oracle_sql

    q = '"tables hold the data" OR sparks OR tbl'
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = [(r["doc_id"], r["score"]) for r in dsl.search(
        spark, docs,
        {"query": {"query_string": {"query": q, "serve": "index"}}, "size": 10},
        index_dir=chain_idx_ro).collect()]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    sql = query_string_oracle_sql(q, k=10, chain=CHAIN)
    want = [(int(r[0]), float(r[1])) for r in con.execute(sql).fetchall()]
    assert got == want and got


# ---------------------------------------------------------------------------
# r6 fourth wave: span_near / intervals over a chained index (the last
# chain refusal — gap arithmetic now runs over stop-GAPPED positions)
# ---------------------------------------------------------------------------


def _span_body(terms, slop, serve, in_order=True):
    return {"query": {"span_near": {
        "clauses": [{"span_term": {"text": t}} for t in terms],
        "slop": slop, "in_order": in_order, "serve": serve}}, "size": 10}


def test_span_near_over_chain_counts_stop_gaps(spark, chain_idx_ro):
    """span_term values are VERBATIM index-vocabulary terms (ES parity:
    term-level, not analyzed) and slop windows run over the index's
    stop-gapped positions: doc 0 'the tables hold the data rows' stores
    hold@2, data@4 (gap 1 where 'the' dropped), so [hold,data] needs
    slop>=1 — identically index-served and on the chained scan twin."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def run(terms, slop):
        out = {}
        for mode in ("index", "scan"):
            out[mode] = [r["doc_id"] for r in dsl.search(
                spark, docs, _span_body(terms, slop, mode),
                index_dir=chain_idx_ro).collect()]
        assert out["index"] == out["scan"], (terms, slop, out)
        return out["index"]

    assert run(["hold", "data"], 1) == [0]
    assert run(["hold", "data"], 0) == []
    # table@1 .. row@5 in doc 0: gap = 3
    assert run(["table", "row"], 3) == [0]
    assert run(["table", "row"], 2) == []
    # surface form 'tables' is not in the chained vocabulary -> no hits
    assert run(["tables", "row"], 9) == []


def test_intervals_match_over_chain(spark, chain_idx_ro):
    """intervals.match analyzes its query through the chain ('the'
    drops, no extra gap REQUIREMENT from the query side) but doc-side
    gaps count — the classic Lucene stop-filter gotcha: 'hold the data'
    with max_gaps=0 does NOT match its own source text."""
    from es_loaders_spark import dsl

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def run(q, max_gaps, serve):
        body = {"query": {"intervals": {"text": {"match": {
            "query": q, "max_gaps": max_gaps, "ordered": True,
            "serve": serve}}}}, "size": 10}
        return [r["doc_id"] for r in dsl.search(
            spark, docs, body, index_dir=chain_idx_ro).collect()]

    for q, gaps, want in [("hold the data", 1, [0]),
                          ("hold the data", 0, []),
                          ("tbl of queries", 1, [1])]:
        got = run(q, gaps, "index")
        assert got == want, (q, gaps, got)
        assert got == run(q, gaps, "scan")


def test_span_near_chain_oracle_parity(spark, chain_idx_ro):
    """DuckDB twin: positions assigned BEFORE the stop filter (gaps),
    survivors chain-mapped — the gapped 2-way self-join must agree with
    both Spark sides."""
    import pandas as pd

    from es_loaders_spark import dsl
    from es_loaders_spark.analyze import SPLIT_RE_DUCKDB

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = [r["doc_id"] for r in dsl.search(
        spark, docs, _span_body(["table", "row"], 3, "index"),
        index_dir=chain_idx_ro).collect()]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    sql = f"""
    WITH rawpos AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                            i -> {{'term': toks[i], 'pos': i - 1}}),
                            recursive := true)
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '{SPLIT_RE_DUCKDB}'),
                               x -> x <> '') AS toks
            FROM documents)),
    pos AS (SELECT doc_id, {CHAIN.sql_term('term')} AS term, pos
            FROM rawpos WHERE {CHAIN.sql_keep('term')})
    SELECT DISTINCT a.doc_id
    FROM pos a JOIN pos b USING (doc_id)
    WHERE a.term = 'table' AND b.term = 'row'
      AND a.pos < b.pos AND b.pos - a.pos - 1 <= 3
    ORDER BY a.doc_id"""
    want = [int(r[0]) for r in con.execute(sql).fetchall()]
    assert got == want == [0]
