"""Positional postings + index-backed phrase queries (VERDICT r01 gap #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from es_loaders_spark.analyze import tokens_df
from es_loaders_spark.build import build_index
from es_loaders_spark.merge import merge_index
from es_loaders_spark.phrase import phrase_docs, positional_postings

PHRASES = ["the data", "the fast data", "data the", "spark", "zzzmissing data"]


@pytest.fixture(scope="module")
def pidx(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pos_index"))
    build_index(spark, documents, d, n_shards=4)
    merge_index(spark, d, hot_df_threshold=50, n_salts=4, n_buckets=8)
    return d


def _phrase_via_tokens(documents, phrase: str) -> set[int]:
    """Oracle: token-scan adjacency over the raw documents table."""
    from es_loaders_spark.analyze import tokenize_text

    terms = tokenize_text(phrase)
    toks = tokens_df(documents)
    cur = toks.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p")
    )
    for t in terms[1:]:
        nxt = toks.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - 1).alias("p")
        )
        cur = cur.join(nxt, ["doc_id", "p"]).select(
            "doc_id", (F.col("p") + 1).alias("p")
        )
    return {r["doc_id"] for r in cur.select("doc_id").distinct().collect()}


def test_positions_match_token_scan(spark, documents, pidx):
    """Decoded index positions == analyzer token positions per (term, doc)."""
    want = {
        (r["term"], r["doc_id"]): sorted(rr["pos"] for rr in r["ps"])
        for r in tokens_df(documents)
        .filter(F.col("term").isin(["the", "data", "spark"]))
        .groupBy("term", "doc_id")
        .agg(F.collect_list(F.struct("pos")).alias("ps"))
        .collect()
    }
    got = {
        (r["term"], r["doc_id"]): sorted(r["positions"])
        for r in positional_postings(
            spark, pidx, ["the", "data", "spark"]
        ).collect()
    }
    assert got == want


def test_phrase_docs_match_token_scan(spark, documents, pidx):
    for phrase in PHRASES:
        got = {r["doc_id"] for r in phrase_docs(spark, pidx, phrase).collect()}
        want = _phrase_via_tokens(documents, phrase)
        assert got == want, f"phrase {phrase!r}: {len(got)} vs {len(want)}"


def test_phrase_from_merged_table(spark, documents, pidx):
    """Positions survive the salted merge: phrase over merged == shards."""
    for phrase in ["the data", "the fast data"]:
        a = {r["doc_id"] for r in phrase_docs(spark, pidx, phrase).collect()}
        b = {
            r["doc_id"]
            for r in phrase_docs(spark, pidx, phrase, table="merged").collect()
        }
        assert a == b, phrase


def test_phrase_plan_reads_index_not_documents(spark, pidx):
    """The phrase plan must scan the index, never the documents table
    (the whole point: no raw-text re-scan per query)."""
    df = phrase_docs(spark, pidx, "the data")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "pos_index" in plan  # reads the index dir


def test_phrase_across_generations(spark, documents, tmp_path_factory):
    """Appended generations carry positions; phrase == one-shot build."""
    from es_loaders_spark.build import append_documents

    d = str(tmp_path_factory.mktemp("pos_gen"))
    build_index(spark, documents.filter(F.col("doc_id") < 300), d, n_shards=4)
    append_documents(spark, documents.filter(F.col("doc_id") >= 300), d)
    got = {r["doc_id"] for r in phrase_docs(spark, d, "the data").collect()}
    want = _phrase_via_tokens(documents, "the data")
    assert got == want


def _prefix_oracle(documents, phrase: str, exps: list[str]) -> set[int]:
    """Token-scan oracle for match_phrase_prefix given an expansion set."""
    from es_loaders_spark.analyze import tokenize_text

    terms = tokenize_text(phrase)
    toks = tokens_df(documents)
    if len(terms) == 1:
        return {
            r["doc_id"]
            for r in toks.filter(F.col("term").isin(exps))
            .select("doc_id").distinct().collect()
        }
    cur = toks.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p")
    )
    for t in terms[1:-1]:
        nxt = toks.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - 1).alias("p")
        )
        cur = cur.join(nxt, ["doc_id", "p"]).select(
            "doc_id", (F.col("p") + 1).alias("p")
        )
    tail = toks.filter(F.col("term").isin(exps)).select(
        "doc_id", (F.col("pos") - 1).alias("p")
    )
    return {
        r["doc_id"]
        for r in cur.join(tail, ["doc_id", "p"]).select("doc_id").distinct().collect()
    }


def test_expand_prefix_term_order_and_cap(spark, documents, pidx):
    from es_loaders_spark.phrase import expand_prefix

    all_s = expand_prefix(spark, pidx, "s")
    want = sorted(
        r["term"]
        for r in tokens_df(documents)
        .filter(F.col("term").startswith("s"))
        .select("term").distinct().collect()
    )
    assert all_s == want and len(all_s) >= 2
    assert expand_prefix(spark, pidx, "s", max_expansions=2) == want[:2]
    assert expand_prefix(spark, pidx, "zzznope") == []


def test_phrase_prefix_docs_match_token_scan(spark, documents, pidx):
    from es_loaders_spark.phrase import expand_prefix, phrase_prefix_docs

    exps = expand_prefix(spark, pidx, "s")
    got = {r["doc_id"] for r in phrase_prefix_docs(spark, pidx, "the s").collect()}
    assert got == _prefix_oracle(documents, "the s", exps)
    assert got, "the s* should match"
    # single-token form: prefix only, no positional head
    got1 = {r["doc_id"] for r in phrase_prefix_docs(spark, pidx, "s").collect()}
    assert got1 == _prefix_oracle(documents, "s", exps)


def test_phrase_prefix_max_expansions_cap(spark, documents, pidx):
    from es_loaders_spark.phrase import expand_prefix, phrase_prefix_docs

    capped = expand_prefix(spark, pidx, "s", max_expansions=2)
    got = {
        r["doc_id"]
        for r in phrase_prefix_docs(spark, pidx, "the s", max_expansions=2).collect()
    }
    assert got == _prefix_oracle(documents, "the s", capped)
    # the cap must bite: full expansion set matches strictly more docs
    full = {r["doc_id"] for r in phrase_prefix_docs(spark, pidx, "the s").collect()}
    assert got < full


def test_phrase_prefix_no_expansion_empty(spark, pidx):
    from es_loaders_spark.phrase import phrase_prefix_docs

    assert phrase_prefix_docs(spark, pidx, "the zzznope").count() == 0
    assert phrase_prefix_docs(spark, pidx, "").count() == 0


def test_dsl_match_phrase_prefix(spark, documents, pidx):
    from es_loaders_spark import dsl
    from es_loaders_spark.phrase import expand_prefix

    body = {"query": {"match_phrase_prefix": {"text": "the s"}}, "size": 50000}
    got = {
        r["doc_id"]
        for r in dsl.search(spark, documents, body, index_dir=pidx).collect()
    }
    assert got == _prefix_oracle(documents, "the s", expand_prefix(spark, pidx, "s"))
    # long form carries max_expansions through
    body2 = {
        "query": {
            "match_phrase_prefix": {"text": {"query": "the s", "max_expansions": 2}}
        },
        "size": 50000,
    }
    got2 = {
        r["doc_id"]
        for r in dsl.search(spark, documents, body2, index_dir=pidx).collect()
    }
    assert got2 == _prefix_oracle(
        documents, "the s", expand_prefix(spark, pidx, "s", max_expansions=2)
    )
    with pytest.raises(ValueError, match="built index"):
        dsl.search(spark, documents, body)


def test_phrase_positions_stay_in_the_bounded_pool(spark, documents, pidx):
    """match_phrase, match_phrase_prefix and span_near persist their
    decoded positions through the shared query-scoped pool: over
    distinct term sets the persisted RDDs never pass the pool's cap, and
    releasing the scoring caches returns to the starting count."""
    from es_loaders_spark import dsl, postings

    jsc = spark.sparkContext._jsc
    postings.release_scoring_caches()
    documents.count()
    start = jsc.getPersistentRDDs().size()
    bodies = [{"match_phrase": {"text": p}}
              for p in ("the data", "data the", "the fast data", "key order")]
    bodies += [{"match_phrase_prefix": {"text": p}}
               for p in ("the s", "spark d")]
    bodies += [
        {"span_near": {"clauses": [{"span_term": {"text": a}},
                                   {"span_term": {"text": b}}],
                       "slop": 2, "in_order": True}}
        for a, b in (("key", "sort"), ("the", "data"), ("spark", "data"))
    ]
    for q in bodies:
        dsl.search(spark, documents, {"query": q, "size": 5},
                   index_dir=pidx).collect()
        assert jsc.getPersistentRDDs().size() <= start + postings._MAX_TRACKED
    assert jsc.getPersistentRDDs().size() > start
    postings.release_scoring_caches()
    assert jsc.getPersistentRDDs().size() == start


def _draw_phrases(documents, seed: int) -> list[str]:
    """2–4-word phrases cut from the documents' own text, plus one with
    a repeated word and one with a stopword inside."""
    import random

    from es_loaders_spark.analyze import ENGLISH_STOPWORDS, tokenize_text

    rng = random.Random(seed)
    texts = [tokenize_text(r["text"]) for r in documents.select("text")
             .orderBy("doc_id").limit(200).collect()]
    texts = [t for t in texts if len(t) >= 4]
    out = []
    for _ in range(6):
        toks = rng.choice(texts)
        n = rng.randint(2, 4)
        i = rng.randrange(len(toks) - n + 1)
        out.append(" ".join(toks[i:i + n]))
    w = rng.choice(rng.choice(texts))
    out.append(f"{w} {w}")
    stop = set(ENGLISH_STOPWORDS)
    gapped = [
        " ".join(t[i - 1:i + 2])
        for t in texts for i in range(1, len(t) - 1)
        if t[i] in stop and t[i - 1] not in stop and t[i + 1] not in stop
    ]
    out.append(rng.choice(gapped))
    return out


@pytest.mark.parametrize("analysis", [
    None, {"stopwords": "_english_", "stemmer": "minimal_english"},
])
def test_phrase_ends_index_equals_scan(spark, documents, tmp_path_factory,
                                       analysis):
    """``phrase_ends`` over the index's positions input gives the same
    (doc_id, phrase tf) rows as over the scan input's positions, on a
    default and on a stop+stem index with a tombstoned term."""
    from functools import reduce

    from es_loaders_spark.analyze import AnalysisChain
    from es_loaders_spark.deletes import delete_by_term, filter_deleted
    from es_loaders_spark.phrase import _phrase_terms, phrase_ends
    from es_loaders_spark.postings import index_inputs, scan_inputs

    d = str(tmp_path_factory.mktemp("phrase_parity"))
    build_index(spark, documents, d, n_shards=2, analysis=analysis)
    assert delete_by_term(spark, d, "spark") > 0
    phrases = [_phrase_terms(d, p) for p in _draw_phrases(documents, 8)]
    assert any(len({t for _, t in p}) < len(p) for p in phrases)
    if analysis:
        assert any(b - a > 1 for p in phrases for (a, _), (b, _) in zip(p, p[1:]))
    words = [t for p in phrases for _, t in p]

    def ends(pos, live=True):
        rows = reduce(DataFrame.unionByName, [
            phrase_ends(pos, p).select(
                F.lit(i).alias("q"), "doc_id", F.size("ends").alias("tf"))
            for i, p in enumerate(phrases)
        ])
        if live:
            rows = filter_deleted(spark, d, rows).select("q", "doc_id", "tf")
        return sorted(tuple(r) for r in rows.collect())

    pos = index_inputs(spark, d, phrase_words=words).positions
    every = ends(pos, live=False)
    assert {q for q, _, _ in every} == set(range(len(phrases)))
    got = ends(pos)
    assert got and len(got) < len(every)  # the tombstones bite
    want = ends(scan_inputs(
        documents, chain=AnalysisChain.from_config(analysis),
        phrase_words=words,
    ).positions)
    assert got == want
