"""Mini-driver: run every queries() entry vs its DuckDB oracle at sf0.001.

Replicates the driver's correctness gate (row-count + schema-width +
order-insensitive value compare) so oracle breakage is caught locally
before the round's CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, bool):
                vals.append(str(v).lower())
            elif isinstance(v, float):
                vals.append("0.0" if v == 0 else f"{v:.4f}" if math.isfinite(v) else str(v))
            elif isinstance(v, (list, tuple)):
                vals.append(str(list(v)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


from es_loaders_spark.queries import EXTRA_ORACLES, EXTRA_QUERIES

# Driver-facing entries PLUS retired twins (EXTRA_QUERIES): the driver gate
# caps at 50 entries, so the twins keep their oracle check here only.
ALL = sorted(entrymod.queries()) + sorted(EXTRA_QUERIES)


def _lookup(name):
    if name in EXTRA_QUERIES:
        return EXTRA_QUERIES[name], EXTRA_ORACLES.get(name)
    return entrymod.queries()[name], entrymod.oracle_sql().get(name)


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q, _ = _lookup(name)
    df = q(spark, sf_dir)
    # Case-SENSITIVE names: the driver's compare sorts columns by exact name
    # before hashing, so a case mismatch (pivot `F` vs oracle `f`) is a real
    # failure — do not normalize it away here.
    got_cols = list(df.columns)
    got = [tuple(r[c] for c in df.columns) for r in df.collect()]

    _, oracle = _lookup(name)
    if oracle is None:
        assert len(got) >= 0  # rows-only check (driver's weaker gate)
        return
    res = duck.execute(oracle)
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()

    assert got_cols == want_cols, f"{name}: column names differ"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    # order-insensitive value compare, column order normalized by name
    order = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    g = normalize([tuple(r[i] for i in order) for r in got])
    w = normalize([tuple(r[i] for i in order) for r in want])
    assert g == w, f"{name}: values differ; first spark={g[:2]} duck={w[:2]}"


def test_registry_fits_driver_cap():
    """The driver's correctness gate ran exactly 50 of 53 r3 entries —
    it caps at 50. Every unique operator must fit so each gets a row;
    twins live in EXTRA_QUERIES (local gate only)."""
    qs = entrymod.queries()
    assert len(qs) <= 50, f"{len(qs)} queries() entries exceed the driver's 50-row cap"
    for must in (
                 # r6 rotation: the 16 never-driver-green rows now gated
                 # (VERDICT r05 worklist #1); their 18 retired twins are
                 # all green in CORRECTNESS_r04 ∪ r05 and keep local-gate
                 # oracles here.
                 "dsl_percentiles", "dsl_fuzzy", "dsl_knn", "dsl_has_child",
                 "dsl_termvectors", "dsl_boosting", "dsl_constant_score",
                 "dsl_function_score_weights", "dsl_explain_score",
                 "dsl_missing_agg", "dsl_weighted_avg",
                 "dsl_percentile_ranks", "dsl_filters_agg",
                 "bm25_topk_highlight", "phrase_prefix_indexed",
                 "ann_ivf_fixed",
                 # r5 surface that stays gated (green r05 only)
                 "dsl_query_string",
                 "dsl_function_score",
                 "dsl_collapse",
                 "dsl_pipeline_aggs", "dsl_bucket_script_sort",
                 "dsl_script_score",
                 "dsl_span_near",
                 "dsl_match_bool_prefix",
                 "dsl_nested", "dsl_nested_agg", "dsl_geo_distance",
                 "dsl_percolate",
                 # r6b late rotation: chained phrase/span + BM25F promoted;
                 # dsl_dis_max / dsl_string_stats / dsl_more_like_this
                 # retired to the local gate (r05 driver-green twins)
                 "dsl_query_string_phrase_stemmed", "dsl_span_near_stemmed",
                 "dsl_combined_fields",
                 # r6c rotation: this session's new operators (all
                 # oracle-green at sf0.01 locally); 14 r05-green twins
                 # retired to the local gate
                 "dsl_matrix_stats", "dsl_t_test", "dsl_percentiles_bucket",
                 "dsl_normalize", "sliced_scan", "dsl_track_total_hits",
                 "dsl_post_filter", "dsl_min_score", "bm25_topk_routed",
                 "token_counts", "rolling_fingerprint", "winnow_fp",
                 "dsl_significant_text", "multi_index_search",
                 # flagship (entry()) stays gated
                 "bm25_topk_wand"):
        assert must in qs
    # oracle keys must be a subset of query keys (driver joins by name)
    assert set(entrymod.oracle_sql()) <= set(qs)


def test_gate_rejects_case_mismatched_alias(spark, sf_dir, duck):
    """Regression for the r2/r3 pivot_wide mask: the compare must be
    case-SENSITIVE on column names, exactly like the driver's."""
    df = EXTRA_QUERIES["pivot_wide"](spark, sf_dir)
    assert df.columns == ["o_orderpriority", "f", "o", "p"]
    miscased = df.toDF("o_orderpriority", "F", "O", "P")
    res = duck.execute(EXTRA_ORACLES["pivot_wide"])
    want_cols = [d[0] for d in res.description]
    assert [c for c in miscased.columns] != want_cols, (
        "gate failed to distinguish column-name case"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score"]


def test_fixture_memo_builds_once_per_key():
    from es_loaders_spark import queries

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert queries._memo("memo_test", "a", build) == 1
    assert queries._memo("memo_test", "a", build) == 1
    assert queries._memo("memo_test", "b", build) == 2
    assert queries._memo("memo_test_other", "a", build) == 3
    assert len(calls) == 3


def test_fixture_dirs_are_removed_at_exit(tmp_path):
    import os
    import subprocess
    import sys

    code = (
        "from es_loaders_spark import queries\n"
        "d = queries._fixture_dir('memo_test_')\n"
        "open(d + '/part-0.parquet', 'w').write('x')\n"
        "print(d)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    ).stdout.strip()
    assert out.startswith(str(tmp_path))
    assert not os.path.exists(out)
