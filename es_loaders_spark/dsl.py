"""ES Query-DSL adapter: run the reference's query bodies on Spark.

The reference talks to its engine EXCLUSIVELY in Query-DSL JSON
(mira/elasticsearch.py, alhena/elasticsearch.py compose these bodies by
hand). A user switching from the reference keeps those bodies: this
module translates the DSL subset the reference actually uses — plus the
implicit ``match``/``match_phrase`` relevance semantics of the target
engine — into Catalyst plans.

Supported surface (each construct cited to a reference call site):

- ``query.term``                    → equality filter       (mira/elasticsearch.py:83-89, 263-274)
- ``query.range`` gte/gt/lte/lt     → range filter          (mira/elasticsearch.py:113-120)
- ``query.bool`` filter/must/should/must_not (nested)       (mira/elasticsearch.py:104-124)
- ``query.match``                   → BM25 top-k            (ES default search semantics, SURVEY §2.6 T3)
- ``query.match_phrase``            → positional phrase     (ES phrase queries; index-served via phrase.py)
- ``query.match_phrase_prefix``     → phrase with last-term prefix
                                      expansion from the index term
                                      dictionary (max_expansions, ES 50)
- ``size`` / ``sort`` / ``from``    → limit / orderBy / offset (mira/elasticsearch.py:45-61)
- ``terms`` / ``exists`` / ``match_all`` / ``ids`` / ``prefix`` /
  ``wildcard``                      → standard ES leaf clauses a
                                      migrating user keeps using even
                                      though the reference itself
                                      composes only term/range/bool
- ``_source``: [fields]             → projection
- ``search_after`` + ``sort``       → keyset pagination (a filter on the
                                      sort key — predicate-pushdown-able,
                                      unlike from/size which re-sorts and
                                      discards on every page)
- ``aggs.stats``                    → min/max/avg/sum/count (mira/elasticsearch.py:15-42)
- ``aggs.histogram`` (interval, min_doc_count=1), NESTED histogram,
  ``aggs.terms`` (size=n) sub-agg   → floor-bucket groupBy + top-n window
                                      (mira/mira_loader.py:262-319)
- ``aggs.range`` / ``aggs.filters`` → independent-bucket membership:
                                      exploded tag column + one groupBy
                                      (overlapping buckets, sub-aggs OK)
- ``aggs.significant_terms``        → JLH-scored foreground-vs-background
                                      doc-frequency contrast (tokens when
                                      field == text_col, else keyword)
- ``count(body)``                   → filtered count        (mira/elasticsearch.py:72-92)
- ``msearch([bodies])``             → one unioned plan      (mira/elasticsearch.py:64-70)
- ``delete_by_query(body)``         → tombstone deletes     (mira/elasticsearch.py:255-274)

Everything compiles to built-in column expressions — the DSL layer adds
zero Python to the executed plan.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .session import empty_frame


# ES GeoUtils.EARTH_MEAN_RADIUS — the radius Lucene's haversin uses, so
# distances agree with what an ES user sees.
EARTH_RADIUS_M = 6_371_008.7714

_DIST_UNITS_M = {
    "mm": 0.001, "cm": 0.01, "m": 1.0, "km": 1000.0,
    "in": 0.0254, "ft": 0.3048, "yd": 0.9144, "mi": 1609.344,
    "nmi": 1852.0, "nm": 1852.0,
    "millimeters": 0.001, "centimeters": 0.01, "meters": 1.0,
    "kilometers": 1000.0, "inch": 0.0254, "feet": 0.3048,
    "yards": 0.9144, "miles": 1609.344, "nauticalmiles": 1852.0,
}


def _parse_distance(spec) -> float:
    """ES distance string ("1500km", "10mi", bare number = meters) → meters."""
    if isinstance(spec, (int, float)):
        return float(spec)
    m = re.fullmatch(r"\s*([0-9.eE+-]+)\s*([a-zA-Z]*)\s*", str(spec))
    if not m:
        raise ValueError(f"unparseable distance {spec!r}")
    unit = (m.group(2) or "m").lower()
    if unit not in _DIST_UNITS_M:
        raise ValueError(f"unsupported distance unit {unit!r} in {spec!r}")
    return float(m.group(1)) * _DIST_UNITS_M[unit]


def _parse_geo_point(origin) -> tuple[float, float]:
    """ES geo-point literal → (lat, lon). Accepts {"lat","lon"} dicts,
    [lon, lat] arrays (GeoJSON order!), and "lat,lon" strings."""
    if isinstance(origin, dict):
        return float(origin["lat"]), float(origin["lon"])
    if isinstance(origin, (list, tuple)):
        lon, lat = origin  # ES array form is [lon, lat]
        return float(lat), float(lon)
    lat_s, lon_s = str(origin).split(",")
    return float(lat_s), float(lon_s)


def _haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (haversine, ES mean earth radius).
    Pure Catalyst trig — whole-stage codegen, no UDF."""
    dlat = F.radians(lat2 - lat1) / F.lit(2.0)
    dlon = F.radians(lon2 - lon1) / F.lit(2.0)
    a = (
        F.pow(F.sin(dlat), F.lit(2.0))
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.pow(F.sin(dlon), F.lit(2.0))
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


_MAX_MERCATOR_LAT = 85.05112878  # Web-Mercator clamp (ES GeoTileUtils)


_FIXED_MS = {
    "ms": 1, "1ms": 1,
    "s": 1000, "1s": 1000, "second": 1000,
    "m": 60_000, "1m": 60_000, "minute": 60_000,
    "h": 3_600_000, "1h": 3_600_000, "hour": 3_600_000,
    "d": 86_400_000, "1d": 86_400_000, "day": 86_400_000,
    "w": 604_800_000, "1w": 604_800_000, "week": 604_800_000,
}


def _fixed_interval_ms(spec) -> int:
    """Fixed-length interval ("90m", "1h", "day") → milliseconds.
    Calendar units of varying length (month/quarter/year) refuse —
    their bucket widths aren't constants."""
    s = str(spec).strip().lower()
    if s in _FIXED_MS:
        return _FIXED_MS[s]
    m = re.fullmatch(r"(\d+)\s*(ms|s|m|h|d|w)", s)
    if m:
        return int(m.group(1)) * _FIXED_MS[m.group(2)]
    raise ValueError(
        f"not a fixed-length interval: {spec!r} (month/quarter/year vary "
        "in length; use ms/s/m/h/d/w forms)"
    )


def _ipv4_num(col: Column) -> Column:
    """Dotted-quad IPv4 string → u32 value (split + arithmetic, pure
    codegen). DuckDB twin: the identical split_part/CAST arithmetic,
    inlined in queries._ip_range_oracle_sql."""
    p = F.split(col, r"\.")
    return (
        F.element_at(p, 1).cast("long") * F.lit(16777216)
        + F.element_at(p, 2).cast("long") * F.lit(65536)
        + F.element_at(p, 3).cast("long") * F.lit(256)
        + F.element_at(p, 4).cast("long")
    )


def _ipv4_int(s: str) -> int:
    a, b, c, d = (int(x) for x in str(s).split("."))
    for o in (a, b, c, d):
        if not 0 <= o <= 255:
            raise ValueError(f"bad IPv4 address {s!r}")
    return (a << 24) | (b << 16) | (c << 8) | d


def _cidr_bounds(mask: str) -> tuple[int, int]:
    """CIDR "a.b.c.d/p" → [lo, hi) u32 bounds (network base, not the
    literal address — ES masks off host bits the same way)."""
    addr, _, bits = str(mask).partition("/")
    p = int(bits)
    if not 0 <= p <= 32:
        raise ValueError(f"bad CIDR prefix in {mask!r}")
    span = 1 << (32 - p)
    lo = (_ipv4_int(addr) // span) * span
    return lo, lo + span


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_plan(precision: int):
    """Shared bit plan for the Spark and SQL geohash renderers: geohash
    = base32 of the bit-interleaved binary expansions of the scaled
    lon/lat integers (lon contributes bit 0, the classic layout). One
    plan, two renderers — the twins cannot drift."""
    if not (1 <= precision <= 12):
        raise ValueError(f"geohash precision 1..12, got {precision}")
    total = 5 * precision
    lon_bits = (total + 1) // 2  # lon leads, gets the extra bit when odd
    lat_bits = total // 2
    # (source, source_bit, code_bit) triples, code bit 0 = MSB of the code
    triples = []
    for i in range(lon_bits):
        triples.append(("x", lon_bits - 1 - i, total - 1 - 2 * i))
    for j in range(lat_bits):
        triples.append(("y", lat_bits - 1 - j, total - 2 - 2 * j))
    return total, lon_bits, lat_bits, triples


def geohash_key(lat: Column, lon: Column, precision: int) -> Column:
    """Classic geohash cell id at ``precision`` chars (ES geohash_grid
    bucket key). Scaled-integer Morton interleave + base32 — an unrolled
    pure-arithmetic expression (shifts/ands/adds), whole-stage codegen,
    no UDF. ``geohash_key_sql`` renders the IDENTICAL plan as DuckDB
    SQL for the oracle twin."""
    total, lon_bits, lat_bits, triples = _geohash_plan(precision)
    x = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                * F.lit(float(1 << lon_bits))),
        F.lit(float((1 << lon_bits) - 1)),
    ).cast("long")
    y = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                * F.lit(float(1 << lat_bits))),
        F.lit(float((1 << lat_bits) - 1)),
    ).cast("long")
    code = F.lit(0).cast("long")
    for src, sbit, cbit in triples:
        v = x if src == "x" else y
        code = code + (
            F.shiftright(v, sbit).bitwiseAND(F.lit(1)) * F.lit(1 << cbit)
        )
    alphabet = F.array(*[F.lit(ch) for ch in _GEOHASH32])
    chars = [
        F.element_at(
            alphabet,
            (
                F.shiftright(code, 5 * (precision - 1 - c))
                .bitwiseAND(F.lit(31)) + F.lit(1)
            ).cast("int"),
        )
        for c in range(precision)
    ]
    # NULL coordinates → NULL key (the agg branch drops the row, like ES
    # dropping docs missing the geo field) — without this, F.least would
    # silently bucket nulls into the all-ones "zzz…" corner cell
    return F.when(
        lat.isNotNull() & lon.isNotNull(), F.concat(*chars)
    )


def geohash_key_sql(lat: str, lon: str, precision: int) -> str:
    """DuckDB rendering of the SAME _geohash_plan (see geohash_key)."""
    total, lon_bits, lat_bits, triples = _geohash_plan(precision)
    x = (f"least(CAST(floor(({lon} + 180.0) / 360.0 * {1 << lon_bits}) "
         f"AS BIGINT), {(1 << lon_bits) - 1})")
    y = (f"least(CAST(floor(({lat} + 90.0) / 180.0 * {1 << lat_bits}) "
         f"AS BIGINT), {(1 << lat_bits) - 1})")
    terms = " + ".join(
        f"((({x if src == 'x' else y} >> {sbit}) & 1) * {1 << cbit})"
        for src, sbit, cbit in triples
    )
    code = f"({terms})"
    chars = " || ".join(
        f"substr('{_GEOHASH32}', "
        f"CAST((({code} >> {5 * (precision - 1 - c)}) & 31) + 1 AS INT), 1)"
        for c in range(precision)
    )
    return f"({chars})"


def geotile_key(lat: Column, lon: Column, precision: int) -> Column:
    """Web-Mercator tile key "z/x/y" (ES geotile_grid bucket key).

    x = floor((lon+180)/360·2^z); y from the Mercator projection with
    latitude clamped to ±85.05112878 — identical formula to ES
    GeoTileUtils.longEncode. Pure Catalyst math, codegen-friendly.
    """
    import math as _math

    n = F.lit(float(1 << precision))
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    latc = F.least(
        F.greatest(lat, F.lit(-_MAX_MERCATOR_LAT)), F.lit(_MAX_MERCATOR_LAT)
    )
    latr = F.radians(latc)
    y = F.floor(
        (
            F.lit(1.0)
            - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr)) / F.lit(_math.pi)
        )
        / F.lit(2.0)
        * n
    )
    clamp = lambda c: F.least(F.greatest(c, F.lit(0.0)), n - F.lit(1.0))  # noqa: E731
    # NULL coordinates → NULL key (dropped by the agg branch, like ES
    # dropping docs missing the geo field): concat_ws skips NULL args,
    # which would otherwise silently emit a malformed "z/x"-style key
    return F.when(
        lat.isNotNull() & lon.isNotNull(),
        F.concat_ws(
            "/",
            F.lit(str(precision)),
            clamp(x).cast("long").cast("string"),
            clamp(y).cast("long").cast("string"),
        ),
    )


def geotile_sql(lat: str, lon: str, precision: int) -> str:
    """DuckDB-SQL twin of ``geotile_key`` (oracle generation)."""
    import math as _math

    n = float(1 << precision)
    latc = f"least(greatest({lat}, -{_MAX_MERCATOR_LAT}), {_MAX_MERCATOR_LAT})"
    x = f"floor((({lon}) + 180.0) / 360.0 * {n!r})"
    y = (
        f"floor((1.0 - ln(tan(radians({latc})) + 1.0 / cos(radians({latc})))"
        f" / {_math.pi!r}) / 2.0 * {n!r})"
    )
    clamp = lambda c: f"least(greatest({c}, 0.0), {n - 1.0!r})"  # noqa: E731
    return (
        f"concat('{precision}', '/', CAST(CAST({clamp(x)} AS BIGINT) AS VARCHAR),"
        f" '/', CAST(CAST({clamp(y)} AS BIGINT) AS VARCHAR))"
    )


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The DuckDB-SQL twin of ``_haversine_m`` (oracle generation)."""
    return (
        f"2.0 * {EARTH_RADIUS_M!r} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2.0), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2.0), 2)))"
    )


# Parent/child join-field convention: one table holds both document
# types; `join_name` carries the type ("question" / "answer"), and
# `join_parent` the parent's id (NULL on parents) — the relational
# reading of ES's join field {"name": ..., "parent": ...}.
JOIN_NAME_COL = "join_name"
JOIN_PARENT_COL = "join_parent"


def _parent_child_query(
    docs: DataFrame, qd: dict[str, Any], id_col: str
) -> DataFrame | None:
    """Resolve a top-level has_child / has_parent / parent_id query to a
    restricted docs relation, or None when qd is none of those.

    These are RELATION-level clauses (they need a join across rows of
    different types), so they live here rather than in the row-local
    filter_expr. has_child: one child-side aggregate + a semi-join into
    the parents (min_children/max_children honored — ES defaults 1/∞);
    has_parent: matching parents' ids semi-join into the children. At
    scale both sides shuffle on the parent id — the same routing key ES
    forces for parent/child colocation.
    """
    if len(qd) != 1:
        return None
    (kind, sub), = qd.items()
    if kind == "parent_id":
        return docs.filter(
            (F.col(JOIN_NAME_COL) == F.lit(sub["type"]))
            & (F.col(JOIN_PARENT_COL) == F.lit(int(sub["id"])))
        )
    if kind == "has_child":
        inner = F.coalesce(
            filter_expr(sub.get("query", {"match_all": {}}), id_col),
            F.lit(False),
        )
        lo = int(sub.get("min_children", 1))
        hi = sub.get("max_children")
        counts = (
            docs.filter(F.col(JOIN_NAME_COL) == F.lit(sub["type"]))
            .filter(inner)
            .groupBy(F.col(JOIN_PARENT_COL).alias(id_col))
            .agg(F.count(F.lit(1)).alias("_nc"))
            .filter(F.col("_nc") >= F.lit(lo))
        )
        if hi is not None:
            counts = counts.filter(F.col("_nc") <= F.lit(int(hi)))
        return docs.join(counts.select(id_col), id_col, "left_semi")
    if kind == "has_parent":
        inner = F.coalesce(
            filter_expr(sub.get("query", {"match_all": {}}), id_col),
            F.lit(False),
        )
        parents = (
            docs.filter(F.col(JOIN_NAME_COL) == F.lit(sub["parent_type"]))
            .filter(inner)
            .select(F.col(id_col).alias(JOIN_PARENT_COL))
        )
        return docs.filter(F.col(JOIN_PARENT_COL).isNotNull()).join(
            parents, JOIN_PARENT_COL, "left_semi"
        )
    return None


def _resolve_terms_lookups(
    spark: SparkSession,
    docs: DataFrame,
    query,
    id_col: str,
    lookups: dict[str, DataFrame] | None = None,
):
    """ES terms-lookup resolution: a ``terms`` clause whose value is
    {"index": ..., "id": ..., "path": ...} fetches the term list from
    ONE document at query time (ES does exactly this — the lookup is
    query metadata, O(one doc), cached per request). The walked query
    tree gets the clause rewritten to a plain terms list, so everything
    downstream (filter_expr, aggs, counts) is untouched. The lookup
    table comes from ``lookups[index]``; an unknown/omitted index falls
    back to the docs table itself."""
    if isinstance(query, list):
        return [
            _resolve_terms_lookups(spark, docs, q, id_col, lookups)
            for q in query
        ]
    if not isinstance(query, dict):
        return query
    out = {}
    for k, v in query.items():
        if k == "terms" and isinstance(v, dict) and len(v) == 1:
            (fld, spec), = v.items()
            if isinstance(spec, dict) and "id" in spec and "path" in spec:
                src_df = (lookups or {}).get(spec.get("index"), docs)
                rows = (
                    src_df.filter(F.col(id_col) == F.lit(int(spec["id"])))
                    .select(F.col(spec["path"]).alias("_v"))
                    .collect()
                )
                if not rows:
                    raise ValueError(
                        f"terms lookup: no doc with {id_col}={spec['id']!r}"
                    )
                val = rows[0]["_v"]
                vals = list(val) if isinstance(val, (list, tuple)) else [val]
                out[k] = {fld: vals}
                continue
        out[k] = _resolve_terms_lookups(spark, docs, v, id_col, lookups)
    return out


def _nested_elem_pred(path: str, inner: dict, id_col: str, _col=F.col):
    """Element-level predicate for a nested query: a lambda over the
    array element usable by both `exists` (matching) and `filter`
    (inner_hits extraction). Inner field names are path-prefixed
    ("items.qty") exactly as ES requires; unprefixed names resolve at
    parent scope."""

    def pred(s):
        def resolve(f: str) -> Column:
            if f == path:
                return s
            if f.startswith(path + "."):
                out = s
                for part in f[len(path) + 1:].split("."):
                    out = out.getField(part)
                return out
            return _col(f)

        return F.coalesce(filter_expr(inner, id_col, resolve), F.lit(False))

    return pred


def filter_expr(
    query: dict[str, Any], id_col: str = "doc_id", _col=F.col
) -> Column:
    """Compile a DSL filter-context query dict to a boolean Column.

    ``_col`` resolves a field name to a Column — ``F.col`` at document
    scope; inside a ``nested`` clause it resolves path-prefixed names
    against the current array element, so every leaf clause works
    unchanged over nested objects (ES nested-query semantics: all inner
    conditions must hold on the SAME nested object).
    """
    if not query:
        return F.lit(True)
    if len(query) != 1:
        raise ValueError(f"expected one top-level clause, got {sorted(query)}")
    (kind, body), = query.items()
    if kind == "term":
        (field, value), = body.items()
        if isinstance(value, dict):  # long form {"value": v}
            value = value["value"]
        return _col(field) == F.lit(value)
    if kind == "terms":
        (field, values), = body.items()
        return _col(field).isin(list(values))
    if kind == "range":
        (field, conds), = body.items()
        col, out = _col(field), F.lit(True)
        ops = {"gte": col.__ge__, "gt": col.__gt__, "lte": col.__le__, "lt": col.__lt__}
        for op, v in conds.items():
            out = out & ops[op](F.lit(v))
        return out
    if kind == "exists":
        return _col(body["field"]).isNotNull()
    if kind == "match_all":
        return F.lit(True)
    if kind == "ids":
        # ES `_id` ≙ the engine's configured id column (ADVICE r03 #2:
        # was hard-coded doc_id, breaking tables with a different id col)
        return _col(id_col).isin([int(v) for v in body["values"]])
    if kind == "prefix":
        (field, value), = body.items()
        if isinstance(value, dict):  # long form {"value": v}
            value = value["value"]
        return _col(field).startswith(str(value))
    if kind == "wildcard":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["value"]
        # ES wildcard: * = any run, ? = any one char, backslash escapes a
        # literal * / ? / \. Translate char-by-char so escapes survive and
        # LIKE's own metacharacters (% _ \) are escaped.
        out_chars = []
        chars = iter(str(value))
        for ch in chars:
            if ch == "\\":
                # Lucene WILDCARD_ESCAPE: backslash makes the NEXT char
                # literal, whatever it is
                nxt = next(chars, None)
                if nxt is None:
                    out_chars.append("\\\\")
                elif nxt == "\\":
                    out_chars.append("\\\\")
                elif nxt in ("%", "_"):
                    out_chars.append("\\" + nxt)
                else:
                    out_chars.append(nxt)
            elif ch == "*":
                out_chars.append("%")
            elif ch == "?":
                out_chars.append("_")
            elif ch in ("%", "_"):
                out_chars.append("\\" + ch)
            else:
                out_chars.append(ch)
        return _col(field).like("".join(out_chars))
    if kind == "regexp":
        (field, value), = body.items()
        if isinstance(value, dict):
            value = value["value"]
        # ES/Lucene regexp is ANCHORED — the pattern must match the ENTIRE
        # field value (Lucene's syntax has no ^/$ operators at all). Spark's
        # rlike is a substring search, so anchor explicitly; (?:...) keeps a
        # top-level alternation like a|b from escaping the anchors.
        return _col(field).rlike(f"^(?:{value})$")
    if kind == "fuzzy":
        (field, value), = body.items()
        fuzziness: Any = "AUTO"
        if isinstance(value, dict):
            fuzziness = value.get("fuzziness", "AUTO")
            value = value["value"]
        value = str(value)
        if isinstance(fuzziness, str) and fuzziness.upper() == "AUTO":
            # ES AUTO: edit distance 0 for length 1-2, 1 for 3-5, 2 for 6+
            dist = 0 if len(value) <= 2 else 1 if len(value) <= 5 else 2
        else:
            dist = int(fuzziness)
        return F.levenshtein(_col(field), F.lit(value)) <= F.lit(dist)
    if kind == "match":
        # match in FILTER context (bool.filter / delete_by_query /
        # update_by_query): matching is boolean — the doc's analyzed
        # tokens contain any query term (operator=or, ES default) or all
        # of them (operator=and). Scoring `match` lives in search();
        # this branch is what ES's filter context computes (scores
        # ignored → 'does it match' only). Known limitation: filter_expr
        # has no index context, so this always uses the DEFAULT analyzer
        # grammar — on a chained index, put the match in the scoring
        # position (chain-aware) and keep filters to term/range.
        from .analyze import terms_array, tokenize_text

        field, v, opts = _clause_text(body)
        op = str(opts.get("operator", "or")).lower()
        qterms = tokenize_text(str(v))
        if not qterms:
            return F.lit(False)
        toks = terms_array(_col(field))
        qlit = F.array(*[F.lit(t) for t in qterms])
        if op == "and":
            return F.forall(qlit, lambda t: F.array_contains(toks, t))
        return F.arrays_overlap(toks, qlit)
    if kind == "nested":
        # ES nested query: the parent matches if ANY nested object
        # satisfies the ENTIRE inner query — the whole point of nested
        # vs flattened arrays (two conditions must hold on the SAME
        # element). Compiled to the `exists` HOF over the array column:
        # whole-stage codegen, no explode, no shuffle, and the array
        # never leaves its row. Inner field names are path-prefixed
        # ("items.qty") exactly as ES requires.
        path, inner = body["path"], body["query"]
        return F.exists(
            _col(path), _nested_elem_pred(path, inner, id_col, _col)
        )
    if kind == "geo_bounding_box":
        (field, box), = body.items()
        tl, br = box["top_left"], box["bottom_right"]
        pt = _col(field)
        lat, lon = pt.getField("lat"), pt.getField("lon")
        out = (lat <= F.lit(float(tl["lat"]))) & (lat >= F.lit(float(br["lat"])))
        lo, hi = float(tl["lon"]), float(br["lon"])
        if lo <= hi:
            return out & (lon >= F.lit(lo)) & (lon <= F.lit(hi))
        # box crossing the antimeridian: ES treats left>right as a wrap
        return out & ((lon >= F.lit(lo)) | (lon <= F.lit(hi)))
    if kind == "geo_distance":
        dist_m = _parse_distance(body["distance"])
        (field, origin), = ((k, v) for k, v in body.items()
                            if k not in ("distance", "distance_type"))
        olat, olon = _parse_geo_point(origin)
        pt = _col(field)
        return _haversine_m(
            pt.getField("lat"), pt.getField("lon"),
            F.lit(olat), F.lit(olon),
        ) <= F.lit(dist_m)
    if kind == "bool":
        # ES two-valued match semantics: a clause over a missing/NULL field
        # simply DOESN'T MATCH. Spark predicates are three-valued (NULL
        # propagates), so every sub-clause is coalesced to false before
        # negation/counting — otherwise must_not wrongly drops NULL-field
        # rows (~NULL = NULL) and msm counts go NULL-poisoned.
        matches = lambda sub: F.coalesce(filter_expr(sub, id_col, _col), F.lit(False))  # noqa: E731
        out = F.lit(True)
        has_positive = False
        for clause in ("filter", "must"):
            for sub in _as_list(body.get(clause)):
                out = out & matches(sub)
                has_positive = True
        for sub in _as_list(body.get("must_not")):
            out = out & ~matches(sub)
        shoulds = _as_list(body.get("should"))
        if shoulds:
            # ES default: minimum_should_match is 1 when should stands
            # alone, 0 when must/filter clauses are present (ADVICE r02 —
            # always ANDing the shoulds under-returned vs ES)
            msm = body.get("minimum_should_match")
            msm = int(msm) if msm is not None else (0 if has_positive else 1)
            if msm == 1:
                any_of = F.lit(False)
                for sub in shoulds:
                    any_of = any_of | matches(sub)
                out = out & any_of
            elif msm > 1:  # n-of-m: count satisfied should clauses
                cnt = F.lit(0)
                for sub in shoulds:
                    cnt = cnt + matches(sub).cast("int")
                out = out & (cnt >= F.lit(msm))
        return out
    raise ValueError(f"unsupported query clause: {kind!r}")


def _as_list(x) -> list:
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _in_filter(
    rel: DataFrame, docs: DataFrame, filters: dict[str, Any] | None, id_col: str
) -> DataFrame:
    """``rel`` restricted to the doc_ids ``filters`` admit, by a broadcast
    semi-join — ES filter context: candidates narrow, while corpus stats
    and dfs stay corpus-wide."""
    if not filters:
        return rel
    allowed = docs.filter(filter_expr(filters, id_col)).select(
        F.col(id_col).alias("doc_id")
    )
    return rel.join(allowed.hint("broadcast"), "doc_id", "left_semi")


def _having_all(tf: DataFrame, terms: list[str]) -> DataFrame:
    """doc_ids whose (term, doc_id, tf) rows hold every one of ``terms``
    — the conjunctive candidate set."""
    return (
        tf.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("_nt"))
        .filter(F.col("_nt") == F.lit(len(terms)))
        .select("doc_id")
    )


def _index_chain(index_dir: str | None):
    """The index's analysis chain (stats.json "analysis"), or None.

    Every index-served path that turns query TEXT into index terms must
    analyze with the index's own chain — a stemmed/stopworded index
    answers default-grammar terms with silent misses otherwise."""
    if index_dir is None:
        return None
    from .analyze import AnalysisChain
    from .build import load_stats

    return AnalysisChain.from_config(load_stats(index_dir).get("analysis"))


def _index_query_terms(index_dir: str | None, text: str) -> list[str]:
    """Analyzed query tokens for an index-served path (chain-aware)."""
    from .analyze import tokenize_text

    chain = _index_chain(index_dir)
    return chain.tokens(text) if chain is not None else tokenize_text(text)


def _indexed_match(
    q: dict, index_dir: str | None, text_col: str
) -> tuple[list[str], bool] | None:
    """(analyzed terms, conjunctive) of a lone ``match`` on the indexed
    column — the leaf ``wand.match_docs`` serves — else None."""
    if index_dir is None or len(q) != 1 or "match" not in q:
        return None
    fld, v, opts = _clause_text(q["match"])
    if fld != text_col:
        return None
    op = str(opts.get("operator", "or")).lower()
    return _index_query_terms(index_dir, str(v)), op == "and"


def _hl_terms_for(index_dir: str | None, text: str, chain=...) -> list[str]:
    """Highlight terms for a match over a possibly-chained index. ES's
    plain highlighter re-analyzes the field text, so a stemmed query
    highlights every surface form; regex highlighting gets the same
    effect by enumerating the (chain-verified) surface forms of each
    analyzed query term — 'tables' in the query highlights 'table',
    'tables' and synonym sources like 'tbl' in the hit text.

    ``chain``: pass the already-loaded chain to skip the stats.json
    re-parse (search() loads it once per request)."""
    from .analyze import _chain_surface_forms, tokenize_text

    if chain is ...:
        chain = _index_chain(index_dir)
    if chain is None:
        return tokenize_text(text)
    out: list[str] = []
    for t in chain.tokens(text):
        out.extend(_chain_surface_forms(chain, t))
    return sorted(set(out))


def _split_scoring(query: dict | None) -> tuple[dict | None, dict]:
    """Separate the scoring clause (match / match_phrase) from filters.

    ES scores ``match`` in query context and treats ``bool.filter`` as
    non-scoring; the reference only ever filters, but the engine's
    native search is BM25 — both compose here.
    """
    if not query:
        return None, {}
    (kind, body), = query.items()
    if kind in _SCORERS:
        return query, {}
    if kind == "bool":
        scoring = None
        rest = dict(body)
        musts = []
        for sub in _as_list(body.get("must")):
            (k, _), = sub.items()
            if k in _SCORERS:
                if scoring is not None:
                    # ES SUMS the scores of multiple scoring clauses in
                    # bool.must; demoting the second one to a non-scoring
                    # filter would return the same doc set with a silently
                    # different ranking (filter_expr has a boolean `match`
                    # branch it would fall into). Refuse loudly instead.
                    raise ValueError(
                        "bool.must with more than one scoring clause "
                        f"({next(iter(scoring))!r} and {k!r}) is not "
                        "supported: "
                        "ES sums their scores; wrap the extra clause in "
                        "bool.filter if boolean matching is intended"
                    )
                scoring = sub
            else:
                musts.append(sub)
        rest["must"] = musts
        if "minimum_should_match" not in rest and not any(
            _as_list(rest.get(k)) for k in ("must", "filter", "should", "must_not")
        ):
            # a bool wrapping only the scoring clause filters nothing
            return scoring, {}
        return scoring, {"bool": rest}
    return None, query


def _multi_match_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    text_col: str,
    k: int,
    chain=None,
) -> DataFrame:
    """ES ``multi_match`` (type best_fields, the default): BM25 per field,
    a document's score is its BEST single-field score.

    Exactness of the per-field depth-k truncation: if a doc is in the
    global top-k under (max-score desc, doc_id asc), every doc ahead of
    it in its best field's ordering has max-score ≥ that field score and
    wins the same tiebreak — so it is also ahead globally, hence the doc
    sits within that field's own top-k. The union of per-field top-k
    therefore contains the global top-k; fields are scored independently
    (own dfs/avgdl per field, ES per-field statistics) and max-combined.
    """
    from .analyze import tokenize_text
    from .bm25 import bm25_topk
    from .postings import scan_inputs

    text = sub["query"]
    raw_fields = list(sub.get("fields") or [text_col])
    mtype = sub.get("type", "best_fields")
    if mtype != "best_fields":
        raise ValueError(
            f"multi_match type {mtype!r} not supported (best_fields only)"
        )
    if sub.get("tie_breaker"):
        # tie_breaker>0 mixes non-best fields into the score, which breaks
        # the per-field depth-k containment proof below — refuse rather
        # than return a silently inexact page
        raise ValueError("multi_match tie_breaker is not supported")
    if any("*" in f for f in raw_fields):
        raise ValueError("multi_match field wildcards not supported")
    # ES field boost syntax "title^2": the field's BM25 score is scaled
    # by the boost before best-field combination. A positive scale keeps
    # each field's own ordering, so the containment argument is unchanged.
    fields: list[tuple[str, float]] = []
    for f in raw_fields:
        name, _, boost = f.partition("^")
        fields.append((name, float(boost) if boost else 1.0))
    per_field = []
    for fld, boost in fields:
        # the index's analysis chain covers ONLY the indexed column;
        # other fields keep the default grammar (unmapped-field parity)
        ch = chain if (chain is not None and fld == text_col) else None
        q = ch.tokens(text) if ch is not None else tokenize_text(text)
        si = scan_inputs(docs, text_col=fld, id_col=id_col, chain=ch, terms=q)
        scored = bm25_topk(
            spark, _in_filter(si.tf, docs, filters, id_col), si.dl, si.tdf,
            si.stats, q, k=k,
        )
        if boost != 1.0:
            scored = scored.withColumn(
                "score", F.round(F.col("score") * F.lit(boost), 4)
            )
        per_field.append(scored)
    union = per_field[0]
    for x in per_field[1:]:
        union = union.unionByName(x)
    return (
        union.groupBy("doc_id")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _combined_fields_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    text_col: str,
    k: int,
    chain=None,
) -> DataFrame:
    """ES ``combined_fields``: BM25F — the fields are scored as ONE
    combined field (mira-era ``cross_fields`` done right, per the ES
    docs): per-term freq is the boost-weighted SUM of per-field freqs,
    the document length is the boost-weighted sum of field lengths, and
    df/N/avgdl are collection statistics of that combined field. Unlike
    multi_match best_fields (max over independently-scored fields) a doc
    mentioning the term in EVERY field beats one stuffing a single field.

    ES constraints kept: boosts must be >= 1; all fields must share one
    analyzer — so over a chained index the field list must be exactly
    the chained column (mixing chained and default-grammar term spaces
    in one combined field would be meaningless). operator=and requires
    every query term somewhere in the combined field.
    """
    from .analyze import tokenize_text, tokens_df
    from .bm25 import SCORE_DECIMALS, bm25_score_expr
    from .postings import corpus_stats

    text = sub["query"]
    raw_fields = list(sub.get("fields") or [text_col])
    operator = str(sub.get("operator", "or")).lower()
    if operator not in ("or", "and"):
        raise ValueError(f"combined_fields operator {operator!r} (or|and)")
    if any("*" in f for f in raw_fields):
        raise ValueError("combined_fields field wildcards not supported")
    fields: list[tuple[str, float]] = []
    for f in raw_fields:
        name, _, boost = f.partition("^")
        bv = float(boost) if boost else 1.0
        if bv < 1.0:
            # ES rejects per-field boosts below 1 in combined_fields
            raise ValueError(
                f"combined_fields boost must be >= 1 (got {f!r})"
            )
        fields.append((name, bv))
    if chain is not None and any(name != text_col for name, _ in fields):
        raise ValueError(
            "combined_fields requires fields sharing one analyzer: over "
            f"an index with an analysis chain only [{text_col!r}] is "
            "combinable — use multi_match for per-field scoring"
        )
    terms = sorted(set(
        chain.tokens(text) if chain is not None else tokenize_text(text)
    ))
    if not terms:
        return empty_frame(spark, f"{id_col} long, score double")
    # weighted per-field token relations -> ONE combined field
    wtf_parts, wdl_parts = [], []
    for fld, boost in fields:
        t = tokens_df(docs.select(id_col, fld), text_col=fld, id_col=id_col,
                      chain=chain)
        wtf_parts.append(
            t.groupBy("doc_id", "term")
            .agg((F.count(F.lit(1)) * F.lit(boost)).alias("wtf"))
        )
        wdl_parts.append(
            t.groupBy("doc_id")
            .agg((F.count(F.lit(1)) * F.lit(boost)).alias("wdl"))
        )
    ctf = wtf_parts[0]
    for x in wtf_parts[1:]:
        ctf = ctf.unionByName(x)
    ctf = ctf.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tf"))
    cdl = wdl_parts[0]
    for x in wdl_parts[1:]:
        cdl = cdl.unionByName(x)
    cdl = cdl.groupBy("doc_id").agg(F.sum("wdl").alias("dl"))
    stats = corpus_stats(cdl)
    tdf = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = spark.createDataFrame([(t,) for t in terms], "term string")
    scored = (
        _in_filter(ctf, docs, filters, id_col).join(F.broadcast(qterms), "term")
        .join(F.broadcast(tdf.join(qterms, "term")), "term")
        .join(cdl, "doc_id")
        .withColumn("contrib", bm25_score_expr(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"),
            F.count_distinct("term").alias("_nm"),
        )
    )
    if operator == "and":
        scored = scored.filter(F.col("_nm") == F.lit(len(terms)))
    return (
        scored.drop("_nm")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def combined_fields_oracle_sql(
    query: str,
    fields: list[str],
    k: int = 10,
    operator: str = "or",
    doc_table: str = "documents",
) -> str:
    """DuckDB twin of ``_combined_fields_topk`` (default grammar): the
    boost-weighted combined-field tf/dl/df replayed in SQL."""
    from .analyze import SPLIT_RE_DUCKDB, tokenize_text
    from .bm25 import B, K1, SCORE_DECIMALS

    parsed = []
    for f in fields:
        name, _, boost = f.partition("^")
        parsed.append((name, float(boost) if boost else 1.0))
    terms = sorted(set(tokenize_text(query)))
    terms_values = ", ".join(f"('{t}')" for t in terms)
    tok = """(SELECT doc_id, t AS term
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower({col}), '{re}')) AS t
              FROM {tbl}) WHERE t <> '')"""
    wtf = " UNION ALL ".join(
        f"SELECT doc_id, term, count(*)::DOUBLE * {boost} AS wtf FROM "
        + tok.format(col=name, re=SPLIT_RE_DUCKDB, tbl=doc_table)
        + " GROUP BY doc_id, term"
        for name, boost in parsed
    )
    wdl = " UNION ALL ".join(
        f"SELECT doc_id, count(*)::DOUBLE * {boost} AS wdl FROM "
        + tok.format(col=name, re=SPLIT_RE_DUCKDB, tbl=doc_table)
        + " GROUP BY doc_id"
        for name, boost in parsed
    )
    having = (
        f"HAVING count(DISTINCT c.term) = {len(terms)}"
        if operator == "and" else ""
    )
    return f"""
WITH ctf AS (SELECT doc_id, term, sum(wtf) AS tf FROM ({wtf}) GROUP BY 1, 2),
cdl AS (SELECT doc_id, sum(wdl) AS dl FROM ({wdl}) GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM cdl),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM ctf GROUP BY 1),
qterms(term) AS (VALUES {terms_values}),
scored AS (
    SELECT c.doc_id,
           sum(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * c.tf * ({K1} + 1)
               / (c.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl))) AS score
    FROM ctf c JOIN qterms q USING (term) JOIN tdf f USING (term)
    JOIN cdl d USING (doc_id) CROSS JOIN stats s
    GROUP BY c.doc_id {having})
SELECT doc_id, round(score, {SCORE_DECIMALS}) AS score
FROM scored
ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}"""


def _parse_sqs(q: str) -> dict[str, list]:
    """Parse the supported simple_query_string subset.

    Supported operators (ES simple_query_string):
    ``+term`` required, ``-term`` excluded, ``"a b"`` phrase,
    ``term*`` prefix; bare terms combine with ``default_operator``.
    Unsupported pieces fail loudly: ``|``/``(``/``)``/``~N`` precedence
    grammar, and negated phrases/prefixes.
    """
    import re as _re

    from .analyze import tokenize_text

    out: dict[str, list] = {
        "plain": [], "required": [], "excluded": [], "phrases": [],
        "prefixes": [],
    }
    for raw in _re.findall(r'[-+]?"[^"]*"|\S+', q):
        tok = raw
        sign = ""
        if tok[:1] in "+-":
            sign, tok = tok[0], tok[1:]
        if any(ch in tok for ch in "|()~"):
            raise ValueError(
                f"simple_query_string operator in {raw!r} is not supported "
                "(subset: + - \"phrase\" prefix*)"
            )
        if tok[:1] == '"' and tok[-1:] == '"' and len(tok) >= 2:
            if sign == "-":
                raise ValueError("negated phrases are not supported")
            terms = tokenize_text(tok[1:-1])
            if terms:
                out["phrases"].append(terms)
            continue
        if tok.endswith("*"):
            if sign == "-":
                raise ValueError("negated prefixes are not supported")
            stem = tokenize_text(tok[:-1])
            if not stem:
                raise ValueError(f"empty prefix in {raw!r}")
            out["prefixes"].append(stem[-1])
            continue
        terms = tokenize_text(tok)
        key = {"+": "required", "-": "excluded", "": "plain"}[sign]
        out[key].extend(terms)
    return out


def _sqs_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    text_col: str,
    k: int,
    index_dir: str | None,
) -> tuple[DataFrame, list[str]]:
    """ES ``simple_query_string`` (documented subset): returns
    (result, scoring_terms). Scoring = BM25 over the bare + required
    terms; phrases / prefixes / exclusions act as candidate filters
    (documented deviation: ES also scores phrase and prefix matches).
    With no scorable term the result is the filtered doc rows in
    doc_id order (the phrase-query paging convention).

    Candidate plan shape: every restriction is a semi/anti-join on
    doc_id against an id set from the scan inputs' tf rows (their
    selectors are the scoring, excluded and prefix terms) or, for
    phrases, ``phrase.phrase_ends`` over a positions input — the scan
    inputs' own (same tokenize pass), or with an index_dir the index's,
    whose phrases analyze through the index's chain and drop tombstoned
    docs; prefix expansion is index-served there too. Without a scoring
    term the candidates start from every doc with a token (``dl > 0``).
    """
    from .bm25 import bm25_topk
    from .deletes import filter_deleted
    from .phrase import phrase_ends
    from .postings import index_positions, scan_inputs

    parsed = _parse_sqs(sub["query"])
    fields = list(sub.get("fields") or [text_col])
    if len(fields) != 1:
        raise ValueError("simple_query_string supports exactly one field")
    field = fields[0].split("^")[0]
    default_op = str(sub.get("default_operator", "or")).lower()
    if default_op not in ("or", "and"):
        raise ValueError(f"default_operator {default_op!r}")

    on_index = index_dir is not None and field == text_col
    # the required terms are scoring terms too; over an index each
    # prefix matches its term-dictionary expansion
    scoring_terms = sorted(set(parsed["plain"]) | set(parsed["required"]))
    excluded = sorted(set(parsed["excluded"]))
    selectors = {"terms": scoring_terms + excluded}
    if on_index:
        from .phrase import _phrase_terms, expand_prefix

        expansions = [expand_prefix(spark, index_dir, pfx, max_expansions=50)
                      for pfx in parsed["prefixes"]]
        selectors["terms"] += sum(expansions, [])
        prefix_hits = [F.col("term").isin(e) for e in expansions]
        phrases = [_phrase_terms(index_dir, " ".join(ph))
                   for ph in parsed["phrases"]]
    else:
        selectors["prefixes"] = parsed["prefixes"]
        prefix_hits = [F.col("term").startswith(x) for x in parsed["prefixes"]]
        phrases = [list(enumerate(ph)) for ph in parsed["phrases"]]
    words = [t for ph in phrases for _, t in ph]
    si = scan_inputs(docs, text_col=field, id_col=id_col,
                     phrase_words=() if on_index else words, **selectors)
    positions = si.positions
    if on_index and words:
        positions = index_positions(spark, index_dir, words)
    p = si.tf
    cand = p if scoring_terms else si.dl.filter(F.col("dl") > 0)
    cand = _in_filter(cand, docs, filters, id_col)

    required = sorted(
        set(parsed["required"])
        | (set(parsed["plain"]) if default_op == "and" else set())
    )
    if required:
        cand = cand.join(_having_all(p, required), "doc_id", "left_semi")
    if excluded:
        bad = p.filter(F.col("term").isin(excluded)).select("doc_id")
        cand = cand.join(bad, "doc_id", "left_anti")
    for pairs in phrases:
        if not pairs:  # every word of the phrase was a stopword
            hits = empty_frame(spark, "doc_id long")
        else:
            hits = phrase_ends(positions, pairs).select("doc_id")
        if on_index:
            hits = filter_deleted(spark, index_dir, hits)
        cand = cand.join(hits, "doc_id", "left_semi")
    for hit in prefix_hits:
        cand = cand.join(
            p.filter(hit).select("doc_id").distinct(), "doc_id", "left_semi"
        )

    if scoring_terms:
        out = bm25_topk(
            spark, cand, si.dl, si.tdf, si.stats, " ".join(scoring_terms), k=k,
        )
        return out, scoring_terms
    hits = cand.select("doc_id").distinct()
    out = (
        docs.join(hits.withColumnRenamed("doc_id", id_col), id_col, "left_semi")
        .orderBy(id_col)
        .limit(k)
    )
    return out, []


def _match_scores(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict | str,
    filters: dict[str, Any],
    id_col: str,
    field: str | None = None,
    rounded: bool = True,
    chain=None,
    chain_field: str | None = None,
) -> DataFrame:
    """Full (doc_id, score) relation for one ``match`` clause — every doc
    containing ≥1 query term, UN-truncated.

    Compound scoring queries (dis_max / function_score / boosting /
    collapse / rescore) re-order by a transformed score, so the base
    relation must not be cut at k (ES likewise abandons dynamic pruning
    for these). Corpus stats stay unfiltered (ES filter context);
    ``filters`` only restrict the candidate set via a broadcast semi-join.

    Pass ``rounded=False`` whenever the caller TRANSFORMS the score:
    the transform must run on raw sums and round once at the end, or
    constant multipliers put a systematic fraction of docs on decimal
    round-half boundaries where engines disagree (see bm25.bm25_scores).

    ``chain``/``chain_field``: the index's analysis chain applies when
    the scored field IS the indexed column — compound scorers over a
    chained index must analyze exactly like plain match does (review
    r6: they silently used the default grammar).
    """
    from .analyze import tokenize_text
    from .bm25 import bm25_scores
    from .postings import scan_inputs

    if field is None:
        field, text, _ = _clause_text(sub)
    else:
        text = sub["query"] if isinstance(sub, dict) else sub
    ch = chain if (chain is not None and field == chain_field) else None
    q = ch.tokens(text) if ch is not None else tokenize_text(text)
    si = scan_inputs(docs, text_col=field, id_col=id_col, chain=ch, terms=q)
    return bm25_scores(
        spark, _in_filter(si.tf, docs, filters, id_col), si.dl, si.tdf,
        si.stats, q, rounded=rounded,
    )


def _sub_scores(
    spark: SparkSession,
    docs: DataFrame,
    q: dict,
    filters: dict[str, Any],
    id_col: str,
    chain=None,
    chain_field: str | None = None,
) -> DataFrame:
    """Scored relation for a dis_max / function_score / boosting subquery:
    ``match`` → BM25 over the named field; ``constant_score`` → its
    filter set at the fixed boost."""
    (k, sub), = q.items()
    if k == "match":
        # raw scores: the caller combines/transforms, then rounds once
        return _match_scores(spark, docs, sub, filters, id_col, rounded=False,
                             chain=chain, chain_field=chain_field)
    if k == "constant_score":
        boost = float(sub.get("boost", 1.0))
        merged = {"bool": {"filter": [sub["filter"]] + ([filters] if filters else [])}}
        return docs.filter(filter_expr(merged, id_col)).select(
            F.col(id_col).alias("doc_id"),
            F.round(F.lit(boost), 4).alias("score"),
        )
    raise ValueError(
        f"unsupported scoring subquery {k!r} (subset: match, constant_score)"
    )


def _dis_max_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    k: int,
    chain=None,
    chain_field: str | None = None,
) -> DataFrame:
    """ES ``dis_max``: score = best subquery score + tie_breaker × (sum of
    the other matching subqueries' scores) = max + t·(sum − max).

    Unlike ``multi_match`` (which depth-k-truncates per field under a
    containment proof that only holds for tie_breaker=0), every subquery
    here is scored in FULL, so tie_breaker is supported exactly."""
    t = float(sub.get("tie_breaker", 0.0))
    queries = list(sub.get("queries") or [])
    if not queries:
        raise ValueError("dis_max needs a non-empty queries list")
    scored = [
        _sub_scores(spark, docs, q, filters, id_col,
                    chain=chain, chain_field=chain_field)
        for q in queries
    ]
    union = scored[0]
    for x in scored[1:]:
        union = union.unionByName(x)
    agg = union.groupBy("doc_id").agg(
        F.max("score").alias("_mx"), F.sum("score").alias("_sm")
    )
    return (
        agg.select(
            "doc_id",
            F.round(
                F.col("_mx") + F.lit(t) * (F.col("_sm") - F.col("_mx")), 4
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _function_score_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    k: int,
    chain=None,
    chain_field: str | None = None,
) -> DataFrame:
    """ES ``function_score`` (documented subset): base query score
    transformed per document.

    - ``field_value_factor`` {field, factor, modifier: none|log1p|sqrt,
      missing}: fv = modifier(factor × coalesce(field, missing)).
    - ``functions``: [{filter, weight}] — matching functions combine via
      ``score_mode`` (sum | multiply | max); if NO function matches, the
      function component is neutral (1 for multiply/max, 0 for sum),
      matching ES's behavior of leaving the query score unscaled.
    - ``boost_mode``: multiply (default) | sum | replace.

    The base query is scored in full (no k-truncation) because the
    transform re-orders — ES also disables WAND-style pruning here."""
    base_q = sub.get("query") or {"match_all": {}}
    (bk, bsub), = base_q.items()
    if bk == "match":
        scored = _match_scores(spark, docs, bsub, filters, id_col,
                               rounded=False, chain=chain,
                               chain_field=chain_field)
    elif bk == "match_all":
        scored = docs.filter(
            filter_expr(filters, id_col) if filters else F.lit(True)
        ).select(F.col(id_col).alias("doc_id"), F.lit(1.0).alias("score"))
    else:
        raise ValueError(
            f"function_score base query {bk!r} not supported (match, match_all)"
        )
    boost_mode = str(sub.get("boost_mode", "multiply")).lower()
    if boost_mode not in ("multiply", "sum", "replace"):
        raise ValueError(f"unsupported boost_mode {boost_mode!r}")

    fvf = sub.get("field_value_factor")
    fns = list(sub.get("functions") or [])
    if fvf and fns:
        raise ValueError("give field_value_factor OR functions, not both")
    if fvf:
        fld = fvf["field"]
        factor = float(fvf.get("factor", 1.0))
        missing = fvf.get("missing")
        modifier = str(fvf.get("modifier", "none")).lower()
        side = docs.select(F.col(id_col).alias("doc_id"), F.col(fld).alias("_fv"))
        scored = scored.join(side, "doc_id", "left")
        fv = F.col("_fv").cast("double")
        if missing is not None:
            raw = F.coalesce(fv, F.lit(float(missing))) * F.lit(factor)
        else:
            # ES throws for a matched document lacking the field when
            # `missing` is unset; a silent NULL score would just sort the
            # row to the bottom with no signal (ADVICE r05). Raise lazily
            # in-expression — no extra null-count job on the happy path.
            raw = F.when(fv.isNotNull(), fv).otherwise(
                F.raise_error(F.lit(
                    "function_score field_value_factor: a matched document "
                    f"has NULL {fld!r} and 'missing' is unset (ES raises "
                    "here too); set field_value_factor.missing"
                )).cast("double")
            ) * F.lit(factor)
        if modifier == "log1p":
            fn_score = F.log1p(raw)
        elif modifier == "sqrt":
            fn_score = F.sqrt(raw)
        elif modifier == "none":
            fn_score = raw
        else:
            raise ValueError(f"unsupported modifier {modifier!r}")
    else:
        score_mode = str(sub.get("score_mode", "multiply")).lower()
        if score_mode not in ("sum", "multiply", "max"):
            raise ValueError(f"unsupported score_mode {score_mode!r}")
        # evaluate every function's filter in-row on a joined doc side;
        # combine matching weights with array HOFs (no per-function joins)
        doc_side = (
            docs.withColumnRenamed(id_col, "doc_id")
            if id_col != "doc_id"
            else docs
        )
        scored = scored.join(doc_side, "doc_id", "left")
        weights = []
        for i, fn in enumerate(fns):
            w = float(fn.get("weight", 1.0))
            cond = (
                F.coalesce(filter_expr(fn["filter"], "doc_id"), F.lit(False))
                if fn.get("filter")
                else F.lit(True)
            )
            weights.append(F.when(cond, F.lit(w)))
        arr = F.array_compact(F.array(*weights))
        if score_mode == "sum":
            fn_score = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
        elif score_mode == "max":
            fn_score = F.array_max(arr)
        else:
            fn_score = F.aggregate(arr, F.lit(1.0), lambda a, x: a * x)
        # ES: a doc matching NO function keeps its query score unchanged
        # (a sum-mode 0 under boost_mode=multiply must not zero the doc)
        if boost_mode == "multiply":
            final = F.col("score") * fn_score
        elif boost_mode == "sum":
            final = F.col("score") + fn_score
        else:
            final = fn_score
        final = F.when(F.size(arr) == 0, F.col("score")).otherwise(final)
        return (
            scored.select("doc_id", F.round(final, 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    if boost_mode == "multiply":
        final = F.col("score") * fn_score
    elif boost_mode == "sum":
        final = F.col("score") + fn_score
    else:
        final = fn_score
    return (
        scored.select("doc_id", F.round(final, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _boosting_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    k: int,
    chain=None,
    chain_field: str | None = None,
) -> DataFrame:
    """ES ``boosting``: positive-query score, multiplied by
    ``negative_boost`` for docs also matching the negative clause (a
    demotion, not an exclusion — must_not excludes). Positive is scored
    in full: demoted docs can be overtaken by any lower-ranked doc, so a
    pre-truncation would be wrong."""
    (pk, psub), = sub["positive"].items()
    if pk != "match":
        raise ValueError(f"boosting positive {pk!r} not supported (match)")
    nb = float(sub.get("negative_boost", 0.5))
    scored = _match_scores(spark, docs, psub, filters, id_col, rounded=False,
                           chain=chain, chain_field=chain_field)
    neg = docs.filter(
        F.coalesce(filter_expr(sub["negative"], id_col), F.lit(False))
    ).select(F.col(id_col).alias("doc_id"), F.lit(True).alias("_neg"))
    return (
        scored.join(F.broadcast(neg), "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.col("score")
                * F.when(F.col("_neg"), F.lit(nb)).otherwise(F.lit(1.0)),
                4,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _script_score_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    k: int,
    chain=None,
    chain_field: str | None = None,
) -> DataFrame:
    """ES ``script_score``: the base query's score replaced by a script
    over ``_score``, ``doc['field'].value`` and ``params.*`` references —
    compiled by the same no-eval recursive-descent parser as
    bucket_script (``Math.*`` calls in ``_SCRIPT_FUNCS`` supported). The
    base query is scored RAW and in full (the transform re-orders; ES
    likewise disables dynamic pruning), rounded once at the end. ES
    rejects scripts that produce negative scores at runtime; that
    contract is the caller's (documented, not checked per-row).
    """
    base_q = sub.get("query") or {"match_all": {}}
    (bk, bsub), = base_q.items()
    if bk == "match":
        scored = _match_scores(spark, docs, bsub, filters, id_col,
                               rounded=False, chain=chain,
                               chain_field=chain_field)
    elif bk == "match_all":
        scored = docs.filter(
            filter_expr(filters, id_col) if filters else F.lit(True)
        ).select(F.col(id_col).alias("doc_id"), F.lit(1.0).alias("score"))
    else:
        raise ValueError(
            f"script_score base query {bk!r} not supported (match, match_all)"
        )
    script = sub["script"]
    source = script["source"] if isinstance(script, dict) else str(script)
    # doc['field'].value → a joinable column reference; Math.fn → fn
    fields = sorted(set(re.findall(r"doc\['(\w+)'\]\.value", source)))
    src = re.sub(r"doc\['(\w+)'\]\.value", r"f_\1", source)
    src = src.replace("Math.", "")
    params: dict[str, Column] = {"_score": F.col("score")}
    if isinstance(script, dict):
        for p, v in (script.get("params") or {}).items():
            params[p] = F.lit(float(v))
    if fields:
        side = docs.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(f).cast("double").alias(f"f_{f}") for f in fields],
        )
        scored = scored.join(side, "doc_id", "left")
        for f in fields:
            params[f"f_{f}"] = F.col(f"f_{f}")
    expr = _compile_script(src, params)
    return (
        scored.select("doc_id", F.round(expr, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _rank_feature_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    k: int,
) -> DataFrame:
    """ES ``rank_feature``: score a positive numeric feature column.

    - ``saturation``: x / (x + pivot); an omitted pivot defaults to the
      feature's geometric mean over positive values (ES computes the
      same "approximate geometric mean" from index stats) — ONE
      metadata aggregate here.
    - ``log``: ln(scaling_factor + x).
    - ``sigmoid``: x^exp / (x^exp + pivot^exp), both parameters required.

    Matches only docs where the feature is present and > 0 (rank
    features are positive by contract); score × boost, rounded once.
    """
    field = sub["field"]
    boost = float(sub.get("boost", 1.0))
    x = F.col(field).cast("double")
    kinds = [kk for kk in ("saturation", "log", "sigmoid") if kk in sub]
    kind = kinds[0] if kinds else "saturation"
    if len(kinds) > 1:
        raise ValueError(f"rank_feature: give one of {kinds}, not all")
    if kind == "saturation":
        spec = sub.get("saturation") or {}
        pivot = spec.get("pivot")
        if pivot is None:
            row = docs.filter(x > 0).agg(F.avg(F.log(x)).alias("m")).first()
            if row["m"] is None:
                raise ValueError(
                    f"rank_feature: no positive values in {field!r} to "
                    "derive a default pivot from — pass saturation.pivot"
                )
            import math as _math

            pivot = _math.exp(row["m"])
        fn = x / (x + F.lit(float(pivot)))
    elif kind == "log":
        fn = F.log(F.lit(float(sub["log"]["scaling_factor"])) + x)
    else:
        s = sub["sigmoid"]
        pv, ex = float(s["pivot"]), float(s["exponent"])
        fn = F.pow(x, ex) / (F.pow(x, ex) + F.lit(pv ** ex))
    base = docs.filter(filter_expr(filters, id_col)) if filters else docs
    return (
        base.filter(x.isNotNull() & (x > 0))
        .select(
            F.col(id_col).alias("doc_id"),
            F.round(F.lit(boost) * fn, 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _terms_set_topk(
    spark: SparkSession,
    docs: DataFrame,
    sub: dict[str, Any],
    filters: dict[str, Any],
    id_col: str,
    text_col: str,
    k: int,
    index_dir: str | None = None,
) -> DataFrame:
    """ES ``terms_set`` over the analyzed text column: docs containing at
    least N of the given terms, BM25-scored over the matching terms
    (ES scores it as a bool of term queries with minimum_should_match).

    N comes from ``minimum_should_match_field`` (a per-DOC numeric
    column — the ES-native shape) or ``minimum_should_match_script``
    (compiled by the shared no-eval parser; ``params.num_terms`` bound).
    Keyword-array fields aren't in this data model — only the analyzed
    column is supported, loudly.
    """
    from .bm25 import bm25_score_expr
    from .postings import index_inputs, scan_inputs

    (field, spec), = sub.items()
    if field != text_col:
        raise ValueError(
            f"terms_set matches the analyzed column {text_col!r}; got "
            f"field {field!r} (keyword-array fields are not in this data "
            "model)"
        )
    terms = sorted(set(spec["terms"]))
    msm_field = spec.get("minimum_should_match_field")
    msm_script = spec.get("minimum_should_match_script")
    if (msm_field is None) == (msm_script is None):
        raise ValueError(
            "terms_set needs exactly one of minimum_should_match_field / "
            "minimum_should_match_script"
        )
    if index_dir is not None:
        # index-served (r5): decode only the query terms' posting blocks
        si = index_inputs(spark, index_dir, terms=terms)
    else:
        si = scan_inputs(docs, text_col=field, id_col=id_col, terms=terms)
    qterms = spark.createDataFrame([(t,) for t in terms], "term string")
    scored = (
        _in_filter(si.tf, docs, filters, id_col)
        .join(F.broadcast(si.tdf.join(qterms, "term")), "term")
        .join(si.dl, "doc_id")
        .withColumn("_c", bm25_score_expr(si.stats))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("_raw"),
            F.count_distinct("term").alias("_nmatched"),
        )
    )
    if msm_script is not None:
        source = (
            msm_script["source"] if isinstance(msm_script, dict)
            else str(msm_script)
        ).replace("Math.", "")
        need = _compile_script(
            source, {"num_terms": F.lit(len(terms))}
        )
    else:
        side = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(msm_field).cast("long").alias("_msm"),
        )
        scored = scored.join(side, "doc_id", "left")
        need = F.col("_msm")
    out = scored.filter(F.col("_nmatched") >= need).select(
        "doc_id", F.round(F.col("_raw"), 4).alias("score")
    )
    if index_dir is not None:
        from .deletes import filter_deleted

        out = filter_deleted(spark, index_dir, out)
    return (
        out
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _proximity_docs(
    spark: SparkSession,
    docs: DataFrame,
    terms: list[str],
    slop: int,
    in_order: bool,
    id_col: str,
    text_col: str,
    index_dir: str | None = None,
    chain=None,
    serve: str = "index",
) -> DataFrame:
    """Doc-ids where the (distinct) terms co-occur within a window —
    the shared engine for ``span_near`` and ``intervals.match``.

    in_order: positions strictly increasing with total gaps ≤ slop
    (p_last − p_first − (n−1) ≤ slop); unordered: the minimal window
    containing all terms has gaps ≤ slop (max − min − (n−1) ≤ slop).
    An n-way positional self-join — the positional-index analogue of
    Lucene's SpanNearQuery — whose legs explode the ``positions``
    scoring input: with ``index_dir`` one pushdown-pruned decode of
    just these terms' blocks, otherwise the scan inputs' one tokenize
    pass (``serve="scan"`` forces it with ``index_dir`` kept for chain
    + tombstone fidelity). With ``chain`` the scan side analyzes
    through the index's analysis chain, keeping stop-GAPPED positions
    so slop windows agree with the chained index exactly.
    """
    from .postings import index_positions, scan_inputs

    if len(set(terms)) != len(terms):
        raise ValueError(
            "span_near/intervals with repeated terms is not supported "
            f"(got {terms})"
        )
    if len(terms) < 2:
        raise ValueError("span_near/intervals needs at least two terms")
    if index_dir is not None and serve != "scan":
        pos = index_positions(spark, index_dir, terms)
    else:
        pos = scan_inputs(docs, text_col=text_col, id_col=id_col, chain=chain,
                          phrase_words=terms).positions
    legs = [
        pos.filter(F.col("term") == t).select(
            "doc_id", F.explode("positions").alias(f"p{i}")
        )
        for i, t in enumerate(terms)
    ]
    joined = legs[0]
    for leg in legs[1:]:
        joined = joined.join(leg, "doc_id")
    n = len(terms)
    ps = [F.col(f"p{i}") for i in range(n)]
    if in_order:
        cond = F.lit(True)
        for a, b in zip(ps, ps[1:]):
            cond = cond & (a < b)
        cond = cond & (ps[-1] - ps[0] - F.lit(n - 1) <= F.lit(int(slop)))
    else:
        cond = (
            F.greatest(*ps) - F.least(*ps) - F.lit(n - 1) <= F.lit(int(slop))
        )
    out = joined.filter(cond).select("doc_id").distinct()
    if index_dir is not None:
        from .deletes import filter_deleted

        out = filter_deleted(spark, index_dir, out)
    return out


_RUNTIME_TYPES = {
    "double": "double", "long": "long", "keyword": "string",
    "boolean": "boolean", "date": "timestamp",
}


def _apply_runtime_mappings(docs: DataFrame, rt: dict[str, Any]) -> DataFrame:
    """ES ``runtime_mappings``: each entry becomes a derived column.

    The painless subset matches script_score: ``doc['field'].value``
    references, ``params.*``, arithmetic/comparisons and ``Math.*`` —
    with the conventional ``emit(...)`` wrapper unwrapped (runtime-field
    scripts emit exactly one value per doc here; multi-emit fields are
    out of scope). Compiled by ``_compile_script`` → one Catalyst
    expression per field, no join (the field computes on its own row).
    """
    for fname, spec in rt.items():
        script = spec.get("script")
        src = script["source"] if isinstance(script, dict) else str(script)
        m = re.fullmatch(r"\s*emit\((.*)\)\s*;?\s*", src, re.S)
        if m:
            src = m.group(1)
        fields = sorted(set(re.findall(r"doc\['([\w.]+)'\]\.value", src)))
        src = re.sub(
            r"doc\['([\w.]+)'\]\.value",
            lambda mm: "f_" + mm.group(1).replace(".", "__"),
            src,
        ).replace("Math.", "")
        params: dict[str, Column] = {}
        if isinstance(script, dict):
            for p, v in (script.get("params") or {}).items():
                params[p] = F.lit(float(v))
        for f in fields:
            params["f_" + f.replace(".", "__")] = F.col(f).cast("double")
        typ = _RUNTIME_TYPES.get(spec.get("type", "double"))
        if typ is None:
            raise ValueError(
                f"runtime field {fname!r}: unsupported type {spec.get('type')!r}"
            )
        docs = docs.withColumn(fname, _compile_script(src, params).cast(typ))
    return docs


def search(
    spark: SparkSession,
    docs: DataFrame,
    body: dict[str, Any],
    index_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lookups: dict[str, DataFrame] | None = None,
    ann_index_dir: str | None = None,
    routing: list | str | None = None,
) -> DataFrame:
    """``es.search(body=...)`` analogue over a documents-shaped table.

    ``routing=`` (ES ``?routing=`` query param): on an index built with
    ``build_index(routing_field=...)``, prune the search to the routing
    keys' shards — wand.topk(routing=...) never opens the other shards'
    posting files. Served paths only (a match on the indexed column,
    with or without filters): anything else refuses loudly rather than
    silently scan every shard.

    Relevance (``match`` on ``text_col``) rides the compressed index
    when ``index_dir`` is given: block-max WAND (``wand.topk``) with
    either operator, with or without filters. Filters and the
    ``operator: "and"`` conjunction restrict the candidates
    (``topk(allowed=...)``; the conjunction from ``wand.match_docs``)
    while scores keep the index's global stats (ES filter context). The
    served match scores the INDEX's live doc set: tombstones drop,
    appended generations count, and ``docs`` supplies only the filter
    columns and the returned fields. Pure filters return the matching
    rows; ``aggs`` return aggregation rows (``size: 0`` bodies, as the
    reference always uses for aggs), a lone indexed match taking its
    doc set from ``wand.match_docs``. ``knn`` bodies ride a built ANN
    index (similarity.build_ivf_index / build_ann_index) when
    ``ann_index_dir`` is given — the same indexed-serving posture
    ``index_dir`` gives text.

    SCALE WARNING: only a ``match`` on a field other than the indexed
    ``text_col``, or one with no ``index_dir``, scans. That is correct
    ES-parity behavior for an unmapped field, but it scores from raw
    token arrays at query time — a full corpus scan PER QUERY. At 100 TB
    that is an anti-pattern: build an index over the field you search
    (``build.build_index``) so ``match`` serves from compressed
    postings (VERDICT r04 "What's wrong" #4).
    """
    if "query" in body and body["query"]:
        resolved = _resolve_terms_lookups(
            spark, docs, body["query"], id_col, lookups
        )
        if resolved != body["query"]:
            body = {**body, "query": resolved}
    if body.get("runtime_mappings"):
        # ES runtime fields: script-derived columns visible to the query,
        # aggs and sort of THIS search — withColumn over the same no-eval
        # script parser, so the derived expression stays inside
        # whole-stage codegen (never a Python UDF).
        docs = _apply_runtime_mappings(docs, body["runtime_mappings"])
    _check_body(body, routing)
    if "knn" in body:
        return _knn_search(spark, docs, body, id_col, ann_index_dir)
    if body.get("pit") is not None:
        return _pit_search(spark, body, index_dir, text_col)
    if "aggs" in body:
        return _aggs_search(spark, docs, body, index_dir, text_col, id_col)
    scoring, filters = _split_scoring(body.get("query"))
    if routing is not None and (scoring is None or "match" not in scoring):
        raise ValueError(
            "routing= supports the index-served plain match path (build "
            "the index with routing_field= and query match on its column)"
        )
    if body.get("post_filter") is not None:
        # merge into filter context (see _check_body for why this is
        # hit- and score-identical to ES's post-scoring filter here)
        both = [qy for qy in (filters, body["post_filter"]) if qy]
        filters = both[0] if len(both) == 1 else {"bool": {"filter": both}}
    if scoring is not None:
        return _scored_page(
            spark, docs, body, scoring, filters, index_dir, text_col, id_col,
            routing,
        )
    return _filter_page(docs, body, filters, id_col)


def _check_body(body: dict[str, Any], routing) -> None:
    """Refuse the section combinations ``search`` cannot honour: each
    would otherwise be silently dropped, a wrong answer."""
    aggs = "aggs" in body
    pit = body.get("pit") is not None
    if "aggregations" in body:
        raise ValueError(
            "put the search body's aggregations under 'aggs' "
            "('aggregations' is not supported)"
        )
    if routing is not None and (aggs or "knn" in body or pit):
        raise ValueError(
            "routing= serves the indexed match path — aggs/knn/pit "
            "searches don't take routing"
        )
    if "knn" in body and (aggs or body.get("track_total_hits")):
        # the knn section answers alone (knn DOES honor min_score)
        raise ValueError(
            "knn search does not support aggs/track_total_hits here — "
            "run the aggregation as its own request over the knn hits"
        )
    if pit and (
        aggs or body.get("min_score") is not None or body.get("track_total_hits")
    ):
        raise ValueError(
            "pit search supports the plain as-of match page — "
            "aggs/min_score/track_total_hits are not applied to pit "
            "results (refusing rather than silently ignoring them)"
        )
    if body.get("post_filter") is not None:
        # ES post_filter: restricts HITS without touching aggs or scores.
        # Aggs bodies here are size:0 (no hits), so a post_filter there
        # would silently do nothing — refuse. For hit-returning queries
        # it merges into filter context: identical hits AND scores
        # (filter context never shifts BM25 stats — corpus stats stay
        # unfiltered), and no aggs exist in that path to diverge.
        if aggs:
            raise ValueError(
                "post_filter with a size:0 aggs body has no effect (aggs "
                "ignore post_filter and no hits are returned) — put the "
                "condition in the query's bool.filter instead"
            )
        if "knn" in body or pit:
            raise ValueError("post_filter is not supported with knn/pit "
                             "search (knn takes a pre-filter)")
    if aggs and (body.get("min_score") is not None or body.get("track_total_hits")):
        # ES applies min_score to the docs FEEDING the aggs; the aggs
        # section would silently ignore it
        raise ValueError(
            "min_score/track_total_hits with an aggs body is not "
            "supported — filter the scored doc set explicitly (ES "
            "applies min_score to the docs feeding aggregations)"
        )


def _knn_search(spark, docs, body, id_col, ann_index_dir) -> DataFrame:
    """ES knn search section. With ``ann_index_dir``: approximate serving
    from a built ANN index (similarity.ann_topk — IVF or LSH,
    partition-pruned probes, live tombstones), num_candidates sizing the
    probe set exactly as ES sizes its candidate pool; probing everything
    reproduces the exact path over the live set (parity-gated in
    tests/test_similarity.py). Without it: exact cosine top-k (the
    brute-force baseline and the DuckDB oracle twin), num_candidates
    accepted and ignored. ``filter`` is a PRE-filter in both paths, as in
    ES. Score = (1+cosine)/2, the documented ES transform for cosine
    similarity."""
    from .similarity import _dot, _norm

    knn = body["knn"]
    qv = [float(x) for x in knn["query_vector"]]
    k = int(knn.get("k", body.get("size", 10)))
    flt_clauses = _as_list(knn.get("filter"))
    cond = None
    if flt_clauses:
        cond = F.lit(True)
        for c in flt_clauses:
            cond = cond & F.coalesce(filter_expr(c, id_col), F.lit(False))
    vec_field = knn["field"]
    if ann_index_dir is not None:
        from .similarity import ann_candidates

        base, vec_field = ann_candidates(
            spark, ann_index_dir, qv, k=k,
            num_candidates=(
                int(knn["num_candidates"])
                if knn.get("num_candidates") is not None else None
            ),
            nprobe=knn.get("nprobe"),
            probe_hamming=knn.get("probe_hamming"),
            id_col=id_col,
            vec_col=vec_field,
            pre_filter=cond,
        )
    else:
        base = docs if cond is None else docs.filter(cond)
    q = F.array(*[F.lit(x) for x in qv])
    vec = F.transform(F.col(vec_field), lambda x: x.cast("double"))
    sim = _dot(vec, q) / (_norm(vec) * _norm(q))
    score = (F.lit(1.0) + sim) / F.lit(2.0)
    scored = base.select(F.col(id_col), F.round(score, 4).alias("score"))
    if body.get("min_score") is not None:
        # applied BEFORE the limit, so the page backfills with the next
        # above-threshold hits exactly as ES does
        scored = scored.filter(F.col("score") >= F.lit(float(body["min_score"])))
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def _pit_search(spark, body, index_dir, text_col) -> DataFrame:
    """ES point-in-time search: results pinned to the index state the PIT
    captured, surviving later appends. The PIT id encodes the generation
    count at open_pit() time; relevance serves through
    timetravel.topk_as_of (as-of dfs/stats from the generation subset).
    Subset: one plain match on the indexed column."""
    from .timetravel import topk_as_of

    if index_dir is None:
        raise ValueError("pit search needs the index_dir the pit was "
                         "opened on")
    g = _parse_pit(body["pit"]["id"])
    scoring, filters = _split_scoring(body.get("query"))
    if scoring is None or "match" not in scoring:
        raise ValueError(
            "pit search supports a plain match query on the indexed "
            "column (the as-of scorer)"
        )
    if filters and any(
        _as_list(filters.get("bool", {}).get(k))
        for k in ("must", "filter", "should", "must_not")
    ):
        raise ValueError(
            "pit search does not support filters (deletes already "
            "apply; as-of scoring is index-served)"
        )
    fld, txt, _ = _clause_text(scoring["match"])
    if fld != text_col:
        raise ValueError(
            f"pit match scores the indexed column {text_col!r}; got "
            f"{fld!r}"
        )
    return topk_as_of(
        spark, index_dir, txt, k=int(body.get("size", 10)), generations=g
    )


def _aggs_search(spark, docs, body, index_dir, text_col, id_col) -> DataFrame:
    qd = body.get("query", {}) or {}
    base = _parent_child_query(docs, qd, id_col)
    served = _indexed_match(qd, index_dir, text_col) if base is None else None
    if served is not None:
        # Faceted search (aggs restricted by a text query) — the ES hot
        # path. The match's doc set comes from the index's postings
        # (wand.match_docs) and semi-joins into docs, instead of
        # tokenizing the whole corpus per request. Aggregation itself is
        # unchanged; only the candidate set comes cheaper.
        from .wand import match_docs

        hits = match_docs(spark, index_dir, *served)
        base = docs.join(
            hits.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
        )
    if base is None:
        base = docs.filter(filter_expr(qd, id_col))
    # background = the UNFILTERED table: significant_terms contrasts the
    # query's foreground set against it (ES background set)
    return _aggs(base, body["aggs"], id_col=id_col, background=docs, text_col=text_col)


def _clause_text(sub: dict) -> tuple[str, str, dict]:
    """(field, query text, options) of a ``{field: text}`` or
    ``{field: {"query": text, ...}}`` clause body."""
    (field, text), = sub.items()
    if isinstance(text, dict):
        return field, text["query"], text
    return field, text, {}


def _filter_page(docs, body, filters, id_col) -> DataFrame:
    """The hits of a filter-context query: sorted, paged, projected."""
    if body.get("highlight"):
        # ES highlights filter-context hits too, but the tags would wrap
        # FILTER terms (exact keyword values), which is rarely what a
        # search UI wants — require a scoring clause so the highlighted
        # terms are the analyzed relevance terms
        raise ValueError(
            "highlight requires a scoring clause (match / match_phrase / "
            "multi_match)"
        )
    out = _parent_child_query(docs, filters, id_col)
    if out is None:
        out = docs.filter(filter_expr(filters, id_col))
    if len(filters) == 1 and "nested" in filters \
            and filters["nested"].get("inner_hits") is not None:
        # ES inner_hits: return WHICH nested objects matched, not just
        # the parent. The same element predicate that drove the exists()
        # match re-runs as a `filter` HOF over the array — still no
        # explode, the matched sub-objects come back as an array column
        # named after inner_hits.name (default: the path).
        nb = filters["nested"]
        ih_name = (nb.get("inner_hits") or {}).get("name") or nb["path"]
        out = out.withColumn(
            ih_name if ih_name != nb["path"] else f"inner_hits_{ih_name}",
            F.filter(
                F.col(nb["path"]),
                _nested_elem_pred(nb["path"], nb["query"], id_col),
            ),
        )
    if body.get("min_score") is not None:
        # ES filter context scores every hit a constant — min_score over
        # constants either keeps everything or nothing; almost certainly
        # a mis-written request
        raise ValueError(
            "min_score needs a scoring query (filter-context hits carry "
            "no scores)"
        )
    if body.get("track_total_hits"):
        # ES hits.total, as a column on every returned row: the count of
        # ALL query matches, computed BEFORE search_after/from/size so
        # every page of one query reports the same total. A 1-row
        # broadcast join, not a window over a single partition — the
        # per-row attach stays embarrassingly parallel at any corpus
        # size. ES's integer form (a lower-bound cap) is deliberately
        # not supported: any truthy value tracks exactly.
        total = out.agg(F.count(F.lit(1)).alias("total_hits"))
        out = out.crossJoin(total.hint("broadcast"))
    sort_cols = _sort_cols(body.get("sort"))
    if sort_cols:
        # ONE orderBy with all keys: chained orderBy calls each REPLACE the
        # previous Sort, silently keeping only the last field (ADVICE r02)
        out = out.orderBy(*sort_cols)
    after = body.get("search_after")
    if after is not None:
        # ES search_after keyset pagination — the scale path (from/size
        # re-sorts and skips `from` rows on every page; search_after is
        # a pushdown-able predicate on the sort key). Strictly-after in
        # lexicographic sort order: (s1 after v1) OR (s1 = v1 AND s2
        # after v2) OR ...
        if not sort_cols:
            raise ValueError("search_after requires a sort")
        if len(after) != len(sort_cols):
            # ES rejects this request; a silent zip-truncate would weaken
            # the keyset predicate and duplicate rows across pages
            # (ADVICE r03 #3)
            raise ValueError(
                f"search_after has {len(after)} values but sort has "
                f"{len(sort_cols)} keys — they must match"
            )
        cond = F.lit(False)
        eqs = F.lit(True)
        for s, v in zip(_as_list(body.get("sort")), after):
            field, order = _sort_spec(s)
            col = F.col(field)
            strict = col < F.lit(v) if order == "desc" else col > F.lit(v)
            cond = cond | (eqs & strict)
            eqs = eqs & (col == F.lit(v))
        out = out.filter(cond)
    offset = int(body.get("from", 0))
    if offset:
        # ES from/size pagination. Deterministic only under a sort, same
        # as ES itself; Catalyst plans offset+limit as one GlobalLimit.
        out = out.offset(offset)
    out = out.limit(int(body.get("size", 10)))
    src = body.get("_source")
    if isinstance(src, list) and src:
        # a requested total must never be silently projected away: ES
        # returns hits.total OUTSIDE _source, so the column rides along
        # even when the _source list omits it
        if body.get("track_total_hits") and "total_hits" not in src:
            src = [*src, "total_hits"]
        out = out.select(*src)
    return out


# Scoring clauses whose highlight terms would be ambiguous: the terms
# differ across subqueries / score transforms (the compound kinds and
# script_score), per doc across boolean branches (query_string), or are
# expansions of a typed prefix (match_bool_prefix, match_phrase_prefix).
_NO_HIGHLIGHT = frozenset({
    "dis_max", "constant_score", "boosting", "function_score", "script_score",
    "query_string", "match_bool_prefix", "match_phrase_prefix",
})


def _scored_page(
    spark, docs, body, scoring, filters, index_dir, text_col, id_col, routing
) -> DataFrame:
    if body.get("track_total_hits"):
        # a scoring top-k never enumerates the full match set; ES itself
        # makes exact totals an opt-in extra cost. Use a filter-context
        # query (exact total attached per row) or dsl.count()
        # (index-served) for the number.
        raise ValueError(
            "track_total_hits is supported for filter-context queries "
            "— for a scoring query run dsl.count() for the exact total"
        )
    if body.get("sort") or body.get("search_after") is not None:
        # ES would sort ALL matching docs by the sort key (relevance
        # discarded); that is a filter query here, not a top-k — fail
        # loudly rather than return a silently mis-ordered page
        raise ValueError(
            "sort/search_after with a scoring (match) query is not "
            "supported — use a filter query with sort, or take the "
            "relevance-ranked page via from/size"
        )
    s = _Scored(spark, docs, body, filters, index_dir, text_col, id_col, routing)
    (kind, sub), = scoring.items()
    if body.get("highlight") and kind in _NO_HIGHLIGHT:
        raise ValueError(f"highlight is not supported with {kind}")
    if body.get("collapse") is not None or body.get("rescore") is not None:
        if kind != "match":
            raise ValueError(
                "collapse/rescore support a plain match scoring clause"
            )
        if body.get("collapse") is not None:
            return _collapse(s, sub)
        return _rescore(s, sub)
    return _SCORERS[kind](s, sub)


class _Scored:
    """One scored search request: what every scorer reads, and the page
    it returns."""

    def __init__(self, spark, docs, body, filters, index_dir, text_col, id_col, routing):
        self.spark, self.docs, self.body, self.filters = spark, docs, body, filters
        self.index_dir, self.text_col, self.id_col = index_dir, text_col, id_col
        self.routing = routing
        self.offset = int(body.get("from", 0))
        self.k = self.offset + int(body.get("size", 10))
        # ONE stats.json parse per search: every scoring path that
        # touches the analyzed column needs the index's chain (compound
        # scorers must analyze exactly like plain match — review r6)
        self.chain = _index_chain(index_dir)

    def page(
        self,
        scored: DataFrame,
        hl_terms: list[str] | None = None,
        hl_phrase: bool = False,
    ) -> DataFrame:
        body, docs, id_col = self.body, self.docs, self.id_col
        if body.get("min_score") is not None:
            # every relation reaching page() is a score-desc-ordered
            # prefix (top offset+size); score ≥ m selects a PREFIX of
            # that ordering, so filtering after the scorer's truncation
            # equals ES's filter-then-paginate for the requested page.
            # Compared on the rounded tie surface the scorers already
            # emit (cross-engine-stable).
            if "score" not in scored.columns:
                raise ValueError(
                    "min_score needs a scored query — this clause "
                    "pages by doc_id without scores"
                )
            scored = scored.filter(
                F.col("score") >= F.lit(float(body["min_score"]))
            )
        out = scored.offset(self.offset) if self.offset else scored
        hl = body.get("highlight") or {}
        hl_fields = list((hl.get("fields") or {}).keys()) if hl_terms else []
        src = body.get("_source")
        want_src = src if isinstance(src, list) and src else None
        need = set(hl_fields) | set(want_src or [])
        missing = [c for c in need if c not in scored.columns]
        if missing:
            # the scorer carries doc_id+score only: join the document
            # fields back, re-establishing the relevance order the join
            # loses
            out = out.join(docs.select(id_col, *missing), id_col)
            if "score" in scored.columns:
                out = out.orderBy(F.desc("score"), F.asc(id_col))
        hl_cols = []
        for fld in hl_fields:
            from .highlight import highlight_expr

            fspec = hl["fields"][fld] or {}
            out = out.withColumn(
                f"highlight_{fld}",
                highlight_expr(
                    fld,
                    hl_terms,
                    pre_tag=(hl.get("pre_tags") or ["<em>"])[0],
                    post_tag=(hl.get("post_tags") or ["</em>"])[0],
                    number_of_fragments=int(fspec.get("number_of_fragments", 0)),
                    fragment_size=int(fspec.get("fragment_size", 100)),
                    phrase=hl_phrase,
                ),
            )
            hl_cols.append(f"highlight_{fld}")
        if want_src:
            out = out.select(*want_src, *hl_cols)
        elif hl_cols:
            out = out.select(*scored.columns, *hl_cols)
        return out

    def doc_page(self, hits: DataFrame, **hl) -> DataFrame:
        """Filter-shaped clauses (phrase, proximity): the matching docs
        paged in doc_id order (ES orders them by score; an unordered
        limit/offset would give overlapping / skipping pages across
        jobs)."""
        out = self.docs.join(hits, self.id_col, "left_semi").filter(
            filter_expr(self.filters, self.id_col)
        )
        return self.page(out.orderBy(self.id_col).limit(self.k), **hl)


def _collapse(s: _Scored, sub) -> DataFrame:
    # ES field collapsing: keep each collapse-key's single best hit
    # (score desc, doc_id asc), then the global top-k over the survivors.
    # One window over the full scored relation — collapsing AFTER a
    # k-truncation would under-fill the page whenever a key repeats. No
    # score transform, so the rounded relation is the tie surface AND the
    # output, exactly like plain match.
    from .analyze import tokenize_text

    scored_all = _match_scores(s.spark, s.docs, sub, s.filters, s.id_col,
                               chain=s.chain, chain_field=s.text_col)
    cfield = s.body["collapse"]["field"]
    side = s.docs.select(
        F.col(s.id_col).alias("doc_id"), F.col(cfield).alias("_ckey")
    )
    w = Window.partitionBy("_ckey").orderBy(F.desc("score"), F.asc("doc_id"))
    best = (
        scored_all.join(side, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return s.page(
        best.select("doc_id", "score", F.col("_ckey").alias(cfield))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(s.k),
        hl_terms=tokenize_text(_clause_text(sub)[1]),
    )


def _rescore(s: _Scored, sub) -> DataFrame:
    # ES rescore: re-rank only the top window_size hits of the base query
    # with qw·base + rw·rescore_query score; hits outside the window keep
    # their base order below. Pages are served from the re-sorted window
    # only, so size (+from) must fit inside it — refuse rather than
    # silently mix re-scored and un-rescored tails.
    from .analyze import tokenize_text

    rs = s.body["rescore"]
    window_size = int(rs.get("window_size", 10))
    rq = rs["query"]
    qw = float(rq.get("query_weight", 1.0))
    rw = float(rq.get("rescore_query_weight", 1.0))
    (rk, rsub), = rq["rescore_query"].items()
    if rk != "match":
        raise ValueError(f"rescore_query {rk!r} not supported (match)")
    if s.k > window_size:
        raise ValueError(
            f"from+size ({s.k}) exceeds rescore window_size ({window_size})"
        )
    # window membership is decided on the ROUNDED tie surface
    # (cross-engine-stable), but the combined score is computed from the
    # RAW base/rescore sums and rounded once
    raw_all = _match_scores(
        s.spark, s.docs, sub, s.filters, s.id_col, rounded=False,
        chain=s.chain, chain_field=s.text_col,
    )
    window = (
        raw_all.orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
        .limit(window_size)
        .withColumnRenamed("score", "_base")
    )
    resc = _match_scores(
        s.spark, s.docs, rsub, s.filters, s.id_col, rounded=False,
        chain=s.chain, chain_field=s.text_col,
    )
    combined = window.join(
        resc.withColumnRenamed("score", "_resc"), "doc_id", "left"
    ).select(
        "doc_id",
        F.round(
            F.lit(qw) * F.col("_base")
            + F.lit(rw) * F.coalesce(F.col("_resc"), F.lit(0.0)),
            4,
        ).alias("score"),
    )
    return s.page(
        combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(s.k),
        hl_terms=tokenize_text(_clause_text(sub)[1]),
    )


# scoring clause kind → scorer(_Scored, clause body) -> page
_SCORERS: dict[str, Callable] = {}


def _scorer(*kinds: str):
    def deco(fn):
        for k in kinds:
            _SCORERS[k] = fn
        return fn

    return deco


@_scorer("dis_max")
def _score_dis_max(s, sub):
    return s.page(_dis_max_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                                k=s.k, chain=s.chain, chain_field=s.text_col))


@_scorer("constant_score")
def _score_constant(s, sub):
    return s.page(
        _sub_scores(s.spark, s.docs, {"constant_score": sub}, s.filters,
                    s.id_col, chain=s.chain, chain_field=s.text_col)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(s.k)
    )


@_scorer("boosting")
def _score_boosting(s, sub):
    return s.page(_boosting_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                                 k=s.k, chain=s.chain, chain_field=s.text_col))


@_scorer("function_score")
def _score_function(s, sub):
    return s.page(_function_score_topk(
        s.spark, s.docs, sub, s.filters, s.id_col, k=s.k,
        chain=s.chain, chain_field=s.text_col,
    ))


@_scorer("multi_match")
def _score_multi_match(s, sub):
    from .analyze import tokenize_text

    return s.page(
        _multi_match_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                          s.text_col, k=s.k, chain=s.chain),
        hl_terms=tokenize_text(sub["query"]),
    )


@_scorer("combined_fields")
def _score_combined_fields(s, sub):
    from .analyze import tokenize_text

    return s.page(
        _combined_fields_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                              s.text_col, k=s.k, chain=s.chain),
        hl_terms=tokenize_text(sub["query"]),
    )


@_scorer("script_score")
def _score_script(s, sub):
    return s.page(_script_score_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                                     k=s.k, chain=s.chain, chain_field=s.text_col))


@_scorer("rank_feature")
def _score_rank_feature(s, sub):
    return s.page(_rank_feature_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                                     k=s.k))


@_scorer("terms_set")
def _score_terms_set(s, sub):
    return s.page(_terms_set_topk(s.spark, s.docs, sub, s.filters, s.id_col,
                                  s.text_col, index_dir=s.index_dir, k=s.k))


@_scorer("span_near")
def _score_span_near(s, sub):
    terms = []
    for cl in sub.get("clauses") or []:
        (ck, cs), = cl.items()
        if ck != "span_term":
            raise ValueError(f"span_near clause {ck!r} not supported (span_term)")
        (fld, val), = cs.items()
        if fld != s.text_col:
            raise ValueError(
                f"span_term matches the analyzed column {s.text_col!r}; "
                f"got {fld!r}"
            )
        terms.append(val if isinstance(val, str) else val["value"])
    # span_term values stay VERBATIM over a chained index (ES parity —
    # span_term is a term-level query against the index vocabulary, so
    # users pass already-stemmed terms; a surface form or stopword simply
    # matches nothing). "serve" is a non-ES extension key
    # (query_string convention): force the scan twin of an index-served
    # proximity query.
    return _proximity_page(s, terms, int(sub.get("slop", 0)),
                           bool(sub.get("in_order", True)),
                           sub.get("serve", "index"))


@_scorer("intervals")
def _score_intervals(s, sub):
    from .analyze import tokenize_text

    (fld, ispec), = sub.items()
    if fld != s.text_col:
        raise ValueError(
            f"intervals matches the analyzed column {s.text_col!r}; got {fld!r}"
        )
    if "match" not in ispec:
        raise ValueError(
            "intervals subset: the 'match' rule (all_of/any_of/"
            "prefix rules are not supported)"
        )
    m = ispec["match"]
    # intervals.match analyzes its query with the search analyzer (ES
    # parity): over a chained index the chain maps stems/synonyms and
    # DROPS stopwords — doc-side gap counting then runs over the index's
    # stop-GAPPED positions, so "hold the data" max_gaps=0 does NOT match
    # its own source text (the classic Lucene stop-filter gotcha,
    # reproduced deliberately)
    terms = s.chain.tokens(m["query"]) if s.chain else tokenize_text(m["query"])
    slop = int(m.get("max_gaps", -1))
    if slop < 0:
        # ES default max_gaps=-1 = unlimited; that is a bag-of-words AND,
        # which `match operator=and` already serves
        raise ValueError(
            "intervals.match needs max_gaps >= 0 (unlimited-gap "
            "matching is just match operator=and)"
        )
    return _proximity_page(s, terms, slop, bool(m.get("ordered", False)),
                           m.get("serve", "index"))


def _proximity_page(s, terms, slop, in_order, serve) -> DataFrame:
    # filter-shaped proximity clauses (Lucene's span/interval scores are
    # proximity-weighted and are not reproduced here). Both sides walk
    # the index's stop-GAPPED positions, exactly Lucene's SpanNearQuery
    # over a position-increment-preserving stop filter; the scan twin
    # reproduces those positions via scan_inputs(chain=...).positions.
    hits = _proximity_docs(
        s.spark, s.docs, terms, slop, in_order, s.id_col, s.text_col,
        index_dir=s.index_dir, chain=s.chain, serve=serve,
    )
    return s.doc_page(hits.withColumnRenamed("doc_id", s.id_col))


@_scorer("match_bool_prefix")
def _score_match_bool_prefix(s, sub):
    from .analyze import tokenize_text
    from .querystring import MUST, SHOULD, Clause, Group, Leaf, execute_tree

    fld, qtext, opts = _clause_text(sub)
    if fld != s.text_col:
        raise ValueError(
            f"match_bool_prefix matches the analyzed column "
            f"{s.text_col!r}; got field {fld!r}"
        )
    words = tokenize_text(qtext)
    if not words:
        raise ValueError("match_bool_prefix: empty query")
    operator = str(opts.get("operator", "or")).lower()
    occur = MUST if operator == "and" else SHOULD
    clauses = [Clause(occur, Leaf("term", fld, w)) for w in words[:-1]]
    clauses.append(Clause(occur, Leaf("prefix", fld, words[-1])))
    # ES match_bool_prefix IS a bool query of term clauses + one prefix
    # clause on the final (possibly mid-type) term — executed on the
    # shared boolean-tree engine (querystring.py)
    return s.page(execute_tree(
        s.spark, s.docs, Group(clauses), s.filters, s.id_col, s.text_col,
        k=s.k, index_dir=s.index_dir,
    ))


@_scorer("query_string")
def _score_query_string(s, sub):
    from .querystring import query_string_topk

    return s.page(query_string_topk(
        s.spark, s.docs, sub, s.filters, s.id_col, s.text_col,
        k=s.k, index_dir=s.index_dir,
    ))


@_scorer("simple_query_string")
def _score_simple_query_string(s, sub):
    out, sterms = _sqs_topk(
        s.spark, s.docs, sub, s.filters, s.id_col, s.text_col,
        k=s.k, index_dir=s.index_dir,
    )
    return s.page(out, hl_terms=sterms or None)


def _phrase_field(kind: str, s: _Scored, field: str) -> None:
    if s.index_dir is None:
        raise ValueError(f"{kind} needs a built index (phrase.py)")
    if field != s.text_col:
        raise ValueError(
            f"{kind} matches the indexed column {s.text_col!r}; got field "
            f"{field!r} (build an index over it)"
        )


@_scorer("match_phrase_prefix")
def _score_match_phrase_prefix(s, sub):
    from .phrase import phrase_prefix_docs

    field, text, opts = _clause_text(sub)
    _phrase_field("match_phrase_prefix", s, field)
    return s.doc_page(phrase_prefix_docs(
        s.spark, s.index_dir, text,
        max_expansions=int(opts.get("max_expansions", 50)),
    ))


@_scorer("match_phrase")
def _score_match_phrase(s, sub):
    from .analyze import tokenize_text
    from .phrase import phrase_docs

    field, text, _ = _clause_text(sub)
    _phrase_field("match_phrase", s, field)
    # Highlighting: default grammar marks the literal contiguous phrase;
    # over a CHAINED index the hit text may carry stem/synonym variants
    # and stop-gap words the literal pattern cannot represent, so
    # chain-verified surface forms are marked term-wise instead (ES's
    # re-analyzing highlighter marks the same tokens).
    if s.chain is not None:
        hl = {"hl_terms": _hl_terms_for(s.index_dir, text, chain=s.chain)}
    else:
        hl = {"hl_terms": tokenize_text(text), "hl_phrase": True}
    return s.doc_page(phrase_docs(s.spark, s.index_dir, text), **hl)


@_scorer("match")
def _score_match(s, sub):
    # match → BM25 top-k (deep enough for the requested page). ES scores
    # the field NAMED in the clause; the compressed index covers
    # text_col, any other field takes the exact join scorer.
    field, text, opts = _clause_text(sub)
    operator = str(opts.get("operator", "or")).lower()
    if operator not in ("or", "and"):
        raise ValueError(f"match operator {operator!r} (use 'or' or 'and')")
    # ES filter-context semantics: corpus stats / dfs / avgdl come from
    # the UNFILTERED corpus; the filter and the operator=and conjunction
    # only restrict the candidate set (ADVICE r02 — stats over the
    # filtered set shifted idf/avgdl and diverged from ES). A conjunction
    # keeps scores: BM25 sums the same contributions; a term absent from
    # the corpus yields zero hits, as in ES.
    if s.index_dir is not None and field == s.text_col:
        from .wand import match_docs, topk

        allowed = None
        if s.filters:
            allowed = s.docs.filter(filter_expr(s.filters, s.id_col)).select(
                F.col(s.id_col).alias("doc_id")
            )
        if operator == "and":
            have_all = match_docs(
                s.spark, s.index_dir, _index_query_terms(s.index_dir, text),
                conjunctive=True,
            )
            allowed = have_all if allowed is None else allowed.join(
                have_all, "doc_id", "left_semi"
            )
        return s.page(
            topk(s.spark, s.index_dir, text, k=s.k,
                 routing=s.routing, allowed=allowed),
            hl_terms=_hl_terms_for(s.index_dir, text, chain=s.chain),
        )
    if s.routing is not None:
        raise ValueError(
            "routing= needs the index-served match path (a match on "
            "the indexed column) — this request would scan every shard"
        )
    from .analyze import tokenize_text
    from .bm25 import bm25_topk
    from .postings import scan_inputs

    # no index over this field: score from the raw token arrays
    qterms = sorted(set(tokenize_text(text)))
    si = scan_inputs(s.docs, text_col=field, id_col=s.id_col, terms=qterms)
    cand = _in_filter(si.tf, s.docs, s.filters, s.id_col)
    if operator == "and":
        cand = cand.join(_having_all(si.tf, qterms), "doc_id", "left_semi")
    return s.page(
        bm25_topk(s.spark, cand, si.dl, si.tdf, si.stats, text, k=s.k),
        hl_terms=tokenize_text(text),
    )


def multi_index_topk(
    spark: SparkSession,
    indexes: dict[str, tuple[str, float]],
    query: str,
    k: int = 10,
) -> DataFrame:
    """ES multi-index search (``GET /idx1,idx2/_search``) with
    ``indices_boost``: each index scores the query with its OWN corpus
    statistics (per-index dfs/avgdl — exactly ES's cross-index
    behavior), scores scale by the index's boost, and the global page is
    the best k across indexes.

    ``indexes``: {index_name: (index_dir, boost)}. Returns
    (_index, doc_id, score), ordered (score desc, _index asc, doc_id
    asc) — the deterministic cross-index tiebreak ES leaves unspecified.

    Exactness of the per-index depth-k: a positive boost is monotone on
    one index's ranking, so the global top-k draws only from each
    index's own top-k — k rows per index move, never corpora. Each
    per-index search is the warm pruned serve path (wand.topk); at
    cluster scale this is N shard-local searches + a k·N-row merge, the
    ES coordinating-node shape. Boost applies to the ROUNDED per-index
    score and re-rounds (the engine's single tie surface, reproduced in
    the DuckDB twin)."""
    from .wand import topk as _wtopk

    if not indexes:
        raise ValueError("multi_index_topk needs at least one index")
    parts = []
    for name in sorted(indexes):
        d, boost = indexes[name]
        if float(boost) <= 0:
            raise ValueError(
                f"indices_boost for {name!r} must be positive, got {boost}"
            )
        parts.append(
            _wtopk(spark, d, query, k=k).select(
                F.lit(name).alias("_index"),
                "doc_id",
                F.round(
                    F.col("score") * F.lit(float(boost)), 4
                ).alias("score"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.desc("score"), F.asc("_index"), F.asc("doc_id")
    ).limit(k)


def explain(
    spark: SparkSession,
    docs: DataFrame,
    doc_id: int,
    body: dict[str, Any],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``es.explain(index, id, body)`` analogue: the per-term BM25 score
    breakdown for ONE document — (term, tf, df, dl, idf, tf_norm,
    weight), one row per query term present in the doc.
    ``round(sum(weight), 4)`` reproduces the search score. Filter
    clauses are ignored, as in ES: filter context never changes scores.
    """
    scoring, _ = _split_scoring(body.get("query"))
    if scoring is None:
        raise ValueError("explain needs a scoring clause (match)")
    (kind, sub), = scoring.items()
    if kind != "match":
        raise ValueError(f"explain supports match only, got {kind!r}")
    field, text, _ = _clause_text(sub)
    from .analyze import tokenize_text
    from .bm25 import bm25_explain
    from .postings import scan_inputs

    si = scan_inputs(docs, text_col=field, id_col=id_col,
                     terms=tokenize_text(text))
    return bm25_explain(spark, si.tf, si.dl, si.tdf, si.stats, text, doc_id)


def count(
    spark: SparkSession,
    docs: DataFrame,
    body: dict | None = None,
    id_col: str = "doc_id",
    index_dir: str | None = None,
    text_col: str = "text",
    routing: list | str | None = None,
) -> DataFrame:
    """``es.count`` analogue → one-row DataFrame (n bigint).

    With ``index_dir``, a MATCH query on the indexed column counts the
    live docs holding any (``operator: "and"``: every) query term, from
    the query terms' posting blocks (``wand.match_docs``) — never a
    corpus scan. A warm small index counts on the driver and answers
    with a one-row LocalRelation, so no Spark job runs; otherwise (or
    with ``spark.sql.autoBroadcastJoinThreshold`` at -1) one decode job
    counts on the executors. Everything else filters ``docs``. (term
    stays on the scan path: filter_expr's term is exact keyword equality
    engine-wide, and an index-served token count would silently change
    that.)

    ``routing=`` (ES ``GET /idx/_count?routing=``): prune the posting
    read to the routing keys' shards (conjunction stays exact — a routed
    doc's postings live wholly in its shard). Index-served match path
    only; the scan fallback refuses rather than silently counting every
    shard.
    """
    q = (body or {}).get("query", {})
    shard_ids: list[int] | None = None
    if routing is not None:
        if index_dir is None:
            raise ValueError("routing= needs index_dir (routed _count is "
                             "index-served)")
        from .build import routing_shard_ids

        shard_ids = routing_shard_ids(index_dir, routing)
    served = _indexed_match(q, index_dir, text_col)
    if served is not None:
        from .wand import match_count

        return match_count(spark, index_dir, *served, shard_ids=shard_ids)
    if routing is not None:
        raise ValueError(
            "routing= supports the index-served match count (match on the "
            "indexed column) — this request would scan every shard"
        )
    return docs.filter(filter_expr(q, id_col)).agg(F.count(F.lit(1)).alias("n"))


_SCRIPT_TOKEN = re.compile(
    r"\s*(params\.\w+|\d+\.\d+|\d+|&&|\|\||[<>=!]=|[<>()+\-*/,]|\w+)"
)

# the Math.* calls the ES script_score docs demonstrate → Catalyst
_SCRIPT_FUNCS = {
    "log": F.log,          # painless Math.log = natural log
    "log10": F.log10,
    "log1p": F.log1p,
    "sqrt": F.sqrt,
    "abs": F.abs,
    "exp": F.exp,
    "floor": F.floor,
    "ceil": F.ceil,
    "pow": F.pow,
    "min": F.least,
    "max": F.greatest,
}


def _compile_script(script: str, params: dict[str, Column]) -> Column:
    """Compile an ES bucket_script/bucket_selector/script_score expression
    to a Column.

    The subset ES users actually write in these scripts (the painless
    surface the docs demonstrate): ``params.x`` references, numeric
    literals, ``+ - * /``, parentheses, unary minus, comparisons
    (``> < >= <= == !=``), ``&& ||`` and the ``Math.*`` calls in
    ``_SCRIPT_FUNCS`` (callers strip the ``Math.`` prefix). No eval —
    a recursive-descent parse straight into Catalyst expressions.
    """
    tokens: list[str] = []
    pos = 0
    while pos < len(script):
        m = _SCRIPT_TOKEN.match(script, pos)
        if m is None:
            if script[pos:].strip():
                raise ValueError(f"bucket script: bad token at {script[pos:]!r}")
            break
        tokens.append(m.group(1))
        pos = m.end()
    i = 0

    def peek() -> str | None:
        return tokens[i] if i < len(tokens) else None

    def take(tok: str | None = None) -> str:
        nonlocal i
        if i >= len(tokens):
            raise ValueError(f"bucket script: unexpected end of {script!r}")
        t = tokens[i]
        if tok is not None and t != tok:
            raise ValueError(f"bucket script: expected {tok!r}, got {t!r}")
        i += 1
        return t

    def atom() -> Column:
        t = take()
        if t == "(":
            e = or_()
            take(")")
            return e
        if t == "-":
            return -atom()
        if t.replace(".", "", 1).isdigit():
            return F.lit(float(t) if "." in t else int(t))
        name = t[len("params."):] if t.startswith("params.") else t
        if name in _SCRIPT_FUNCS and peek() == "(":
            take("(")
            args = [or_()]
            while peek() == ",":
                take(",")
                args.append(or_())
            take(")")
            return _SCRIPT_FUNCS[name](*args)
        if name not in params:
            raise ValueError(
                f"script references {t!r} but the defined names are "
                f"only {sorted(params)}"
            )
        return params[name]

    def mul() -> Column:
        e = atom()
        while peek() in ("*", "/"):
            e = e * atom() if take() == "*" else e / atom()
        return e

    def add() -> Column:
        e = mul()
        while peek() in ("+", "-"):
            e = e + mul() if take() == "+" else e - mul()
        return e

    def cmp() -> Column:
        e = add()
        if peek() in (">", "<", ">=", "<=", "==", "!="):
            op = take()
            rhs = add()
            e = {
                ">": e.__gt__, "<": e.__lt__, ">=": e.__ge__,
                "<=": e.__le__, "==": e.__eq__, "!=": e.__ne__,
            }[op](rhs)
        return e

    def and_() -> Column:
        e = cmp()
        while peek() == "&&":
            take()
            e = e & cmp()
        return e

    def or_() -> Column:
        e = and_()
        while peek() == "||":
            take()
            e = e | and_()
        return e

    out = or_()
    if i != len(tokens):
        raise ValueError(f"bucket script: trailing tokens {tokens[i:]!r}")
    return out


# -- aggregations -------------------------------------------------------------
#
# An aggs body parses once into a tree of _Agg nodes. Each level of the
# tree runs through ONE table, _AGGS: agg type → (kind, handler).
#
# - "metric" handlers return aliased aggregate Columns; any number of
#   sibling metric leaves reduce in ONE pass (the reference's
#   get_bin_sizes parallel-stats shape, generalized).
# - "bucket" handlers return their own relation; one per level.
# - "parent" pipelines live INSIDE a bucketing agg's sub-aggs and derive
#   per-bucket columns from sibling metrics: window functions over the
#   already-reduced bucket rows (buckets ≪ docs, never the corpus).
# - "sibling" pipelines sit NEXT TO one bucketing agg and reduce its
#   bucket stream to one row.


class _Agg(NamedTuple):
    name: str
    type: str
    params: Any
    children: dict[str, _Agg]


_AGGS: dict[str, tuple[str, Callable]] = {}


def _handles(kind: str, *types: str):
    def deco(fn):
        for t in types:
            _AGGS[t] = (kind, fn)
        return fn

    return deco


def _parse_aggs(aggs: dict[str, Any]) -> dict[str, _Agg]:
    """{name: _Agg} for an ES ``aggs`` object. Each spec holds exactly
    one type key plus an optional ``aggs``, as ES requires ("Found two
    aggregation type definitions") — running one type and ignoring the
    other would silently drop a requested result."""
    out = {}
    for name, spec in aggs.items():
        if not isinstance(spec, dict):
            raise ValueError(f"agg {name!r}: expected an object, got {spec!r}")
        if "aggregations" in spec:
            raise ValueError(
                f"agg {name!r}: put sub-aggregations under 'aggs' "
                "('aggregations' is not supported)"
            )
        types = [k for k in spec if k != "aggs"]
        if len(types) != 1:
            raise ValueError(
                f"agg {name!r} needs exactly one aggregation type besides "
                f"'aggs'; found {types}"
            )
        (t,) = types
        if t not in _AGGS:
            raise ValueError(f"unsupported agg: {sorted(spec)}")
        out[name] = _Agg(name, t, spec[t], _parse_aggs(spec.get("aggs") or {}))
    return out


def _map_aggs(nodes: dict[str, _Agg], f) -> dict[str, _Agg]:
    """``nodes`` with ``f`` applied to every name and params value."""
    out = {}
    for n, a in nodes.items():
        m = f(n)
        out[m] = _Agg(m, a.type, f(a.params), _map_aggs(a.children, f))
    return out


def _count_by(df: DataFrame, keys: list, *exprs: Column) -> DataFrame:
    """``exprs`` and the doc count per bucket of ``keys`` (over the whole
    relation when ``keys`` is empty)."""
    return df.groupBy(*keys).agg(*exprs, F.count(F.lit(1)).alias("doc_count"))


def _out(name: str, multi: bool):
    """Output-column names of one metric leaf: a lone leaf keeps ES's
    bare names ("value", "min", ...); sibling leaves prefix their agg
    name."""
    return lambda key="value": f"{name}_{key}" if multi else key


def _sort_spec(s) -> tuple[str, str]:
    """(field, order) of one ES sort entry: ``"f"``, ``{"f": "desc"}`` or
    ``{"f": {"order": "desc"}}``."""
    (f, sp), = s.items() if isinstance(s, dict) else ((s, "asc"),)
    return f, sp["order"] if isinstance(sp, dict) else sp


def _sort_cols(sort, col_of=F.col) -> list[Column]:
    cols = []
    for s in _as_list(sort):
        f, order = _sort_spec(s)
        c = col_of(f)
        cols.append(c.desc() if order == "desc" else c.asc())
    return cols


def _bucket_col(path: str, b: DataFrame, head: str | None = None) -> Column:
    """The bucket column a ``buckets_path`` names: "_count", a sibling
    metric ("sales", or "sales.avg" for a multi-value leaf) or an
    earlier pipeline's output. A sibling pipeline's path must start with
    its bucketing agg, ``head`` ("by_month>sales")."""
    seg = path.split(">")
    if head is not None and (len(seg) < 2 or seg[0] != head):
        raise ValueError(
            f"buckets_path {path!r} must start with the sibling "
            f"bucket agg {head!r} (e.g. '{head}>metric')"
        )
    leaf = seg[-1]
    if leaf == "_count":
        return F.col("doc_count")
    nm, _, metric = leaf.partition(".")
    cands = [f"{nm}_{metric}", metric] if metric else [f"{nm}_value", nm, "value"]
    for c in cands:
        if c in b.columns:
            return F.col(c)
    raise ValueError(
        f"buckets_path {path!r} resolves to none of {cands} "
        f"(bucket columns: {b.columns})"
    )


class _AggRun:
    """One aggs request: runs each level of the node tree."""

    def __init__(self, id_col: str, background: DataFrame | None, text_col: str):
        self.id_col, self.background, self.text_col = id_col, background, text_col

    def run(self, base: DataFrame, nodes: dict[str, _Agg], group_cols: list) -> DataFrame:
        kind = {n: _AGGS[a.type][0] for n, a in nodes.items()}
        pipes = [a for a in nodes.values() if kind[a.name] == "parent"]
        if pipes:
            if not group_cols:
                raise ValueError(
                    f"pipeline aggs {sorted(a.name for a in pipes)} must be "
                    "nested under a bucketing agg (histogram / "
                    "date_histogram / terms)"
                )
            plain = {n: a for n, a in nodes.items() if kind[n] != "parent"}
            if any(kind[n] != "metric" for n in plain):
                raise ValueError(
                    "pipeline aggs compose with stats/metric sibling leaves "
                    f"only; got {sorted(plain)}"
                )
            # ES pipeline order: windows partition by the enclosing bucket
            # keys and run over this level's key ascending; declaration
            # order lets a later pipeline read an earlier one's output
            # (cumulative_sum over a derivative), as buckets_path chains
            b = self.metrics(base, plain, group_cols)
            w = Window.partitionBy(*group_cols[:-1]).orderBy(F.asc(group_cols[-1]))
            for a in pipes:
                b = _AGGS[a.type][1](a, b, w, group_cols[:-1])
            return b
        sib = [a for a in nodes.values() if kind[a.name] == "sibling"]
        if sib:
            others = {n: a for n, a in nodes.items() if kind[n] != "sibling"}
            if len(others) != 1:
                raise ValueError(
                    f"sibling pipeline aggs {sorted(a.name for a in sib)} need "
                    f"exactly one bucketing sibling; got {sorted(others)}"
                )
            bdf = self.run(base, others, group_cols)
            (head,) = others
            return bdf.agg(*[
                e for a in sib for e in _AGGS[a.type][1](
                    a, _bucket_col(a.params["buckets_path"], bdf, head),
                    len(sib) > 1,
                )
            ])
        if all(k == "metric" for k in kind.values()):
            return self.metrics(base, nodes, group_cols)
        if len(nodes) > 1:
            raise ValueError(
                "sibling aggs are supported only for stats/metric leaves; "
                f"got {sorted(nodes)}"
            )
        (a,) = nodes.values()
        return _AGGS[a.type][1](self, a, base, group_cols)

    def metrics(self, base: DataFrame, nodes: dict[str, _Agg], group_cols: list) -> DataFrame:
        """Sibling metric leaves in ONE pass; per bucket of ``group_cols``
        with its doc_count (ES reports it next to the sub-agg values)."""
        multi = len(nodes) > 1
        flat = [
            e for a in nodes.values()
            for e in _AGGS[a.type][1](self, a, _out(a.name, multi), base)
        ]
        return _count_by(base, group_cols, *flat) if group_cols else base.agg(*flat)

    def sub_or_count(self, children: dict[str, _Agg], df: DataFrame, keys: list) -> DataFrame:
        """Run the sub-aggs per bucket of ``keys``, else count its docs."""
        return self.run(df, children, keys) if children else _count_by(df, keys)

    def keyed(self, a: _Agg, df: DataFrame, group_cols: list) -> DataFrame:
        """Buckets of the ``{name}_key`` column. A NULL key means the doc
        lacks the field: ES drops such docs from bucket aggs (the
        ``missing`` agg counts them), and a NULL bucket (or, for the geo
        grids, a corner-cell bucket) would inflate counts."""
        key = f"{a.name}_key"
        return self.sub_or_count(
            a.children, df.filter(F.col(key).isNotNull()), group_cols + [key]
        )

    def tagged(self, a: _Agg, base: DataFrame, group_cols: list, tags: list) -> DataFrame:
        """Independent, possibly overlapping buckets (range / ip_range /
        date_range / geo_distance / filters): one exploded row per
        matching bucket, one shuffle total."""
        return self.keyed(
            a,
            base.withColumn(f"{a.name}_key", F.explode(F.array_compact(F.array(*tags)))),
            group_cols,
        )

    def restricted(
        self, a: _Agg, base: DataFrame, buckets: DataFrame, group_cols: list, fields: list
    ) -> DataFrame:
        """Sub-aggs over only the docs of the surviving buckets: a semi
        join on the (tiny) broadcast bucket-key set."""
        if not a.children:
            return buckets
        keys = buckets.select(*group_cols, *fields)
        return self.run(
            base.join(F.broadcast(keys), [*group_cols, *fields], "left_semi"),
            a.children, group_cols + fields,
        )


def _aggs(
    base: DataFrame,
    aggs: dict[str, Any],
    *,
    id_col: str = "doc_id",
    background: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Compile an aggs dict. Nested histogram▸histogram▸terms supported
    exactly as the reference composes it (mira_loader.py:262-319)."""
    return _AggRun(id_col, background, text_col).run(base, _parse_aggs(aggs), [])


# -- metric leaves: handler(ctx, agg, out, base) -> [Column] ------------------

_STAT_FNS = {"min": F.min, "max": F.max, "avg": F.avg, "sum": F.sum, "count": F.count}
_PERCENTS = (1, 5, 25, 50, 75, 95, 99)  # ES percentiles default


def _stats(col, out, keys=("min", "max", "avg", "sum", "count")) -> list[Column]:
    """The ES stats quintuple (stats, extended_stats, stats_bucket)."""
    return [_STAT_FNS[k](col).alias(out(k)) for k in keys]


def _pct_key(q) -> str:
    return f"p{f'{q:g}'.replace('.', '_')}"


@_handles("metric", "stats")
def _stats_leaf(ctx, a, out, base):
    return _stats(a.params["field"], out)


@_handles("metric", "avg", "sum", "min", "max", "value_count")
def _value_leaf(ctx, a, out, base):
    fn = F.count if a.type == "value_count" else _STAT_FNS[a.type]
    return [fn(a.params["field"]).alias(out())]


@_handles("metric", "cardinality")
def _cardinality(ctx, a, out, base):
    # ES cardinality is HLL-approximate; at scale use
    # approx_count_distinct (same sketch family). Exact here so the
    # result is deterministic and oracle-checkable — swap via
    # {"cardinality": {"field": f, "approx": true}}.
    fn = F.approx_count_distinct if a.params.get("approx") else F.count_distinct
    return [fn(a.params["field"]).alias(out())]


@_handles("metric", "extended_stats")
def _extended_stats(ctx, a, out, base):
    # ES extended_stats: stats + sum_of_squares, variance (and population
    # std — ES reports population, not sample)
    f = a.params["field"]
    return _stats(f, out, ("count", "min", "max", "avg", "sum")) + [
        F.sum(F.col(f) * F.col(f)).alias(out("sum_of_squares")),
        F.var_pop(f).alias(out("variance")),
        F.stddev_pop(f).alias(out("std_deviation")),
    ]


@_handles("metric", "weighted_avg")
def _weighted_avg(ctx, a, out, base):
    v, w = a.params["value"]["field"], a.params["weight"]["field"]
    return [(F.sum(F.col(v) * F.col(w)) / F.sum(F.col(w))).alias(out())]


@_handles("metric", "percentile_ranks")
def _percentile_ranks(ctx, a, out, base):
    # ES percentile_ranks: for each given value, the % of docs with
    # field ≤ value — an exact count ratio (ES interpolates from a
    # t-digest; exact here so the result is oracle-checkable, same policy
    # as percentiles/cardinality)
    f = a.params["field"]
    total = F.count(f)
    return [
        (F.count_if(F.col(f) <= F.lit(float(v))) / total * F.lit(100.0)).alias(
            out(f"rank_{f'{float(v):g}'.replace('.', '_').replace('-', 'm')}")
        )
        for v in a.params["values"]
    ]


@_handles("metric", "boxplot")
def _boxplot(ctx, a, out, base):
    # ES boxplot: min/max/q1/q2/q3 — t-digest-approximate in ES; exact by
    # default here (oracle-checkable), approx: true → percentile_approx
    # (same policy as percentiles)
    f = a.params["field"]
    fn = F.percentile_approx if a.params.get("approx") else F.percentile
    return [
        F.min(f).alias(out("min")), F.max(f).alias(out("max")),
        fn(F.col(f), F.lit(0.25)).alias(out("q1")),
        fn(F.col(f), F.lit(0.5)).alias(out("q2")),
        fn(F.col(f), F.lit(0.75)).alias(out("q3")),
    ]


@_handles("metric", "top_metrics")
def _top_metrics(ctx, a, out, base):
    # ES top_metrics(size=1): the metric values of the best-sorted doc
    # per bucket — ONE max_by/min_by pass, no window, no top_hits row
    # materialization. Ties broken by id_col so the result is
    # deterministic (ES leaves ties undefined).
    tm = a.params
    if int(tm.get("size", 1)) != 1:
        raise ValueError("top_metrics supports size=1 (use top_hits for row sets)")
    if ctx.id_col not in base.columns:
        raise ValueError(
            f"top_metrics breaks sort ties by {ctx.id_col!r}, which "
            f"this table lacks — pass id_col= to search() "
            f"(columns: {base.columns})"
        )
    sf_, order = _sort_spec(_as_list(tm["sort"])[0])
    if order == "desc":
        key = F.struct(F.col(sf_), (-F.col(ctx.id_col)).alias("_t"))
        pick = F.max_by
    else:
        key = F.struct(F.col(sf_), F.col(ctx.id_col).alias("_t"))
        pick = F.min_by
    return [
        pick(F.col(m["field"]), key).alias(out(m["field"]))
        for m in _as_list(tm["metrics"])
    ]


@_handles("metric", "reverse_nested")
def _reverse_nested(ctx, a, out, base):
    # ES reverse_nested (under a nested context): how many PARENT
    # documents fall in this bucket. The nested explode keeps the
    # parent's id column on every nested row, so this is one
    # count_distinct — no join back to the parent table.
    if ctx.id_col not in base.columns:
        raise ValueError(
            f"reverse_nested counts parents by {ctx.id_col!r}, which "
            f"this table lacks (columns: {base.columns})"
        )
    return [F.count_distinct(F.col(ctx.id_col)).alias(f"{a.name}_doc_count")]


@_handles("metric", "geo_bounds")
def _geo_bounds(ctx, a, out, base):
    pt = F.col(a.params["field"])
    lat, lon = pt.getField("lat"), pt.getField("lon")
    return [
        F.max(lat).alias(out("top_left_lat")),
        F.min(lon).alias(out("top_left_lon")),
        F.min(lat).alias(out("bottom_right_lat")),
        F.max(lon).alias(out("bottom_right_lon")),
    ]


@_handles("metric", "geo_centroid")
def _geo_centroid(ctx, a, out, base):
    # ES geo_centroid: arithmetic mean of lat/lon (ES averages the
    # coordinates, not the great-circle midpoint) + point count
    pt = F.col(a.params["field"])
    lat, lon = pt.getField("lat"), pt.getField("lon")
    return [
        F.avg(lat).alias(out("lat")),
        F.avg(lon).alias(out("lon")),
        F.count(lat).alias(out("count")),
    ]


@_handles("metric", "percentiles")
def _percentiles(ctx, a, out, base):
    # ES percentiles is t-digest-approximate; exact (sort-based, linear
    # interpolation — numpy/ES 'linear') by default so the values are
    # deterministic and oracle-checkable; the scale path is
    # {"percentiles": {..., "approx": true}} → percentile_approx
    # (Greenwald-Khanna sketch, one pass).
    pc = a.params
    fn = F.percentile_approx if pc.get("approx") else F.percentile
    return [
        fn(F.col(pc["field"]), F.lit(float(q) / 100.0)).alias(out(_pct_key(q)))
        for q in pc.get("percents", _PERCENTS)
    ]


@_handles("metric", "rate")
def _rate(ctx, a, out, base):
    # ES rate agg (inside a date_histogram): bucket sum (or doc count)
    # per `unit` of time. DELIBERATE DEVIATION: the enclosing bucket
    # interval is passed EXPLICITLY as rate.interval (ES infers it from
    # the parent date_histogram; the leaf compiler here is context-free)
    # and must be a FIXED-length unit — month/quarter/year refuse,
    # sidestepping ES's calendar-ratio table entirely.
    rs = a.params
    if "interval" not in rs:
        raise ValueError(
            "rate needs an explicit 'interval' equal to the "
            "enclosing date_histogram's fixed interval (this "
            "engine does not infer it; deviation documented)"
        )
    factor = _fixed_interval_ms(rs["interval"]) / _fixed_interval_ms(
        rs.get("unit", rs["interval"])
    )
    val = F.sum(F.col(rs["field"])) if rs.get("field") else F.count(F.lit(1))
    return [(val / F.lit(float(factor))).alias(out())]


@_handles("metric", "matrix_stats")
def _matrix_stats(ctx, a, out, base):
    # ES matrix_stats: per-field moments + the pairwise
    # covariance/correlation matrix over numeric fields, skipping any
    # document missing ONE of the fields (ES's row-wise completeness
    # rule — reproduced by null-masking every input on the conjunction,
    # so sibling aggs over the same pass are unaffected).
    # variance/covariance are SAMPLE (n-1), ES's normalization;
    # skewness/kurtosis are the population central-moment forms
    # m3/m2^1.5 and m4/m2² (kurtosis NON-excess, as ES reports), computed
    # from raw power sums so the DuckDB twin can run the identical
    # arithmetic (Spark's builtin skewness/kurtosis and DuckDB's disagree
    # on sample-bias correction).
    fields = list(a.params["fields"])
    if len(fields) < 2:
        raise ValueError("matrix_stats needs >= 2 fields")
    valid = F.lit(True)
    for f in fields:
        valid = valid & F.col(f).isNotNull()
    masked = {f: F.when(valid, F.col(f).cast("double")) for f in fields}
    exprs = []
    for f in fields:
        c = masked[f]
        m1 = F.avg(c)
        m2 = F.avg(c * c)
        m3 = F.avg(c * c * c)
        m4 = F.avg(c * c * c * c)
        m2c = m2 - m1 * m1
        m3c = m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1
        m4c = (
            m4 - F.lit(4.0) * m1 * m3
            + F.lit(6.0) * m1 * m1 * m2
            - F.lit(3.0) * m1 * m1 * m1 * m1
        )
        exprs += [
            F.count(c).alias(out(f"{f}_count")),
            m1.alias(out(f"{f}_mean")),
            F.var_samp(c).alias(out(f"{f}_variance")),
            (m3c / F.pow(m2c, F.lit(1.5))).alias(out(f"{f}_skewness")),
            (m4c / (m2c * m2c)).alias(out(f"{f}_kurtosis")),
        ]
    for i, fi in enumerate(fields):
        for fj in fields[i + 1:]:
            exprs += [
                F.covar_samp(masked[fi], masked[fj]).alias(out(f"{fi}_{fj}_covariance")),
                F.corr(masked[fi], masked[fj]).alias(out(f"{fi}_{fj}_correlation")),
            ]
    return exprs


@_handles("metric", "t_test")
def _t_test(ctx, a, out, base):
    # ES t_test: two-sample Student's t between populations a and b
    # ({"field", optional "filter"}), type heteroscedastic (Welch, the ES
    # default) / homoscedastic (pooled) / paired. DELIBERATE DEVIATION:
    # ES returns the two-sided p-value; the t→p conversion is an
    # incomplete-beta special function that neither Spark SQL nor the
    # DuckDB oracle can express, so the engine returns the t STATISTIC
    # and the degrees of freedom (Welch–Satterthwaite for
    # heteroscedastic) — the exact inputs of that textbook conversion.
    # One pass: populations are null-masked columns over the same scan,
    # never two jobs.
    tt = a.params
    ttype = str(tt.get("type", "heteroscedastic")).lower()

    def _pop(side: dict) -> Column:
        c = F.col(side["field"]).cast("double")
        if side.get("filter"):
            c = F.when(
                F.coalesce(filter_expr(side["filter"], ctx.id_col), F.lit(False)), c
            )
        return c

    ca, cb = _pop(tt["a"]), _pop(tt["b"])
    if ttype == "paired":
        if tt["a"].get("filter") or tt["b"].get("filter"):
            raise ValueError(
                "paired t_test compares two fields of the SAME "
                "rows — filters would unpair them (ES rejects "
                "this too)"
            )
        d = F.when(
            F.col(tt["a"]["field"]).isNotNull() & F.col(tt["b"]["field"]).isNotNull(),
            ca - cb,
        )
        n = F.count(d)
        t = F.avg(d) / (F.stddev_samp(d) / F.sqrt(n))
        return [t.alias(out("t")), (n - F.lit(1)).alias(out("df"))]
    na, nb = F.count(ca).cast("double"), F.count(cb).cast("double")
    ma, mb = F.avg(ca), F.avg(cb)
    va, vb = F.var_samp(ca), F.var_samp(cb)
    if ttype == "homoscedastic":
        sp2 = ((na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb) / (
            na + nb - F.lit(2.0)
        )
        t = (ma - mb) / F.sqrt(sp2 * (F.lit(1.0) / na + F.lit(1.0) / nb))
        return [t.alias(out("t")), (na + nb - F.lit(2.0)).alias(out("df"))]
    if ttype != "heteroscedastic":
        raise ValueError(
            f"t_test type {ttype!r} (use heteroscedastic / homoscedastic / paired)"
        )
    sea, seb = va / na, vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    df = (sea + seb) * (sea + seb) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    return [t.alias(out("t")), df.alias(out("df"))]


# -- parent pipelines: handler(agg, buckets, window, partition_cols) ----------

# ES moving_fn scripts the docs demonstrate → one window aggregate each
_MOVING_FNS = {
    "MovingFunctions.unweightedAvg(values)": F.avg,
    "MovingFunctions.min(values)": F.min,
    "MovingFunctions.max(values)": F.max,
    "MovingFunctions.sum(values)": F.sum,
    "MovingFunctions.stdDev(values)": F.stddev_pop,
}


@_handles("parent", "derivative", "serial_diff")
def _derivative(a, b, w, part):
    col = _bucket_col(a.params["buckets_path"], b)
    lag = int(a.params.get("lag", 1)) if a.type == "serial_diff" else 1
    return b.withColumn(a.name, col - F.lag(col, lag).over(w))


@_handles("parent", "cumulative_sum")
def _cumulative_sum(a, b, w, part):
    col = _bucket_col(a.params["buckets_path"], b)
    return b.withColumn(
        a.name, F.sum(col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


@_handles("parent", "moving_fn")
def _moving_fn(a, b, w, part):
    p = a.params
    col = _bucket_col(p["buckets_path"], b)
    window = int(p["window"])
    shift = int(p.get("shift", 0))
    fn = _MOVING_FNS.get(str(p.get("script", "")).strip())
    if fn is None:
        raise ValueError(
            f"moving_fn script {p.get('script')!r} not supported "
            f"(use one of {sorted(_MOVING_FNS)})"
        )
    # ES window semantics: [i-window+shift, i+shift) — shift=0 EXCLUDES
    # the current bucket (first bucket → null, like ES)
    return b.withColumn(a.name, fn(col).over(w.rowsBetween(shift - window, shift - 1)))


def _script_cols(a, b) -> dict[str, Column]:
    return {nm: _bucket_col(path, b) for nm, path in a.params["buckets_path"].items()}


@_handles("parent", "bucket_script")
def _bucket_script(a, b, w, part):
    return b.withColumn(a.name, _compile_script(a.params["script"], _script_cols(a, b)))


@_handles("parent", "bucket_selector")
def _bucket_selector(a, b, w, part):
    cond = _compile_script(a.params["script"], _script_cols(a, b))
    return b.filter(F.coalesce(cond, F.lit(False)))


@_handles("parent", "normalize")
def _normalize(a, b, w, part):
    # ES normalize pipeline: rescale a sibling metric across ALL buckets
    # of this level. The window frame is the whole enclosing partition
    # (unordered — every method needs the full bucket set); bucket frames
    # are already reduced, so the per-partition row count is the bucket
    # count, not the doc count. z-score uses population σ (ES's
    # single-pass form).
    col = _bucket_col(a.params["buckets_path"], b)
    wall = Window.partitionBy(*part).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    method = str(a.params["method"])
    if method == "percent_of_sum":
        expr = col / F.sum(col).over(wall)
    elif method == "rescale_0_1":
        expr = (col - F.min(col).over(wall)) / (
            F.max(col).over(wall) - F.min(col).over(wall)
        )
    elif method == "rescale_0_100":
        expr = F.lit(100.0) * (col - F.min(col).over(wall)) / (
            F.max(col).over(wall) - F.min(col).over(wall)
        )
    elif method == "mean":
        expr = (col - F.avg(col).over(wall)) / (
            F.max(col).over(wall) - F.min(col).over(wall)
        )
    elif method == "z-score":
        expr = (col - F.avg(col).over(wall)) / F.stddev_pop(col).over(wall)
    elif method == "softmax":
        # max-shifted (softmax is shift-invariant): e^x overflows a
        # double past x≈709, which real bucket sums exceed
        sh = col - F.max(col).over(wall)
        expr = F.exp(sh) / F.sum(F.exp(sh)).over(wall)
    else:
        raise ValueError(
            f"normalize method {method!r} (use percent_of_sum / "
            "rescale_0_1 / rescale_0_100 / mean / z-score / softmax)"
        )
    return b.withColumn(a.name, expr)


@_handles("parent", "bucket_sort")
def _bucket_sort(a, b, w, part):
    p = a.params
    if not _as_list(p.get("sort")):
        # ES allows size-only truncation in bucket order; without an
        # explicit key that order is nondeterministic here
        raise ValueError("bucket_sort requires an explicit sort")
    sort_cols = _sort_cols(p["sort"], lambda path: _bucket_col(path, b))
    offset = int(p.get("from", 0))
    size = p.get("size")
    if part:
        sw = Window.partitionBy(*part).orderBy(*sort_cols)
        b = b.withColumn("_bs_rn", F.row_number().over(sw))
        cond = F.col("_bs_rn") > offset
        if size is not None:
            cond = cond & (F.col("_bs_rn") <= offset + int(size))
        return b.filter(cond).drop("_bs_rn")
    b = b.orderBy(*sort_cols)
    if offset:
        b = b.offset(offset)
    return b.limit(int(size)) if size is not None else b


# -- sibling pipelines: handler(agg, bucket_metric_col, multi) -> [Column] ----


@_handles("sibling", "avg_bucket", "sum_bucket", "min_bucket", "max_bucket")
def _bucket_metric(a, col, multi):
    fn = _STAT_FNS[a.type[: -len("_bucket")]]
    return [fn(col).alias(a.name if multi else "value")]


@_handles("sibling", "stats_bucket")
def _stats_bucket(a, col, multi):
    return _stats(col, _out(a.name, True))


@_handles("sibling", "percentiles_bucket")
def _percentiles_bucket(a, col, multi):
    # ES percentiles_bucket over the sibling bucket metric stream.
    # DEVIATION (documented, policy-consistent with the percentiles
    # leaf): linear interpolation (Spark `percentile` == DuckDB
    # `quantile_cont`), where ES picks the nearest bucket value without
    # interpolating; identical whenever (p/100)·(n-1) lands on an integer
    # rank.
    return [
        F.percentile(col, F.lit(float(q) / 100.0)).alias(f"{a.name}_{_pct_key(q)}")
        for q in a.params.get("percents", _PERCENTS)
    ]


# -- bucket aggs: handler(ctx, agg, base, group_cols) -> DataFrame ------------

_DATE_UNITS = {
    "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour",
    "day": "day", "1d": "day",
    "week": "week", "month": "month", "quarter": "quarter",
    "year": "year", "1y": "year",
}


def _date_unit(h: dict) -> str:
    iv = h.get("calendar_interval") or h.get("fixed_interval") or h["interval"]
    unit = _DATE_UNITS.get(iv)
    if unit is None:
        raise ValueError(f"unsupported date_histogram interval {iv!r}")
    return unit


def _range_bucket(rg: dict, col: Column, bound, label) -> Column:
    """One range bucket's tag: ``from`` inclusive, ``to`` exclusive, each
    range independent of the others (ES range-agg semantics). The
    default key is "from-to" with "*" for an open end."""
    frm, to = rg.get("from"), rg.get("to")
    key = rg.get("key") or (
        f"{'*' if frm is None else label(frm)}-{'*' if to is None else label(to)}"
    )
    cond = F.lit(True)
    if frm is not None:
        cond = cond & (col >= bound(frm))
    if to is not None:
        cond = cond & (col < bound(to))
    return F.when(cond, F.lit(key))


def _num_label(v) -> str:
    return f"{float(v):g}"


@_handles("bucket", "date_histogram")
def _date_histogram(ctx, a, base, group_cols):
    unit = _date_unit(a.params)
    bucket = F.date_trunc(unit, F.col(a.params["field"])).alias(f"{a.name}_key")
    return ctx.keyed(a, base.withColumn(f"{a.name}_key", bucket), group_cols)


@_handles("bucket", "histogram")
def _histogram(ctx, a, base, group_cols):
    field, interval = a.params["field"], a.params["interval"]
    bucket = (F.floor(F.col(field) / F.lit(interval)) * F.lit(interval)).alias(
        f"{a.name}_key"
    )
    return ctx.keyed(a, base.withColumn(f"{a.name}_key", bucket), group_cols)


@_handles("bucket", "range")
def _range(ctx, a, base, group_cols):
    # ES range agg: a doc contributes one exploded row per matching range
    # (overlapping ranges each count it); keys use %g number formatting
    col = F.col(a.params["field"])
    return ctx.tagged(a, base, group_cols, [
        _range_bucket(rg, col, F.lit, _num_label) for rg in a.params["ranges"]
    ])


@_handles("bucket", "date_range")
def _date_range(ctx, a, base, group_cols):
    # bounds are date strings; default keys use the raw bound strings
    col = F.col(a.params["field"])
    return ctx.tagged(a, base, group_cols, [
        _range_bucket(rg, col, lambda v: F.lit(v).cast("timestamp"), str)
        for rg in a.params["ranges"]
    ])


@_handles("bucket", "ip_range")
def _ip_range(ctx, a, base, group_cols):
    # ES ip_range agg: IPv4 ranges (from inclusive, to EXCLUSIVE — unlike
    # from/to strings in queries, matching ES's range-agg convention) or
    # CIDR masks ("10.0.0.0/25" → [base, base+2^(32-p))). The address
    # compares as its u32 value (split + arithmetic, codegen — the
    # identical expression is SQL-renderable for the oracle).
    ipnum = _ipv4_num(F.col(a.params["field"]))
    tags = []
    for rg in a.params["ranges"]:
        if "mask" in rg:
            lo, hi = _cidr_bounds(rg["mask"])
            cond = (ipnum >= F.lit(lo)) & (ipnum < F.lit(hi))
            tags.append(F.when(cond, F.lit(rg.get("key") or rg["mask"])))
        else:
            tags.append(_range_bucket(rg, ipnum, lambda v: F.lit(_ipv4_int(v)), str))
    return ctx.tagged(a, base, group_cols, tags)


@_handles("bucket", "geo_distance")
def _geo_distance(ctx, a, base, group_cols):
    # ES geo_distance agg: distance-from-origin range buckets over a
    # haversine expression
    g = a.params
    pt = F.col(g["field"])
    olat, olon = _parse_geo_point(g["origin"])
    dist = _haversine_m(
        pt.getField("lat"), pt.getField("lon"), F.lit(olat), F.lit(olon),
    ) / F.lit(_DIST_UNITS_M[g.get("unit", "m")])
    return ctx.tagged(a, base, group_cols, [
        _range_bucket(rg, dist, lambda v: F.lit(float(v)), _num_label)
        for rg in g["ranges"]
    ])


@_handles("bucket", "filters")
def _filters(ctx, a, base, group_cols):
    # ES filters agg: named sub-queries, each bucket = docs matching that
    # filter (independent, overlapping allowed)
    named = a.params["filters"]
    return ctx.tagged(a, base, group_cols, [
        F.when(F.coalesce(filter_expr(qd, ctx.id_col), F.lit(False)), F.lit(nm))
        for nm, qd in sorted(named.items())
    ])


@_handles("bucket", "geohash_grid")
def _geohash_grid(ctx, a, base, group_cols):
    # ES geohash_grid: classic geohash cells at `precision` chars — the
    # same one-groupBy shape as geotile_grid, bucket key from the
    # unrolled Morton/base32 arithmetic (geohash_key)
    pt = F.col(a.params["field"])
    key = geohash_key(
        pt.getField("lat"), pt.getField("lon"), int(a.params.get("precision", 5))
    )
    return ctx.keyed(a, base.withColumn(f"{a.name}_key", key), group_cols)


@_handles("bucket", "geotile_grid")
def _geotile_grid(ctx, a, base, group_cols):
    # ES geotile_grid: Web-Mercator map tiles "z/x/y" at the given
    # precision — pure floor math, whole-stage codegen, one groupBy.
    pt = F.col(a.params["field"])
    key = geotile_key(
        pt.getField("lat"), pt.getField("lon"), int(a.params.get("precision", 7))
    )
    return ctx.keyed(a, base.withColumn(f"{a.name}_key", key), group_cols)


@_handles("bucket", "auto_date_histogram")
def _auto_date_histogram(ctx, a, base, group_cols):
    # ES auto_date_histogram: pick the smallest calendar interval that
    # keeps the bucket count within `buckets`. The unit ladder here is the
    # calendar subset date_histogram supports (ES additionally uses
    # sub-unit multiples like 5m/10m — documented narrowing). Interval
    # choice reads min/max(ts) — a METADATA aggregate, like corpus_stats;
    # the chosen unit is emitted as `{name}_interval` so consumers (and
    # the oracle) see which rung was picked.
    field = a.params["field"]
    target = int(a.params.get("buckets", 10))
    row = base.agg(F.min(field).alias("_a"), F.max(field).alias("_b")).first()
    if row["_a"] is None:
        raise ValueError(f"auto_date_histogram: no non-null values in {field!r}")
    span = (row["_b"] - row["_a"]).total_seconds()
    ladder = [
        ("minute", 60.0), ("hour", 3600.0), ("day", 86400.0),
        ("week", 7 * 86400.0), ("month", 30 * 86400.0),
        ("quarter", 91 * 86400.0), ("year", 365 * 86400.0),
    ]
    unit = ladder[-1][0]
    for u, sec in ladder:
        if span / sec + 1 <= target:
            unit = u
            break
    grouped = base.withColumn(
        f"{a.name}_key", F.date_trunc(unit, F.col(field))
    ).withColumn(f"{a.name}_interval", F.lit(unit))
    return ctx.sub_or_count(
        a.children, grouped, group_cols + [f"{a.name}_key", f"{a.name}_interval"]
    )


@_handles("bucket", "children")
def _children(ctx, a, base, group_cols):
    # ES children agg: switch the aggregation context from the current
    # (parent) docs to their children of the given type — one equi-join
    # on the parent id (the same key ES routes parent/child shards by).
    # Parent-level bucket keys ride the join so sub-aggs stay per-bucket.
    if ctx.background is None:
        raise ValueError("children agg needs the full table (background)")
    kids = ctx.background.filter(F.col(JOIN_NAME_COL) == F.lit(a.params["type"]))
    kids = kids.drop(*[c for c in group_cols if c in kids.columns])
    parent_side = base.select(
        *group_cols, F.col(ctx.id_col).alias(JOIN_PARENT_COL)
    ).distinct()
    return ctx.sub_or_count(a.children, kids.join(parent_side, JOIN_PARENT_COL), group_cols)


@_handles("bucket", "nested")
def _nested(ctx, a, base, group_cols):
    # ES nested agg: switch the aggregation context from parent docs to
    # the nested objects under `path`. One explode (nested rows ≈ array
    # elements — this is the ONLY place nested arrays unroll;
    # filter-context nested queries stay HOF-only), replacing the array
    # column with the element struct. Parent columns (incl. id_col) ride
    # along, which is what makes reverse_nested a count_distinct instead
    # of a join. doc_count = number of nested docs, like ES.
    path = a.params["path"]
    exploded = base.withColumn("__nested_elem", F.explode(F.col(path)))
    children = a.children
    if children:
        # Sub-agg specs reference nested fields path-prefixed
        # ("items.qty"), but downstream agg machinery (groupBy keys,
        # window sorts) needs plain column names. Rewrite every prefixed
        # name in the sub-aggs to a flat "items__qty" column and
        # materialize exactly the referenced fields from the exploded
        # element — projection stays minimal, names stay dot-free.
        refs: set[str] = set()

        def _rw(obj):
            if isinstance(obj, dict):
                return {_rw(k): _rw(v) for k, v in obj.items()}
            if isinstance(obj, list):
                return [_rw(v) for v in obj]
            if isinstance(obj, str) and obj.startswith(path + "."):
                refs.add(obj)
                return obj.replace(".", "__")
            return obj

        children = _map_aggs(children, _rw)
        for ref in sorted(refs):
            col = F.col("__nested_elem")
            for part in ref[len(path) + 1:].split("."):
                col = col.getField(part)
            exploded = exploded.withColumn(ref.replace(".", "__"), col)
    return ctx.sub_or_count(children, exploded.drop("__nested_elem"), group_cols)


@_handles("bucket", "global")
def _global(ctx, a, base, group_cols):
    # ES global agg: escapes the query's filter context — sub-aggs run
    # over the WHOLE table (the `background` relation, the same
    # unfiltered side significant_terms contrasts against).
    if group_cols:
        raise ValueError("global must be a top-level agg (ES likewise)")
    gbase = ctx.background if ctx.background is not None else base
    return ctx.sub_or_count(a.children, gbase, [])


@_handles("bucket", "sampler", "diversified_sampler")
def _sampler(ctx, a, base, group_cols):
    # ES sampler: sub-aggs over the shard_size best-scoring docs per
    # shard. Aggs here run in filter context (no scores), so the
    # deterministic analogue is the shard_size LOWEST ids — a TakeOrdered,
    # not a full sort (documented deviation; ES's own result is unstable
    # across segment order). diversified_sampler additionally caps docs
    # per field value BEFORE the size cap.
    if group_cols:
        raise ValueError(f"{a.type} must be a top-level agg")
    sp = a.params or {}
    shard_size = int(sp.get("shard_size", 100))
    b = base
    if ctx.id_col not in b.columns:
        raise ValueError(
            f"{a.type} orders its deterministic sample by {ctx.id_col!r}, "
            f"which this table lacks — pass id_col= to search() "
            f"(columns: {b.columns})"
        )
    if a.type == "diversified_sampler":
        mpv = int(sp.get("max_docs_per_value", 1))
        w = Window.partitionBy(sp["field"]).orderBy(F.asc(ctx.id_col))
        b = (
            b.withColumn("_dsrn", F.row_number().over(w))
            .filter(F.col("_dsrn") <= mpv)
            .drop("_dsrn")
        )
    return ctx.sub_or_count(a.children, b.orderBy(F.asc(ctx.id_col)).limit(shard_size), [])


@_handles("bucket", "composite")
def _composite(ctx, a, base, group_cols):
    # ES composite agg: a FLAT multi-source bucket stream, paginated by
    # after-key — the scale path for high-cardinality bucket sets (terms
    # aggs keep global top-n state; composite streams buckets in key
    # order, so each page is one groupBy + keyset predicate, same
    # pushdown shape as search_after).
    if group_cols:
        raise ValueError("composite under a bucketing agg is not supported")
    comp = a.params
    size = int(comp.get("size", 10))
    after = comp.get("after")
    key_cols = []
    b = base
    for src in comp["sources"]:
        (sname, sspec), = src.items()
        (skind, sdef), = sspec.items()
        if skind == "terms":
            expr = F.col(sdef["field"])
        elif skind == "histogram":
            iv = float(sdef["interval"])
            expr = F.floor(F.col(sdef["field"]) / F.lit(iv)) * F.lit(iv)
        elif skind == "date_histogram":
            expr = F.date_trunc(_date_unit(sdef), F.col(sdef["field"]))
        else:
            raise ValueError(f"composite source kind {skind!r}")
        b = b.withColumn(sname, expr)
        key_cols.append(sname)
    out = _count_by(b, key_cols)
    if after is not None:
        # strictly-after in the composite key order (lexicographic over
        # the sources) — the keyset predicate pushes down
        missing_keys = [c for c in key_cols if c not in after]
        if missing_keys:
            raise ValueError(f"after is missing keys {missing_keys}")
        pred = F.lit(False)
        for i, c in enumerate(key_cols):
            eq = F.lit(True)
            for prev in key_cols[:i]:
                eq = eq & (F.col(prev) == F.lit(after[prev]))
            pred = pred | (eq & (F.col(c) > F.lit(after[c])))
        out = out.filter(pred)
    return out.orderBy(*[F.asc(c) for c in key_cols]).limit(size)


@_handles("bucket", "adjacency_matrix")
def _adjacency_matrix(ctx, a, base, group_cols):
    # ES adjacency_matrix: doc counts for each named filter and each
    # pairwise intersection ("a&b", ES's key format). The key set is
    # static at query-build time, so this compiles to ONE conditional
    # aggregation pass (count_if per key/pair — no explode, no shuffle
    # beyond the single reduce) followed by an unpivot of the 1-row
    # result; empty buckets are omitted like ES.
    if group_cols:
        raise ValueError("adjacency_matrix under a bucketing agg is not supported")
    named = a.params["filters"]
    keys = sorted(named)
    conds = {
        nm: F.coalesce(filter_expr(named[nm], ctx.id_col), F.lit(False)) for nm in keys
    }
    cells: list[tuple[str, Column]] = [(nm, conds[nm]) for nm in keys]
    for i, k1 in enumerate(keys):
        for k2 in keys[i + 1:]:
            cells.append((f"{k1}&{k2}", conds[k1] & conds[k2]))
    agg_row = base.agg(
        *[F.count_if(c).alias(f"_c{i}") for i, (_, c) in enumerate(cells)]
    )
    pairs = F.array(*[
        F.struct(F.lit(nm).alias("key"), F.col(f"_c{i}").alias("doc_count"))
        for i, (nm, _) in enumerate(cells)
    ])
    return (
        agg_row.select(F.explode(pairs).alias("b"))
        .select("b.key", "b.doc_count")
        .filter(F.col("doc_count") > 0)
    )


def _top_n(counted: DataFrame, group_cols: list, order: list, n: int) -> DataFrame:
    """The first ``n`` bucket rows of ``order`` per enclosing bucket."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


@_handles("bucket", "multi_terms")
def _multi_terms(ctx, a, base, group_cols):
    # ES multi_terms: composite bucket key over several fields, top-n by
    # doc_count (desc) then keys asc — exactly the terms plan shape. Keys
    # are emitted as one column per source field (ES emits a key array;
    # columns are the relational equivalent).
    fields = [te["field"] for te in a.params["terms"]]
    buckets = _top_n(
        _count_by(base, [*group_cols, *fields]), group_cols,
        [F.desc("doc_count"), *[F.asc(f) for f in fields]],
        int(a.params.get("size", 10)),
    )
    return ctx.restricted(a, base, buckets, group_cols, fields)


@_handles("bucket", "rare_terms")
def _rare_terms(ctx, a, base, group_cols):
    # ES rare_terms: the LONG TAIL — values with doc_count ≤
    # max_doc_count, ordered count asc then key asc. ES bounds memory
    # with a CuckooFilter and is approximate; exact here (one groupBy +
    # filter), the same exact-by-default policy as cardinality.
    field = a.params["field"]
    maxc = int(a.params.get("max_doc_count", 1))
    buckets = _count_by(base, [*group_cols, field]).filter(F.col("doc_count") <= maxc)
    return ctx.restricted(a, base, buckets, group_cols, [field])


@_handles("bucket", "terms")
def _terms(ctx, a, base, group_cols):
    t = a.params
    field = t["field"]
    inc = t.get("include")
    if isinstance(inc, dict):
        # ES terms partitioning: a huge-cardinality terms agg pages as
        # num_partitions disjoint requests, each seeing only the terms
        # whose hash lands in its partition — the documented ES pattern
        # for aggregating millions of keys without one response holding
        # them all. Hash = the portable md5 (dedup.portable_hash60 on the
        # stringified key), so the partition function is reproducible in
        # the DuckDB twin and across engines; the predicate applies
        # BEFORE the count shuffle, so each request aggregates
        # ~1/num_partitions of the key space.
        np_, pid = int(inc["num_partitions"]), int(inc["partition"])
        if not (np_ >= 2 and 0 <= pid < np_):
            raise ValueError(
                f"terms include needs 0 <= partition < num_partitions "
                f"(>= 2); got partition={pid} num_partitions={np_}"
            )
        from .dedup import portable_hash60

        base = base.filter(
            portable_hash60(F.col(field).cast("string")) % F.lit(np_) == F.lit(pid)
        )
    elif isinstance(inc, str):
        # ES include as a string is a WHOLE-TERM regex (Lucene anchors
        # it) — anchor explicitly, rlike is substring-based
        base = base.filter(F.col(field).rlike(f"^(?:{inc})$"))
    elif inc is not None:
        base = base.filter(F.col(field).isin(_as_list(inc)))
    exc = t.get("exclude")
    if exc is not None:
        if isinstance(exc, str):
            base = base.filter(~F.col(field).rlike(f"^(?:{exc})$"))
        else:
            base = base.filter(~F.col(field).isin(_as_list(exc)))
    buckets = _top_n(
        _count_by(base, [*group_cols, field]), group_cols,
        [F.desc("doc_count"), F.asc(field)], int(t.get("size", 10)),
    )
    return ctx.restricted(a, base, buckets, group_cols, [field])


@_handles("bucket", "top_hits")
def _top_hits(ctx, a, base, group_cols):
    # per-bucket example documents (ES top_hits): row_number window over
    # the enclosing bucket keys — one shuffle on the bucket key,
    # rank-limited in place, never a per-bucket collect. Tie order on
    # equal sort keys is unspecified, as in ES — pass a total sort for
    # deterministic pages.
    th = a.params
    sort_cols = _sort_cols(th.get("sort")) or [
        F.col(c).asc() for c in base.columns[:1]
    ]
    out = _top_n(base, group_cols, sort_cols, int(th.get("size", 3)))
    src = th.get("_source")
    if isinstance(src, list) and src:
        out = out.select(*group_cols, *[c for c in src if c not in group_cols])
    return out


@_handles("bucket", "missing")
def _missing(ctx, a, base, group_cols):
    # ES missing agg: docs lacking a value for the field
    null = F.col(a.params["field"]).isNull()
    if group_cols:
        return _count_by(base.filter(null), group_cols)
    return base.agg(F.count_if(null).alias("doc_count"))


@_handles("bucket", "median_absolute_deviation")
def _median_absolute_deviation(ctx, a, base, group_cols):
    # ES MAD: median(|x − median(x)|) — two aggregate passes (the inner
    # median is itself an aggregate, which no single pass can nest);
    # per-bucket medians broadcast back onto the rows. Exact by default,
    # approx: true → percentile_approx.
    f = a.params["field"]
    fn = F.percentile_approx if a.params.get("approx") else F.percentile
    meds = base.groupBy(*group_cols).agg(fn(F.col(f), F.lit(0.5)).alias("_med"))
    joined = (
        base.join(F.broadcast(meds), group_cols)
        if group_cols else base.crossJoin(F.broadcast(meds))
    )
    return _count_by(
        joined, group_cols,
        fn(F.abs(F.col(f) - F.col("_med")), F.lit(0.5)).alias("value"),
    )


@_handles("bucket", "string_stats")
def _string_stats(ctx, a, base, group_cols):
    # ES string_stats: count/min_length/max_length/avg_length + Shannon
    # entropy (bits) over the CHARACTER distribution. Length stats are
    # one pass; entropy is a char-explode + two bucket-level aggregates
    # (rows ∝ total characters, the honest lower bound).
    f = a.params["field"]
    lens = base.groupBy(*group_cols).agg(
        F.count(f).alias("count"),
        F.min(F.length(f)).alias("min_length"),
        F.max(F.length(f)).alias("max_length"),
        F.avg(F.length(f)).alias("avg_length"),
    )
    chars = base.select(
        *group_cols, F.explode(F.split(F.col(f), "")).alias("_ch")
    ).filter(F.col("_ch") != "")
    freq = chars.groupBy(*group_cols, "_ch").agg(F.count(F.lit(1)).alias("_c"))
    tot = freq.groupBy(*group_cols).agg(F.sum("_c").alias("_t"))
    j = (
        freq.join(F.broadcast(tot), group_cols)
        if group_cols else freq.crossJoin(F.broadcast(tot))
    )
    ent = j.groupBy(*group_cols).agg(
        (-F.sum(
            (F.col("_c") / F.col("_t")) * F.log2(F.col("_c") / F.col("_t"))
        )).alias("entropy")
    )
    return lens.join(ent, group_cols) if group_cols else lens.crossJoin(ent)


@_handles("bucket", "significant_terms")
def _significant_terms(ctx, a, base, group_cols, analyzed=False):
    # ES significant_terms: terms over-represented in the query's
    # foreground set vs the whole-index background, scored with ES's
    # default JLH = (fg% − bg%) · (fg% / bg%), keeping fg% > bg%.
    # Percentages are DOC frequencies (a doc counts once per term).
    # field == text_col contrasts analyzed tokens (the classic use); any
    # other field contrasts raw keyword values. Plan shape: two grouped
    # doc-frequency counts joined on term (fg ⊂ bg so the join is inner),
    # scalar totals broadcast via a 1-row crossJoin — no per-row Python,
    # no driver collect.
    if group_cols:
        raise ValueError("significant_terms under a bucketing agg is not supported")
    if ctx.background is None:
        raise ValueError(
            "significant_terms needs the unfiltered table as background "
            "(call through dsl.search)"
        )
    field = a.params["field"]
    analyzed = analyzed or field == ctx.text_col
    topn = int(a.params.get("size", 10))
    min_doc = int(a.params.get("min_doc_count", 3))  # ES default 3

    def doc_terms(df: DataFrame) -> DataFrame:
        if analyzed:
            from .analyze import terms_array

            return df.select(
                F.explode(F.array_distinct(terms_array(F.col(field)))).alias("term")
            )
        return df.select(F.col(field).alias("term")).where(F.col("term").isNotNull())

    fg = _count_by(doc_terms(base), ["term"])
    bg = doc_terms(ctx.background).groupBy("term").agg(
        F.count(F.lit(1)).alias("bg_count")
    )
    fg_tot = base.agg(F.count(F.lit(1)).alias("_fg_tot"))
    bg_tot = ctx.background.agg(F.count(F.lit(1)).alias("_bg_tot"))
    fgp = F.col("doc_count") / F.col("_fg_tot")
    bgp = F.col("bg_count") / F.col("_bg_tot")
    return (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(fg_tot))
        .crossJoin(F.broadcast(bg_tot))
        .filter(F.col("doc_count") >= F.lit(min_doc))
        .withColumn("score", F.round((fgp - bgp) * (fgp / bgp), 6))
        .filter(F.col("score") > 0)
        .select("term", "doc_count", "bg_count", "score")
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(topn)
    )


@_handles("bucket", "significant_text")
def _significant_text(ctx, a, base, group_cols):
    # ES significant_text: significant_terms over text RE-ANALYZED at
    # query time (this engine never needs fielddata), plus
    # filter_duplicate_text: drop exact-duplicate foreground texts before
    # counting, ES's guard against a boilerplate page dominating the
    # foreground sample. One md5 dedup over the FOREGROUND only (a
    # query-sized set, not the corpus); background is never deduped, as
    # in ES. The survivor is the duplicate group's MIN id (the contract
    # the oracle's min(doc_id) mirrors).
    if a.params.get("filter_duplicate_text"):
        w_ = Window.partitionBy(
            F.md5(F.col(a.params["field"]).cast("string"))
        ).orderBy(F.col(ctx.id_col))
        base = (
            base.withColumn("_rn_sig", F.row_number().over(w_))
            .filter(F.col("_rn_sig") == 1)
            .drop("_rn_sig")
        )
    return _significant_terms(ctx, a, base, group_cols, analyzed=True)


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    body: dict[str, Any],
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """``es.delete_by_query(body=...)`` analogue — the reference's delete
    path verbatim (mira/elasticsearch.py:255-274, alhena/elasticsearch.py
    fill_base_query: ``bool.filter.term(dashboard_id)`` + refresh).

    Resolution strategy (VERDICT r02 #4):
    - a term filter on the indexed TEXT field is answered FROM THE INDEX
      (deletes.delete_by_term — term-pushdown block read, no doc scan);
    - any other filter runs ``filter_expr`` over the documents table and
      tombstones the matching ids (deletes.delete_ids).

    Returns the total tombstone count after the call. Visibility is
    immediate (the reference's ``refresh=True``): query paths anti-join
    tombstones on every read.
    """
    from .deletes import delete_by_term, delete_ids

    q = (body or {}).get("query", {})
    flat = _unwrap_filter(q)
    if flat is not None:
        kind, sub = flat
        if kind == "term":
            (field, value), = sub.items()
            if isinstance(value, dict):
                value = value["value"]
            if field == text_col:
                return delete_by_term(spark, index_dir, str(value))
    if docs is None:
        raise ValueError(
            "delete_by_query needs the documents table for non-text filters "
            f"(got {q!r}); pass docs= or use a term filter on {text_col!r}"
        )
    ids = docs.filter(filter_expr(q, id_col)).select(F.col(id_col).alias("doc_id"))
    return delete_ids(spark, index_dir, ids)


def _unwrap_filter(q: dict) -> tuple[str, dict] | None:
    """Peel single-clause bool.filter/must nesting → the one leaf clause
    (the shape the reference's fill_base_query composes), else None."""
    while isinstance(q, dict) and len(q) == 1:
        (kind, body), = q.items()
        if kind == "bool":
            clauses = _as_list(body.get("filter")) + _as_list(body.get("must"))
            if len(clauses) != 1 or body.get("should") or body.get("must_not"):
                return None
            q = clauses[0]
            continue
        return kind, body
    return None


def msearch(
    spark: SparkSession, docs: DataFrame, bodies: list[dict[str, Any]]
) -> list[DataFrame]:
    """``es.msearch`` analogue. The reference batches 6-7 identical
    histogram▸histogram▸terms aggs varying only the terms field
    (mira_loader.py:262-300); those collapse into ONE shuffle here when
    issued through a single melted groupBy — msearch keeps per-body
    results for API parity, each body an independent lazy plan."""
    return [search(spark, docs, b) for b in bodies]


def msearch_template(
    spark: SparkSession,
    docs: DataFrame,
    templates: list[dict[str, Any]],
    index_dir: str | None = None,
) -> list[DataFrame]:
    """ES ``_msearch/template``: render each {"source", "params"} entry
    (render_template) then run the searches — msearch over templates."""
    return [
        search_template(spark, docs, t, index_dir=index_dir)
        for t in templates
    ]


# phrase-suggest candidate phrases grow as candidate_size^n_tokens; the
# cross product is built DRIVER-side, so refuse loudly past this budget
# (VERDICT r05 What's-wrong #2) instead of letting a pathological
# candidate_size OOM the driver.
SUGGEST_COMBO_BUDGET = 10_000


def _phrase_suggest(
    spark: SparkSession,
    docs: DataFrame,
    name: str,
    spec: dict[str, Any],
    text_col: str,
    id_col: str,
) -> DataFrame:
    """ES phrase suggester ("did you mean"): whole-phrase corrections
    ranked by a corpus bigram language model.

    ES's pipeline — per-term candidate generation (direct generator)
    then candidate-phrase scoring with an n-gram LM over the index —
    re-expressed relationally:

    1. per-slot candidates: dictionary terms within ``max_edits``
       (prefix-locked first char, the term suggester's scale lever),
       capped at ``candidate_size`` ranked input-token-first (a
       real-word slot may stand) then corpus frequency desc, term asc;
    2. candidate phrases: the cross product of the per-slot sets —
       bounded tiny relations (≤ candidate_size^n_slots rows, n ≤ 4);
    3. LM score (Laplace-smoothed bigram with a unigram start, the
       documented formula so any engine can replay it):
       ln((c1(w0)+1)/(T+V)) + Σ_i ln((c2(w_{i-1},w_i)+1)/(c1(w_{i-1})+V))
       with c1 = term occurrences, c2 = adjacent-pair occurrences,
       T = total tokens, V = vocabulary size (ES's default smoothing is
       StupidBackoff — Laplace is the deterministic, oracle-replayable
       choice, documented divergence).

    Bigram counts come from one positional self-join; T and V are
    metadata scalars (one aggregate, the corpus_stats pattern). The
    input phrase itself is excluded (ES only returns corrections).
    Returns (suggester, option, score) — score rounded to 6dp.
    """
    from .analyze import tokenize_text, tokens_df

    ph = spec["phrase"]
    if "text" not in spec:
        raise ValueError(f"phrase suggester {name!r} needs a 'text' to correct")
    size = int(ph.get("size", 5))
    gens = _as_list(ph.get("direct_generator")) or [{}]
    max_edits = int(gens[0].get("max_edits", 2))
    cand_size = int(gens[0].get("candidate_size", 5))
    tokens = tokenize_text(spec["text"])
    if not 2 <= len(tokens) <= 4:
        raise ValueError(
            f"phrase suggester supports 2-4 tokens (bigram LM; candidate "
            f"combos bounded); got {len(tokens)}"
        )
    toks = tokens_df(docs.select(id_col, text_col), text_col=text_col,
                     id_col=id_col)
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    row = uni.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c1").alias("t")
    ).first()
    v_size, t_total = float(row["v"]), float(row["t"])
    a = toks.select(
        "doc_id", F.col("pos").alias("pa"), F.col("term").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pa"), F.col("term").alias("w2"))
    big = a.join(b, ["doc_id", "pa"]).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2"))

    # per-slot candidate terms: ≤ cand_size strings per slot — QUERY
    # metadata, not data rows (the wand.py query-term-collect pattern);
    # the input token ranks first when present so real-word slots stand
    slots: list[list[str]] = []
    for tok in tokens:
        near = (
            uni.filter(
                (F.substring("term", 1, 1) == tok[:1])
                & (F.levenshtein(F.col("term"), F.lit(tok)) <= max_edits)
            )
            .orderBy(
                F.desc(F.col("term") == tok), F.desc("c1"), F.asc("term")
            )
            .limit(cand_size)
            .collect()
        )
        terms = [r["term"] for r in near]
        if not terms:
            terms = [tok]  # unknown slot: keep the input literally
        slots.append(terms)

    import itertools

    # candidate combinations grow as cand_size^n_tokens (default 5^n) —
    # a long suggest input would OOM the DRIVER building the product.
    # Refuse loudly past a budget; callers can lower cand_size or
    # pre-split the input (per-slot pruning) instead.
    n_combos = 1
    for s in slots:
        n_combos *= max(1, len(s))
    if n_combos > SUGGEST_COMBO_BUDGET:
        raise ValueError(
            f"phrase suggest: {n_combos} candidate combinations for "
            f"{len(tokens)} input tokens exceeds the "
            f"{SUGGEST_COMBO_BUDGET} budget — lower candidate_size or "
            "suggest over a shorter input"
        )
    combo_rows = list(itertools.product(*slots))
    combos = spark.createDataFrame(
        combo_rows, ", ".join(f"s{i} string" for i in range(len(tokens)))
    )
    # restrict the count relations to the candidate terms, THEN broadcast
    # — combos and the restricted relations are all tiny; the full
    # vocabulary/bigram tables never move
    all_terms = sorted({t for s in slots for t in s})
    uni_small = uni.filter(F.col("term").isin(all_terms))
    big_small = big.filter(
        F.col("w1").isin(all_terms) & F.col("w2").isin(all_terms)
    )
    combos = combos.join(
        F.broadcast(uni_small.withColumnRenamed("term", "s0")
                    .withColumnRenamed("c1", "_u0")),
        "s0", "left",
    )
    score = F.log(
        (F.coalesce(F.col("_u0"), F.lit(0)) + F.lit(1.0))
        / F.lit(t_total + v_size)
    )
    for i in range(1, len(tokens)):
        combos = combos.join(
            F.broadcast(
                uni_small.withColumnRenamed("term", f"s{i - 1}")
                .withColumnRenamed("c1", f"_up{i}")
            ),
            f"s{i - 1}", "left",
        ).join(
            F.broadcast(
                big_small.withColumnRenamed("w1", f"s{i - 1}")
                .withColumnRenamed("w2", f"s{i}")
                .withColumnRenamed("c2", f"_b{i}")
            ),
            [f"s{i - 1}", f"s{i}"], "left",
        )
        score = score + F.log(
            (F.coalesce(F.col(f"_b{i}"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col(f"_up{i}"), F.lit(0)) + F.lit(v_size))
        )
    original = " ".join(tokens)
    phrase_col = F.concat_ws(" ", *[F.col(f"s{i}") for i in range(len(tokens))])
    return (
        combos.select(
            F.lit(name).alias("suggester"),
            phrase_col.alias("option"),
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("option") != original)
        .orderBy(F.desc("score"), F.asc("option"))
        .limit(size)
    )


def suggest(
    spark: SparkSession,
    docs: DataFrame,
    body: dict[str, Any],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES term suggester (``POST /_search`` with a ``suggest`` section):
    spelling corrections for each input token from the corpus's own term
    dictionary.

    Supported per-suggester options (ES names/defaults):
    - ``size`` (5): suggestions per input token
    - ``max_edits`` (2): Levenshtein distance cap (ES allows 1-2)
    - ``prefix_length`` (1): leading chars that must match exactly — the
      scale lever: the dictionary scan prunes to the token's prefix
      bucket (predicate-pushdown-able) instead of edit-distancing the
      whole vocabulary, mirroring Lucene's prefix-locked FST walk
    - ``min_doc_freq`` (0): minimum doc frequency for a suggestion
    - ``suggest_mode`` ("missing"): missing = only suggest for tokens
      absent from the index; always = suggest for every token

    Returns (suggester, token, option, distance, freq) ordered by ES's
    sort — distance asc (closer is better), freq desc, option asc —
    limited to ``size`` per token. The term dictionary is derived from
    ``docs`` (vocabulary ≪ corpus; one groupBy, then a broadcast join
    against the handful of input tokens)."""
    from .analyze import tokenize_text
    from .postings import postings_long

    sug = body.get("suggest") or body
    out = None
    phrase_specs = {n: s for n, s in sug.items() if "phrase" in s}
    if phrase_specs:
        # phrase suggestions carry an LM score, not (distance, freq) —
        # a different result shape, so phrase suggesters don't mix with
        # term/completion ones in a single call (ES nests per-suggester
        # responses; relational outputs need one schema)
        if len(phrase_specs) != len(sug):
            raise ValueError(
                "phrase suggesters cannot be mixed with term/completion "
                "suggesters in one call (different result schemas)"
            )
        for name, spec in sorted(phrase_specs.items()):
            r = _phrase_suggest(spark, docs, name, spec, text_col, id_col)
            out = r if out is None else out.unionByName(r)
        return out.orderBy("suggester", F.desc("score"), "option")
    p = postings_long(docs.select(id_col, text_col), text_col=text_col, id_col=id_col)
    tdf = p.groupBy("term").agg(F.count_distinct("doc_id").alias("freq"))
    for name, spec in sorted(sug.items()):
        if "completion" in spec:
            # ES completion suggester analogue: prefix → top completions
            # from the corpus term dictionary, weighted by doc frequency
            # (ES uses an indexed FST with explicit weights; df is the
            # corpus-derived weight). Emitted in the term-suggester shape
            # with distance 0 so suggester types can union.
            comp = spec["completion"]
            size = int(comp.get("size", 5))
            prefix = str(spec.get("prefix", "")).lower()
            if not prefix:
                raise ValueError(f"suggester {name!r}: completion needs a prefix")
            ranked = (
                tdf.filter(F.col("term").startswith(prefix))
                .orderBy(F.desc("freq"), F.asc("term"))
                .limit(size)
                .select(
                    F.lit(name).alias("suggester"),
                    F.lit(prefix).alias("token"),
                    F.col("term").alias("option"),
                    F.lit(0).alias("distance"),
                    "freq",
                )
            )
            out = ranked if out is None else out.unionByName(ranked)
            continue
        if "term" not in spec:
            raise ValueError(
                f"suggester {name!r}: supported types are term, completion "
                "and phrase"
            )
        t = spec["term"]
        size = int(t.get("size", 5))
        max_edits = int(t.get("max_edits", 2))
        if max_edits not in (1, 2):
            raise ValueError("max_edits must be 1 or 2 (ES limit)")
        prefix_length = int(t.get("prefix_length", 1))
        min_doc_freq = int(t.get("min_doc_freq", 0))
        mode = str(t.get("suggest_mode", "missing")).lower()
        if mode not in ("missing", "always"):
            raise ValueError(f"suggest_mode {mode!r} not supported (missing/always)")
        tokens = sorted(set(tokenize_text(spec["text"])))
        tok_df = spark.createDataFrame([(tk,) for tk in tokens], "token string")
        cand = tdf.join(
            F.broadcast(tok_df),
            (
                (F.substring("term", 1, prefix_length) == F.substring("token", 1, prefix_length))
                if prefix_length > 0
                else F.lit(True)
            )
            & (F.col("term") != F.col("token"))
            & (F.levenshtein("term", "token") <= F.lit(max_edits)),
        ).withColumn("distance", F.levenshtein("term", "token"))
        if min_doc_freq > 0:
            cand = cand.filter(F.col("freq") >= min_doc_freq)
        if mode == "missing":
            # which input tokens exist in the dictionary? Reduce the
            # vocabulary to the ≤|tokens| present ones FIRST (broadcast
            # semi-join against the tiny token list), then anti-join the
            # candidates against that — broadcasting the full vocabulary
            # would not survive a web-scale term dictionary
            present = tdf.join(
                F.broadcast(tok_df), F.col("term") == F.col("token"), "left_semi"
            ).select(F.col("term").alias("token"))
            cand = cand.join(F.broadcast(present), "token", "left_anti")
        w = Window.partitionBy("token").orderBy(
            F.asc("distance"), F.desc("freq"), F.asc("term")
        )
        ranked = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= size)
            .select(
                F.lit(name).alias("suggester"),
                "token",
                F.col("term").alias("option"),
                "distance",
                "freq",
            )
        )
        out = ranked if out is None else out.unionByName(ranked)
    return out.orderBy("suggester", "token", "distance", F.desc("freq"), "option")


def open_pit(index_dir: str) -> dict[str, str]:
    """ES ``POST /<index>/_pit`` analogue: capture the index's current
    state for point-in-time searches. The returned id pins the
    GENERATION COUNT (the snapshot axis timetravel.py serves) — searches
    with ``body["pit"]`` reproduce this state exactly even after later
    ``append_documents`` calls. A rewrite (compact/merge) invalidates
    old pits loudly, exactly like timetravel's refusal."""
    from .build import load_stats

    g = int(load_stats(index_dir).get("generations", 1))
    return {"id": f"gen-{g}"}


def _parse_pit(pit_id: str) -> int:
    m = re.fullmatch(r"gen-(\d+)", str(pit_id))
    if m is None:
        raise ValueError(
            f"malformed pit id {pit_id!r} (open_pit returns 'gen-<g>')"
        )
    return int(m.group(1))


def scroll(
    spark: SparkSession,
    docs: DataFrame,
    body: dict[str, Any],
    index_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """ES scroll analogue: iterate EVERY hit of a filter query in stable
    pages — implemented as automated ``search_after`` keyset pagination
    (the scale path ES itself migrated scroll users to: each page is one
    pushdown-able keyset predicate, no server-side cursor state, no
    deep-offset re-sort).

    Yields lists of Rows, one list per page. The driver materializes ONE
    page at a time (bounded by ``size``) to extract the next keyset —
    cursor pagination is inherently client-paced; the corpus is never
    collected. The sort is made total by appending ``id_col`` asc when
    absent, so pages tile exactly (a non-total sort would skip/duplicate
    rows across pages). Scoring queries are rejected, as in search().

    ``slice: {"id": i, "max": m}`` — ES sliced scroll: m clients each
    iterate a DISJOINT 1/m of the hits in parallel (the bulk-export
    scale path: one slice per worker, m independent pushed-down
    predicates, no coordination). ES slices on a hash of ``_id``; here
    the portable md5 hash (dedup.portable_hash60) so the partition is
    reproducible cross-engine — the DuckDB twin of slice i of m is
    ``CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
    AS BIGINT) % m = i``. Slices are a partition of the id space:
    disjoint, and their union is exactly the unsliced hit set
    (pytest-gated).
    """
    body = dict(body)
    sl = body.pop("slice", None)
    if sl is not None:
        m, i = int(sl["max"]), int(sl["id"])
        if not (m >= 2 and 0 <= i < m):
            raise ValueError(
                f"slice needs 0 <= id < max with max >= 2; got id={i} "
                f"max={m}"
            )
        from .dedup import portable_hash60

        docs = docs.filter(
            portable_hash60(F.col(id_col).cast("string")) % F.lit(m)
            == F.lit(i)
        )
    sort = _as_list(body.get("sort"))
    keys = [
        (s if isinstance(s, str) else next(iter(s)))
        for s in sort
    ]
    if id_col not in keys:
        sort = sort + [{id_col: "asc"}]
    body["sort"] = sort
    body.pop("search_after", None)
    size = int(body.get("size", 10))

    def sort_vals(row) -> list:
        return [row[_sort_spec(s)[0]] for s in sort]

    after = None
    while True:
        b = dict(body)
        if after is not None:
            b["search_after"] = after
        rows = search(
            spark, docs, b, index_dir=index_dir,
            text_col=text_col, id_col=id_col,
        ).collect()
        if not rows:
            return
        yield rows
        if len(rows) < size:
            return
        after = sort_vals(rows[-1])


def more_like_this(
    spark: SparkSession,
    docs: DataFrame,
    body: dict[str, Any],
    text_col: str = "text",
    id_col: str = "doc_id",
    index_dir: str | None = None,
) -> DataFrame:
    """ES ``more_like_this`` query: find documents similar to a seed doc.

    Lucene's MLT pipeline, re-expressed as one Catalyst plan with ZERO
    driver-side term materialization:
    1. interesting terms = the seed doc's terms ranked by tf·idf
       (idf = ln(1 + (N − df + 0.5)/(df + 0.5)), the engine's BM25 idf),
       filtered by min_term_freq / min_doc_freq, top ``max_query_terms``
       (ties: term asc);
    2. docs are scored with the standard BM25 sum over those terms —
       the selected-term relation joins the postings directly (a
       broadcast of ≤ max_query_terms rows), so nothing is collected.

    Supported options: ``like`` ({"doc_id": id}), ``max_query_terms``
    (25), ``min_term_freq`` (2), ``min_doc_freq`` (5), ``include``
    (false — ES excludes the seed doc itself), ``size``."""
    from .bm25 import SCORE_DECIMALS, bm25_score_expr
    from .postings import corpus_stats, doc_lengths, postings_long, term_df

    mlt = body["query"]["more_like_this"] if "query" in body else body
    like = mlt["like"]
    if not (isinstance(like, dict) and "doc_id" in like):
        raise ValueError('more_like_this like must be {"doc_id": <id>}')
    seed_id = like["doc_id"]
    max_terms = int(mlt.get("max_query_terms", 25))
    min_tf = int(mlt.get("min_term_freq", 2))
    min_df = int(mlt.get("min_doc_freq", 5))
    include = bool(mlt.get("include", False))
    size = int(body.get("size", 10))

    if index_dir is not None:
        # index-served (r5): seed term stats from ONE id-pruned doc
        # (O(seed), never a corpus tokenize); df/dl/avgdl from the
        # index's terms/doclens/stats.json; candidate postings decode
        # only the ≤ max_query_terms selected terms' blocks. The one
        # driver materialization is the selected-term list itself
        # (≤ max_query_terms short strings — query metadata, the same
        # class as wand.py's query-term stats collect).
        from .analyze import terms_array
        from .phrase import tf_postings
        from .postings import index_inputs

        si = index_inputs(spark, index_dir)
        stats, dl, tdf = si.stats, si.dl, si.tdf
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(stats.n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        seed_tf = (
            # the seed doc analyzes with the index's own chain, so its
            # terms land in the index's (possibly stemmed) vocabulary
            docs.filter(F.col(id_col) == F.lit(seed_id))
            .select(F.explode(
                terms_array(F.col(text_col), chain=_index_chain(index_dir))
            ).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        sel_rows = (
            seed_tf.filter(F.col("tf") >= min_tf)
            .join(tdf, "term")
            .filter(F.col("df") >= min_df)
            .withColumn("_tfidf", F.col("tf") * idf)
            .orderBy(F.desc("_tfidf"), F.asc("term"))
            .limit(max_terms)
            .select("term")
            .collect()
        )
        terms_list = [r.term for r in sel_rows]
        if not terms_list:
            return empty_frame(spark, "doc_id long, score double")
        seed_terms = spark.createDataFrame(
            [(t,) for t in terms_list], "term string"
        )
        p = tf_postings(spark, index_dir, terms_list)
    else:
        p = postings_long(docs.select(id_col, text_col), text_col=text_col, id_col=id_col)
        dl = doc_lengths(docs.select(id_col, text_col), text_col=text_col, id_col=id_col)
        stats = corpus_stats(dl)
        tdf = term_df(p)
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(stats.n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        seed_terms = (
            p.filter(F.col("doc_id") == F.lit(seed_id))
            .filter(F.col("tf") >= min_tf)
            .join(tdf, "term")
            .filter(F.col("df") >= min_df)
            .withColumn("_tfidf", F.col("tf") * idf)
            .orderBy(F.desc("_tfidf"), F.asc("term"))
            .limit(max_terms)
            .select("term")
        )
    cand = p.join(F.broadcast(seed_terms), "term")
    if not include:
        cand = cand.filter(F.col("doc_id") != F.lit(seed_id))
    scored = (
        cand.join(F.broadcast(tdf.join(F.broadcast(seed_terms), "term")), "term")
        .join(dl, "doc_id")
        .withColumn("contrib", bm25_score_expr(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
    )
    if index_dir is not None:
        from .deletes import filter_deleted

        scored = filter_deleted(spark, index_dir, scored)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(size)


# ---------------------------------------------------------------------------
# _termvectors / _mget / _field_caps — the per-document ES utility APIs
# ---------------------------------------------------------------------------

def termvectors(
    spark: SparkSession,
    docs: DataFrame,
    ids: list[int],
    index_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``_termvectors`` / ``_mtermvectors`` analogue.

    Forward statistics (term_freq, positions) come from the requested
    documents' text — an id-pruned scan + posexplode, O(requested docs),
    never a corpus pass. Corpus statistics (doc_freq) join from the
    index's terms table when ``index_dir`` is given: the per-doc term
    set is the broadcast side (tiny), the vocabulary never moves.
    Without an index, doc_freq falls back to a full-corpus aggregate
    (correct, but a scan per call — the documented anti-pattern at
    scale; build the index).

    Returns (doc_id, term, term_freq, positions, doc_freq) sorted by
    (doc_id, term).
    """
    from .analyze import terms_array

    wanted = docs.filter(F.col(id_col).isin([int(i) for i in ids]))
    toks = wanted.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(terms_array(F.col(text_col))).alias("pos", "term"),
    )
    fwd = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )
    if index_dir is not None:
        import os as _os

        terms_tbl = spark.read.parquet(_os.path.join(index_dir, "terms"))
        out = terms_tbl.join(F.broadcast(fwd), "term")
    else:
        alldf = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.array_distinct(terms_array(F.col(text_col)))).alias("term"),
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        out = alldf.join(F.broadcast(fwd), "term")
    return out.select(
        "doc_id", "term", "term_freq", "positions", F.col("df").alias("doc_freq")
    ).orderBy("doc_id", "term")


def mget(
    docs: DataFrame,
    ids: list[int],
    _source: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``_mget``: fetch documents by id, in REQUEST order (ES returns
    hits positionally). The id list becomes a tiny broadcast relation
    carrying its request position — an id-pruned join, no driver loop."""
    spark = docs.sparkSession
    req = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(ids)], f"_req_pos int, {id_col} long"
    )
    cols = _source if _source else [c for c in docs.columns]
    out = docs.join(F.broadcast(req), id_col).orderBy("_req_pos")
    return out.select(*cols)


_ES_TYPE_BY_SPARK = {
    "long": "long", "integer": "integer", "int": "integer",
    "short": "short", "byte": "byte",
    "double": "double", "float": "float",
    "string": "keyword", "boolean": "boolean",
    "timestamp": "date", "date": "date", "binary": "binary",
}


def field_caps(docs: DataFrame) -> dict[str, dict]:
    """ES ``_field_caps`` analogue: the table schema as ES field
    capabilities. Arrays of structs report as ``nested``; float arrays
    as ``dense_vector``; everything is searchable/aggregatable (columnar
    storage — every column is a doc-values column)."""
    from pyspark.sql.types import ArrayType, StructType as _St

    caps: dict[str, dict] = {}
    for f in docs.schema.fields:
        dt = f.dataType
        if isinstance(dt, _St):
            es = "object"
        elif isinstance(dt, ArrayType):
            if isinstance(dt.elementType, _St):
                es = "nested"
            elif dt.elementType.typeName() in ("float", "double"):
                es = "dense_vector"
            else:
                es = _ES_TYPE_BY_SPARK.get(dt.elementType.typeName(), "keyword")
        else:
            es = _ES_TYPE_BY_SPARK.get(dt.typeName(), "keyword")
        caps[f.name] = {
            "type": es, "searchable": True, "aggregatable": es != "object",
        }
    return caps


# ---------------------------------------------------------------------------
# _search/template — mustache-subset template rendering
# ---------------------------------------------------------------------------

def render_template(source, params: dict[str, Any]):
    """ES search-template rendering (the mustache subset the ES docs
    demonstrate): ``{{var}}`` substitution anywhere in the body,
    ``{{#toJson}}var{{/toJson}}`` for structured values, and
    ``{{var}}{{^var}}default{{/var}}`` fallbacks. Rendering walks the
    JSON tree (driver-side, O(template)); a string that is EXACTLY one
    placeholder keeps the param's native type (so sizes stay ints and
    arrays stay arrays), otherwise placeholders interpolate into the
    string."""
    if isinstance(source, dict):
        return {k: render_template(v, params) for k, v in source.items()}
    if isinstance(source, list):
        return [render_template(v, params) for v in source]
    if not isinstance(source, str):
        return source
    m = re.fullmatch(r"\{\{#toJson\}\}(\w+)\{\{/toJson\}\}", source.strip())
    if m:
        return params[m.group(1)]
    m = re.fullmatch(r"\{\{(\w+)\}\}\{\{\^(\w+)\}\}(.*?)\{\{/(\w+)\}\}",
                     source.strip())
    if m and m.group(1) == m.group(2) == m.group(4):
        name, default = m.group(1), m.group(3)
        return params[name] if name in params else _parse_default(default)
    m = re.fullmatch(r"\{\{(\w+)\}\}", source.strip())
    if m:
        # mustache semantics: a missing variable renders empty
        return params.get(m.group(1), "")

    def sub(mm):
        name = mm.group(1)
        return str(params[name]) if name in params else ""

    return re.sub(r"\{\{(\w+)\}\}", sub, source)


def _parse_default(s: str):
    try:
        return json.loads(s)
    except Exception:
        return s


def search_template(
    spark: SparkSession,
    docs: DataFrame,
    template: dict[str, Any],
    index_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``_search/template``: render ``template["source"]`` with
    ``template["params"]`` then run the ordinary search."""
    body = render_template(template["source"], template.get("params") or {})
    return search(
        spark, docs, body, index_dir=index_dir,
        text_col=text_col, id_col=id_col,
    )


def validate_query(body: dict[str, Any]) -> dict[str, Any]:
    """ES ``_validate/query`` analogue: can this body's query compile?

    Attempts the same compilation search()/count() would perform —
    filter_expr for filter-context clauses, the query_string parser for
    query_string — WITHOUT executing anything. Returns ES's response
    shape: {"valid": bool, "error": str|None}.
    """
    query = body.get("query", {}) or {}
    try:
        if len(query) == 1 and "query_string" in query:
            from .querystring import parse_query_string

            sub = query["query_string"]
            if isinstance(sub, str):
                sub = {"query": sub}
            parse_query_string(
                sub["query"], sub.get("default_field") or "text",
                str(sub.get("default_operator", "or")).lower(),
            )
        else:
            scoring, filters = _split_scoring(query)
            if filters:
                filter_expr(filters)
        return {"valid": True, "error": None}
    except (ValueError, KeyError) as e:
        return {"valid": False, "error": str(e)}
