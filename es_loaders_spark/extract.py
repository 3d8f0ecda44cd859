"""Byte-identical text extraction from the html binary column.

Per BASELINE.json ``input_hint``, the engine's per-row invariant versus
the reference is: extracted text per url is byte-identical to the stored
``text`` column. The reference never parses HTML (its inputs are TSVs),
so the semantics are pinned by the corpus template (corpus.py) — but the
extractor is hardened for real Common-Crawl-shaped input (VERDICT r01
item 8):

1. HTML comments are removed FIRST (a comment may contain a fake
   ``</body>`` or tag soup);
2. ``<script>``/``<style>`` elements are removed WITH their contents
   (their bodies are code, not text — naive tag-stripping leaks them);
3. the ``<body>`` element is isolated, remaining tags stripped;
4. character entities (named + numeric dec/hex) are decoded; unknown
   entities pass through unchanged (lossless).

The synthetic corpus text contains none of ``< > &`` (corpus.py), so
steps 1-4 leave the template invariant byte-identical — property-tested
in tests/test_extract.py.

Implemented as a vectorized pandas UDF (Arrow batches, no per-row
Python driver loop) per the input_hint's UDF policy.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
_SCRIPT_STYLE_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_BODY_RE = re.compile(rb"<body[^>]*>(.*?)</body>", re.DOTALL | re.IGNORECASE)
_TAG_RE = re.compile(rb"<[^>]*>")
_ENTITY_RE = re.compile(rb"&(#[0-9]+|#[xX][0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]{1,31});")

_NAMED_ENTITIES = {
    b"amp": b"&",
    b"lt": b"<",
    b"gt": b">",
    b"quot": b'"',
    b"apos": b"'",
    b"nbsp": "\u00a0".encode("utf-8"),
}


def _entity_sub(m: re.Match) -> bytes:
    body = m.group(1)
    if body[:1] == b"#":
        try:
            code = int(body[2:], 16) if body[1:2] in (b"x", b"X") else int(body[1:])
            return chr(code).encode("utf-8")
        except (ValueError, OverflowError):
            return m.group(0)  # malformed numeric entity: keep verbatim
    return _NAMED_ENTITIES.get(body.lower(), m.group(0))


def extract_text_bytes(html: bytes) -> bytes:
    """Extract body text from one html document (bytes → bytes).

    The containment pre-checks are memchr-fast and skip whole regex
    passes on clean input (the common case for template-shaped pages).
    """
    if b"<!--" in html:
        html = _COMMENT_RE.sub(b"", html)
    if b"<script" in html or b"<style" in html or b"<SCRIPT" in html or b"<STYLE" in html:
        html = _SCRIPT_STYLE_RE.sub(b"", html)
    m = _BODY_RE.search(html)
    body = m.group(1) if m else html
    text = _TAG_RE.sub(b"", body)
    if b"&" in text:
        text = _ENTITY_RE.sub(_entity_sub, text)
    return text


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """html binary → text string, vectorized over Arrow batches."""
    return html.map(lambda b: extract_text_bytes(bytes(b)).decode("utf-8"))


def extracted(html_col: Column) -> Column:
    """Column expression: extracted text for an html binary column."""
    return extract_text(html_col)


def _tag_strip(html_col: Column) -> Column:
    """Comment/script/style removal + body isolation + tag strip — the
    pre-entity pipeline of :func:`extract_text_bytes` in Catalyst."""
    s = F.decode(html_col, "utf-8")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", "")
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", "")
    body = F.regexp_extract(s, r"(?is)<body[^>]*>(.*?)</body>", 1)
    # regexp_extract returns '' on no-match; fall back to the whole doc
    # only when a body element is genuinely absent (parity with bytes path)
    has_body = s.rlike(r"(?is)<body[^>]*>.*?</body>")
    return F.regexp_replace(F.when(has_body, body).otherwise(s), r"<[^>]*>", "")


def _named_entity_chain(text: Column) -> Column:
    """Sequential named-entity replaces (case-insensitive like the bytes
    decoder; &amp; LAST). Equal to the single-pass decoder whenever the
    text contains no numeric character reference: every replace output except &-from-amp cannot extend to a
    later entity match, and amp runs last (fuzz-checked in
    tests/test_extract.py)."""
    for name, repl in [("lt", "<"), ("gt", ">"), ("quot", '"'),
                       ("apos", "'"), ("nbsp", " "), ("amp", "&")]:
        text = F.regexp_replace(text, f"(?i)&{name};", repl)
    return text


def extracted_jvm(html_col: Column) -> Column:
    """JVM extraction fast path — the BUILD hot path.

    Why it exists: the pandas-UDF path ships every html byte through
    Arrow into 1-per-core Python workers — measured as the dominant and
    WORST-scaling build stage on this box (BENCH.md round 2). This path
    keeps extraction JVM-side: no Python workers, no Arrow transfer,
    scales with the scan.

    Byte-identical to :func:`extract_text_bytes` including numeric
    character references and invalid-codepoint passthrough (the r02
    divergence list is now empty; cross-checked on adversarial inputs in
    tests/test_extract.py): text containing ``&#`` routes through the
    exact single-pass HOF decoder, everything else takes the named
    replace chain. Caveat: the HOF branch disqualifies the projection
    from whole-stage codegen for ALL rows (~1.7× on this chain measured)
    — ingest-scale builds should use :func:`with_extracted_text`, which
    restores codegen by splitting at the DataFrame level.
    """
    text = _tag_strip(html_col)
    return F.when(
        text.contains("&#"), _decode_entities_jvm(text)
    ).otherwise(_named_entity_chain(text))


_PY_OPAQUE_NODES = ("MapInPandas", "MapInArrow", "EvalPython", "PythonUDTF")


def _has_python_source(df) -> bool:
    """True when the input subtree contains an opaque Python node —
    re-scanning such a source re-runs the Python stage in full (no
    column pruning reaches inside it). Walks the analyzed plan's node
    names, so a column or literal that merely spells a node name does
    not count."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if any(k in node.nodeName() for k in _PY_OPAQUE_NODES):
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Ingest-scale extraction: adds ``out_col`` with the extracted text.

    Rows whose html contains a numeric character reference (``&#`` —
    vanishingly rare in practice) route through the exact single-pass
    HOF decoder; all other rows take the pure regexp/replace chain.
    Both byte-identical to :func:`extract_text_bytes` on their inputs.

    TWO physical shapes, picked by the input (r7, guide §1.2):

    - table-backed input → DataFrame-level split (clean/dirty branch
      scans): each branch keeps whole-stage codegen (a HOF anywhere in a
      projection forces interpreted eval for every row — measured 1.7×
      on the chain), and the second branch scan is a cheap pruned read.
    - opaque Python source (mapInPandas synthesis etc.) → ONE scan with
      a row-level CASE in its OWN projection: a second scan would re-run
      the whole Python stage (column pruning cannot reach inside it),
      which costs more than the interpreted-eval penalty — interleaved
      A/B at 60k pages: 3.01 s single-scan vs 3.33 s split (BENCH.md,
      "r7: optimization round"). The dedicated projection keeps the CASE
      evaluated once per row even when downstream references ``out_col``
      several times (CollapseProject keeps non-cheap multi-referenced
      expressions split), avoiding the r2 no-CSE re-evaluation trap.
    """
    # raw-byte probe (no utf-8 decode): "&#" is ASCII, so a byte match is
    # exact for any valid UTF-8 input
    has_num = F.contains(F.col(html_col), F.lit(b"&#"))
    if _has_python_source(df):
        return df.withColumn(
            out_col,
            F.when(
                has_num, _decode_entities_jvm(_tag_strip(F.col(html_col)))
            ).otherwise(_named_entity_chain(_tag_strip(F.col(html_col)))),
        )
    clean = df.filter(~has_num).withColumn(
        out_col, _named_entity_chain(_tag_strip(F.col(html_col)))
    )
    dirty = df.filter(has_num).withColumn(
        out_col, _decode_entities_jvm(_tag_strip(F.col(html_col)))
    )
    return clean.unionByName(dirty)


_ENTITY_HEAD_RE = r"^&(#[0-9]+|#[xX][0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]{1,31});"


def _utf8_hex(cp: Column) -> Column:
    """Codepoint \u2192 hex string of its UTF-8 bytes, pure arithmetic
    (Spark's chr() is Latin-1-only, so the UTF-8 encode is spelled out:
    shift/mask per byte, hex, unhex later)."""
    def byte_hex(b: Column) -> Column:
        return F.lpad(F.hex(b.cast("bigint")), 2, "0")

    cont = lambda sh: byte_hex(  # noqa: E731 \u2014 continuation byte 10xxxxxx
        F.shiftright(cp, sh).bitwiseAND(F.lit(0x3F)).bitwiseOR(F.lit(0x80))
    )
    return (
        F.when(cp < 0x80, byte_hex(cp))
        .when(
            cp < 0x800,
            F.concat(
                byte_hex(F.shiftright(cp, 6).bitwiseOR(F.lit(0xC0))), cont(0)
            ),
        )
        .when(
            cp < 0x10000,
            F.concat(
                byte_hex(F.shiftright(cp, 12).bitwiseOR(F.lit(0xE0))),
                cont(6), cont(0),
            ),
        )
        .otherwise(
            F.concat(
                byte_hex(F.shiftright(cp, 18).bitwiseOR(F.lit(0xF0))),
                cont(12), cont(6), cont(0),
            )
        )
    )


def _decode_entities_jvm(text: Column) -> Column:
    """Single-pass entity decode as a Catalyst HOF chain \u2014 the exact
    semantics of ``_ENTITY_RE.sub(_entity_sub, text)``: the text splits
    at every '&' (lookahead split keeps the '&'); each segment decodes
    the entity at its head (or stays verbatim). One scan, so decoded
    output can never recombine into a new entity ("&amp;lt;" \u2192 "&lt;",
    "&#38;lt;" \u2192 "&lt;") \u2014 a property a sequential replace chain cannot
    guarantee once numeric refs join the mix.
    """
    def seg_decode(seg: Column) -> Column:
        body = F.regexp_extract(seg, _ENTITY_HEAD_RE, 1)
        rest = seg.substr(F.length(body) + F.lit(3), F.length(seg))
        verbatim = F.concat(F.lit("&"), body, F.lit(";"))
        low = F.lower(body)
        # numeric character reference \u2192 codepoint (dec or hex)
        cp = F.when(
            low.startswith("#x"),
            F.conv(body.substr(F.lit(3), F.length(body)), 16, 10).cast("long"),
        ).otherwise(body.substr(F.lit(2), F.length(body)).cast("long"))
        # invalid codepoints stay verbatim, like the bytes path (chr()
        # ValueError and surrogate UnicodeEncodeError are both ValueError)
        cp_ok = cp.isNotNull() & (cp >= 0) & (cp <= 0x10FFFF) & (
            (cp < 0xD800) | (cp > 0xDFFF)
        )
        named = (
            F.when(low == "amp", F.lit("&"))
            .when(low == "lt", F.lit("<"))
            .when(low == "gt", F.lit(">"))
            .when(low == "quot", F.lit('"'))
            .when(low == "apos", F.lit("'"))
            .when(low == "nbsp", F.lit("\u00a0"))
        )
        head = F.when(
            low.startswith("#"),
            F.when(cp_ok, F.decode(F.unhex(_utf8_hex(cp)), "UTF-8")).otherwise(
                verbatim
            ),
        ).otherwise(F.coalesce(named, verbatim))
        return F.when(body == F.lit(""), seg).otherwise(F.concat(head, rest))

    decoded = F.array_join(F.transform(F.split(text, r"(?=&)"), seg_decode), "")
    # fast path: skip the split/transform machinery entirely on rows
    # without '&' (the If evaluates only the taken branch per row)
    return F.when(text.contains("&"), decoded).otherwise(text)
