"""HTML -> text extraction for Common-Crawl-style pages (input-hint shape).

The north-star input table carries raw pages as ``html: binary`` next to
the extracted ``text: string``, with a per-row invariant: byte-identical
extracted text per url. This module supplies both directions as PURE JVM
column expressions (``replace`` / ``regexp_replace`` chains that stay
inside whole-stage codegen — no Python in the hot path, nothing to
serialize per row at 10^12-document scale):

- ``wrap_html(text, lang, title)`` — deterministic page synthesis: the
  escaped text inside a fixed boilerplate template (head, style, script,
  comments, a nav with an entity). Used by the synthetic pages fixture.
- ``extract_text(html)`` — the inverse: body slice, drop script/style
  blocks and comments, strip tags, decode entities, normalize
  whitespace.

Contract (property-tested in tests/test_extract.py):

    extract_text(wrap_html(t)) == normalize_ws(t)   for ANY t,

byte-exact, where ``normalize_ws`` collapses runs of whitespace to one
space and trims — exactly what HTML rendering itself does, so the
normalization is intrinsic to the round trip, not a test convenience.
For text that is already whitespace-normalized (true of the synthetic
pages fixture) the round trip is the identity, which is the per-row
invariant the input hint names.

The reference repo has no text layer (it is a sketch library; its only
input is hashed values) — this operator exists because the north-star
pipeline starts from raw pages, and the sketch inputs (distinct-text
cardinalities) are defined over the EXTRACTED text.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# The fixed page template, split at the three insertion points. The
# boilerplate deliberately exercises every extraction rule: a <style>
# and a <script> whose bodies contain '>', '{' and quotes; comments
# before and after the content; an entity (&nbsp;) outside the content;
# attributes on tags.
_PRE_LANG = '<!DOCTYPE html><html lang="'
_PRE_TITLE = '"><head><meta charset="utf-8"/><title>'
_PRE_BODY = (
    "</title>"
    '<style type="text/css">body { font: 16px/1.5 serif; margin: 2em; }</style>'
    '<script type="text/javascript">var ts = 1 + 1; if (ts > 0) {'
    ' console.log("pv", ts); }</script>'
    "</head><body><!-- header -->"
    '<div id="nav"><a href="/">&nbsp;</a></div><p>'
)
_POST_BODY = "</p><!-- footer: &copy; example --></body></html>"

# Entity table shared by both directions. Escape order: '&' FIRST (so
# later replacements never double-escape); decode order is the exact
# reverse with '&amp;' LAST (so "&amp;lt;" decodes to "&lt;", never to
# "<" — single-pass semantics, byte-exact round trip for any input).
_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")]


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def escape_html(col: str | Column) -> Column:
    """HTML-escape a string column (JVM literal replaces, no regex)."""
    c = _as_col(col)
    for raw, ent in _ESCAPES:
        c = F.replace(c, F.lit(raw), F.lit(ent))
    return c


def escape_html_py(s: str) -> str:
    """Python mirror of :func:`escape_html` (used by the pandas-side
    synthetic generator so both engines emit identical bytes)."""
    for raw, ent in _ESCAPES:
        s = s.replace(raw, ent)
    return s


def normalize_ws(col: str | Column) -> Column:
    """Collapse whitespace runs to single spaces and trim (what an HTML
    renderer does to text content)."""
    return F.trim(F.regexp_replace(_as_col(col), r"\s+", " "))


def normalize_ws_py(s: str) -> str:
    import re

    # ASCII \s to match Java's default (non-UNICODE_CHARACTER_CLASS)
    # regex semantics exactly.
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", s).strip()


def wrap_html(
    text: str | Column,
    lang: str | Column | None = None,
    title: str | Column | None = None,
) -> Column:
    """Deterministic HTML page around ``text`` (JVM concat of literals +
    the escaped columns). Inverse of :func:`extract_text` up to
    whitespace normalization."""
    lang_c = F.lit("en") if lang is None else _as_col(lang)
    title_c = F.lit("") if title is None else _as_col(title)
    return F.concat(
        F.lit(_PRE_LANG),
        escape_html(lang_c),
        F.lit(_PRE_TITLE),
        escape_html(title_c),
        F.lit(_PRE_BODY),
        escape_html(_as_col(text)),
        F.lit(_POST_BODY),
    )


def wrap_html_py(text: str, lang: str = "en", title: str = "") -> str:
    """Python mirror of :func:`wrap_html` — same bytes, used by the
    pandas-batch pages generator (sources/tables.py)."""
    return (
        _PRE_LANG
        + escape_html_py(lang)
        + _PRE_TITLE
        + escape_html_py(title)
        + _PRE_BODY
        + escape_html_py(text)
        + _POST_BODY
    )


def extract_text(html: str | Column) -> Column:
    """Extract visible body text from an ``html`` column (binary or
    string) as a single JVM expression chain.

    Steps (each a codegen-able regexp/replace; (?is) = DOTALL +
    case-insensitive so multi-line minified or shouty markup works):

    1. bytes -> string (UTF-8 cast; no-op on string input)
    2. slice the <body> element when present (head content — title,
       style, script — is not visible text)
    3. drop <script>/<style> elements WITH their contents, and comments
    4. every remaining tag becomes a space (so "a</p><p>b" keeps its
       word boundary)
    5. whitespace entities (&nbsp;, &#160;) become spaces BEFORE the
       collapse so they participate in normalization like real spaces
    6. collapse + trim whitespace
    7. decode character entities, '&amp;' last (single-pass semantics)
    """
    s = _as_col(html).cast("string")
    # pages with no <body> element (fragments): fall back to the whole
    # document. Presence is probed with a LITERAL substring scan
    # (instr, no regex backtracking) so a present-but-empty body
    # correctly extracts to '' instead of leaking head text; a raw
    # "<body" in non-tag text can't occur in well-formed pages (a
    # visible '<' must be escaped).
    has_body = F.instr(F.lower(s), "<body") > 0
    body = F.regexp_extract(s, r"(?is)<body[^>]*>(.*)</body>", 1)
    x = F.when(has_body, body).otherwise(s)
    # one alternation pass for the three content-dropping rules, one for
    # tag stripping + whitespace entities: each regexp_replace is a full
    # scan + string rebuild, so fusing passes is the main throughput
    # lever (measured ~2x end-to-end vs one pass per rule).
    x = F.regexp_replace(
        x, r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->",
        " ",
    )
    x = F.regexp_replace(x, r"(?i)<[^>]+>|&nbsp;|&#160;", " ")
    x = F.trim(F.regexp_replace(x, r"\s+", " "))
    # apostrophe entities first (not produced by wrap_html, but common
    # in the wild); '&amp;' still decodes last, so escaped forms like
    # "&amp;#39;" survive as the literal entity text — single-pass safe.
    x = F.replace(x, F.lit("&#39;"), F.lit("'"))
    x = F.replace(x, F.lit("&apos;"), F.lit("'"))
    for raw, ent in reversed(_ESCAPES):
        x = F.replace(x, F.lit(ent), F.lit(raw))
    return x


def extract_pages(
    df, html_col: str = "html", out_col: str = "text", engine: str = "arrow"
):
    """DataFrame form: add/replace ``out_col`` with the extracted text.

    Both engines are narrow maps over the scan — no shuffle — and
    produce identical output (differentially tested):

    - ``engine='arrow'`` (default): the batch-vectorized numpy kernel
      (extractkernel.py) via mapInPandas — measured ~4.5x the JVM
      engine per core on 1 KB pages (the Java regex alternation is the
      bottleneck there), at the cost of shipping the html bytes through
      Arrow once.
    - ``engine='jvm'``: the pure column-expression chain — whole-stage
      codegen, zero Python workers; use when the pipeline must stay
      JVM-only or the cluster starves Python workers of memory.

    At 10^12-row scale Catalyst prunes ``html`` out of any downstream
    plan that only reads the extracted column's aggregates in either
    mode (mapInPandas keeps the projection narrow: only ``html`` plus
    pass-through columns cross the Arrow boundary).
    """
    if engine == "jvm":
        return df.withColumn(out_col, extract_text(html_col))
    if engine != "arrow":
        raise ValueError(f"unknown engine: {engine!r} (use 'arrow' or 'jvm')")

    from .extractkernel import extract_text_batch

    out_fields = ", ".join(
        f"`{c}` string" if c == out_col else f"`{c}` {df.schema[c].dataType.simpleString()}"
        for c in df.columns
    )
    if out_col not in df.columns:
        out_fields += f", `{out_col}` string"

    def run(batches):
        for pdf in batches:
            pdf[out_col] = extract_text_batch(pdf[html_col])
            yield pdf

    return df.mapInPandas(run, out_fields)


def extract_sketch_agg(
    df,
    html_col: str = "html",
    cfg=None,
    merge_buckets: int = 16,
):
    """Fused flagship path: raw pages -> extracted text -> distinct-text
    HLL, in ONE Python pass per partition.

    Composing ``extract_pages(engine='arrow')`` with ``hll_sketch_agg``
    would ship every extracted string back to the JVM and (for
    murmur3) out to Python again. This operator is the shared
    partial -> merge scaffold (agg.py) with an HLL spec whose update
    extracts, hashes (murmur3_x64_128 low64, the reference's hash —
    hll.go:41) and inserts inside the same Arrow batch, so the only
    bytes that ever leave a worker are the per-partition sketch blobs
    (~KB). Null pages contribute no text. Returns the standard one-row
    sketch frame (``sketch binary, rows_seen long``).
    """
    import dataclasses

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from .agg import hll_spec, sketch_aggregate
    from .extractkernel import _DECODE_PASSES, extract_text_spans
    from ..sketchlib.hashing import (
        murmur3_low64_from_buffers,
        murmur3_x64_128_low64,
    )

    hll = hll_spec(cfg)

    def update(state, arrays):
        # the html bytes feed the extraction kernel ZERO-COPY from the
        # Arrow binary buffers (the kernel's flat layout IS Arrow's
        # data+offsets layout and it never writes to the input), and
        # the extracted texts are hashed as utf-8 bytes without ever
        # decoding to str — no pandas objects on the common path.
        # SEMANTICS: distinctness is over the extracted BYTES (the
        # input-hint's byte-identity invariant). On malformed-UTF-8
        # documents this differs from a decode-then-hash engine, where
        # distinct byte sequences can collapse into the same U+FFFD-
        # replaced string — byte distinctness is the intended contract.
        arr = arrays[0]
        if pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type):
            off_dtype = np.int64
        else:
            off_dtype = np.int32
        bufs = arr.buffers()
        raw_off = np.frombuffer(bufs[1], dtype=off_dtype)[
            arr.offset : arr.offset + len(arr) + 1
        ].astype(np.int64)
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        base = int(raw_off[0])
        flat = data[base : int(raw_off[-1])]
        out, s_fin, e_fin, _, has_amp = extract_text_spans(flat, raw_off - base)
        # span fast path: every doc WITHOUT an '&' in its extracted span
        # (entity decode is a provable no-op) hashes straight from the
        # kernel's collapsed buffer — zero per-doc Python objects; empty
        # docs ride along as zero-length spans
        plain = ~has_amp
        if plain.any():
            hashes = murmur3_low64_from_buffers(
                out, s_fin[plain], (e_fin - s_fin)[plain]
            )
            state = hll.update_fn(state, hashes.view("int64"))
        # entity-bearing minority: per-doc decode passes, then the
        # object-Series hash kernel (same bytes the flat path emits)
        amp_docs = np.nonzero(has_amp)[0]
        if len(amp_docs):
            big = out.tobytes()
            decoded = []
            for d in amp_docs:
                b = big[s_fin[d]:e_fin[d]]
                for pat, rep in _DECODE_PASSES:
                    if pat in b:
                        b = b.replace(pat, rep)
                decoded.append(b)
            state = hll.update_fn(
                state,
                murmur3_x64_128_low64(pd.Series(decoded)).view("int64"),
            )
        return state

    spec = dataclasses.replace(hll, name="extract_hll", update_fn=update)
    return sketch_aggregate(
        df, F.col(html_col), spec, hash_mode="arrow", merge_buckets=merge_buckets
    )


# -- page metadata extraction ------------------------------------------------

# RE2-AND-Java-compatible patterns (inline (?i), no lookarounds, no
# backrefs) so the DuckDB mirror replays them verbatim. Attribute
# order/quoting is pinned to the dominant double-quoted form; pages
# that deviate yield '' for that field rather than a guess.
_TITLE_RE = r'(?i)<title[^>]*>([^<]*)'
_META_DESC_RE = r'(?i)<meta\s+name="description"\s+content="([^"]*)"'
_HTML_LANG_RE = r'(?i)<html[^>]*\slang="([^"]*)"'
_CANONICAL_RE = r'(?i)<link\s+rel="canonical"\s+href="([^"]*)"'


def extract_page_meta(df: DataFrame, html_col: str) -> DataFrame:
    """Adds title / meta_description / html_lang / canonical_url
    columns from raw html — four JVM regexp_extract's, whole-stage
    codegen, zero Python rows (the metadata sidecar of
    :func:`extract_text`). First match wins; absent fields are ''
    (regexp_extract's no-match value), matching the SQL mirror."""
    h = F.col(html_col)
    return df.withColumns(
        {
            "title": F.regexp_extract(h, _TITLE_RE, 1),
            "meta_description": F.regexp_extract(h, _META_DESC_RE, 1),
            "html_lang": F.regexp_extract(h, _HTML_LANG_RE, 1),
            "canonical_url": F.regexp_extract(h, _CANONICAL_RE, 1),
        }
    )
