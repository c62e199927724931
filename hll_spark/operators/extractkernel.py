"""Batch-vectorized HTML -> text extraction (Arrow fast path).

Byte-level numpy re-implementation of the JVM regexp chain in
``operators/extract.py`` — same output, ~an order of magnitude faster
per core (the Java regex alternation costs ~100us per KB page; this
kernel runs a fixed number of whole-buffer numpy passes at memory
bandwidth plus sparse per-candidate index math).

PARITY CONTRACT: ``extract_text_batch(docs)[i] ==`` the value of
``extract.extract_text('html')`` for the same bytes, for any input that
is valid UTF-8 — including the regexp chain's quirky ordered-alternation
behaviors, which are replicated deliberately:

- block removal (script/style/comment, pass 1) has STRICT priority over
  generic tag stripping (pass 2): a bare ``<`` in text whose next ``>``
  sits inside a block survives as a literal ``<``, because the block —
  and the ``>`` with it — is already gone when the tag pass runs;
- an unterminated ``<script>``/``<style>`` (no closing tag in the
  document) does not match in pass 1; pass 2 then strips the open tag
  as a generic tag and the contents remain;
- ``<body[^>]*>(.*)</body>`` takes the FIRST viable ``<body`` and the
  LAST ``</body>`` (greedy DOTALL), and a present-but-unmatched
  ``<body`` yields the empty string.

For input that is NOT valid UTF-8 the outputs may differ only in the
number of U+FFFD replacement characters (Java's cast-to-string decoder
replaces per malformed sequence; Python's ``errors='replace'`` can
replace per byte). Invalid bytes are >= 0x80 and therefore inert to
every pattern here, so the extracted structure is identical either way.

All patterns and character classes in the chain are pure ASCII and
UTF-8 is self-synchronizing, so byte-position arithmetic is equivalent
to the JVM's char-position arithmetic for any valid input.

Tested in tests/test_extract.py: differential parity vs the JVM chain
on the fixture corpus and on hypothesis-generated adversarial markup
(including every quirk listed above).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np

_WS_BYTES = frozenset(b" \t\n\x0b\x0c\r")  # Java default (ASCII) \s
_WS_LUT = np.zeros(256, dtype=bool)
for _b in _WS_BYTES:
    _WS_LUT[_b] = True

# byte-translation table: \s -> ' ', identity otherwise. A single LUT
# gather (out = _TRANS_LUT[buf]) replaces the old mutate-in-place pair
# (bool-mask materialization + masked assignment) — one full-buffer
# pass less on a DRAM-bound box — and produces a fresh writable array,
# so the input buffer itself is never mutated (zero-copy Arrow input).
_TRANS_LUT = np.arange(256, dtype=np.uint8)
for _b in _WS_BYTES:
    _TRANS_LUT[_b] = 0x20

_SPACE = 0x20
_LT, _GT, _AMP, _DASH = 0x3C, 0x3E, 0x26, 0x2D

# one-pass candidate classifier: a LUT gather + single nonzero replaces
# per-symbol `buf == X` compare+nonzero passes (each of those costs
# read-n + write-n-bool + read-n; the fused form costs one gather and
# one scan for ALL symbol classes — the symbol positions themselves are
# sparse, so the per-class split is cheap index math)
_CAND_LUT = np.zeros(256, dtype=np.uint8)
_CAND_LUT[_LT] = 1
_CAND_LUT[_GT] = 2
_CAND_LUT[_DASH] = 3
_CAND2_LUT = np.zeros(256, dtype=np.uint8)
_CAND2_LUT[_LT] = 1
_CAND2_LUT[_GT] = 2
_CAND2_LUT[_AMP] = 3


def _classify(buf: np.ndarray, lut: np.ndarray):
    """Positions of the three symbol classes in ``lut``, via ONE
    full-buffer gather + ONE nonzero scan."""
    cls = lut[buf]
    idx = np.nonzero(cls)[0]
    c = cls[idx]
    return idx[c == 1], idx[c == 2], idx[c == 3]

# entity decode passes in the exact order of the JVM chain
# (extract.py: '&#39;', '&apos;', then reversed(_ESCAPES))
_DECODE_PASSES = [
    (b"&#39;", b"'"),
    (b"&apos;", b"'"),
    (b"&quot;", b'"'),
    (b"&gt;", b">"),
    (b"&lt;", b"<"),
    (b"&amp;", b"&"),
]


def _match_at(buf: np.ndarray, cand: np.ndarray, pat: bytes) -> np.ndarray:
    """Positions from ``cand`` where the buffer case-insensitively
    matches (lowercase) ``pat``.

    ``cand`` must already be positions of ``pat[0]`` (always a symbol
    byte here, so no folding needed for it); only the tail bytes are
    checked, with A-Z folded on the SPARSE gathered values — this keeps
    the kernel free of a full-buffer lowercase copy, which profiling
    showed was one of its biggest memory-traffic costs.
    """
    n, m = len(buf), len(pat)
    cand = cand[cand <= n - m]
    if not len(cand):
        return cand
    keep = np.ones(len(cand), dtype=bool)
    for j in range(1, m):
        v = buf[cand + j]
        v = np.where((v >= 0x41) & (v <= 0x5A), v + 32, v)
        keep &= v == pat[j]
    return cand[keep]


def _next_in(sorted_pos: np.ndarray, at: np.ndarray, limit: np.ndarray):
    """For each query position, the first element of ``sorted_pos`` that
    is >= ``at``, or -1 when none exists below ``limit`` (exclusive)."""
    if not len(sorted_pos):
        return np.full(np.shape(at), np.int64(-1))
    k = np.searchsorted(sorted_pos, at)
    hit = np.where(k < len(sorted_pos), sorted_pos[np.minimum(k, len(sorted_pos) - 1)], np.int64(1 << 62))
    return np.where(hit < limit, hit, np.int64(-1))


def _within_doc(cand: np.ndarray, patlen: int, offs: np.ndarray) -> np.ndarray:
    """Drop pattern hits that straddle a document boundary (the joined
    buffer concatenates docs; a hit must lie fully inside one doc)."""
    if not len(cand):
        return cand
    dend = offs[np.searchsorted(offs, cand, "right")]
    return cand[cand + patlen <= dend]


def extract_text_batch(
    docs: Iterable[bytes | bytearray | memoryview | None],
    as_bytes: bool = False,
) -> list:
    """Extract visible text from a batch of HTML byte strings.

    Returns a list of ``str`` (or ``None`` for null inputs) equal
    element-wise to the JVM ``extract_text`` chain (see module
    docstring for the parity contract). ``as_bytes=True`` returns the
    utf-8 bytes instead of decoded str (the fused sketch path hashes
    those bytes directly, so decoding would be pure overhead).
    """
    doc_list = list(docs)
    null_mask = [d is None for d in doc_list]
    byte_docs = [
        d.encode("utf-8") if isinstance(d, str)
        else bytes(d) if d is not None
        else b""
        for d in doc_list
    ]
    ndoc = len(byte_docs)
    if ndoc == 0:
        return []
    lens = np.fromiter((len(d) for d in byte_docs), dtype=np.int64, count=ndoc)
    offs = np.zeros(ndoc + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    buf = np.frombuffer(b"".join(byte_docs), dtype=np.uint8)
    return extract_text_flat(buf, offs, null_mask, as_bytes)


def extract_text_spans(buf: np.ndarray, offs: np.ndarray):
    """Span-level kernel entry for fused pipelines: same extraction as
    :func:`extract_text_flat`, but instead of materializing one Python
    bytes/str object per document it returns

    ``(out, starts, ends, empty, has_amp)``

    where ``out`` is the collapsed output buffer (uint8) and
    ``starts``/``ends`` delimit each doc's extracted text inside it
    (``starts[d] == ends[d]`` for empty docs). ``empty`` marks docs
    that extract to '' (body-mismatch or whitespace-only); ``has_amp``
    marks docs whose span still contains an '&' byte — ONLY those can
    change under entity decode, so a caller hashing extracted bytes
    can consume every other doc straight from ``out`` with zero
    per-doc allocation (hashing.murmur3_low64_from_buffers takes
    exactly this data+spans shape) and run the sequential decode
    passes on the has_amp minority alone. Null docs are the caller's
    to exclude via its own null mask; their spans are empty here.
    """
    ndoc = len(offs) - 1
    if ndoc <= 0:
        z = np.zeros(0, dtype=np.int64)
        b = np.zeros(0, dtype=bool)
        return np.zeros(0, dtype=np.uint8), z, z, b, b
    return _extract_core(buf, offs)


def extract_text_flat(
    buf: np.ndarray,
    offs: np.ndarray,
    null_mask,
    as_bytes: bool = False,
) -> list:
    """Kernel entry over an already-flat corpus: ``buf`` is the
    back-to-back utf-8/byte content of ``len(offs)-1`` documents with
    ``offs`` boundaries (exactly an Arrow binary/string array's
    data+offsets layout, so Arrow batches feed this zero-copy — the
    kernel never writes to ``buf``).
    """
    ndoc = len(offs) - 1
    if ndoc <= 0:
        return []
    out, s_fin, e_fin, empty, has_amp = _extract_core(buf, offs)
    big = out.tobytes()
    res: list = []
    for d in range(ndoc):
        if null_mask[d]:
            res.append(None)
            continue
        if empty[d]:
            res.append(b"" if as_bytes else "")
            continue
        b = big[s_fin[d]:e_fin[d]]
        if has_amp[d]:
            for pat, rep in _DECODE_PASSES:
                if pat in b:
                    b = b.replace(pat, rep)
        res.append(b if as_bytes else b.decode("utf-8", "replace"))
    return res


def _extract_core(buf: np.ndarray, offs: np.ndarray):
    ndoc = len(offs) - 1
    n = len(buf)

    # candidate first bytes are all symbols, so positions come straight
    # off the raw buffer; tails are case-folded sparsely in _match_at
    lt, gt, dash = _classify(buf, _CAND_LUT)

    body_s = _within_doc(_match_at(buf, lt, b"<body"), 5, offs)
    body_e = _within_doc(_match_at(buf, lt, b"</body>"), 7, offs)
    scr_s = _match_at(buf, lt, b"<script")
    scr_e = _match_at(buf, lt, b"</script>")
    sty_s = _match_at(buf, lt, b"<style")
    sty_e = _match_at(buf, lt, b"</style>")
    com_s = _match_at(buf, lt, b"<!--")
    com_e = _match_at(buf, dash, b"-->")

    # ------------------------------------------------------------------
    # 1. body slice: (?is)<body[^>]*>(.*)</body> — FIRST <body whose open
    #    tag closes in-doc AND has a </body> at/after the close (greedy
    #    .* -> capture runs to the LAST </body> in the doc). A doc with a
    #    '<body' substring but no regex match extracts to ''.
    start = offs[:-1].copy()
    end = offs[1:].copy()
    force_empty = np.zeros(ndoc, dtype=bool)
    if len(body_s):
        bs_doc = np.searchsorted(offs, body_s, "right") - 1
        has_bs = np.zeros(ndoc, dtype=bool)
        has_bs[bs_doc] = True
        last_be = np.full(ndoc, np.int64(-1))
        if len(body_e):
            be_doc = np.searchsorted(offs, body_e, "right") - 1
            last_be[be_doc] = body_e  # positions ascend -> last write wins
        close = _next_in(gt, body_s + 5, offs[bs_doc + 1])
        viable = (close >= 0) & (last_be[bs_doc] >= close + 1)
        # first viable candidate per doc: mask non-viable to +inf, take min
        cstart = np.where(viable, close + 1, np.int64(1 << 62))
        first_doc, first_idx = np.unique(bs_doc, return_index=True)
        grp_min = np.minimum.reduceat(cstart, first_idx)
        matched = grp_min < (1 << 62)
        start[first_doc[matched]] = grp_min[matched]
        end[first_doc[matched]] = last_be[first_doc[matched]]
        force_empty = has_bs.copy()
        force_empty[first_doc[matched]] = False
    end = np.where(force_empty, start, end)  # force-empty docs: zero slice

    # ------------------------------------------------------------------
    # 2. PASS 1 (strict priority): script/style/comment block spans.
    #    Mirrors the chain's first regexp_replace — lazy contents, left-
    #    to-right consumption AMONG BLOCKS (a block start inside an
    #    earlier block's span is inert). Unterminated blocks do not
    #    match here (the tag pass later strips just their open tag).
    bcand = np.concatenate([scr_s, sty_s, com_s])
    btyp = np.concatenate(
        [
            np.zeros(len(scr_s), np.int8),
            np.ones(len(sty_s), np.int8),
            np.full(len(com_s), 2, np.int8),
        ]
    )
    order = np.argsort(bcand, kind="stable")
    bcand, btyp = bcand[order], btyp[order]
    bdoc = np.searchsorted(offs, bcand, "right") - 1
    inb = (bcand >= start[bdoc]) & (bcand < end[bdoc])
    bcand, btyp, bdoc = bcand[inb], btyp[inb], bdoc[inb]
    bend_lim = end[bdoc]
    e_span = np.full(len(bcand), np.int64(-1))
    if len(bcand):
        for t, ends_arr, taillen in ((0, scr_e, 9), (1, sty_e, 8)):
            m = btyp == t
            if not m.any():
                continue
            bp, bl = bcand[m], bend_lim[m]
            close = _next_in(gt, bp + 1, bl)  # <script[^>]*> close
            ce = np.where(close >= 0, close + 1, bp)
            be = _next_in(ends_arr, ce, bl - taillen + 1)
            e_span[m] = np.where((close >= 0) & (be >= 0), be + taillen, np.int64(-1))
        m = btyp == 2
        if m.any():
            cp, cl = bcand[m], bend_lim[m]
            ce = _next_in(com_e, cp + 4, cl - 2)
            e_span[m] = np.where(ce >= 0, ce + 3, np.int64(-1))

    # left-to-right consumption: spans never cross docs and positions are
    # globally sorted, so one global running max finds every overlap; only
    # docs where a span-holding start is shadowed need the jump loop.
    has_span = e_span >= 0
    if len(bcand):
        run = np.maximum.accumulate(np.where(has_span, e_span, np.int64(-1)))
        shadowed = np.zeros(len(bcand), dtype=bool)
        shadowed[1:] = bcand[1:] < run[:-1]
        dirty_docs = np.unique(bdoc[shadowed & has_span])
        dirty = np.isin(bdoc, dirty_docs)
        active = has_span & ~shadowed & ~dirty
        for d in dirty_docs:
            sel = np.nonzero(bdoc == d)[0]
            pp, ee = bcand[sel], e_span[sel]
            i, m = 0, len(sel)
            while i < m:
                if ee[i] < 0:
                    i += 1
                    continue
                active[sel[i]] = True
                i = int(np.searchsorted(pp, ee[i]))
        blk_start = bcand[active]
        blk_end = e_span[active]
    else:
        blk_start = blk_end = np.empty(0, dtype=np.int64)

    # ------------------------------------------------------------------
    # 3. materialize pass 1: crop to the body slice, drop block spans
    #    (their first byte becomes the replacement space), map \s -> ' '
    #    (\s chars are pattern-inert, so mapping early is equivalent).
    #    One fused delta: slice bounds add +1/-1, spans subtract — kept
    #    bytes are exactly level==1 (active block spans are disjoint, so
    #    the level never goes below 0 inside bounds).
    out = _TRANS_LUT[buf]  # \s -> ' ' + writable copy, one gather pass
    live = end > start  # empty slices contribute nothing (and would
    # otherwise pile +1/-1 deltas onto one shared index)
    delta = np.zeros(n + 1, dtype=np.int8)
    # all four index sets are internally unique and a collision across
    # sets stacks at most ±3, so int8 with accumulating .at is safe
    np.add.at(delta, start[live], 1)
    np.add.at(delta, end[live], -1)
    if len(blk_start):
        np.add.at(delta, blk_start, -1)
        np.add.at(delta, blk_end, 1)
    # levels stay within [-1, 1]: int8 accumulation is safe and third
    # the memory traffic of int32 (this box is DRAM-bound)
    keep = np.cumsum(delta[:-1], dtype=np.int8) == 1
    if len(blk_start):
        keep[blk_start] = True
        out[blk_start] = _SPACE

    # kept bytes per doc from span arithmetic (no per-byte prefix sum):
    # slice length minus dropped block bytes (each span keeps 1 byte)
    counts = (end - start).copy()
    if len(blk_start):
        bd = np.searchsorted(offs, blk_start, "right") - 1
        np.add.at(counts, bd, -(blk_end - blk_start - 1))
    noffs = np.zeros(ndoc + 1, dtype=np.int64)
    np.cumsum(counts, out=noffs[1:])
    out = out[keep]
    n1 = len(out)

    # ------------------------------------------------------------------
    # 4. PASS 2: generic tags <[^>]+> and whitespace entities, on the
    #    pass-1 result (a '>' that lived inside a removed block is gone,
    #    exactly like the JVM chain's second regexp_replace). Every
    #    replacement is ' ' and the collapse normalizes runs, so
    #    overlapping matches need no consumption ordering here.
    lt1, gt1, amp1 = _classify(out, _CAND2_LUT)
    dend1 = noffs[np.searchsorted(noffs, lt1, "right")] if len(lt1) else lt1
    j = _next_in(gt1, lt1 + 1, dend1)
    tag_ok = (j >= 0) & (j >= lt1 + 2)
    tag_s, tag_e = lt1[tag_ok], j[tag_ok] + 1
    # overlapping generic tags always share their closing '>' (the later
    # start sees the same next '>'), so keeping the FIRST start per
    # unique end yields disjoint spans that union to the same byte set
    if len(tag_e):
        _, first = np.unique(tag_e, return_index=True)
        tag_s, tag_e = tag_s[first], tag_e[first]
    ent = np.concatenate(
        [_match_at(out, amp1, b"&nbsp;"), _match_at(out, amp1, b"&#160;")]
    )
    ent = _within_doc(ent, 6, noffs)
    # an entity inside a tag span is consumed by the tag match (the tag
    # starts earlier); dropping it here keeps the spans fully disjoint
    if len(ent) and len(tag_s):
        k = np.searchsorted(tag_s, ent, "right") - 1
        inside = (k >= 0) & (ent < tag_e[np.maximum(k, 0)])
        ent = ent[~inside]

    # disjoint tag spans + disjoint entity spans: level is 0/1, int8 safe
    delta1 = np.zeros(n1 + 1, dtype=np.int8)
    if len(tag_s):
        delta1[tag_s] += 1
        np.add.at(delta1, tag_e, -1)  # tag_e may equal a later tag_s
    if len(ent):
        np.add.at(delta1, ent, 1)
        np.add.at(delta1, ent + 6, -1)
    keep1 = np.cumsum(delta1[:-1], dtype=np.int8) == 0
    starts1 = np.concatenate([tag_s, ent])
    if len(starts1):
        keep1[starts1] = True
        out[starts1] = _SPACE

    counts1 = np.diff(noffs)
    if len(tag_s):
        td = np.searchsorted(noffs, tag_s, "right") - 1
        np.add.at(counts1, td, -(tag_e - tag_s - 1))
    if len(ent):
        ed = np.searchsorted(noffs, ent, "right") - 1
        np.add.at(counts1, ed, -5)
    noffs = np.zeros(ndoc + 1, dtype=np.int64)
    np.cumsum(counts1, out=noffs[1:])
    out = out[keep1]

    # ------------------------------------------------------------------
    # 5. collapse space runs (every \s is already ' ') + trim, per doc
    sp = out == _SPACE
    keep2 = np.ones(len(out), dtype=bool)
    keep2[1:] = ~(sp[1:] & sp[:-1])
    dup_pos = np.nonzero(~keep2)[0]
    counts2 = np.diff(noffs)
    if len(dup_pos):
        dd = np.searchsorted(noffs, dup_pos, "right") - 1
        counts2 -= np.bincount(dd, minlength=ndoc)
    noffs2 = np.zeros(ndoc + 1, dtype=np.int64)
    np.cumsum(counts2, out=noffs2[1:])
    out = out[keep2]

    nonsp = np.nonzero(out != _SPACE)[0]
    s_fin = np.empty(ndoc, dtype=np.int64)
    e_fin = np.empty(ndoc, dtype=np.int64)
    ks = np.searchsorted(nonsp, noffs2[:-1])
    ke = np.searchsorted(nonsp, noffs2[1:])
    has_txt = ks < ke
    s_fin[has_txt] = nonsp[ks[has_txt]]
    e_fin[has_txt] = nonsp[ke[has_txt] - 1] + 1
    s_fin[~has_txt] = 0
    e_fin[~has_txt] = 0

    # 7. has-'&' mask: every entity-decode pattern starts with '&', so
    # only docs whose final span holds an '&' byte can change under the
    # decode passes — one vectorized compare over the (smallest)
    # collapsed buffer lets callers skip the 6 per-doc substring scans
    # for every other doc (and lets the span consumer skip per-doc
    # materialization entirely).
    amp2 = np.nonzero(out == _AMP)[0]
    has_amp = np.zeros(ndoc, dtype=bool)
    if len(amp2):
        ad = np.searchsorted(noffs2, amp2, "right") - 1
        inside = (amp2 >= s_fin[ad]) & (amp2 < e_fin[ad])
        has_amp[ad[inside]] = True
    empty = force_empty | ~has_txt
    return out, s_fin, e_fin, empty, has_amp
