"""Host link-graph analytics: href extraction, graph build, PageRank.

Web-curation pipelines rank DOMAINS before they rank documents (the
Common-Crawl host ranking idea): a host's link-graph centrality is a
cheap, robust quality prior for mixture weighting and crawl budgets.
Three composable stages:

- :func:`extract_links` — absolute http(s) hrefs out of raw html,
  entirely JVM regexp builtins (whole-stage codegen, no Python rows);
- :func:`host_link_graph` — (src_host, dst_host, n_links) edges via
  the canonical url/host rules from operators/url.py, self-loops
  dropped, one hash aggregate;
- :func:`pagerank_hosts` — damped PageRank over the weighted host
  graph in EXACT INTEGER MICRO-UNITS (the repo's bitwise-determinism
  contract, cf. operators/lm.py): rank 1.0 = 1_000_000, every
  per-edge contribution is a truncating integer division, so results
  are identical under any partitioning/aggregation order AND exactly
  replayable by an unrolled SQL mirror — which is how the driver
  oracle checks it.

Update rule (fixed iteration count, the production-standard truncated
power iteration):

    r0[v]      = 1_000_000
    w_out[s]   = total outgoing link weight of s
    contrib(e) = n_e * ((r[s] * damping_micro) DIV (1_000_000 * w_out[s]))
    r'[v]      = (1_000_000 - damping_micro) + sum(contrib over in-edges)

Dangling hosts (no out-links) simply leak their damped mass — the
documented simple variant; add a virtual sink edge upstream if total
mass must be conserved.

Scale shape: each iteration is ONE shuffle (edge⋈rank hash join on
src, then a map-side-combined sum by dst); the per-edge denominator
join happens once before the loop. The two loop-invariant frames and
every ``_CUT_EVERY``-th rank frame go through ``scanutil.reused``, the
library's one lineage cut, so the iterative plan stays bounded as in
operators/components.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_CUT_EVERY = 4  # iterations between lineage cuts of the rank frame

_HREF_RE = r'href\s*=\s*"(https?://[^"#\s]+)'


def extract_links(
    df: DataFrame, html_col: str, src_col: str
) -> DataFrame:
    """(src, href) per absolute http(s) link in ``html_col``.

    Double-quoted ``href="http(s)://..."`` attributes only — the form
    every sane generator emits; fragments are excluded by the capture
    class (the canonicalizer would strip them anyway). One
    ``regexp_extract_all`` + ``explode``, fully JVM-side.
    """
    return df.select(
        F.col(src_col).alias("src"),
        F.explode(
            F.regexp_extract_all(
                F.col(html_col), F.lit(_HREF_RE), F.lit(1)
            )
        ).alias("href"),
    )


def host_link_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) from (src, href) rows — hosts via
    the canonical lowercase/no-port rule (url.url_host), self-links
    dropped, multiplicity kept as the edge weight."""
    from .url import url_host

    return (
        links.select(
            url_host(F.col("src")).alias("src_host"),
            url_host(F.col("href")).alias("dst_host"),
        )
        .where(
            (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def pagerank_hosts(
    edges: DataFrame,
    iterations: int = 3,
    damping_micro: int = 850_000,
) -> DataFrame:
    """(host, rank_micro) after ``iterations`` exact-integer damped
    PageRank steps over weighted edges (src_host, dst_host, n_links).

    See the module docstring for the update rule; ``rank_micro`` is in
    micro-units (1_000_000 = rank 1.0). Bitwise deterministic at any
    parallelism: integer sums commute and every division truncates.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0 <= damping_micro <= 1_000_000:
        raise ValueError("damping_micro must be in [0, 1e6]")
    from .scanutil import reused

    base = 1_000_000 - damping_micro

    e = edges.select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("long").alias("w"),
    )
    # both loop-invariant frames get a lineage cut: nodes is
    # referenced once per iteration (the left side of the rank join)
    # and would otherwise replay the caller's whole edge-derivation
    # chain (for the parity query: HTML link extraction) every
    # iteration
    nodes = reused(
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    w_out = e.groupBy("src").agg(F.sum("w").alias("w_out"))
    # per-edge denominator fixed across iterations: join once, reuse
    ew = reused(e.join(w_out, "src"))

    ranks = nodes.withColumn("rank_micro", F.lit(1_000_000).cast("long"))
    for i in range(iterations):
        contrib = (
            ew.join(
                ranks.select(
                    F.col("host").alias("src"),
                    F.col("rank_micro").alias("r_src"),
                ),
                "src",
            )
            .select(
                F.col("dst").alias("host"),
                F.expr(
                    f"w * ((r_src * {damping_micro}) "
                    f"DIV (1000000 * w_out))"
                ).alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, "host", "left")
            .select(
                "host",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0)))
                .cast("long")
                .alias("rank_micro"),
            )
        )
        if (i + 1) % _CUT_EVERY == 0:
            ranks = reused(ranks)
    return ranks


_ANCHOR_RE = r'(?i)<a\s+href="(https?://[^"#\s]+)"[^>]*>([^<]*)</a>'


def anchor_texts(df: DataFrame, html_col: str, src_col: str) -> DataFrame:
    """(dst_host, anchor, n) — what the web CALLS each host: anchor
    text aggregated over absolute links, the classic relevance /
    quality signal (and a retrieval-index sidecar) that PageRank's
    pure topology misses.

    Two ``regexp_extract_all`` passes over the SAME pinned pattern
    (href group, anchor group) are zipped positionally — identical
    patterns guarantee alignment — then exploded, self-links dropped
    under the canonical host rule, anchors trimmed, blanks dropped,
    one hash aggregate. Entirely JVM-side.
    """
    from .url import url_host

    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(_ANCHOR_RE), F.lit(1))
    anchors = F.regexp_extract_all(F.col(html_col), F.lit(_ANCHOR_RE), F.lit(2))
    pairs = df.select(
        url_host(F.col(src_col)).alias("src_host"),
        F.explode(F.arrays_zip(hrefs.alias("href"), anchors.alias("anchor"))).alias("z"),
    ).select(
        "src_host",
        url_host(F.col("z.href")).alias("dst_host"),
        F.trim(F.col("z.anchor")).alias("anchor"),
    )
    return (
        pairs.where(
            (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
            & (F.col("anchor") != "")
        )
        .groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).alias("n"))
    )
