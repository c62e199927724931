"""Link graph + integer PageRank: exact parity with a pure-Python
reference, partition invariance (the bitwise-determinism claim), and
the extraction/graph-build stages."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hll_spark.operators.graph import (
    extract_links,
    host_link_graph,
    pagerank_hosts,
)


def _ref_pagerank(edges, iterations, dm=850_000):
    """Independent plain-Python mirror of the integer update rule.

    edges: list[(src, dst, w)]"""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    w_out = {}
    for s, _, w in edges:
        w_out[s] = w_out.get(s, 0) + w
    r = {v: 1_000_000 for v in nodes}
    base = 1_000_000 - dm
    for _ in range(iterations):
        nxt = {v: base for v in nodes}
        for s, d, w in edges:
            nxt[d] += w * ((r[s] * dm) // (1_000_000 * w_out[s]))
        r = nxt
    return r


@pytest.fixture(scope="module")
def random_edges():
    rng = np.random.default_rng(53)
    edges = {}
    for _ in range(300):
        s, d = rng.integers(0, 25, 2)
        if s == d:
            continue
        k = (f"host{s}", f"host{d}")
        edges[k] = edges.get(k, 0) + int(rng.integers(1, 5))
    return [(s, d, w) for (s, d), w in edges.items()]


@pytest.mark.parametrize("iters", [1, 3, 7])
def test_exact_parity_with_reference(spark, random_edges, iters):
    edf = spark.createDataFrame(
        random_edges, "src_host string, dst_host string, n_links long"
    )
    got = {
        r["host"]: r["rank_micro"]
        for r in pagerank_hosts(edf, iterations=iters).collect()
    }
    assert got == _ref_pagerank(random_edges, iters)


def test_partition_invariance(spark, random_edges):
    edf = spark.createDataFrame(
        random_edges, "src_host string, dst_host string, n_links long"
    )
    a = {
        r["host"]: r["rank_micro"]
        for r in pagerank_hosts(edf.coalesce(1), iterations=4).collect()
    }
    b = {
        r["host"]: r["rank_micro"]
        for r in pagerank_hosts(edf.repartition(13), iterations=4).collect()
    }
    assert a == b


def test_hub_outranks_leaf(spark):
    # everyone links to 'hub'; 'leaf' gets one weak link
    edges = [(f"s{i}", "hub", 3) for i in range(10)] + [("s0", "leaf", 1)]
    edf = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links long"
    )
    got = {
        r["host"]: r["rank_micro"]
        for r in pagerank_hosts(edf, iterations=3).collect()
    }
    assert got["hub"] > got["leaf"] > 0
    assert got["s1"] == 150_000  # no in-links: base mass only


def test_validation(spark):
    edf = spark.createDataFrame(
        [("a", "b", 1)], "src_host string, dst_host string, n_links long"
    )
    with pytest.raises(ValueError, match="iterations"):
        pagerank_hosts(edf, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank_hosts(edf, damping_micro=2_000_000)


def test_extract_links_and_graph(spark):
    docs = spark.createDataFrame(
        [
            (
                "https://a.example.com/p/1",
                '<html><a href="https://b.example.com/x">b</a>'
                '<a href="https://b.example.com/y">b2</a>'
                '<a href="https://A.EXAMPLE.com/self">self</a>'
                '<a href="ftp://c.example.com/no">skip</a>'
                '<a href="/relative">skip</a>'
                '<a href="https://d.example.com/frag#sec">d</a></html>',
            ),
            ("https://b.example.com/p/2", "<html>no links here</html>"),
            ("https://e.example.com:8080/p", '<a href="https://a.example.com/z">a</a>'),
        ],
        "url string, html string",
    )
    links = extract_links(docs, "html", "url")
    got = sorted((r["src"], r["href"]) for r in links.collect())
    assert got == [
        ("https://a.example.com/p/1", "https://A.EXAMPLE.com/self"),
        ("https://a.example.com/p/1", "https://b.example.com/x"),
        ("https://a.example.com/p/1", "https://b.example.com/y"),
        ("https://a.example.com/p/1", "https://d.example.com/frag"),
        ("https://e.example.com:8080/p", "https://a.example.com/z"),
    ]
    g = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_link_graph(links).collect()
    }
    # self-link dropped (case-insensitive host rule), weights counted,
    # port stripped from the linking host
    assert g == {
        ("a.example.com", "b.example.com"): 2,
        ("a.example.com", "d.example.com"): 1,
        ("e.example.com", "a.example.com"): 1,
    }


def test_end_to_end_composition(spark):
    # html -> links -> graph -> ranks, against the reference on the
    # derived edge list
    rows = []
    for i in range(40):
        hrefs = "".join(
            f'<a href="https://h{(i * 5 + j * 7 + 1) % 9}.example.com/x">l</a>'
            for j in range(3)
        )
        rows.append((f"https://h{i % 9}.example.com/p/{i}", f"<html>{hrefs}</html>"))
    docs = spark.createDataFrame(rows, "url string, html string")
    g = host_link_graph(extract_links(docs, "html", "url"))
    edges = [
        (r["src_host"], r["dst_host"], r["n_links"]) for r in g.collect()
    ]
    got = {
        r["host"]: r["rank_micro"]
        for r in pagerank_hosts(g, iterations=3).collect()
    }
    assert got == _ref_pagerank(edges, 3)


def test_anchor_texts_semantics(spark):
    from hll_spark.operators.graph import anchor_texts

    docs = spark.createDataFrame(
        [
            (
                "https://a.example.com/p",
                '<a href="https://b.example.com/x">Click Here</a>'
                '<a href="https://b.example.com/y"> Click Here </a>'  # trims to same
                '<a href="https://c.example.com/z">other</a>'
                '<a href="https://a.example.com/self">self link</a>'  # dropped
                '<a href="https://b.example.com/e"></a>'  # empty anchor
                '<a href="/rel">relative</a>'  # not absolute
                '<a href="https://d.example.com/n"><b>nested</b></a>',  # [^<]* -> ''
            ),
        ],
        "url string, html string",
    )
    got = {
        (r["dst_host"], r["anchor"]): r["n"]
        for r in anchor_texts(docs, "html", "url").collect()
    }
    assert got == {
        ("b.example.com", "Click Here"): 2,
        ("c.example.com", "other"): 1,
    }
