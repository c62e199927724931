"""The one lineage cut, ``scanutil.reused``: no other code in the
library cuts or caches a plan, and a cut never changes a result."""

import ast
import pathlib

import pytest

from hll_spark.operators import scanutil

PKG = pathlib.Path(__file__).resolve().parent.parent / "hll_spark"
CUT_CALLS = {"localCheckpoint", "checkpoint", "cache", "persist"}


def _cut_sites(tree: ast.AST, rel: str) -> list[str]:
    """``rel:function:line`` of every ``x.<cut>(...)`` call in ``tree``."""
    sites = []

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in CUT_CALLS
        ):
            sites.append(f"{rel}:{scope}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "")
    return sites


def test_only_reused_cuts_lineage():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).as_posix()
        sites += _cut_sites(ast.parse(path.read_text(), str(path)), rel)
    assert [s.rsplit(":", 1)[0] for s in sites] == [
        "hll_spark/operators/scanutil.py:reused"
    ], sites


def _components(spark):
    from hll_spark.operators.components import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(3)
    return connected_components(df).orderBy("node").collect()


def _pagerank(spark):
    from hll_spark.operators.graph import pagerank_hosts

    edges = [(f"h{i}", f"h{(i * 3 + 1) % 7}", i % 3 + 1) for i in range(14)]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, n_links long")
    # 5 iterations: the rank frame is cut once inside the loop
    return pagerank_hosts(df.repartition(3), iterations=5).orderBy("host").collect()


def _docs(spark):
    rows = [(i, (i * 7) % 11, f"g{i % 3}", (i * 13) % 17) for i in range(40)]
    return spark.createDataFrame(
        rows, "doc_id long, n_tok long, grp string, score long"
    ).repartition(4)


def _pack(spark):
    from hll_spark.operators.packing import pack_sequences

    got = pack_sequences(_docs(spark), "doc_id", "n_tok", 16)
    return got.orderBy("doc_id", "pack_id").collect()


def _budget(spark):
    from hll_spark.operators.packing import select_to_token_budget

    got = select_to_token_budget(
        _docs(spark), "doc_id", "n_tok", 60, order_by=[("score", True), "doc_id"]
    )
    return got.orderBy("doc_id").collect()


def _budget_grouped(spark):
    from hll_spark.operators.packing import select_to_token_budget_grouped

    got = select_to_token_budget_grouped(
        _docs(spark), "doc_id", "n_tok", {"g0": 30, "g1": 10, "g2": 50}, "grp"
    )
    return got.orderBy("doc_id").collect()


def _classifier(spark):
    from hll_spark.operators.classifier import fit_quality_classifier

    rows = [
        (i, f"good words {i % 4} here" if i % 2 else f"spam buy {i % 3} now", i % 2)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = fit_quality_classifier(df, "y", n_features=64, iters=2)
    return model.weights.orderBy("feat").collect()


@pytest.mark.parametrize(
    "run",
    [_components, _pagerank, _pack, _budget, _budget_grouped, _classifier],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_cut_does_not_change_results(spark, monkeypatch, run):
    want = run(spark)
    assert want
    cuts = []
    monkeypatch.setattr(scanutil, "reused", lambda df: cuts.append(df) or df)
    assert run(spark) == want
    assert cuts  # the patch reached the operator's cut
