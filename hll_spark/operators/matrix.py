"""Distributed Frequent Directions over an embedding column.

The build is the shared partial -> merge scaffold (agg.py) with an FD
spec over the ``array`` column (``hash_mode='arrow'``): level-0 partials
per (input partition, group), then one merge stage — only sketch blobs
ever cross the shuffle, never embedding rows, so the plan is the one a
10^12-row covariance job wants. The kernel is sketchlib/fd.py (Liberty
KDD'13); see that module for the spectral guarantee and the exact
regime the driver oracle pins.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StructField,
    StructType,
)

from ..sketchlib.fd import FDSketch
from .agg import SketchSpec, sketch_aggregate


def _block(arr) -> np.ndarray:
    """(n, dim) float64 from an Arrow list array of non-null rows."""
    lengths = arr.value_lengths().to_numpy(zero_copy_only=False)
    dim = int(lengths[0]) if len(lengths) else 0
    if (lengths != dim).any():
        raise ValueError("embedding rows must all have the same width")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(arr), dim)


def fd_spec(ell: int) -> SketchSpec:
    """FD spec over one array column (the scaffold's
    ``hash_mode='arrow'``); the zero state takes its width from the
    first non-empty block, and zero-width rows are skipped."""
    if ell < 1:
        raise ValueError("ell must be >= 1")

    def update(state: FDSketch, arrays) -> FDSketch:
        block = _block(arrays[0])
        return state.update(block) if block.size else state

    return SketchSpec(
        name="fd",
        zero_fn=lambda: FDSketch(ell, None),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=FDSketch.from_bytes,
    )


def fd_sketch(
    df: DataFrame,
    col: str,
    ell: int,
    merge_buckets: int = 16,
) -> FDSketch:
    """Build and fully merge the distributed FD sketch; the driver
    receives the one merged blob."""
    row = sketch_aggregate(
        df, F.col(col), fd_spec(ell), hash_mode="arrow", merge_buckets=merge_buckets
    ).first()
    sk = FDSketch.from_bytes(bytes(row["sketch"]))
    if not sk.rows_seen:
        raise ValueError(f"no non-null rows in column {col!r}")
    return sk


def fd_gram_by(
    df: DataFrame,
    col: str,
    by: list[str],
    ell: int,
) -> DataFrame:
    """Per-group FD: one sketch per ``by`` cell, fully distributed.

    The scaffold's grouped build (per-(input partition, group)
    partials, merged on the group keys) yields one sketch per group,
    whose merge task answers its sketched Gram matrix; that expands
    JVM-side to (by..., i, j, gram) rows (dim^2 per group)."""
    if not by:
        raise ValueError("by must name at least one grouping column")
    reserved = {"__v0", "__g", "__dim", "__p", "i", "j", "gram", "sketch", "rows_seen"}
    clash = reserved.intersection(by)
    if clash:
        raise ValueError(
            f"grouping column(s) {sorted(clash)} collide with the "
            "operator's output/internal names; rename them first"
        )

    def grams(states, _counts):
        return [[s.gram().ravel() for s in states]]

    merged = sketch_aggregate(
        df, F.col(col), fd_spec(ell), by, hash_mode="arrow",
        answer=([StructField("__g", ArrayType(DoubleType()))], grams),
    )
    dim = F.sqrt(F.size("__g")).cast("long")
    return merged.select(
        *by, dim.alias("__dim"), F.posexplode("__g").alias("__p", "gram")
    ).select(
        *by,
        F.expr("__p div __dim").alias("i"),
        (F.col("__p") % F.col("__dim")).alias("j"),
        "gram",
    )


def project_embeddings(
    df: DataFrame,
    col: str,
    basis: np.ndarray,
    out_col: str = "projected",
) -> DataFrame:
    """Project an embedding column onto a (dim, k) basis — e.g. the
    PCA basis from ``FDSketch.top_eigvecs`` — appending ``out_col`` as
    ``array<double>`` of length k.

    The basis is closed over (broadcast with the serialized task, a
    few KB for any sane k); each Arrow batch is one (n, dim) @
    (dim, k) GEMM, so the per-row Python cost is a vectorized matmul,
    never a loop. The 100 TB use: shrink 1024-dim embeddings to the
    top-k directions a corpus-level FD sketch found, then run
    SemDeDup / ANN / clustering on the small vectors."""
    basis = np.ascontiguousarray(np.asarray(basis, dtype=np.float64))
    if basis.ndim != 2:
        raise ValueError("basis must be a (dim, k) matrix")
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    dim, _k = basis.shape
    fields = df.schema.fields + [
        StructField(out_col, ArrayType(DoubleType()))
    ]
    out_schema = StructType(fields)
    cols = df.columns

    def proj(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            mask = b[col].notna().to_numpy()
            vals: list = [None] * len(b)
            if mask.any():
                block = np.stack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v in b[col][mask]
                    ]
                )
                if block.shape[1] != dim:
                    raise ValueError(
                        f"row width {block.shape[1]} != basis dim {dim}"
                    )
                low = block @ basis  # ONE GEMM per Arrow batch
                for t, rowvec in zip(np.nonzero(mask)[0], low):
                    vals[t] = rowvec
            b = b[cols].copy()
            b[out_col] = vals
            yield b

    return df.mapInPandas(proj, out_schema)


def fd_gram_table(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    ell: int,
    merge_buckets: int = 16,
) -> DataFrame:
    """The sketched Gram matrix as (i, j, gram) rows — dim^2 rows total,
    driver-constructed (dim^2 is small by definition for embedding
    columns; the distributed work is the sketch build)."""
    sk = fd_sketch(df, col, ell, merge_buckets)
    g = sk.gram()
    dim = g.shape[0]
    ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
    out = pd.DataFrame(
        {
            "i": ii.ravel().astype(np.int64),
            "j": jj.ravel().astype(np.int64),
            "gram": g.ravel(),
        }
    )
    return spark.createDataFrame(out)
