"""The benchmark's three workloads.

Each workload owns its seeded input generator (JVM-side expressions only,
so no library change can change the inputs), a cache entry keyed by
(workload, seed, size, generator version), the query one iteration runs,
the check of that query's result against DuckDB truths over the same
parquet, the per-layer plan the traced run materializes, and in-process
kernel timings on slices of its own inputs.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

import numpy as np

# bump when a generator changes the rows it writes or the truths it keeps
GENERATOR_VERSION = "1"
# cached inputs kept per workload; older seeds are evicted
CACHE_KEEP = 10
# Arrow batch rows the session is configured with (the level-0 batch shape)
ARROW_BATCH = 131072
QS = (0.5, 0.9, 0.99)
KLL_K = 200
TDIGEST_DELTA = 200.0
# rank-error bounds the library's own tests hold the sketches to
KLL_RANK_EPS = {q: 5.0 / KLL_K for q in QS}
TDIGEST_RANK_EPS = {0.5: 0.03, 0.9: 0.02, 0.99: 0.01}
HLL_SIGMAS = 3.0
# CPU seconds each kernel timing burns at least
KERNEL_MIN_CPU_S = 0.2
KERNEL_MAX_WALL_S = 1.0

HLL_KIND_EXPLICIT, HLL_KIND_SPARSE, HLL_KIND_FULL = 2, 3, 4


# ---------------------------------------------------------------------------
# helpers


def _uniform(seed: int, salt: int):
    """Deterministic uniform [0, 1) per row of ``spark.range``, independent
    of partitioning (unlike ``rand(seed)``)."""
    from pyspark.sql import functions as F

    return F.pmod(
        F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(1 << 53)
    ) / float(1 << 53)


def _log_uniform_key(u, n: int):
    """Key in [0, n) with P(k) ~ 1/(k+1): a heavy head and a long tail."""
    from pyspark.sql import functions as F

    return F.least(F.floor(F.exp(u * math.log(n + 1))) - 1, F.lit(n - 1)).cast("int")


def _digest(blobs) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(len(b).to_bytes(4, "little"))
        h.update(b)
    return h.hexdigest()


def _hll_kind(blob: bytes) -> int:
    return blob[0] & 0xF


def _hll_rel_bound() -> float:
    from hll_spark.sketchlib.hll import HllConfig

    return HLL_SIGMAS * HllConfig().error_bound


def _hll_errors(label, kinds, est, exact) -> list[str]:
    """EXPLICIT cells must be exact; the rest within 3 x 1.04/sqrt(m)."""
    kinds, est, exact = map(np.asarray, (kinds, est, exact))
    errs = []
    expl = kinds == HLL_KIND_EXPLICIT
    bad = np.flatnonzero(expl & (est != exact))
    if bad.size:
        errs.append(f"{label}: {bad.size} EXPLICIT cells not exact")
    rel = np.where(expl, 0.0, np.abs(est - exact) / np.maximum(exact, 1))
    bad = np.flatnonzero(rel > _hll_rel_bound())
    if bad.size:
        errs.append(f"{label}: {bad.size} estimates beyond 3 sigma (max {rel.max():.4f})")
    return errs


def cpu_rate(fn, units: int, prep: Callable | None = None) -> float:
    """``units`` per CPU second of ``fn(prep())``, repeated until it has
    burned ``KERNEL_MIN_CPU_S`` of this process's CPU time, or until the
    untimed ``prep`` has made the loop last ``KERNEL_MAX_WALL_S``."""
    reps, cpu = 0, 0.0
    deadline = time.perf_counter() + KERNEL_MAX_WALL_S
    while cpu < KERNEL_MIN_CPU_S and (reps == 0 or time.perf_counter() < deadline):
        arg = prep() if prep else None
        c0 = time.process_time()
        fn(arg)
        cpu += time.process_time() - c0
        reps += 1
    return units * reps / cpu


def _duckdb(cache_root: str, cpus: int):
    import duckdb

    tmp = os.path.join(cache_root, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(
        ":memory:",
        config={"threads": cpus, "memory_limit": "2GB", "temp_directory": tmp},
    )


def _hll_format_tag() -> str:
    """Fingerprint of the library's HLL byte format at every tier. Stored
    sketches are program output, so a format change must not reuse them."""
    from hll_spark.sketchlib.hll import HllSketch

    rng = np.random.default_rng(0)
    blobs = []
    for n in (10, 2000, 100000):
        s = HllSketch.empty()
        s.add_hashed(rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64))
        blobs.append(s.to_bytes())
    return _digest(blobs)[:10]


# ---------------------------------------------------------------------------
# one aggregate of a workload, as the traced run splits it into layers


@dataclass
class Agg:
    name: str
    spec: object
    by: list
    # () -> level-0 frame (sketch_partials, or stored cells for a rollup)
    partials: Callable
    # merged frame -> pandas result (estimate / quantiles / sketch bytes)
    finalize: Callable


def finalize_hll(merged, by):
    from pyspark.sql import functions as F

    from hll_spark.operators.agg import hll_estimate_udf

    return merged.select(
        *by, "sketch", "rows_seen", hll_estimate_udf()(F.col("sketch")).alias("estimate")
    ).toPandas()


def finalize_quantiles(sketch_cls):
    """Quantile extraction over merged blobs, one scalar UDF per q, as
    ``kll_quantiles``/``tdigest_quantiles`` extract them."""

    def run(merged, by):
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        def make(q):
            def qf(blobs):
                return blobs.map(lambda b: float(sketch_cls.from_bytes(bytes(b)).quantile(q)))

            return pandas_udf(qf, DoubleType())

        cols = [make(q)(F.col("sketch")).alias(_quantile_col(q)) for q in QS]
        return merged.select(*by, *cols).toPandas()

    return run


def _quantile_col(q: float) -> str:
    """Column name ``kll_quantiles``/``tdigest_quantiles`` give quantile q."""
    return "q" + str(q).replace(".", "_")


def finalize_bytes(merged, by):
    return merged.select(*by, "sketch").toPandas()


# ---------------------------------------------------------------------------
# workload base


class Workload:
    name = ""

    def __init__(self, seed: int, cache_root: str, cpus: int) -> None:
        self.seed = seed
        self.cache_root = cache_root
        self.cpus = cpus
        self.truth: dict | None = None
        self.reference: dict = {}

    # -- cache ---------------------------------------------------------------
    def cache_key(self) -> str:
        return f"{self.name}-s{self.seed}-{self.size_tag()}-g{GENERATOR_VERSION}"

    def size_tag(self) -> str:
        raise NotImplementedError

    @cached_property
    def entry(self) -> str:
        return os.path.join(self.cache_root, "inputs", self.cache_key())

    def ensure_inputs(self, spark) -> bool:
        """Generate the inputs unless cached, then load their truths.
        Returns whether it generated."""
        done = os.path.join(self.entry, "_READY")
        generated = not os.path.exists(done)
        if generated:
            self._evict()
            shutil.rmtree(self.entry, ignore_errors=True)
            os.makedirs(self.entry)
            self.generate(spark)
            with open(done, "w") as f:
                f.write(self.cache_key())
        os.utime(done)
        if self.truth is None:
            with np.load(os.path.join(self.entry, "truth.npz")) as z:
                self.truth = {k: z[k] for k in z.files}
        return generated

    def _evict(self) -> None:
        """Drop the least recently used complete entries beyond CACHE_KEEP.
        An entry without _READY may still be generating: leave it."""
        ready = glob.glob(os.path.join(self.cache_root, "inputs", f"{self.name}-s*", "_READY"))
        ready.sort(key=os.path.getmtime, reverse=True)
        for marker in ready[CACHE_KEEP - 1:]:
            shutil.rmtree(os.path.dirname(marker), ignore_errors=True)

    def _save_truth(self, **arrays) -> None:
        np.savez(os.path.join(self.entry, "truth.npz"), **arrays)

    # -- per workload ----------------------------------------------------------
    def generate(self, spark) -> None:
        raise NotImplementedError

    def bind(self, spark) -> None:
        raise NotImplementedError

    @property
    def input_rows(self) -> int:
        raise NotImplementedError

    def query(self, spark) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def aggregates(self) -> list[Agg]:
        raise NotImplementedError

    def kernel_rates(self, spark, hll_cells: list[tuple]) -> dict[str, float]:
        """Per-CPU-second rates of the sketchlib kernels this workload runs,
        on slices of its own inputs; ``hll_cells`` are its HLL level-0
        (group, blob) cells."""
        raise NotImplementedError

    # -- shared checks ---------------------------------------------------------
    def _same_bytes(self, label: str, digest: str) -> list[str]:
        """Sketch bytes must be identical across iterations (the first
        checked result is the reference)."""
        ref = self.reference.setdefault(label, digest)
        return [] if ref == digest else [f"{label}: bytes differ between iterations"]


# ---------------------------------------------------------------------------
# ingest_global: url strings -> one global HLL (murmur3), CMS and Bloom


class IngestGlobal(Workload):
    name = "ingest_global"
    rows = 500_000
    files = 8
    repeat_frac = 0.2
    sample_keys = 256

    def size_tag(self) -> str:
        return f"n{self.rows}"

    @property
    def data(self) -> str:
        return os.path.join(self.entry, "pages")

    def generate(self, spark) -> None:
        from pyspark.sql import functions as F

        seed = self.seed
        key = F.when(
            _uniform(seed, 1) < self.repeat_frac,
            F.floor(_uniform(seed, 2) * F.col("id")),
        ).otherwise(F.col("id"))
        url = F.format_string(
            "https://s%d.example.com/%s/p%d",
            F.pmod(F.xxhash64(F.col("k"), F.lit(seed)), F.lit(997)),
            F.lower(F.hex(F.xxhash64(F.col("k"), F.lit(seed), F.lit(7)))),
            F.col("k"),
        )
        (
            spark.range(self.rows, numPartitions=self.files)
            .select(key.alias("k"))
            .select(url.alias("url"))
            .write.parquet(self.data)
        )
        con = _duckdb(self.cache_root, self.cpus)
        try:
            src = f"read_parquet('{self.data}/*.parquet')"
            n, d = con.execute(f"select count(*), count(distinct url) from {src}").fetchone()
            half = self.sample_keys // 2
            top = con.execute(
                f"select url, count(*) c from {src} group by url order by c desc, url limit {half}"
            ).fetchall()
            rnd = con.execute(
                f"select url, count(*) c from {src} group by url order by hash(url || '{seed}') limit {half}"
            ).fetchall()
        finally:
            con.close()
        keys = [u for u, _ in top + rnd]
        counts = np.array([c for _, c in top + rnd], dtype=np.uint64)
        # Spark's own xxhash64 of the sampled keys, from a JVM-only job: a
        # DataFrame built from a Python list would start an extra Python
        # worker that lingers into the measured region's RSS
        pdf = (
            spark.read.parquet(self.data)
            .where(F.col("url").isin(keys))
            .select("url", F.xxhash64("url").alias("h"))
            .toPandas()
        )
        by_url = dict(zip(pdf["url"], pdf["h"]))
        hashed = np.array([by_url[u] for u in keys], dtype=np.int64)
        self._save_truth(rows=np.int64(n), distinct=np.int64(d), sample_hashes=hashed, sample_counts=counts)

    def bind(self, spark) -> None:
        self.df = spark.read.parquet(self.data)

    @property
    def input_rows(self) -> int:
        return int(self.truth["rows"])

    def query(self, spark) -> dict:
        from hll_spark.operators.agg import hll_sketch_agg, sketch_aggregate
        from hll_spark.operators.sketches import bloom_spec, cms_sketch_agg

        hll = finalize_hll(hll_sketch_agg(self.df, "url", hash_mode="murmur3"), [])
        cms = cms_sketch_agg(self.df, "url").toPandas()
        bloom = sketch_aggregate(self.df, "url", bloom_spec(), hash_mode="xxhash64").toPandas()
        return {"hll": hll, "cms": cms, "bloom": bloom}

    def check(self, out: dict) -> list[str]:
        from hll_spark.sketchlib.bloom import BloomFilter
        from hll_spark.sketchlib.cms import CountMinSketch

        t = self.truth
        errs = []
        for label in ("hll", "cms", "bloom"):
            if len(out[label]) != 1:
                return [f"{label}: expected one row, got {len(out[label])}"]
        hll_blob = bytes(out["hll"]["sketch"][0])
        if _hll_kind(hll_blob) != HLL_KIND_FULL:
            errs.append("hll: global sketch is not FULL")
        errs += _hll_errors("hll", [HLL_KIND_FULL], [out["hll"]["estimate"][0]], [t["distinct"]])
        errs += self._same_bytes("hll", _digest([hll_blob]))
        cms_blob = bytes(out["cms"]["sketch"][0])
        if (CountMinSketch.from_bytes(cms_blob).query_hashed(t["sample_hashes"]) < t["sample_counts"]).any():
            errs.append("cms: under-counts a sampled key")
        errs += self._same_bytes("cms", _digest([cms_blob]))
        bloom_blob = bytes(out["bloom"]["sketch"][0])
        if not BloomFilter.from_bytes(bloom_blob).might_contain_hashed(t["sample_hashes"]).all():
            errs.append("bloom: false negative on a sampled key")
        errs += self._same_bytes("bloom", _digest([bloom_blob]))
        for label in ("hll", "cms", "bloom"):
            if int(out[label]["rows_seen"][0]) != self.input_rows:
                errs.append(f"{label}: rows_seen is not the input's row count")
        return errs

    def aggregates(self) -> list[Agg]:
        from hll_spark.operators.agg import hll_spec, sketch_partials
        from hll_spark.operators.sketches import bloom_spec, cms_spec

        df = self.df
        return [
            Agg("hll", hll_spec(), [], lambda: sketch_partials(df, "url", hll_spec(), hash_mode="murmur3"), finalize_hll),
            Agg("cms", cms_spec(), [], lambda: sketch_partials(df, "url", cms_spec(), hash_mode="xxhash64"), finalize_bytes),
            Agg("bloom", bloom_spec(), [], lambda: sketch_partials(df, "url", bloom_spec(), hash_mode="xxhash64"), finalize_bytes),
        ]

    def kernel_rates(self, spark, hll_cells: list[tuple]) -> dict[str, float]:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from hll_spark.sketchlib.bloom import BloomFilter
        from hll_spark.sketchlib.cms import CountMinSketch
        from hll_spark.sketchlib.hashing import murmur3_low64_from_buffers
        from hll_spark.sketchlib.hll import HllSketch

        # one input file of the table, in level-0 Arrow batches
        first = sorted(glob.glob(os.path.join(self.data, "*.parquet")))[0]
        arr = pq.read_table(first, columns=["url"]).column("url").combine_chunks()
        n = len(arr)
        bufs = []
        for lo in range(0, n, ARROW_BATCH):
            b = arr.slice(lo, ARROW_BATCH)
            raw = b.buffers()
            offs = np.frombuffer(raw[1], dtype=np.int32)[b.offset: b.offset + len(b) + 1].astype(np.int64)
            bufs.append((np.frombuffer(raw[2], dtype=np.uint8), offs[:-1], np.diff(offs)))
        murmur = [murmur3_low64_from_buffers(*x).view(np.int64) for x in bufs]
        xx = (
            spark.read.parquet(first).select(F.xxhash64("url").alias("h")).toPandas()["h"].to_numpy(np.int64)
        )
        xx_batches = [xx[lo: lo + ARROW_BATCH] for lo in range(0, len(xx), ARROW_BATCH)]

        def insert(_):
            s = HllSketch.empty()
            for v in murmur:
                s.add_hashed(v)

        def cms(_):
            s = CountMinSketch(5, 2048)
            for v in xx_batches:
                s.add_hashed(v)

        def bloom(_):
            s = BloomFilter(1 << 20, 7)
            for v in xx_batches:
                s.add_hashed(v)

        rates = {
            "sketchlib.hashing.murmur3_values_per_cpu_s": cpu_rate(
                lambda _: [murmur3_low64_from_buffers(*x) for x in bufs], n
            ),
            "sketchlib.hll.insert_full_values_per_cpu_s": cpu_rate(insert, n),
            "sketchlib.cms.update_values_per_cpu_s": cpu_rate(cms, len(xx)),
            "sketchlib.bloom.update_values_per_cpu_s": cpu_rate(bloom, len(xx)),
        }
        rates.update(hll_storage_rates(hll_cells))
        return rates


def hll_storage_rates(cells: list[tuple]) -> dict[str, float]:
    """from_bytes / union / to_bytes / estimate rates over (group, blob)
    cells, unioned per group the way the merge layer unions them."""
    from hll_spark.sketchlib.hll import HllSketch

    blobs = [b for _, b in cells]
    groups: dict = {}
    for g, b in cells:
        groups.setdefault(g, []).append(b)
    per_group = list(groups.values())
    n_unions = sum(len(v) - 1 for v in per_group)

    def decoded():
        return [[HllSketch.from_bytes(b) for b in v] for v in per_group]

    def union(sks):
        for v in sks:
            acc = v[0]
            for s in v[1:]:
                acc.union(s)

    merged = decoded()
    union(merged)
    merged = [v[0] for v in merged]
    rates = {
        "sketchlib.hll.from_bytes_per_cpu_s": cpu_rate(
            lambda _: [HllSketch.from_bytes(b) for b in blobs], len(blobs)
        ),
        "sketchlib.hll.to_bytes_per_cpu_s": cpu_rate(
            lambda _: [s.to_bytes() for s in merged], len(merged)
        ),
        "sketchlib.hll.estimate_per_cpu_s": cpu_rate(
            lambda _: [s.estimate() for s in merged], len(merged)
        ),
    }
    if n_unions:
        rates["sketchlib.hll.union_per_cpu_s"] = cpu_rate(union, n_unions, prep=decoded)
    return rates


# ---------------------------------------------------------------------------
# ingest_grouped: skewed group key -> per-group HLL (xxhash64), KLL, t-digest


class IngestGrouped(Workload):
    name = "ingest_grouped"
    rows = 200_000
    groups = 500
    files = 8

    def size_tag(self) -> str:
        return f"n{self.rows}-g{self.groups}"

    @property
    def data(self) -> str:
        return os.path.join(self.entry, "events")

    def generate(self, spark) -> None:
        from pyspark.sql import functions as F

        seed = self.seed
        g = _log_uniform_key(_uniform(seed, 1), self.groups)
        user = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(2)), F.lit(self.rows))
        # integral micro-unit amounts: exact ranks via one sorted key array
        value = F.floor(-F.log(1.0 - _uniform(seed, 3)) * 1e6 * (1 + F.pmod(F.col("g"), F.lit(7))))
        (
            spark.range(self.rows, numPartitions=self.files)
            .select("id", g.alias("g"), user.alias("user_id"))
            .select("g", "user_id", value.cast("double").alias("value"))
            .write.parquet(self.data)
        )
        con = _duckdb(self.cache_root, self.cpus)
        try:
            src = f"read_parquet('{self.data}/*.parquet')"
            per_group = con.execute(
                f"select g, count(*), count(distinct user_id) from {src} group by g order by g"
            ).fetchnumpy()
            values = con.execute(f"select value from {src} order by g, value").fetchnumpy()["value"]
        finally:
            con.close()
        keys = list(per_group)
        groups, n, d = (np.asarray(per_group[k]) for k in keys)
        offsets = np.concatenate([[0], np.cumsum(n)])
        self._save_truth(
            groups=groups.astype(np.int64),
            n=n.astype(np.int64),
            distinct=d.astype(np.int64),
            offsets=offsets.astype(np.int64),
            values=values.astype(np.float64),
        )

    def bind(self, spark) -> None:
        self.df = spark.read.parquet(self.data)
        t = self.truth
        # group i's values sit at [offsets[i], offsets[i+1]) of one sorted
        # array once shifted by i * span (values are integers < span)
        self._span = float(2 ** math.ceil(math.log2(t["values"].max() + 2)))
        gi = np.repeat(np.arange(len(t["groups"])), t["n"])
        self._keys = gi * self._span + t["values"]

    @property
    def input_rows(self) -> int:
        return int(self.truth["n"].sum())

    def query(self, spark) -> dict:
        from hll_spark.operators.agg import hll_sketch_agg
        from hll_spark.operators.sketches import kll_quantiles, tdigest_quantiles

        by = ["g"]
        return {
            "hll": finalize_hll(hll_sketch_agg(self.df, "user_id", by=by), by),
            "kll": kll_quantiles(self.df, "value", list(QS), by=by, k=KLL_K).toPandas(),
            "tdigest": tdigest_quantiles(self.df, "value", list(QS), by=by, delta=TDIGEST_DELTA).toPandas(),
        }

    def _group_index(self, label, g) -> tuple[np.ndarray | None, list[str]]:
        groups = self.truth["groups"]
        g = np.asarray(g, dtype=np.int64)
        if len(g) != len(groups) or not np.array_equal(np.sort(g), groups):
            return None, [f"{label}: group set differs from the input's"]
        return np.searchsorted(groups, g), []

    def _rank_errors(self, label, pdf, eps) -> list[str]:
        gi, errs = self._group_index(label, pdf["g"])
        if gi is None:
            return errs
        t = self.truth
        n = t["n"][gi]
        for q in QS:
            v = pdf[_quantile_col(q)].to_numpy(np.float64)
            key = gi * self._span + v
            lo = (np.searchsorted(self._keys, key, "left") - t["offsets"][gi]) / n
            hi = (np.searchsorted(self._keys, key, "right") - t["offsets"][gi]) / n
            err = np.maximum(0.0, np.maximum(lo - q, q - hi))
            bound = eps[q] + 1.0 / n
            bad = int((err > bound).sum())
            if bad:
                errs.append(f"{label}: q={q} rank error beyond bound in {bad} groups (max {err.max():.4f})")
        return errs

    def check(self, out: dict) -> list[str]:
        t = self.truth
        hll = out["hll"].sort_values("g")
        gi, errs = self._group_index("hll", hll["g"])
        if gi is None:
            return errs
        blobs = [bytes(b) for b in hll["sketch"]]
        errs += _hll_errors(
            "hll", [_hll_kind(b) for b in blobs], hll["estimate"].to_numpy(), t["distinct"][gi]
        )
        errs += self._same_bytes("hll", _digest(blobs))
        errs += self._rank_errors("kll", out["kll"], KLL_RANK_EPS)
        errs += self._rank_errors("tdigest", out["tdigest"], TDIGEST_RANK_EPS)
        return errs

    def aggregates(self) -> list[Agg]:
        from hll_spark.operators.agg import hll_spec, sketch_partials
        from hll_spark.operators.sketches import kll_spec, tdigest_spec
        from hll_spark.sketchlib.kll import KllSketch
        from hll_spark.sketchlib.tdigest import TDigest

        df, by = self.df, ["g"]
        return [
            Agg("hll", hll_spec(), by, lambda: sketch_partials(df, "user_id", hll_spec(), by), finalize_hll),
            Agg("kll", kll_spec(KLL_K), by,
                lambda: sketch_partials(df, "value", kll_spec(KLL_K), by, hash_mode=None),
                finalize_quantiles(KllSketch)),
            Agg("tdigest", tdigest_spec(TDIGEST_DELTA), by,
                lambda: sketch_partials(df, "value", tdigest_spec(TDIGEST_DELTA), by, hash_mode=None),
                finalize_quantiles(TDigest)),
        ]

    def kernel_rates(self, spark, hll_cells: list[tuple]) -> dict[str, float]:
        from pyspark.sql import functions as F

        from hll_spark.sketchlib.hll import HllSketch
        from hll_spark.sketchlib.kll import KllSketch
        from hll_spark.sketchlib.tdigest import TDigest

        # two input files, each one level-0 batch, sliced per group as the
        # level-0 build slices a batch
        files = sorted(glob.glob(os.path.join(self.data, "*.parquet")))[:2]
        halves = []
        for path in files:
            pdf = spark.read.parquet(path).select(
                "g", F.xxhash64("user_id").alias("h"), "value"
            ).toPandas()
            h, v = pdf["h"].to_numpy(np.int64), pdf["value"].to_numpy(np.float64)
            halves.append(
                {g: (h[idx], v[idx]) for g, idx in pdf.groupby("g", sort=False).indices.items()}
            )
        first = halves[0]
        by_kind: dict[int, list] = {HLL_KIND_EXPLICIT: [], HLL_KIND_SPARSE: [], HLL_KIND_FULL: []}
        for h, _ in first.values():
            s = HllSketch.empty()
            s.add_hashed(h)
            by_kind[s.kind].append(h)

        def insert(slices):
            def run(_):
                for h in slices:
                    HllSketch.empty().add_hashed(h)

            return run

        def update(cls, arg):
            def run(_):
                for _, v in first.values():
                    cls(arg).update(v)

            return run

        both = [g for g in first if g in halves[1]]

        def partial_pairs(cls, arg):
            def build():
                out = []
                for g in both:
                    a, b = cls(arg), cls(arg)
                    a.update(first[g][1])
                    b.update(halves[1][g][1])
                    out.append((a.to_bytes(), b.to_bytes()))
                return out

            blobs = build()
            return lambda: [(cls.from_bytes(a), cls.from_bytes(b)) for a, b in blobs]

        def merge(pairs):
            for a, b in pairs:
                a.merge(b)

        n_values = sum(len(v) for _, v in first.values())
        rates = {
            "sketchlib.hll.insert_explicit_values_per_cpu_s": cpu_rate(
                insert(by_kind[HLL_KIND_EXPLICIT]), sum(map(len, by_kind[HLL_KIND_EXPLICIT]))
            ),
            "sketchlib.kll.update_values_per_cpu_s": cpu_rate(update(KllSketch, KLL_K), n_values),
            "sketchlib.tdigest.update_values_per_cpu_s": cpu_rate(update(TDigest, TDIGEST_DELTA), n_values),
            "sketchlib.kll.merge_per_cpu_s": cpu_rate(merge, len(both), prep=partial_pairs(KllSketch, KLL_K)),
            "sketchlib.tdigest.merge_per_cpu_s": cpu_rate(
                merge, len(both), prep=partial_pairs(TDigest, TDIGEST_DELTA)
            ),
        }
        for kind, metric in ((HLL_KIND_SPARSE, "sparse"), (HLL_KIND_FULL, "full")):
            if by_kind[kind]:
                rates[f"sketchlib.hll.insert_{metric}_values_per_cpu_s"] = cpu_rate(
                    insert(by_kind[kind]), sum(map(len, by_kind[kind]))
                )
        rates.update(hll_storage_rates(hll_cells))
        return rates


# ---------------------------------------------------------------------------
# rollup_stored: day-partitioned per-key HLL store, unioned over a window


class RollupStored(Workload):
    name = "rollup_stored"
    events = 600_000
    keys = 500
    days = 30
    window = 7
    user_pool = 150_000
    files = 8

    def size_tag(self) -> str:
        # the store holds program output: key it by the sketch format too
        return f"e{self.events}-k{self.keys}-d{self.days}-f{_hll_format_tag()}"

    @property
    def events_path(self) -> str:
        return os.path.join(self.entry, "events")

    @property
    def store_path(self) -> str:
        return os.path.join(self.entry, "store")

    @property
    def day_range(self) -> tuple[int, int]:
        lo = self.seed % (self.days - self.window + 1)
        return lo, lo + self.window

    def generate(self, spark) -> None:
        from pyspark.sql import functions as F

        from hll_spark.operators.agg import hll_spec, sketch_aggregate

        seed = self.seed
        (
            spark.range(self.events, numPartitions=self.files)
            .select(
                F.floor(_uniform(seed, 1) * self.days).cast("int").alias("day"),
                _log_uniform_key(_uniform(seed, 2), self.keys).alias("key"),
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(3)), F.lit(self.user_pool)).alias("user_id"),
            )
            .write.parquet(self.events_path)
        )
        events = spark.read.parquet(self.events_path)
        sketch_aggregate(events, "user_id", hll_spec(), by=["day", "key"]).write.partitionBy(
            "day"
        ).parquet(self.store_path)
        lo, hi = self.day_range
        con = _duckdb(self.cache_root, self.cpus)
        try:
            per_key = con.execute(
                f"select key, count(distinct user_id) from read_parquet('{self.events_path}/*.parquet') "
                f"where day >= {lo} and day < {hi} group by key order by key"
            ).fetchnumpy()
            (cells,) = con.execute(
                f"select count(*) from read_parquet('{self.store_path}/*/*.parquet', hive_partitioning = true) "
                f"where day >= {lo} and day < {hi}"
            ).fetchone()
        finally:
            con.close()
        keys, d = (np.asarray(per_key[k]) for k in list(per_key))
        self._save_truth(keys=keys.astype(np.int64), distinct=d.astype(np.int64), cells=np.int64(cells))

    def _window(self, df):
        from pyspark.sql import functions as F

        lo, hi = self.day_range
        return df.where((F.col("day") >= lo) & (F.col("day") < hi))

    def bind(self, spark) -> None:
        from hll_spark.operators.agg import hll_spec, sketch_aggregate

        self.cells = self._window(spark.read.parquet(self.store_path)).select("key", "sketch", "rows_seen")
        if "union" not in self.reference:
            # direct aggregate over the raw events of the same window: the
            # rollup must reproduce it byte for byte, which also catches a
            # stored sketch made stale by a program change
            direct = sketch_aggregate(
                self._window(spark.read.parquet(self.events_path)), "user_id", hll_spec(), by=["key"]
            ).toPandas().sort_values("key")
            self.reference["union"] = _digest(bytes(b) for b in direct["sketch"])

    @property
    def input_rows(self) -> int:
        return int(self.truth["cells"])

    def query(self, spark) -> dict:
        from hll_spark.operators.agg import hll_spec, merge_sketch_partials

        merged = merge_sketch_partials(self.cells, hll_spec(), by=["key"])
        return {"hll": finalize_hll(merged, ["key"])}

    def check(self, out: dict) -> list[str]:
        t = self.truth
        hll = out["hll"].sort_values("key")
        keys = hll["key"].to_numpy(np.int64)
        if not np.array_equal(keys, t["keys"]):
            return ["rollup: key set differs from the window's"]
        blobs = [bytes(b) for b in hll["sketch"]]
        errs = _hll_errors("rollup", [_hll_kind(b) for b in blobs], hll["estimate"].to_numpy(), t["distinct"])
        if _digest(blobs) != self.reference["union"]:
            errs.append("rollup: union bytes differ from a direct sketch_aggregate of the window")
        return errs

    def aggregates(self) -> list[Agg]:
        from hll_spark.operators.agg import hll_spec

        return [Agg("hll", hll_spec(), ["key"], lambda: self.cells, finalize_hll)]

    def kernel_rates(self, spark, hll_cells: list[tuple]) -> dict[str, float]:
        return hll_storage_rates(hll_cells)


WORKLOADS = {w.name: w for w in (IngestGlobal, IngestGrouped, RollupStored)}
