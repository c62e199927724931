"""Session-level runtime tuning shared by every entry surface (bench,
tests, spark-submit scripts).

Why malloc tunables: the numpy batch kernels (extraction, hashing,
codecs) allocate multi-MB temporaries per Arrow batch. glibc serves
allocations above its mmap threshold (default 128 KB, dynamic cap
32 MB) with a fresh ``mmap`` and returns them with ``munmap`` — so a
long-running Python worker pays first-touch page faults plus TLB
shootdowns for the SAME buffers on EVERY batch. Raising the mmap and
trim thresholds keeps those buffers on the heap, where glibc reuses
already-faulted pages: steady-state batch cost drops to pure compute.

On a healthy box this removes per-batch soft-fault overhead (a few
percent); on virtualized hosts with a slow fault path (hypervisor
overcommit — this sandbox intermittently serves first-touch faults at
~400 us/page, measured in BENCH/BASELINE.md's box-health gauge) it is
the difference between DRAM-speed batches and a ~40x crawl, because
every full-buffer temporary refaults its pages each call.

The tunables must be in the environment BEFORE the Python worker
processes start. In local mode workers inherit the driver's
environment, so ``apply_malloc_tunables()`` sets ``os.environ`` (call
it before ``SparkSession`` creation); for cluster deployments it also
tags the builder with ``spark.executorEnv.*`` so executors export the
same values to their Python workers.

Why a stat-gated ``zipimporter.invalidate_caches``: every sketch is a
level-0 Python partial per input partition plus a Python merge stage,
so a query is a chain of short Python tasks and fixed per-task cost
dominates small ones. At the start of EVERY task PySpark's worker
calls ``importlib.invalidate_caches()`` (``worker_util.
setup_spark_files``). Up to CPython 3.12, ``zipimporter.
invalidate_caches`` eagerly re-reads the archive's whole central
directory, once per cached zipimporter instance. A reused worker holds
~16: 13 for ``pyspark.zip`` and its subpackages (1,328 entries each),
2 for the spark-core jar Spark puts on every worker's ``PYTHONPATH``
(5,359 entries each) and one for py4j. That is ~27k directory entries
parsed per task, ~0.2 s of CPU before the UDF runs. CPython 3.13 made
the invalidation lazy (``zipimporter._get_files``).
``gate_zip_invalidation()`` applies the staleness rule importlib's
``FileFinder`` uses for directories: an archive is re-read only when
its ``(st_mtime_ns, st_size, st_ino)`` changed since this process last
read it, and instances of one archive share that read. Measured on a
4-CPU VM (Python 3.11.7, Spark 4.1.2, ``local[4]``): the CPU a reused
worker spends per task of an empty 4-task ``mapInArrow`` job fell from
a median of 0.19 s to 0.03 s over 40 tasks.

``tune_worker_process()`` applies both at package import, which every
worker reaches first when it unpickles any ``hll_spark`` function, so a
reused worker skips the re-read from its second task on.
"""

from __future__ import annotations

import os
import sys

MALLOC_TUNABLES = {
    # keep numpy-sized temporaries on the reusable heap (1 GiB)
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    # never trim the heap back to the OS between batches
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


_MALLOPT_DONE = False


def mallopt_heap_reuse() -> bool:
    """Apply the same allocator policy to the CURRENT process via
    ``mallopt(3)`` (ctypes), for worker processes whose environment we
    do not control — e.g. when a harness creates the SparkSession
    before importing this package, so ``spark.executorEnv.*`` was
    never tagged and the env-var route (which only works if set before
    the worker forks) is unavailable. Idempotent; returns True when
    the thresholds were (or already had been) applied."""
    global _MALLOPT_DONE
    if _MALLOPT_DONE:
        return True
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        m_trim_threshold, m_mmap_threshold = -1, -3
        one_gib = 1 << 30
        ok = libc.mallopt(m_mmap_threshold, one_gib) and libc.mallopt(
            m_trim_threshold, one_gib
        )
        _MALLOPT_DONE = bool(ok)
    except (OSError, AttributeError, ValueError):
        return False  # non-glibc platform: nothing to tune
    return _MALLOPT_DONE


# archive path -> ((st_mtime_ns, st_size, st_ino), directory) as of
# this process's last read of that archive
_ZIP_LISTINGS: dict = {}


def gate_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size, st_ino)`` changed since this
    process last read it (see the module docstring). Idempotent; a
    no-op returning False where the invalidation is already lazy
    (``zipimporter`` has ``_get_files``). Installing re-reads every
    cached zipimporter's archive once, so each starts from a listing
    whose stat is known."""
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    if getattr(cls.invalidate_caches, "_stat_gated", False):
        return True
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        seen = _ZIP_LISTINGS.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = seen[1]
            return
        # stat BEFORE the read: a rewrite racing the read leaves a
        # stale key, which only costs one more read next time
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _ZIP_LISTINGS[self.archive] = (key, self._files)
        else:
            _ZIP_LISTINGS.pop(self.archive, None)

    invalidate_caches.__wrapped__ = reread
    invalidate_caches._stat_gated = True
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
    return True


def tune_worker_process() -> None:
    """All in-process tuning of a process that runs ``hll_spark`` code
    (Spark's Python workers, and the driver); called once at package
    import. Idempotent."""
    mallopt_heap_reuse()
    gate_zip_invalidation()


def apply_malloc_tunables(builder=None):
    """Export the allocator tunables into this process's environment
    (inherited by local-mode Python workers) and, when a
    ``SparkSession.Builder`` is given, tag it with the matching
    ``spark.executorEnv.*`` entries for cluster mode. Returns the
    (possibly augmented) builder. Existing environment values win —
    operators can override per-deployment."""
    for k, v in MALLOC_TUNABLES.items():
        os.environ.setdefault(k, v)
    if builder is not None:
        for k, v in MALLOC_TUNABLES.items():
            builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    return builder


def pin_jvm_heap(builder, heap: str):
    """Pin the driver JVM heap: ``spark.driver.memory = heap`` AND
    ``-Xms = heap`` via ``spark.driver.extraJavaOptions``.

    Why: Spark sets only ``-Xmx``, so the heap grows lazily and G1
    uncommits idle regions back to the OS (JEP 346). On hosts with
    free-page reporting (this sandbox boots with
    ``page_reporting.page_reporting_order=11`` — every >=8 MiB block
    on the guest free list is continuously returned to the
    hypervisor), each uncommit/recommit cycle turns already-warm heap
    pages back into ~400 us/page host-serviced faults, which is the
    measured mechanism behind the 8-thread throughput collapses in
    BENCH/BASELINE.md §2. ``-Xms == -Xmx`` commits the mapping once
    and G1 never shrinks below ``-Xms``, so heap pages faulted by the
    warm-up run stay host-resident for the process lifetime. Pages are
    still faulted on first touch (no ``AlwaysPreTouch`` — pre-touching
    tens of GB through a degraded fault path would stall startup for
    minutes); the existing warm-up runs absorb first-touch for the
    actual working set. On a real cluster the same policy is the
    stock ``spark.executor.memory`` contract (executors run with
    Xms==Xmx by default via ``spark.executor.extraJavaOptions``)."""
    existing = ""
    try:
        existing = builder._options.get("spark.driver.extraJavaOptions", "")
    except AttributeError:
        pass
    opts = f"-Xms{heap} {existing}".strip()
    return builder.config("spark.driver.memory", heap).config(
        "spark.driver.extraJavaOptions", opts
    )
