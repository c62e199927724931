"""hll_spark — a PySpark-native distributed sketch / approximate-
aggregation library.

Kernels (:mod:`hll_spark.sketchlib`): HyperLogLog (AK storage-spec
v1.0.0 compatible, the semantics of l0vest0rm/hll re-implemented on
numpy), count-min, Bloom, KLL, t-digest, and vectorized MurmurHash3.

Spark layer (:mod:`hll_spark.operators`): one generic mergeable-aggregator
scaffold (mapInArrow partial build per input partition and group -> one
merge stage) under every sketch operator, plus
HTML -> text extraction (JVM chain + Arrow kernel + fused
extract-and-sketch), URL canonicalization, dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard / embedding), similarity search (brute-force,
LSH, IVF), text analysis, crawl-ledger front-end ops (recrawl dedup,
domain blocklists, per-host quotas), sketch-driven join planning
(Fast-AMS join-size estimation), and multimodal binary columns with
real PNG/GIF/JPEG/WAV/MJPEG-AVI decoding.

Checkpoint/resume (:mod:`hll_spark.plans`), Structured Streaming
stateful sketches (:mod:`hll_spark.streaming`), sources and the
deterministic synthetic web-pages generator (:mod:`hll_spark.sources`).
"""

from .session import tune_worker_process

# every worker imports the package before it runs any hll_spark
# function: this is where worker-process tuning happens (session.py)
tune_worker_process()

from .sketchlib.hll import HllConfig, HllSketch
from .sketchlib.theta import ThetaSketch
from .operators.agg import hll_distinct, hll_sketch_agg
from .operators.extract import extract_pages, extract_sketch_agg
from .operators.url import normalize_url, url_host
from .operators.crawl import (
    cap_per_key,
    domain_blocklist_filter,
    host_suffixes,
    latest_crawl,
)
from .sketchlib.ams import AmsSketch
from .operators.pipeline import clean_corpus, crawl_ingest

__all__ = [
    "HllConfig",
    "HllSketch",
    "ThetaSketch",
    "hll_distinct",
    "hll_sketch_agg",
    "extract_pages",
    "extract_sketch_agg",
    "normalize_url",
    "url_host",
    "latest_crawl",
    "domain_blocklist_filter",
    "host_suffixes",
    "cap_per_key",
    "AmsSketch",
    "clean_corpus",
    "crawl_ingest",
]
__version__ = "0.4.0"
