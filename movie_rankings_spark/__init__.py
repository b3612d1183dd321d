"""movie_rankings_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the query and data-processing
capabilities of ``ewmiears/Movie-rankings`` (reference at
``/root/reference``), extended with the LLM-data-pipeline operator tier
(dedup, similarity search, multimodal columns, text analysis) designed
for 100 TB scale.

Layout:
    session    — SparkSession factory (AQE on, explicit shuffle sizing)
    catalog    — parquet table loading / temp-view registration
    functions/ — scalar expression library (normalization, text, vectors)
    sources/   — ingestion: scrape-source registry, HTML dialect
                 extractors (Arrow-batched), fixtures
    operators/ — relational + LLM-pipeline operators as DataFrame
                 compositions (flagship, relational, dedup, similarity,
                 text analysis, top-k)
    streaming/ — Structured Streaming tier over the events table
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys


def _export_worker_path() -> None:
    """Put this package's root (and, without a protobuf installation,
    the vendored one) on ``PYTHONPATH`` for Spark's Python workers.

    Workers unpickle UDFs and pandas functions by importing their
    modules, so they must find ``movie_rankings_spark`` wherever the
    caller runs from, not only when its working directory or
    ``PYTHONPATH`` happens to hold the checkout. Set here, at package
    import, i.e. before any SparkSession launches the JVM gateway,
    whose environment the workers inherit.

    transformWithStateInPandas needs ``google.protobuf`` on BOTH sides
    of the state protocol; when no real installation exists, the
    vendored pure-Python runtime (vendor/google/protobuf, 6.32.0 — see
    vendor/README.md) goes on this process's ``sys.path`` and on the
    workers' path. A genuine installation always wins."""
    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    exported = [root]
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        vendor = _os.path.join(root, "vendor")
        if _os.path.isdir(_os.path.join(vendor, "google", "protobuf")):
            if vendor not in _sys.path:
                _sys.path.insert(0, vendor)
            # gencode 6.33.0 vs vendored runtime 6.32.0: same major, one
            # minor apart — suppress the strict gate via protobuf's own
            # knob; wire compatibility is proven by the registered
            # oracle query.
            _os.environ.setdefault(
                "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
            )
            exported.insert(0, vendor)
    current = [p for p in _os.environ.get("PYTHONPATH", "").split(_os.pathsep) if p]
    _os.environ["PYTHONPATH"] = _os.pathsep.join(
        [p for p in exported if p not in current] + current
    )


_export_worker_path()

from movie_rankings_spark.caching import (  # noqa: E402,F401 — public hook
    release_persisted,
    tracked_count,
)
