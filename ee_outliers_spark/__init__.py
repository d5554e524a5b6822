"""ee_outliers_spark — a from-scratch PySpark-native inverted-index build +
BM25 query engine with the query and data-processing capabilities of
NVISOsecurity/ee-outliers (reference at /root/reference, read-only).

The reference delegates all distributed query execution to an Elasticsearch
cluster (app/helpers/es.py); this package re-owns that layer as Spark
DataFrame programs:

- ``tokenizer``    — deterministic analyzer shared by index build, query side
                     and the pure-Python oracle (ref: app/helpers/utils.py:522-534).
- ``corpus``       — Common-Crawl-style web_pages table synthesis + the
                     byte-identical html→text extraction invariant.
- ``index``        — SPIMI per-partition posting-list build, varbyte+delta-gap
                     compression, block-max metadata, LSM merge, BM25 top-k
                     (DataFrame path and block-max WAND path).
- ``queryparser``  — Lucene-subset query_string grammar (ref: es.py:238-250).
- ``operators``    — the analyzer layer: simplequery / terms / metrics /
                     sudden_appearance / word2vec-prob, decision frontiers,
                     whitelisting, plus training-data-pipeline operators
                     (dedup, similarity search, text analysis).
- ``functions``    — scalar metric functions (entropy, base64/hex/url length)
                     as Arrow-vectorized pandas UDFs (ref: app/analyzers/metrics.py).
"""

__version__ = "0.1.0"

import hashlib as _hashlib
import os as _os
import zipfile as _zipfile


def _pyfiles_zip() -> str:
    """Path of this package's executor zip, built if missing. The name
    carries a hash of every ``.py`` source, so a zip built from older or
    other sources (a previous checkout, another tree sharing ``$TMPDIR``)
    is never reused: driver and executors always run the same code."""
    pkg_dir = _os.path.dirname(_os.path.abspath(__file__))
    top = _os.path.dirname(pkg_dir)
    sources = []
    for root, dirs, files in _os.walk(pkg_dir):
        dirs.sort()
        sources += [_os.path.join(root, f) for f in sorted(files)
                    if f.endswith(".py")]
    h = _hashlib.sha256()
    for full in sources:
        h.update(_os.path.relpath(full, top).encode() + b"\0")
        with open(full, "rb") as fh:
            h.update(fh.read())
    zip_path = _os.path.join(
        _os.environ.get("TMPDIR", "/tmp"),
        f"ee_outliers_spark_pyfiles_{h.hexdigest()[:16]}.zip")
    if not _os.path.exists(zip_path):
        tmp = f"{zip_path}.{_os.getpid()}.tmp"
        with _zipfile.ZipFile(tmp, "w") as zf:
            for full in sources:
                zf.write(full, _os.path.relpath(full, top))
        _os.replace(tmp, zip_path)
    return zip_path


def ensure_py_files(spark) -> None:
    """Make this package importable inside executor Python workers regardless
    of the driver's cwd — the local-mode equivalent of
    ``spark-submit --py-files ee_outliers_spark.zip`` (north_rule deploy
    model). Registers the source-keyed zip (``_pyfiles_zip``) once per
    session via ``sc.addPyFile``."""
    sc = spark.sparkContext
    if getattr(sc, "_ee_outliers_pyfiles", False):
        return
    sc.addPyFile(_pyfiles_zip())
    sc._ee_outliers_pyfiles = True
