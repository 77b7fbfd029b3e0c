"""Self-shipping: make the package importable on executors, always.

The Arrow kernels (mapInPandas/mapInArrow/applyInPandas) are serialized by
reference, so executor Python workers must be able to ``import
pdf_extractor_spark``. That held only while the driver's cwd was the repo
root (workers inherit cwd -> '' on sys.path); a caller importing
``__spark_entry__`` from anywhere else would crash every kernel query with
ModuleNotFoundError. ``ensure_shipped(spark)`` zips the package once per
process and registers it with ``sc.addPyFile`` once per SparkSession — the
runtime equivalent of ``spark-submit --py-files``. ``pin_launch_archives()``
keeps the worker's launch archives from being re-read on every task.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

_PKG_ROOT = os.path.dirname(os.path.abspath(__file__))
_shipped_apps: set[str] = set()
_zip_path: str | None = None


def _build_zip() -> str:
    global _zip_path
    if _zip_path is not None and os.path.exists(_zip_path):
        return _zip_path
    path = os.path.join(tempfile.gettempdir(), f"pes-pkg-{os.getpid()}.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(_PKG_ROOT):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "pdf_extractor_spark", os.path.relpath(full, _PKG_ROOT)
                )
                zf.write(full, rel)
    _zip_path = path
    return path


def ensure_shipped(spark) -> None:
    """Idempotent per SparkSession; safe to call before every query."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _shipped_apps:
        return
    sc.addPyFile(_build_zip())
    _shipped_apps.add(app)


def pin_launch_archives() -> None:
    """Stop re-reading the worker's launch archives on every Python task.

    pyspark's per-task ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and on CPython < 3.13 every cached
    ``zipimporter`` re-reads its archive's whole central directory there.
    A worker caches ~16 of them, on pyspark.zip (~1,300 entries), py4j
    and the spark-core jar (~5,400 entries): ~0.2 s of CPU per task on a
    4-CPU host. Spark fixes the archives on the worker's launch
    ``PYTHONPATH`` when it starts the worker, so this makes their
    importers' ``invalidate_caches`` a no-op. ``addPyFile`` archives
    (under the SparkFiles root, not on that path) and directory finders
    are still invalidated. Called at the top of the worker wrappers; the
    pin lasts for the life of a reused worker. CPython 3.13 made the
    re-read lazy, so this can go once the runtime is on 3.13 or later.
    """
    launch = set(os.environ.get("PYTHONPATH", "").split(os.pathsep)) - {""}
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in launch:
            finder.invalidate_caches = lambda: None
