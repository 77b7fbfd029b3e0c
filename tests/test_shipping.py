"""Worker importability: ``shipping.pin_launch_archives`` skips the per-task
re-read of the worker's launch archives and nothing else."""

from __future__ import annotations

import importlib
import importlib.machinery
import os
import sys
import uuid
import zipfile
import zipimport

from pdf_extractor_spark.shipping import pin_launch_archives


def _zip_module(path, name: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    return str(path)


def test_pin_skips_only_launch_archives(tmp_path, monkeypatch):
    """A zip on the launch PYTHONPATH is not re-read by
    ``importlib.invalidate_caches()``; a zip off it (an ``addPyFile``
    archive) still is, and directory finders are left alone."""
    launch = _zip_module(tmp_path / "launch.zip", "launch_mod")
    added = _zip_module(tmp_path / "added.zip", "added_mod")
    for z in (launch, added):
        monkeypatch.setitem(sys.path_importer_cache, z, zipimport.zipimporter(z))
    folder = importlib.machinery.FileFinder(str(tmp_path))
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path), folder)
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([launch, str(tmp_path)]))

    pin_launch_archives()
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    importlib.invalidate_caches()

    assert launch not in reads
    assert added in reads
    assert "invalidate_caches" not in vars(folder)


def test_pin_in_worker_keeps_addpyfile_imports(spark, tmp_path):
    """In a real worker, a pinned task's ``invalidate_caches()`` re-reads no
    launch archive, and a module shipped with ``addPyFile`` afterwards
    still imports in the pinned workers' next tasks."""

    def pin_and_probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        from pdf_extractor_spark.shipping import pin_launch_archives

        pin_launch_archives()
        launch = set(os.environ["PYTHONPATH"].split(os.pathsep))
        cached = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "launch_cached": [len(cached & launch)],
                "launch_reads": [len(launch.intersection(reads))],
            }
        )

    # 16 one-row tasks cycle through every idle worker of the local[4] pool
    rows = (
        spark.range(0, 16, 1, 16)
        .mapInArrow(pin_and_probe, "launch_cached long, launch_reads long")
        .collect()
    )
    assert all(r.launch_cached > 0 for r in rows), rows
    assert all(r.launch_reads == 0 for r in rows), rows

    name = f"pes_pin_probe_{uuid.uuid4().hex}"
    spark.sparkContext.addPyFile(_zip_module(tmp_path / f"{name}.zip", name))

    def import_probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        pinned = any(
            "invalidate_caches" in vars(f)
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        )
        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pinned": [pinned], "value": [value]})

    rows = (
        spark.range(0, 16, 1, 16)
        .mapInArrow(import_probe, "pinned boolean, value long")
        .collect()
    )
    assert all(r.value == 42 for r in rows), rows
    assert any(r.pinned for r in rows), rows
