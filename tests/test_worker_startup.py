"""Worker interpreter start-up (sitecustomize.py): the lazy zipimport
invalidation that spares every Python task a re-read of pyspark.zip, its
safety on a rewritten archive, and the THP opt-out no longer dropping
the whole sitecustomize from the workers' PYTHONPATH."""

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from tse_spark import session

needs_backport = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 invalidates zipimport caches lazily itself",
)


@needs_backport
def test_worker_keeps_pyspark_zip_directory_across_invalidation(spark):
    """Each Python task starts with importlib.invalidate_caches(); the
    worker must keep pyspark.zip's parsed directory instead of re-reading
    the archive once per zipimporter."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        archive = next(
            (
                p
                for p in sys.path
                if os.path.basename(p).startswith("pyspark")
                and p.endswith(".zip")
            ),
            None,
        )
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache.get(archive)
        yield pa.RecordBatch.from_pydict(
            {
                "archive": [archive],
                "kept": [before is not None and before is after],
            }
        )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(probe, "archive string, kept boolean")
        .collect()
    )
    assert len(rows) == 4
    if any(r["archive"] is None for r in rows):
        pytest.skip("workers do not import pyspark from a zip")
    assert all(r["kept"] for r in rows), rows


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@needs_backport
def test_rewritten_zip_is_reread_unchanged_zip_is_not(tmp_path, monkeypatch):
    # load the repo's sitecustomize under another name; monkeypatch puts
    # the stock zipimporter.invalidate_caches back afterwards
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setenv("TSE_SPARK_KEEP_THP", "1")
    spec = importlib.util.spec_from_file_location(
        "_tse_sitecustomize",
        os.path.join(session._REPO_ROOT, "sitecustomize.py"),
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["tse_zmod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("tse_zmod_a", "tse_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("tse_zmod_a").NAME == "tse_zmod_a"

    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files

    _write_zip(archive, ["tse_zmod_a", "tse_zmod_b"])
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    assert importlib.import_module("tse_zmod_b").NAME == "tse_zmod_b"


def test_keep_thp_still_exports_sitecustomize(monkeypatch):
    """TSE_SPARK_KEEP_THP skips only the THP opt-out (inside
    sitecustomize.py); workers still need the file on PYTHONPATH."""
    monkeypatch.setenv("TSE_SPARK_KEEP_THP", "1")
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    session.export_worker_sitecustomize()
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [
        session._REPO_ROOT,
        "/elsewhere",
    ]
