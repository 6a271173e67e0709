"""The stat-guarded ``zipimporter.invalidate_caches`` installed by
``import linkgraph``: an unchanged archive is not re-read, a rewritten one
is, and the guard reaches the Python workers, not only the driver."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import linkgraph

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 zipimporter.invalidate_caches no longer re-reads",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lg_zip_mod_a": "a"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("lg_zip_mod_a").VALUE == "a"
        importlib.invalidate_caches()  # stamps the importer made after install
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)

        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"lg_zip_mod_a": "a", "lg_zip_mod_b": "b"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("lg_zip_mod_b").VALUE == "b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("lg_zip_mod_a", "lg_zip_mod_b"):
            sys.modules.pop(name, None)


def test_second_install_does_not_wrap_twice():
    guarded = zipimport.zipimporter.invalidate_caches
    assert getattr(guarded, "_linkgraph_guard", False)
    linkgraph._guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_guard_reaches_python_workers(spark):
    # Nested, so cloudpickle ships it by value: the worker's only linkgraph
    # import is the one inside it.
    def report_guard(batches):
        import zipimport

        import linkgraph  # noqa: F401  (installs the guard in this worker)

        guard = zipimport.zipimporter.invalidate_caches
        guarded = bool(getattr(guard, "_linkgraph_guard", False))
        for batch in batches:
            yield pa.RecordBatch.from_pydict({"guarded": [guarded] * batch.num_rows})

    rows = (
        spark.range(0, 64, numPartitions=4)
        .mapInArrow(report_guard, "guarded boolean")
        .collect()
    )
    assert len(rows) == 64
    assert all(r.guarded for r in rows)
