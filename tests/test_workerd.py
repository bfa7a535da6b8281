"""The ``pandarus_workerd`` Python worker daemon: workers import the
installed pyspark instead of ``pyspark.zip`` when the versions match,
and keep ``sys.path`` untouched otherwise."""

import os
import subprocess
import sys
import zipfile

import pandas as pd
import pytest

import pandarus_workerd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_with_version(tmp_path, version):
    path = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def _on_python_path(monkeypatch, archive, path):
    monkeypatch.setenv("PYTHONPATH", archive)
    monkeypatch.setattr(sys, "path", [archive, *path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))


def test_worker_imports_pyspark_outside_any_archive(spark):
    def files(batches):
        import pyspark
        for pdf in batches:
            yield pd.DataFrame({"file": [pyspark.__file__] * len(pdf)})

    rows = (spark.range(4).repartition(4)
            .mapInPandas(files, "file string").distinct().collect())
    assert rows
    for r in rows:
        assert ".zip" not in r.file and ".jar" not in r.file, r.file


@pytest.mark.parametrize("archive_bytes", [None, b"not a zip archive"])
def test_version_mismatch_or_bad_archive_keeps_sys_path(tmp_path, monkeypatch, archive_bytes):
    archive = _zip_with_version(tmp_path, "0.0.0-not-installed")
    if archive_bytes is not None:
        with open(archive, "wb") as f:
            f.write(archive_bytes)
    _on_python_path(monkeypatch, archive, sys.path)
    before = list(sys.path)
    assert pandarus_workerd.strip_archives() is False
    assert sys.path == before


def test_no_installed_pyspark_keeps_sys_path(tmp_path, monkeypatch):
    import pyspark
    archive = _zip_with_version(tmp_path, pyspark.__version__)
    installed = os.path.dirname(os.path.dirname(pyspark.__file__))
    _on_python_path(monkeypatch, archive, [p for p in sys.path if p != installed])
    before = list(sys.path)
    assert pandarus_workerd.strip_archives() is False
    assert sys.path == before


def test_matching_version_drops_archive_and_its_importer(tmp_path, monkeypatch):
    import zipimport

    import pyspark
    archive = _zip_with_version(tmp_path, pyspark.__version__)
    _on_python_path(monkeypatch, archive, ["", *sys.path])
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    before = list(sys.path)
    assert pandarus_workerd.strip_archives() is True
    assert sys.path == before[1:]
    assert archive not in sys.path_importer_cache


def test_daemon_decides_on_stdlib_alone():
    """Importing the module and deciding loads only stdlib modules:
    nothing from pyspark, py4j or pandarus_spark."""
    code = ("import sys; before = set(sys.modules)\n"
            "import pandarus_workerd; pandarus_workerd.strip_archives()\n"
            "print(' '.join(sorted(set(sys.modules) - before)))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.split()
    assert "pandarus_workerd" in out
    loaded = {m.split(".")[0] for m in out} - {"pandarus_workerd"}
    assert loaded <= set(sys.stdlib_module_names), loaded - set(sys.stdlib_module_names)
