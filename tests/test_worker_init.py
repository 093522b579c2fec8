"""Per-task Python worker start-up: the zip-directory cache and the
``spark-submit --py-files`` launch shape it must keep working."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from wine_label_ocr_spark import _zipdir

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zipdir_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    zp = tmp_path / "mods.zip"
    _write_zip(zp, {"m1": "X = 1\n"})
    monkeypatch.setattr(sys, "path", [str(zp)] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(zipimport, "_zip_directory_cache",
                        dict(zipimport._zip_directory_cache))
    monkeypatch.setattr(_zipdir, "_read_at", dict(_zipdir._read_at))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    for m in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    import m1
    assert m1.X == 1

    read = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        read.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    _zipdir.install()
    importlib.invalidate_caches()
    assert read == []

    _write_zip(zp, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read == [str(zp)]
    import m2
    assert m2.Y == 2


def test_worker_task_start_skips_zip_reparse(spark):
    """In a reused Python worker the method is swapped, and a task start
    re-reads no archive; the driver keeps the stock method."""

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import wine_label_ocr_spark  # noqa: F401  (what a kernel unpickle does)
        from wine_label_ocr_spark import _zipdir

        read = []
        stock_read = zipimport._read_directory

        def counting_read(archive):
            read.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "method_module": [zipimport.zipimporter.invalidate_caches.__module__],
            "n_read": [len(read)],
            "n_archives": [len(_zipdir._read_at)],
        })

    schema = "method_module string, n_read bigint, n_archives bigint"
    df = spark.range(1, numPartitions=1)
    df.mapInArrow(probe, schema).collect()          # first task imports
    (row,) = df.mapInArrow(probe, schema).collect()  # reused worker
    assert row.method_module == "wine_label_ocr_spark._zipdir"
    assert row.n_read == 0
    assert row.n_archives >= 1          # pyspark.zip (+ py4j) are stamped
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_spark_submit_py_files_from_outside_repo(tmp_path):
    spark_home = os.environ.get("SPARK_HOME", "")
    submit = Path(spark_home, "bin", "spark-submit")
    if not spark_home or not submit.exists():
        pytest.skip("spark-submit not available")
    pkg = tmp_path / "wlos.zip"
    with zipfile.ZipFile(pkg, "w") as z:
        for f in sorted((REPO / "wine_label_ocr_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO).as_posix())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [str(submit), "--master", "local[2]", "--py-files", str(pkg),
         str(REPO / "tools" / "submit_extract.py"),
         "--input", "SYNTH:50", "--output", str(tmp_path / "out"),
         "--buckets", "1", "--master", "local[2]"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert json.loads(summary[-1])["n_records"] == 50
