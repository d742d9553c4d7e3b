"""Python worker daemon (parquet_processor_spark/pyworker.py): the
stat-guarded zip importer cache, its use by the session's workers, and
a worker path that does not depend on the driver's cwd."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_pyworker_import_has_no_side_effects():
    from parquet_processor_spark import pyworker  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_zip_cache_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from parquet_processor_spark.pyworker import install_zip_cache_guard

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"guard_mod_a": "X = 1\n"})
    # restored at teardown: the guard is for worker processes only
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    install_zip_cache_guard()
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("guard_mod_a").X == 1
        reads.clear()  # the importer's own first read
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1

        _write_zip(archive, {"guard_mod_a": "X = 1\n", "guard_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("guard_mod_b").Y == 2
        assert len(reads) == 2
    finally:
        for name in ("guard_mod_a", "guard_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_run_the_guarded_daemon(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    modules = {
        r["module"]
        for r in spark.range(2, numPartitions=2).mapInPandas(probe, "module string").collect()
    }
    # python -m runs the daemon as __main__, so only "not the stdlib's"
    # is asserted
    assert modules and "zipimport" not in modules, modules


def test_workers_import_the_package_from_any_cwd(tmp_path):
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        from parquet_processor_spark.pipeline.fetch import fake_transport
        from parquet_processor_spark.pipeline.run import run_pipeline
        from parquet_processor_spark.session import get_spark

        spark = get_spark("cwd-check", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        with open("manifest.json", "w") as f:
            for i in range(40):
                f.write(json.dumps({{"url": f"https://example.org/concern/media/{{i}}?locale=en"}}) + "\\n")
        res = run_pipeline(spark, "manifest.json", "out", fake_transport, segment_size=20)
        n = spark.range(8).mapInPandas(lambda it: (b for b in it), "id long").count()
        print(json.dumps({{"processed": res.total_processed + res.error_count, "rows": n}}))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"processed": 40, "rows": 8}
