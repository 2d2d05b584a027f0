"""Session-level behaviour of ``get_spark``: what its Python workers can
import, which confs it reads at call time, and the worker daemon's zip
archive guard."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from fictional_guacamole_spark import worker_daemon

REPO = Path(__file__).resolve().parent.parent

FOREIGN_CWD_SCRIPT = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, {repo!r})
    from fictional_guacamole_spark.session import get_spark
    from fictional_guacamole_spark.operators.book import apply_book_kernel
    from fictional_guacamole_spark.sources.replay import (
        read_frames_batch, write_capture)
    from fictional_guacamole_spark.streaming.frames import (
        ensure_frame_schema, parse_gdax_frames)

    os.environ["SPARK_GRAFT_CPUS"] = "2"   # after the package import
    spark = get_spark("fg-foreign-cwd")
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        cap = write_capture("capture.jsonl", [json.dumps(
            {{"type": "match", "product_id": "ETH-USD", "trade_id": 7,
              "sequence": 1, "price": "2.0", "size": "0.5",
              "side": "sell", "time": "2024-01-05T10:00:01.000001Z"}})])
        out = apply_book_kernel(ensure_frame_schema(
            parse_gdax_frames(read_frames_batch(spark, cap))))
        rows = out.filter("out_type = 'trade'").collect()
        assert [r["trade_id"] for r in rows] == [7], rows
    finally:
        spark.stop()
    print("FOREIGN-CWD-OK")
""")


def test_workers_import_the_package_from_a_foreign_cwd(tmp_path):
    """A script started outside the repo with PYTHONPATH unset, that puts
    the repo on its own sys.path, runs a book kernel task; the
    SPARK_GRAFT_CPUS it sets after importing the package sizes both the
    master and the shuffle partitions."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_MASTER")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = tmp_path / "foreign.py"
    script.write_text(FOREIGN_CWD_SCRIPT.format(repo=str(REPO)))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert "FOREIGN-CWD-OK" in out.stdout, out.stderr[-4000:]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


class TestArchiveGuard:
    def test_rereads_an_archive_only_when_it_changed(self, tmp_path,
                                                     monkeypatch):
        archive = tmp_path / "mods.zip"
        _write_zip(archive, ["fg_guard_a"])
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            worker_daemon.invalidate_caches_if_changed)
        monkeypatch.syspath_prepend(str(archive))
        importlib.invalidate_caches()
        assert importlib.import_module("fg_guard_a").NAME == "fg_guard_a"
        importer = sys.path_importer_cache[str(archive)]
        importer.invalidate_caches()   # first read through the guard

        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importer.invalidate_caches()
        assert reads == []

        # rewrite it with a second module: a changed size, whatever the
        # clock's resolution; pyspark's per-task call picks it up
        _write_zip(archive, ["fg_guard_a", "fg_guard_b"])
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("fg_guard_b").NAME == "fg_guard_b"
        importer.invalidate_caches()
        assert reads.count(str(archive)) == 1

        for name in ("fg_guard_a", "fg_guard_b"):
            sys.modules.pop(name, None)

    def test_session_workers_run_the_guard(self, spark):
        def probe(batches):
            import pandas as pd

            main = sys.modules["__main__"]
            spec = getattr(main, "__spec__", None)
            for _ in batches:
                pass
            yield pd.DataFrame({
                "daemon": [spec.name if spec else ""],
                "guard": [zipimport.zipimporter.invalidate_caches.__name__],
            })

        rows = (spark.range(1, numPartitions=1)
                .mapInPandas(probe, "daemon string, guard string")
                .collect())
        assert [(r["daemon"], r["guard"]) for r in rows] == [
            ("fictional_guacamole_spark.worker_daemon",
             "invalidate_caches_if_changed")]
