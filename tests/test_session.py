"""The session's Python worker daemon (``llmxmapreduce_spark.pyworker``).

Every Python task calls ``importlib.invalidate_caches()``; under the
package daemon a zipimporter re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` stamp has changed.  The first test checks that
contract in this process, without Spark; the second checks that the
session's workers really run under the daemon; the third that they
import the package whatever directory the driver starts in.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd

from llmxmapreduce_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_is_reread_only_when_the_zip_changes(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(archive)
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("m1").NAME == "m1"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_caches)

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) <= 1, reads

    # a changed zip is re-read: the stdlib contract holds
    st = os.stat(archive)
    _write_zip(archive, ["m1", "m2"])
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    assert reads[-1:] == [archive]
    assert importlib.import_module("m2").NAME == "m2"


def test_workers_run_under_the_package_daemon(spark):
    """A warm worker's ``importlib.invalidate_caches()`` reads no archive."""

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real_read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield pd.DataFrame({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "module string, reads int").collect()[0]
    assert row["module"] == pyworker.__name__
    assert row["reads"] == 0


def test_workers_import_the_package_from_any_start_directory(tmp_path):
    """A driver started outside the checkout, with the package on its own
    ``sys.path`` only, still runs Python tasks: ``get_spark`` puts the
    package's parent directory on the workers' path."""
    root = str(Path(__file__).resolve().parent.parent)
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from llmxmapreduce_spark.session import get_spark

        s = get_spark("start-dir", master="local[1]", shuffle_partitions=1)
        rows = s.range(0, 4, numPartitions=1).mapInPandas(
            lambda batches: batches, "id long").collect()
        print("ids", sorted(r["id"] for r in rows))
        s.stop()
    """))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != root)
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ids [0, 1, 2, 3]" in out.stdout
