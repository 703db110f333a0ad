"""The Python worker daemon's zip-directory cache (worker_daemon.py)."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter, so the zipimporter patch never leaks into
# the test process.
_SCRIPT = r"""
import importlib, sys, zipfile, zipimport

path = sys.argv[1]

def write(value, pad):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod.py", f"VALUE = {value!r}\n" + "#" * pad)

write(1, 0)
sys.path.insert(0, path)
import zmod
assert zmod.VALUE == 1
from gmail_etl_spark.worker_daemon import install

install()

reads = []
_read_directory = zipimport._read_directory

def counting(archive):
    if archive == path:
        reads.append(archive)
    return _read_directory(archive)

zipimport._read_directory = counting
importlib.invalidate_caches()  # stamps the importer
before = len(reads)
importlib.invalidate_caches()
assert len(reads) == before, f"unchanged zip re-read: {len(reads) - before}"
write(2, 64)
importlib.invalidate_caches()
assert len(reads) == before + 1, f"rewritten zip read {len(reads) - before} times"
del sys.modules["zmod"]
import zmod
assert zmod.VALUE == 2, zmod.VALUE
print("ok")
"""


def test_daemon_rereads_zip_only_when_it_changed(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "mods.zip")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_python_workers_run_under_the_daemon(spark):
    """Forked workers inherit the patched zipimporter from the daemon."""

    @F.udf("string")
    def invalidate_impl():
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return f"{f.__module__}.{f.__qualname__}"

    got = spark.range(1).select(invalidate_impl().alias("f")).first()["f"]
    assert got == "__main__._invalidate_caches"
