"""worker_daemon: zip importers re-read an archive only when it changed, and
the engine's Python workers run with that patch."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO_DIR

# Run in a subprocess so the patch never touches the pytest process.
_ZIP_CHECK = """
import importlib, sys, zipfile, zipimport
repo, zpath = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
stock = zipimport.zipimporter.invalidate_caches
import tf_datapipeline_spark.worker_daemon

if sys.version_info >= (3, 13):
    assert zipimport.zipimporter.invalidate_caches is stock
    sys.exit(0)

reads = []
read_directory = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return read_directory(archive)
zipimport._read_directory = counting

def write_zip(*mods):
    with zipfile.ZipFile(zpath, "w") as z:
        for m in mods:
            z.writestr(m + ".py", f"NAME = {m!r}\\n")

write_zip("m1")
sys.path.insert(0, zpath)
import m1
zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
assert zips, "no zipimporter on sys.path"
del reads[:]  # the new importer's own first read

# an importer that has no stamp yet re-reads once; an unchanged zip never again
importlib.invalidate_caches()
assert len(reads) == len(zips), reads
del reads[:]
for _ in range(5):
    importlib.invalidate_caches()
assert reads == [], reads

write_zip("m1", "m2")  # a new size, so a new stamp whatever the mtime granularity
importlib.invalidate_caches()
assert reads == [zpath], reads
import m2
assert m2.NAME == "m2"
"""


def test_invalidate_rereads_only_changed_archives(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_CHECK, REPO_DIR, str(tmp_path / "mods.zip")],
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_engine_workers_skip_unchanged_archives(spark):
    """A task's own `importlib.invalidate_caches()` re-reads no archive, in a
    worker that holds the usual pyspark.zip / jar / py4j importers."""
    import pandas as pd

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        n_zips = sum(isinstance(f, zipimport.zipimporter)
                     for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"patch": [zipimport.zipimporter.invalidate_caches.__module__],
                            "zips": [n_zips], "reads": [len(reads)]})

    rows = (spark.range(0, 64, 1, 4)
            .mapInPandas(probe, schema="patch string, zips int, reads int")
            .collect())
    assert len(rows) == 4
    for r in rows:
        if sys.version_info < (3, 13):
            assert r.patch == "tf_datapipeline_spark.worker_daemon", r
        assert r.zips > 0, r
        assert r.reads == 0, r
