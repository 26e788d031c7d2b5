"""zipcache: unchanged zip archives are not re-read on every
``importlib.invalidate_caches()`` (which PySpark's worker calls per task)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from neural_locality_sensitive_hashing_spark import zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zipcache_probe_mod.py", source)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="invalidate_caches is lazy from 3.12")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipcache_probe_mod", raising=False)
    try:
        assert importlib.import_module("zipcache_probe_mod").VALUE == 1
        assert zipcache.installed()

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        # the first call stamps every archive on sys.path (importers created
        # before the stamp was taken are re-read once)
        importlib.invalidate_caches()
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, "VALUE = 2  # rewritten, so the size differs too\n")
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [archive]
        del sys.modules["zipcache_probe_mod"]
        assert importlib.import_module("zipcache_probe_mod").VALUE == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        zipcache._read_stamps.pop(archive, None)


_LIVE_PROBE = textwrap.dedent(
    """
    import json

    import pandas as pd

    from neural_locality_sensitive_hashing_spark import DedupConfig, spark_session
    from neural_locality_sensitive_hashing_spark.operators.verify import jaccard_verify

    spark = spark_session("zipcache-probe", master="local[2]", shuffle_partitions=2)
    sh = lambda *xs: b"".join(x.to_bytes(8, "little") for x in xs)
    sets = spark.createDataFrame(
        [(1, sh(1, 2, 3, 4)), (2, sh(1, 2, 3, 5))], "doc_id long, sh binary"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    cfg = DedupConfig(jaccard_threshold=0.5)
    jac = [r.jaccard for r in jaccard_verify(pairs, sets, cfg).collect()]

    # defined in __main__, so it ships by value and imports nothing of the
    # engine: it reports what the worker's earlier tasks installed
    def probe(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"installed": [getattr(fn, "skips_unchanged_archives", False)]})

    installed = [
        r.installed
        for r in spark.range(1, numPartitions=1).mapInPandas(probe, "installed boolean").collect()
    ]
    print("PROBE " + json.dumps({"jaccard": jac, "installed": installed}))
    spark.stop()
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="invalidate_caches is lazy from 3.12")
def test_worker_installs_after_join_verify():
    """A fresh local[2] session whose only Python work is the join-path
    jaccard UDF: its worker must have imported the engine, and so installed
    the fix, by the time the next task runs."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _LIVE_PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("PROBE ") :])
    assert out["jaccard"] == [3 / 5]
    assert out["installed"] == [True]
