"""The stat-guarded ``zipimporter.invalidate_caches`` (zipcache.py):
stdlib behaviour on an archive that changes, no re-read of one that
does not, and installed in every engine Python worker.

Both tests run in a subprocess so the patched importer never leaks
into the test process."""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, tmp_path, timeout: int) -> str:
    res = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        capture_output=True, text=True, timeout=timeout, cwd=str(tmp_path),
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return res.stdout


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="a no-op on 3.12+")
def test_unchanged_zip_not_reread_changed_zip_reread(tmp_path):
    _run(
        """
        import importlib, os, sys, zipfile, zipimport

        from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

        def write(names):
            with zipfile.ZipFile("lib.zip", "w") as zf:
                for n in names:
                    zf.writestr(f"pkg/{n}.py", f"NAME = {n!r}\\n")
                zf.writestr("pkg/__init__.py", "")

        write(["a"])
        sys.path.insert(0, os.path.abspath("lib.zip"))
        import pkg.a

        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or orig(p)

        real, version = zipimport.zipimporter.invalidate_caches, sys.version_info
        sys.version_info = (3, 12, 0, "final", 0)
        guard_zip_caches()
        assert zipimport.zipimporter.invalidate_caches is real, "3.12: no-op"
        sys.version_info = version

        guard_zip_caches()
        guard_zip_caches()
        importlib.invalidate_caches()  # first guarded call reads once
        assert len(reads) == 1, reads
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 1, f"unchanged archive re-read: {reads}"

        write(["a", "b"])
        importlib.invalidate_caches()
        assert len(reads) == 2, f"changed archive not re-read: {reads}"
        import pkg.b
        assert pkg.b.NAME == "b"
        importlib.invalidate_caches()
        assert len(reads) == 2, reads
        """,
        tmp_path, timeout=60,
    )


_PROBE_SESSION = """
import os, sys, zipimport

import pandas as pd

from nuclei_feature_extraction_spark.fixtures import gen_transcripts
from nuclei_feature_extraction_spark.operators.asof import asof_join_broadcast
from nuclei_feature_extraction_spark.plans.fused import build_features_fused
from nuclei_feature_extraction_spark.session import get_spark


def probe(batches):
    # reports whether this worker runs the guard, then takes it out
    # again, so the next case must install it on its own
    for _ in batches:
        pass
    mod = sys.modules.get("nuclei_feature_extraction_spark.zipcache")
    guarded = (mod is not None and
               zipimport.zipimporter.invalidate_caches is mod._invalidate_caches)
    if mod is not None:
        zipimport.zipimporter.invalidate_caches = mod._reread
    yield pd.DataFrame({"pid": [os.getpid()], "guarded": [guarded]})


spark = get_spark(master="local[1]", shuffle_partitions=1,
                  app_name="nfx-zipcache")
try:
    tr = spark.createDataFrame(gen_transcripts(4))
    side = spark.createDataFrame(pd.DataFrame({
        "effective_ts": pd.to_datetime(["2024-01-01"]), "model": ["m1"],
    }))
    one = spark.range(1, numPartitions=1)

    def run_probe():
        row = one.mapInPandas(probe, "pid long, guarded boolean").collect()[0]
        return row.pid, row.guarded

    got = {"before": run_probe()}
    build_features_fused(tr, lags=(1,), levels=(4,)).count()
    got["fused"] = run_probe()
    asof_join_broadcast(tr.select("conv_id", "ts"), side).collect()
    got["asof"] = run_probe()
    print(got)
finally:
    spark.stop()
"""


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="a no-op on 3.12+")
def test_guard_installed_in_reused_worker(tmp_path):
    """One executor slot, so every SQL Python task runs in the same
    reused worker; the probe is itself a ``mapInPandas`` task, because
    RDD tasks may get a worker of their own.
    The as-of case fails if the guard were installed only on package
    import: its pandas UDF references only numpy and pandas, so
    unpickling it imports nothing from the package."""
    out = _run(_PROBE_SESSION, tmp_path, timeout=300)
    got = eval(out.strip().splitlines()[-1])
    assert len({pid for pid, _ in got.values()}) == 1, got
    assert got == {k: (got["before"][0], k != "before") for k in got}, got
