"""End-to-end spark-submit job entry (jobs/run_backfill.py) smoke."""

import json
import os
import subprocess
import sys

from nuclei_feature_extraction_spark.fixtures import fixtures_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_backfill_cli_end_to_end(spark, tmp_path):
    d = fixtures_dir("tiny")
    out = str(tmp_path / "features.parquet")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_backfill.py"),
            "--transcripts", os.path.join(d, "transcripts.parquet"),
            "--side-profile", os.path.join(d, "side_user_profile.parquet"),
            "--side-config", os.path.join(d, "side_model_config.parquet"),
            "--output", out,
            "--feature-sets", "window", "runlen",
        ],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    got = spark.read.parquet(out)
    assert got.count() == summary["rows"] > 0
    assert "runlen_gln_role" in got.columns and "plan" in got.columns


def test_backfill_cli_rejects_unknown_set(tmp_path):
    res = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_backfill.py"),
            "--transcripts", "x.parquet", "--output", "y.parquet",
            "--feature-sets", "bogus",
        ],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert res.returncode != 0
    assert "unknown feature set" in res.stderr


def test_package_zip(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import package

    out = package.main(str(tmp_path))
    assert os.path.exists(out)
    import zipfile

    names = zipfile.ZipFile(out).namelist()
    assert "nuclei_feature_extraction_spark/plans/pipeline.py" in names


def test_backfill_cli_output_checkpoint_mutual_exclusion():
    import pytest

    import jobs.run_backfill as job

    with pytest.raises(SystemExit):
        job.parse_args(
            ["--transcripts", "x.parquet", "--output", "y.parquet",
             "--checkpoint-dir", "/tmp/ck"]
        )
    with pytest.raises(SystemExit):
        job.parse_args(["--transcripts", "x.parquet"])


def test_backfill_cli_checkpointed_rows_from_manifest(spark, tmp_path, tiny_pdf):
    """Checkpointed backfill reports rows summed from the manifest (one
    Spark job per bucket group — a single Observation would undercount)."""
    import json as _json

    import jobs.run_backfill as job

    src = str(tmp_path / "tr.parquet")
    spark.createDataFrame(tiny_pdf).write.parquet(src)
    ck = str(tmp_path / "ck")
    mpath = str(tmp_path / "m.json")
    rc = job.main(
        ["--transcripts", src, "--checkpoint-dir", ck, "--n-buckets", "4",
         "--feature-sets", "session", "--metrics-out", mpath]
    )
    assert rc == 0
    m = _json.load(open(mpath))
    assert m["rows"] == len(tiny_pdf)
    assert spark.read.parquet(m["data_dir"]).count() == len(tiny_pdf)
    # the grouped-scan backend probe must be SURFACED in the manifest —
    # and in this container the direct cython bindings must be active
    # (a pandas upgrade flipping this to 'public' should fail HERE, not
    # silently run 1.5× slower)
    assert m["kernel_backend"] == "cython"


def test_backfill_asof_routing_in_manifest(spark, tmp_path, tiny_pdf):
    """The job samples the hot-key share, routes the profile as-of join
    (skewed → union_window, uniform → cogrouped), and records the
    decision + evidence in the checkpoint manifest and summary."""
    import json as _json

    import pandas as pd

    import jobs.run_backfill as job

    prof = pd.DataFrame(
        {
            "conv_id": sorted(tiny_pdf["conv_id"].unique()),
            "effective_ts": tiny_pdf["ts"].min(),
            "plan": "pro",
            "score": 0.5,
        }
    )
    ppath = str(tmp_path / "prof.parquet")
    spark.createDataFrame(prof).write.parquet(ppath)

    # uniform: every conversation truncated to ≤3 turns (max share ~2%);
    # skewed: one conversation holds >half the rows
    uniform = tiny_pdf.groupby("conv_id", sort=False).head(3).reset_index(drop=True)
    hot = tiny_pdf.copy()
    hot["conv_id"] = "conv-hot"
    skewed = pd.concat([tiny_pdf, hot, hot], ignore_index=True)
    for name, pdf, expect in (
        ("uniform", uniform, "cogrouped"),
        ("skewed", skewed, "union_window"),
    ):
        src = str(tmp_path / f"tr_{name}.parquet")
        spark.createDataFrame(pdf).write.parquet(src)
        ck = str(tmp_path / f"ck_{name}")
        mpath = str(tmp_path / f"m_{name}.json")
        rc = job.main(
            ["--transcripts", src, "--checkpoint-dir", ck, "--n-buckets", "2",
             "--side-profile", ppath,
             "--feature-sets", "session", "--metrics-out", mpath]
        )
        assert rc == 0
        m = _json.load(open(mpath))
        assert m["asof_routing"]["strategy"] == expect, (name, m["asof_routing"])
        manifest = _json.load(open(ck + "/_manifest.json"))
        assert manifest["run_info"]["asof_routing"]["strategy"] == expect
        got = spark.read.parquet(m["data_dir"])
        assert got.count() == len(pdf)
        assert "plan" in got.columns
        assert got.filter(got["plan"].isNotNull()).count() > 0


def test_spark_submit_py_files_zip(tmp_path):
    """The north-rule launch path: ``spark-submit --py-files dist/nfx.zip``
    with the job script OUTSIDE the repo, so the package import can only
    be satisfied by the shipped zip (running from the repo root would
    silently fall back to the source tree)."""
    import shutil
    import subprocess

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import package

    zip_path = package.main(str(tmp_path))
    script = str(tmp_path / "run_backfill.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_backfill.py"), script)
    out = str(tmp_path / "features.parquet")
    d = fixtures_dir("tiny")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    res = subprocess.run(
        [
            "spark-submit", "--master", "local[2]",
            "--py-files", zip_path,
            script,
            "--transcripts", os.path.join(d, "transcripts.parquet"),
            "--output", out,
            "--feature-sets", "session",
        ],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert res.returncode == 0, (res.stdout[-2000:], res.stderr[-3000:])
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0
    import pyarrow.parquet as pq

    assert pq.read_table(out).num_rows == summary["rows"]


def test_backfill_fused_plan_flag(spark, tmp_path, tiny_pdf):
    """--plan fused routes through the single-shuffle plan and produces
    the full feature set; subsets are rejected before Spark starts."""
    import jobs.run_backfill as job

    src = str(tmp_path / "tr_fused.parquet")
    spark.createDataFrame(tiny_pdf).write.parquet(src)
    out = str(tmp_path / "feat_fused.parquet")
    rc = job.main(["--transcripts", src, "--output", out, "--plan", "fused"])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == len(tiny_pdf)
    for c in ("cooc_entropy_d1_k4", "runlen_gln_role", "xcooc_mi_d1",
              "shape_hull_area", "tlen_gabor_w4_p0_mean"):
        assert c in got.columns, c
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="FULL feature set"):
        job.main(["--transcripts", src, "--output", out,
                  "--plan", "fused", "--feature-sets", "session"])


def test_backfill_fused_kernel_seconds_in_metrics(spark, tmp_path, tiny_pdf):
    """The fused plan surfaces per-family kernel CPU-seconds (cooc /
    runlen / xcooc / shape / window / sidelookup accumulators) in the
    run metrics — a per-run regression tripwire for the documented
    hull/shape share, instead of per-investigation profiling."""
    import json as _json

    import jobs.run_backfill as job
    from nuclei_feature_extraction_spark.plans.fused import (
        KERNEL_TIMER_FAMILIES,
    )

    src = str(tmp_path / "tr_kt.parquet")
    spark.createDataFrame(tiny_pdf).write.parquet(src)
    out = str(tmp_path / "feat_kt.parquet")
    mdir = str(tmp_path / "metrics_kt")
    rc = job.main(["--transcripts", src, "--output", out,
                   "--plan", "fused", "--metrics-out", mdir])
    assert rc == 0
    metrics = _json.load(open(mdir + "/metrics.json"))
    ks = metrics["audits"]["kernel_seconds"]
    assert set(ks) == set(KERNEL_TIMER_FAMILIES)
    # every family actually executed on this fixture: elapsed > 0
    for fam in ("cooc", "runlen", "xcooc", "shape", "window"):
        assert ks[fam] > 0.0, fam


def test_backfill_as_of_snapshot_pins_input_version(spark, tmp_path, tiny_pdf):
    """TIME TRAVEL through the job surface (VERDICT r6 ask #8): a
    backfill run with --as-of-snapshot N-1 AFTER a later bucket group
    landed must (a) compute features only over rows visible at that
    snapshot and (b) record the pinned version in its lineage output."""
    import json as _json

    import jobs.run_backfill as job
    from nuclei_feature_extraction_spark.sources.checkpoint import (
        CheckpointedWriter,
    )

    # checkpoint the INPUT table in two bucket groups -> versions 1, 2
    src = str(tmp_path / "ckpt_in")
    w = CheckpointedWriter(src, n_buckets=4, buckets_per_job=2)
    w.run(spark.createDataFrame(tiny_pdf))
    hist = w.snapshots()
    assert [s["version"] for s in hist] == [1, 2]
    v1_rows = hist[0]["rows"]
    assert 0 < v1_rows < len(tiny_pdf)

    # plain-sink backfill pinned to snapshot 1 (N-1)
    out = str(tmp_path / "feat.parquet")
    mdir = str(tmp_path / "metrics")
    rc = job.main(
        ["--transcripts", src, "--as-of-snapshot", "1", "--output", out,
         "--feature-sets", "session", "--metrics-out", mdir]
    )
    assert rc == 0
    m = _json.load(open(os.path.join(mdir, "metrics.json")))
    assert m["rows"] == v1_rows
    assert m["audits"]["input_snapshot"]["version"] == 1
    assert m["audits"]["input_snapshot"]["history"] == hist
    assert spark.read.parquet(out).count() == v1_rows

    # checkpointed backfill records the pinned input version in the
    # OUTPUT manifest's run_info (resumable lineage)
    ck = str(tmp_path / "ckpt_out")
    rc = job.main(
        ["--transcripts", src, "--as-of-snapshot", "1",
         "--checkpoint-dir", ck, "--n-buckets", "2",
         "--feature-sets", "session", "--metrics-out",
         str(tmp_path / "m2.json")]
    )
    assert rc == 0
    om = CheckpointedWriter(ck, n_buckets=2).load_manifest()
    assert om["run_info"]["input_snapshot"]["version"] == 1
    m2 = _json.load(open(str(tmp_path / "m2.json")))
    assert m2["rows"] == v1_rows
    assert m2["input_snapshot"]["version"] == 1
