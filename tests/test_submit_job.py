"""spark-submit deployment shape (north_rule: `spark-submit --py-files`).

One real end-to-end submit: package zip built by tools/make_pyfiles,
driver script jobs/rollup_job.py, run from a FOREIGN cwd so the package
can only come from the shipped zip. Skipped when spark-submit is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_pyfiles_zip_contents(tmp_path):
    sys.path.insert(0, HERE)
    from tools.make_pyfiles import build

    out = build(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "matrixprofile_spark/session.py" in names
    assert "matrixprofile_spark/operators/rollup.py" in names
    assert not any(n.endswith((".pyc", ".so")) for n in names)


def test_engine_conf_is_set_in_the_session(spark):
    """get_spark applies every engine-semantics conf that spark-submit
    jobs pin through get_submit_spark."""
    from matrixprofile_spark.session import ENGINE_CONF

    conf = dict(spark.sparkContext.getConf().getAll())
    assert {k: conf.get(k) for k in ENGINE_CONF} == ENGINE_CONF


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="no spark-submit")
def test_spark_submit_batch_job(tmp_path):
    sys.path.insert(0, HERE)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    wd = str(tmp_path / "out")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [SUBMIT, "--master", "local[4]", "--py-files", zip_path,
         os.path.join(HERE, "jobs", "rollup_job.py"),
         "--mode", "batch", "--synth-convs", "40", "--workdir", wd],
        cwd=str(tmp_path),  # foreign cwd: package must come from the zip
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    metrics = json.load(open(os.path.join(wd, "metrics.json")))
    assert metrics["mode"] == "batch"
    assert metrics["tier_rows"]["1m"] > metrics["tier_rows"]["1h"] > 0
    # stored bytes are the tiers' parquet files, .crc side files excluded
    for tier in ("1m", "1h", "1d"):
        tier_dir = os.path.join(wd, "tiers", f"tier={tier}")
        assert metrics["tier_bytes"][tier] == sum(
            os.path.getsize(os.path.join(tier_dir, f))
            for f in os.listdir(tier_dir) if f.endswith(".parquet")) > 0
    assert 0 < metrics["bytes_per_point"] < 10


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="no spark-submit")
def test_spark_submit_refresh_job(spark, tmp_path):
    sys.path.insert(0, HERE)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    wd = str(tmp_path / "out")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [SUBMIT, "--master", "local[4]", "--py-files", zip_path,
         os.path.join(HERE, "jobs", "rollup_job.py"),
         "--mode", "refresh", "--synth-convs", "40", "--workdir", wd],
        cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    metrics = json.load(open(os.path.join(wd, "metrics.json")))
    assert metrics["mode"] == "refresh"
    assert metrics["invalidated_buckets"] > 0
    assert metrics["rollup_1m_rows"] > metrics["invalidated_buckets"]
    assert metrics["rollup_1m_rows"] == spark.read.parquet(
        os.path.join(wd, "rollup_1m")).count()
