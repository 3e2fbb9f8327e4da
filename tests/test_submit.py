"""The two CLI invocations — `spark-submit --py-files kg.zip` (the north
rule's deployment mode) and a direct `python kg/pipeline.py` — each run
end-to-end from a FOREIGN cwd, so an import/path refactor cannot silently
break either. Marked slow: each boots a second JVM (~35 s)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_pyfiles_pipeline(tmp_path):
    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = subprocess.run(
        ["bash", f"{REPO}/scripts/make_pyfiles.sh", str(tmp_path / "kg.zip")],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]", "--py-files", zip_path,
            f"{REPO}/kg/pipeline.py",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "kg_out"),
        ],
        check=True, capture_output=True, text=True,
        cwd=str(tmp_path),  # foreign cwd: no repo-relative imports allowed
        timeout=300,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["edges_total"] == 9420, result
    assert result["nodes"] == 1710, result


@pytest.mark.slow
def test_direct_run_from_foreign_cwd(tmp_path):
    """``python kg/pipeline.py`` from another directory, no PYTHONPATH:
    the kernel's Python workers must import ``kg`` too, not only the
    driver."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            sys.executable, f"{REPO}/kg/pipeline.py",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "kg_out"), "--cores", "2",
        ],
        check=True, capture_output=True, text=True,
        cwd=str(tmp_path), env=env, timeout=300,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["edges_total"] == 9420, result
    assert result["nodes"] == 1710, result
