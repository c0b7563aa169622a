"""End-to-end spark-submit --py-files smoke: the north-rule deployment
shape. Packages the engine, launches the pipeline CLI in a separate
spark-submit process with ONLY the zip on the python path, drains the
tiny stream, and checks the sink."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles(transcripts_parquet, stream_parquet_dir):
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.exists(zip_path)

    work = "/tmp/spark_graft_submit"
    shutil.rmtree(work, ignore_errors=True)
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # engine must come from --py-files only
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--source", stream_parquet_dir,
            "--work-dir", work,
            "--queries", "silver,gold_hour",
            "--available-now",
            "--max-files-per-trigger", "8",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd="/tmp",
    )
    assert out.returncode == 0, f"stderr tail: {out.stderr[-2000:]}"
    summary_lines = [
        line for line in out.stdout.splitlines() if line.startswith("PIPELINE_SUMMARY ")
    ]
    assert summary_lines, f"no summary; stdout tail: {out.stdout[-1000:]}"
    import json

    summary = json.loads(summary_lines[0][len("PIPELINE_SUMMARY "):])
    assert summary["input_rows"] > 0
    # sink table exists with committed batches
    assert os.path.isdir(os.path.join(work, "tables", "silver", "_commits"))
    assert len(os.listdir(os.path.join(work, "tables", "silver", "_commits"))) > 0
    # gold read silver's committed deltas through the sink_commits
    # source, loaded from the zip alone
    assert len(os.listdir(os.path.join(work, "tables", "gold_hour", "_commits"))) > 0
