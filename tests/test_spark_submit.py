"""North-rule deployment path: the engine really runs via
``spark-submit --py-files engine.zip`` with NO repo directory on any path.

The driver script is copied into a scratch directory so its own
``sys.path.insert(repo_parent)`` points at the scratch dir — every
``research_on_document_level_person_relation_extraction_in_chinese_spark``
import must therefore resolve from the zip shipped via --py-files, exactly
as on a cluster where executors only receive the archive.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit_cmd(zip_path, script, out_dir, *extra):
    return [
        "spark-submit",
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", str(zip_path),
        str(script),
        "--docs", "90",
        "--out", str(out_dir),
        *extra,
    ]


def _package(tmp_path):
    zip_path = tmp_path / "engine.zip"
    subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "package.sh"), str(zip_path)],
        check=True,
        capture_output=True,
    )
    script = tmp_path / "run_pipeline.py"
    shutil.copy(os.path.join(REPO, "scripts", "run_pipeline.py"), script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return zip_path, script, env


def _summary(stdout: str) -> dict:
    start = stdout.index('{\n "n_triples"')
    return json.loads(stdout[start:])


def test_spark_submit_py_files(tmp_path):
    zip_path = tmp_path / "engine.zip"
    subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "package.sh"), str(zip_path)],
        check=True,
        capture_output=True,
    )
    assert zip_path.stat().st_size > 10_000

    script = tmp_path / "run_pipeline.py"
    shutil.copy(os.path.join(REPO, "scripts", "run_pipeline.py"), script)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_dir = tmp_path / "kg_run"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(script),
            "--docs", "80",
            "--out", str(out_dir),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    start = proc.stdout.index('{\n "n_triples"')
    summary = json.loads(proc.stdout[start:])
    assert summary["n_triples"] > 0
    assert summary["n_nodes"] > 0
    assert summary["lineage"].get("snapshot_id"), "lineage manifest chain missing"
    assert summary["lineage"]["inputs"][0]["stage"] == "documents"
    # checkpointed stages landed under --out
    assert (out_dir / "documents.manifest.json").exists()


def test_spark_submit_kill_and_resume(tmp_path):
    """Round-3 verdict item 8: the kill-and-rerun story end to end from the
    packaged artifact. Run 1 (--annotate-chunks 3) is SIGKILLed after the
    first chunk of the documents stage commits; run 2 with the SAME command
    resumes — the resume line reports >0 already-processed docs — and its
    final triple, node and edge counts equal a clean (never-killed) run's."""
    zip_path, script, env = _package(tmp_path)
    out_dir = tmp_path / "kg_resume"
    cmd = _submit_cmd(zip_path, script, out_dir, "--annotate-chunks", "3")

    # run 1: kill the whole process group once chunk 1 has committed
    proc = subprocess.Popen(
        cmd,
        cwd=str(tmp_path),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,
    )
    deadline = time.time() + 300
    try:
        for line in proc.stdout:
            if "extraction chunk 1/3 committed" in line:
                break
            assert time.time() < deadline, "chunk 1 never committed"
        else:
            raise AssertionError("run 1 exited before committing chunk 1")
    finally:
        try:
            os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(timeout=60)
    # committed chunk parquet is visible, but the stage is NOT finalized
    assert not (out_dir / "documents.manifest.json").exists()
    committed = [
        f for f in os.listdir(out_dir / "documents") if f.endswith(".parquet")
    ]
    assert committed, "no committed chunk files survived the kill"

    # run 2: identical command resumes and completes
    proc2 = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420
    )
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    resume_line = next(
        l for l in proc2.stdout.splitlines() if '"resume_docs_total"' in l
    )
    resumed = json.loads(resume_line)
    assert resumed["docs_already_annotated"] > 0, resumed
    assert resumed["docs_already_annotated"] < resumed["resume_docs_total"]
    summary = _summary(proc2.stdout)
    assert (out_dir / "documents.manifest.json").exists()

    # clean reference run: same corpus, never killed → identical results
    out_clean = tmp_path / "kg_clean"
    proc3 = subprocess.run(
        _submit_cmd(zip_path, script, out_clean),
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc3.returncode == 0, proc3.stderr[-4000:]
    clean = _summary(proc3.stdout)
    assert summary["n_triples"] == clean["n_triples"] > 0
    assert summary["n_nodes"] == clean["n_nodes"] > 0
    assert summary["n_edges"] == clean["n_edges"] > 0
