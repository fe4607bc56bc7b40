"""North-rule launch path: the pipeline must run via
`spark-submit --py-files posmspark.zip` with NO repo on sys.path —
imports come from the shipped archive on driver and executors."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not on this host")
def test_spark_submit_py_files(tmp_path):
    # package the library like a cluster deploy would
    zpath = tmp_path / "posmspark.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(REPO, "posmspark")
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))
    # run the job from OUTSIDE the repo so only the zip provides the pkg
    job = tmp_path / "run_pipeline.py"
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), job)

    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--py-files", str(zpath), str(job),
         "--workdir", str(tmp_path / "wd"), "--n-docs", "5000"],
        capture_output=True, text=True, timeout=240,
        cwd=str(tmp_path),
        env={**os.environ, "SPARK_GRAFT_CPUS": "4",
             "PYSPARK_PYTHON": sys.executable},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("assigned_docs=")][-1]
    # deterministic synth input -> pinned output
    assert line.startswith("assigned_docs=1358 tiles=996"), line


def test_pipeline_cli_incremental_rewrites_only_changed_partition(
        spark, tmp_path):
    """VERDICT r02 item 8: the deploy-shaped CLI path must exercise
    partition-level incremental recompute end-to-end — mutate one input
    partition, rerun the CLI, and ONLY that partition's checkpointed
    outputs rewrite (file-metadata change detection on the hive dirs,
    zero rescan of unchanged partitions)."""
    import json
    import time

    from pyspark.sql import functions as F

    from posmspark import synth

    pages_dir = str(tmp_path / "pages")
    wd = str(tmp_path / "wd")
    synth.pages_df(spark, 8000).write.partitionBy("lang").parquet(pages_dir)

    def run_cli():
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
             "--pages", pages_dir, "--workdir", wd,
             "--incremental-by", "lang"],
            capture_output=True, text=True, timeout=240,
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        )
        assert out.returncode == 0, out.stderr[-2000:]
        summaries.append([ln for ln in out.stdout.splitlines()
                          if ln.startswith("stage=")])
        return [ln for ln in out.stdout.splitlines()
                if ln.startswith("assigned_docs=")][-1]

    summaries = []
    line1 = run_cli()

    def part_mtimes(stage):
        got = {}
        d = os.path.join(wd, stage)
        for entry in os.listdir(d):
            if entry.startswith("lang="):
                p = os.path.join(d, entry)
                got[entry] = max(
                    os.stat(os.path.join(p, fn)).st_mtime_ns
                    for fn in os.listdir(p) if not fn.startswith(("_", ".")))
        return got

    before_ingest = part_mtimes("stage_ingest")
    before_assign = part_mtimes("stage_assign")
    assert len(before_assign) >= 3

    # mutate ONE partition: bump a warc_ts (counts stay identical, but
    # the partition's file fingerprint changes)
    victim = sorted(before_assign)[0].split("=", 1)[1]
    vdir = os.path.join(pages_dir, f"lang={victim}")
    sub = spark.read.parquet(vdir)
    mutated = sub.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND"))
    tmp_out = str(tmp_path / "mutated")
    mutated.write.mode("overwrite").parquet(tmp_out)
    shutil.rmtree(vdir)
    shutil.move(tmp_out, vdir)
    time.sleep(0.01)

    line2 = run_cli()
    assert line1 == line2  # counts unchanged by a timestamp bump

    for stage, before in [("stage_ingest", before_ingest),
                          ("stage_assign", before_assign)]:
        after = part_mtimes(stage)
        assert set(after) == set(before)
        for entry in before:
            if entry == f"lang={victim}":
                assert after[entry] > before[entry], (stage, entry)
            else:
                assert after[entry] == before[entry], (stage, entry)

    for stage in ["stage_ingest", "stage_assign"]:
        with open(os.path.join(wd, stage, "_manifest.json")) as f:
            man = json.load(f)
        assert man["last_recomputed"] == [victim], stage

    # the per-stage summary is the manifests' own numbers
    for lines in summaries:
        assert [ln.split()[0] for ln in lines] == [
            "stage=ingest", "stage=assign", "stage=tiles"]
    for ln in summaries[-1]:
        stage = ln.split()[0].split("=")[1]
        with open(os.path.join(wd, f"stage_{stage}", "_manifest.json")) as f:
            man = json.load(f)
        recomputed = ",".join(man.get("last_recomputed", ["-"]))
        assert ln == (f"stage={stage} n_rows={man['n_rows']} "
                      f"n_partitions={man['n_partitions']} "
                      f"last_recomputed={recomputed} "
                      f"wall_ms={man['wall_ms']}"), ln
