"""Tests of the benchmark itself (not part of the repository's tier-1 suite):

    python -m pytest perfbench/test_perfbench.py -q

* the ``tile_archive`` pass writes an archive byte-identical to
  ``python -m cloudtile_spark convert single-step ... --pmtiles`` and starts
  exactly the Spark jobs the CLI starts;
* the ``spatial_join`` pass starts the jobs of the plain join calls
  materialized with ``count()`` (the digest replaces the count);
* every workload passes its independent check at tiny size and a second
  pass reproduces the checked digest;
* the command prints the metric names ``BENCHMARK.json`` declares, leaves
  no process running after it exits, and fails without a result where the
  package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import Phases  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

TINY = {
    "tile_archive": {"pages": 200, "maxz": 6},
    "spatial_join": {"points": 5_000, "zones": 10, "shuffle_zones": 20,
                     "knn_queries": 16},
    "pyramid_lineage": {"points": 2_000, "maxz": 4},
    "registry_mix": {"documents": 300, "embeddings": 200, "events": 3_000},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from cloudtile_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark("perfbench-test", cores=2, extra_conf={
        "spark.local.dir": str(local),
        "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _ctx(spark, name: str, tmp_path) -> Ctx:
    ctx = Ctx(spark, 5, str(tmp_path / "in"), TINY[name], 2)
    WORKLOADS[name].prepare(ctx)
    return ctx


def _jobs(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_tile_archive_is_the_cli_product_path(spark, tmp_path, monkeypatch):
    from cloudtile_spark.cli import main as cli_main

    ctx = _ctx(spark, "tile_archive", tmp_path)
    maxz = ctx.sizes["maxz"]
    sc = spark.sparkContext
    bench_out = tmp_path / "bench"
    bench_out.mkdir()
    _jobs(sc, "ta-bench", lambda: WORKLOADS["tile_archive"].run(
        ctx, str(bench_out), Phases()))
    cli_cwd = tmp_path / "cli"
    cli_cwd.mkdir()
    monkeypatch.chdir(cli_cwd)
    rc = _jobs(sc, "ta-cli", lambda: cli_main([
        "convert", "single-step", ctx.state["pages"], "0", str(maxz),
        "--pmtiles", "--out", str(cli_cwd / f"pages-0-{maxz}")]))
    assert rc == 0
    name = f"pages-0-{maxz}.pmtiles"
    assert (bench_out / name).read_bytes() == (cli_cwd / name).read_bytes()
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("ta-bench")) == \
        len(tracker.getJobIdsForGroup("ta-cli"))


def test_spatial_join_starts_only_the_join_jobs(spark, tmp_path):
    from cloudtile_spark import caching
    from cloudtile_spark.operators.joins import (
        knn_join_adaptive, pip_join, pip_join_shuffle, zones_to_df)

    ctx = _ctx(spark, "spatial_join", tmp_path)
    wl = WORKLOADS["spatial_join"]
    sc = spark.sparkContext

    def plain():
        feats = spark.read.parquet(ctx.state["points"])
        pip_join(feats, ctx.state["zones"]).count()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            pip_join_shuffle(feats, zones_to_df(spark, ctx.state["shuffle_zones"]),
                             res=7, salt_buckets=8).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        pts = caching.stage(spark.read.parquet(ctx.state["points"]))
        pts.count()
        knn_join_adaptive(pts, wl._queries(ctx, pts), k=5).count()
        caching.release_staged()

    out = tmp_path / "out"
    out.mkdir()
    _jobs(sc, "sj-warm", plain)
    _jobs(sc, "sj-bench", lambda: wl.run(ctx, str(out), Phases()))
    _jobs(sc, "sj-plain", plain)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("sj-bench")) == \
        len(tracker.getJobIdsForGroup("sj-plain"))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_checks_and_repeats(spark, tmp_path, name):
    ctx = _ctx(spark, name, tmp_path)
    wl = WORKLOADS[name]
    digests = []
    for i in range(2):
        out = tmp_path / f"out{i}"
        out.mkdir()
        res = wl.run(ctx, str(out), Phases())
        if i == 0:
            wl.check(ctx, str(out), res)
        digests.append(res.digest)
        assert res.items > 0
    assert digests[0] == digests[1]


def _session_members(sid: int) -> list[int]:
    """Pids of the live processes in session ``sid``."""
    from perfbench.run import _proc_stat

    return [int(d) for d in os.listdir("/proc") if d.isdigit()
            and (f := _proc_stat(int(d))) is not None
            and int(f[3]) == sid and f[0] != "Z"]


def _run(cwd, *args) -> tuple[subprocess.CompletedProcess, list[int]]:
    """Runs the command in a session of its own; returns the finished
    process and the pids of that session still running when it exited.
    Output goes to files, not pipes: reading a pipe to its end would also
    wait for every child that inherited it."""
    with tempfile.TemporaryFile("w+") as out, \
            tempfile.TemporaryFile("w+") as err:
        p = subprocess.Popen([sys.executable, "perfbench/run.py", *args],
                             cwd=cwd, stdout=out, stderr=err,
                             start_new_session=True)
        p.wait(timeout=600)
        left = _session_members(p.pid)
        out.seek(0)
        err.seek(0)
        return (subprocess.CompletedProcess(p.args, p.returncode, out.read(),
                                            err.read()), left)


@pytest.mark.parametrize("trace", ["0", "1"])
def test_command_prints_declared_metrics(trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p, left = _run(ROOT, "--workload", spec["workloads"][0]["name"],
                   "--seed", "3", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-2000:]
    assert left == [], "the run left processes running (the JVM or workers)"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    declared = spec["end_to_end" if trace == "0" else "per_layer"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}


def test_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p, left = _run(tmp_path, "--workload", "tile_archive", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert left == []
    assert '"correct"' not in p.stdout
