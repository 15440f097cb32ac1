"""The traced run: per-layer metrics from spans and the Spark event log.

Every metric in ``PER_LAYER`` is reported on every workload; a layer that
does no work on a workload reports 0. Values are medians over the traced
passes. Self time is a span minus its child spans; for fused Spark jobs the
child is the same work forced on its own through a ``noop`` sink, e.g.
``mvt.self_s`` = (encode forced) - (extract forced).
"""

from __future__ import annotations

import statistics
import time

from perfbench.tracing import EventLog, Phases, Tracer
from perfbench.workloads import REGISTRY_QUERIES

JOINS = ("pip", "pip_shuffle", "knn")
JOIN_METRICS = [("call_s", "s"), ("eager_jobs", "count"), ("action_s", "s"),
                ("rows_out", "count"), ("shuffle_write_bytes", "bytes"),
                ("python_s", "s"), ("task_skew", "ratio")]
SPARK_METRICS = [
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("jobs", "count"), ("stages", "count"),
    ("tasks", "count"), ("task_skew_max", "ratio"), ("python_s", "s"),
    ("python_boot_s", "s"), ("idle_core_s", "s"), ("driver_s", "s"),
]
PHASES = ["tiles_table", "archive", "pip", "pip_shuffle", "knn", "lineage",
          "verify"]

PER_LAYER: list[tuple[str, str]] = [
    ("extract.self_s", "s"), ("extract.rows_out", "count"),
    ("mvt.self_s", "s"), ("mvt.python_s", "s"),
    ("mvt.python_bytes_sent", "bytes"), ("mvt.python_bytes_received", "bytes"),
    ("mvt.task_skew", "ratio"), ("mvt.write_s", "s"),
    ("mvt.tiles_out", "count"), ("mvt.features_encoded", "count"),
    ("mvt.bytes_out", "bytes"),
    ("pmtiles.stream_s", "s"), ("pmtiles.assemble_s", "s"),
    ("pmtiles.tilestats_s", "s"), ("pmtiles.n_addressed", "count"),
    ("pmtiles.n_entries", "count"), ("pmtiles.n_contents", "count"),
    ("pmtiles.leaves", "count"), ("pmtiles.archive_bytes", "bytes"),
    ("pmtiles.dedup_ratio", "ratio"),
    ("pyramid.summary_s", "s"), ("pyramid.tiles_out", "count"),
    ("pyramid.shuffle_write_bytes", "bytes"),
    ("lineage.commit_s", "s"), ("lineage.jobs", "count"),
    ("lineage.rows_written", "count"), ("lineage.bytes_written", "bytes"),
    ("lineage.recompute_ratio", "ratio"),
    *[(f"joins.{j}.{m}", u) for j in JOINS for m, u in JOIN_METRICS],
    ("caching.staged", "count"), ("caching.release_s", "s"),
    *[(f"queries.{q}.{m}", u) for q in REGISTRY_QUERIES
      for m, u in (("s", "s"), ("jobs", "count"), ("stages", "count"))],
    *[(f"spark.{m}", u) for m, u in SPARK_METRICS],
    *[(f"phase.{p}_s", "s") for p in PHASES],
    ("trace.untraced_pass_s", "s"), ("trace.traced_pass_s", "s"),
    ("trace.overhead_s", "s"),
]


def pass_metrics(wl: str, rec: Tracer, log: EventLog, pass_s: float,
                 cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass. Engine totals and the pass
    time leave out the probe spans (noop-forced layers, output stats)."""
    p, c, d = rec.pass_no, rec.counts, rec.duration
    pass_s -= rec.probe_s()
    m: dict[str, float] = {}
    total = log.engine(p)
    m.update({f"spark.{k}": total[k] for k, _ in SPARK_METRICS
              if k in total})
    m["spark.task_skew_max"] = total["task_skew"]
    m["spark.idle_core_s"] = cores * pass_s - total["executor_run_s"]
    m["spark.driver_s"] = pass_s - log.busy_s(p)
    if "caching.staged" in c:
        m["caching.staged"] = c["caching.staged"]

    if wl == "tile_archive":
        extract = d("tiles_table/extract")
        encode = d("tiles_table/mvt/force")
        write = log.engine(p, "tiles_table/mvt/write")
        m.update({
            "extract.self_s": extract,
            "extract.rows_out": c["extract.rows_out"],
            "mvt.self_s": encode - d("tiles_table/extract/force"),
            "mvt.write_s": d("tiles_table/mvt/write") - encode,
            "mvt.python_s": write["python_s"],
            "mvt.python_bytes_sent": write["python_bytes_sent"],
            "mvt.python_bytes_received": write["python_bytes_received"],
            "mvt.task_skew": write["task_skew"],
            "mvt.tiles_out": c["mvt.tiles_out"],
            "pmtiles.stream_s": c["pmtiles.stream_s"],
            "pmtiles.assemble_s": d("archive/pmtiles") - c["pmtiles.stream_s"],
            "pmtiles.tilestats_s": d("archive/tilestats"),
            "pmtiles.dedup_ratio":
                c["pmtiles.n_contents"] / max(1, c["pmtiles.n_addressed"]),
        })
        for k in ("n_addressed", "n_entries", "n_contents", "leaves",
                  "archive_bytes"):
            m[f"pmtiles.{k}"] = c[f"pmtiles.{k}"]
        m["mvt.features_encoded"] = c["mvt.features_encoded"]
        m["mvt.bytes_out"] = c["mvt.bytes_out"]
    elif wl == "spatial_join":
        for j in JOINS:
            call, whole = log.engine(p, f"{j}/call"), log.engine(p, j)
            m.update({
                f"joins.{j}.call_s": d(f"{j}/call"),
                f"joins.{j}.eager_jobs": call["jobs"],
                f"joins.{j}.action_s": d(f"{j}/action"),
                f"joins.{j}.rows_out": c[f"joins.{j}.rows_out"],
                f"joins.{j}.shuffle_write_bytes": whole["shuffle_write_bytes"],
                f"joins.{j}.python_s": whole["python_s"],
                f"joins.{j}.task_skew": whole["task_skew"],
            })
        m["caching.release_s"] = d("knn/release")
    elif wl == "pyramid_lineage":
        summary = d("summary")
        lin, summ = log.engine(p, "lineage"), log.engine(p, "summary")
        m.update({
            "pyramid.summary_s": summary,
            "pyramid.tiles_out": c["pyramid.tiles_out"],
            "pyramid.shuffle_write_bytes": summ["shuffle_write_bytes"],
            "lineage.commit_s": d("lineage") - summary,
            "lineage.jobs": lin["jobs"],
            "lineage.rows_written": lin["records_written"],
            "lineage.bytes_written": lin["bytes_written"],
            "lineage.recompute_ratio":
                lin["executor_run_s"] / max(1e-9, summ["executor_run_s"]),
        })
    elif wl == "registry_mix":
        for q in REGISTRY_QUERIES:
            e = log.engine(p, f"q.{q}")
            m[f"queries.{q}.s"] = d(f"q.{q}")
            m[f"queries.{q}.jobs"] = e["jobs"]
            m[f"queries.{q}.stages"] = e["stages"]
        m["caching.release_s"] = d("release")
    return m


def traced_metrics(bench, seconds: float, expected):
    """Untraced passes for a third of ``seconds``, then traced passes for
    the rest, in the set-up session (its event log is on). The untraced
    passes set no job description, so the event log attributes none of
    their work to a span."""
    t_end = time.perf_counter() + seconds
    plain = bench.loop(seconds / 3, Phases, expected, min_passes=1)
    sc = bench.ctx.spark.sparkContext
    recs: list[Tracer] = []

    def make_rec():
        recs.append(Tracer(sc, len(recs)))
        return recs[-1]

    traced = bench.loop(max(0.0, t_end - time.perf_counter()), make_rec,
                        expected, min_passes=1)
    bench.stop_session()
    log = EventLog.read(bench.event_log)
    per_pass = [pass_metrics(bench.wl.name, s["rec"], log, s["s"],
                             bench.n_cores) for s in traced]
    values: dict[str, float] = {}
    for name, _ in PER_LAYER:
        xs = [pm[name] for pm in per_pass if name in pm]
        values[name] = float(statistics.median(xs)) if xs else 0.0
    untraced = statistics.median(s["s"] for s in plain)
    traced_s = statistics.median(s["s"] for s in traced)
    for ph in PHASES:
        xs = [s["phases"][ph] for s in plain if ph in s["phases"]]
        values[f"phase.{ph}_s"] = float(statistics.median(xs)) if xs else 0.0
    values["trace.untraced_pass_s"] = float(untraced)
    values["trace.traced_pass_s"] = float(traced_s)
    values["trace.overhead_s"] = float(traced_s - untraced)
    units = dict(PER_LAYER)
    return {k: (values[k], units[k]) for k, _ in PER_LAYER}, traced + plain
