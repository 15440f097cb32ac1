"""Benchmark entry point: one workload, one client, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs from the repository root on ``local[<cores>]`` (the CPUs this process
may use). It sets up once (Spark session with its JVM launch, seeded
inputs, one warm-up pass) and reports that as ``setup_s``; checks the
warm-up output against an independent computation; then makes passes one
after the other, each into a fresh directory, for ``--seconds`` (at least
the workload's ``min_passes``). Every pass's output digest must equal the
checked one.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
session with the Spark event log on, sets up once, makes untraced passes
for a third of the time and traced passes for the rest (spans around every
layer call, lazy layers forced through a ``noop`` sink), and prints the
per-layer metrics. The last line
of stdout is the JSON result; the exit code is 1 if any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"  # the driver JVM heap; the session default is 24g


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RssPeak:
    """Samples VmRSS of the driver JVM plus this process; keeps the peak."""

    def __init__(self, pids: list[int], every_s: float = 0.02) -> None:
        self.pids, self.every_s = pids, every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _rss_kb(self) -> int:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssPeak":
        self.peak_kb = self._rss_kb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._rss_kb())


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            st = f.read()
    except OSError:
        return None
    return st[st.rfind(")") + 2:].split()


def descendants(root: int) -> dict[int, str]:
    """Every live process below ``root``: pid -> start time (clock ticks),
    so a pid the kernel reuses later is not mistaken for one of them."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _proc_stat(int(d))) is not None:
            children.setdefault(int(f[1]), []).append(int(d))
            start[int(d)] = f[19]
    out, todo = {}, [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out[kid] = start[kid]
            todo.append(kid)
    return out


def _alive(pid: int, start: str) -> bool:
    f = _proc_stat(pid)
    return f is not None and f[19] == start and f[0] != "Z"


def wait_gone(procs: dict[int, str], grace_s: float = 20.0) -> None:
    """Waits until each process has ended; SIGTERM after ``grace_s``, then
    SIGKILL five seconds later."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid, start in procs.items():
                if _alive(pid, start):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        while any(_alive(p, s) for p, s in procs.items()):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return
        deadline = time.monotonic() + 5.0
    left = [p for p, s in procs.items() if _alive(p, s)]
    if left:
        log(f"processes still running after SIGKILL: {left}")


def stop_jvm() -> None:
    """Ends the py4j gateway JVM and every process under it (the PySpark
    worker daemons, Hadoop's shell helpers), and waits for each to end.
    ``SparkSession.stop()`` leaves the JVM up; it would only exit, on its
    own time, after this process had exited and closed its stdin."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    procs = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(procs)


class Bench:
    """One benchmark invocation: owns the work directory and the session."""

    def __init__(self, workload: str, seed: int, work: str,
                 traced: bool) -> None:
        from perfbench.workloads import SIZES, WORKLOADS, Ctx

        self.wl = WORKLOADS[workload]
        self.work = work
        self.n_cores = cores()
        self.ctx = Ctx(None, seed, f"{work}/in", SIZES[workload], self.n_cores)
        self._pass_no = 0
        self.expected = None
        self.check_error: str | None = None
        self.event_log = f"{work}/eventlog" if traced else None

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        from cloudtile_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.driver.extraJavaOptions":
                "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_log,
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false"})
        self.ctx.spark = get_spark("perfbench", cores=self.n_cores,
                                   extra_conf=conf)

    def stop_session(self) -> None:
        from cloudtile_spark import caching

        try:
            if self.ctx.spark is not None:
                caching.release_staged()
                self.ctx.spark.stop()
                self.ctx.spark = None
        finally:
            stop_jvm()

    def jvm_pid(self) -> int:
        return int(self.ctx.spark._jvm.java.lang.ProcessHandle.current().pid())

    # -- passes -------------------------------------------------------------

    def fresh_out(self) -> str:
        self._pass_no += 1
        out = f"{self.work}/out/p{self._pass_no}"
        os.makedirs(out)
        return out

    def one_pass(self, rec, expected=None, then=None):
        """(seconds, items, peak RSS MB, ok) of one pass into a fresh
        directory; ``then(out_dir, result)`` runs on the output before the
        directory is removed."""
        out = self.fresh_out()
        ok = True
        # start every pass from a collected heap, so its RSS peak reflects
        # the pass, not when the JVM last happened to collect
        self.ctx.spark._jvm.System.gc()
        try:
            with RssPeak([os.getpid(), self.jvm_pid()]) as rss:
                t0 = time.perf_counter()
                res = self.wl.run(self.ctx, out, rec)
                dt = time.perf_counter() - t0
            if expected is not None and res.digest != expected:
                ok = False
                log(f"pass {self._pass_no}: digest {res.digest} != "
                    f"checked {expected}")
            if then is not None:
                then(out, res)
            return dt, res.items, rss.peak_kb / 1024.0, ok
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def setup(self) -> float:
        """Session start + seeded inputs + one warm-up pass, timed. The
        warm-up output is then checked (untimed) against the workload's
        independent computation and its digest kept in ``self.expected``;
        a mismatch is kept in ``self.check_error``."""
        from perfbench.tracing import Phases
        from perfbench.workloads import CheckFailed

        done = []

        def verify(out, res):
            done.append(time.perf_counter())
            self.expected = res.digest
            try:
                self.wl.check(self.ctx, out, res)
            except CheckFailed as e:
                self.check_error = str(e)

        shutil.rmtree(self.ctx.input_dir, ignore_errors=True)
        t0 = time.perf_counter()
        self.start_session()
        self.wl.prepare(self.ctx)
        self.one_pass(Phases(), then=verify)
        return done[0] - t0

    def loop(self, seconds: float, make_rec, expected, min_passes: int):
        """Closed loop: passes back to back for ``seconds``."""
        samples, t_end = [], time.perf_counter() + seconds
        while len(samples) < min_passes or time.perf_counter() < t_end:
            rec = make_rec()
            dt, items, rss, ok = self.one_pass(rec, expected)
            samples.append({"s": dt, "items": items, "rss": rss, "ok": ok,
                            "phases": dict(rec.times), "rec": rec})
        return samples


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(setup_s: float, samples: list[dict]) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(s["s"] for s in samples), "s"),
        "items_per_s": (median(s["items"] / s["s"] for s in samples), "1/s"),
        "peak_rss_mb": (median(s["rss"] for s in samples), "MB"),
    }


def phase_medians(samples: list[dict]) -> dict[str, float]:
    names = sorted({k for s in samples for k in s["phases"]})
    return {k: median(s["phases"][k] for s in samples if k in s["phases"])
            for k in names}


def report_lines(metrics: dict, samples: list[dict], phases: dict) -> None:
    """Human-readable block before the JSON line (stdout)."""
    n = len(samples)
    tail = (f"p{100 * (1 - 10 / n):.0f}" if n >= 20 else
            "none above the median")
    print(f"# passes={n}; highest percentile with >=10 samples beyond "
          f"it: {tail}")
    for name, (value, unit) in metrics.items():
        print(f"{name:<40} {value:>16.6f} {unit}")
    for name, value in phases.items():
        print(f"phase.{name + '_s':<34} {value:>16.6f} s")


def run(args) -> tuple[bool, int, int, dict]:
    from perfbench.tracing import Phases

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    bench = Bench(args.workload, args.seed, work, traced=bool(args.trace))
    try:
        setup_s = bench.setup()
        log(f"setup: {setup_s:.3f} s")
        correct, expected = bench.check_error is None, bench.expected
        if not correct:
            log(f"CHECK FAILED: {bench.check_error}")
        if not args.trace:
            samples = bench.loop(args.seconds, Phases, expected,
                                 bench.wl.min_passes)
            metrics = end_to_end(setup_s, samples)
            report_lines(metrics, samples, phase_medians(samples))
        else:
            from perfbench.layers import traced_metrics

            metrics, samples = traced_metrics(bench, args.seconds, expected)
            for name, (value, unit) in metrics.items():
                print(f"{name:<40} {value:>16.6f} {unit}")
        failed = sum(not s["ok"] for s in samples)
        return correct and not failed, len(samples), failed, metrics
    finally:
        try:
            bench.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a SIGTERM unwinds through the ``finally`` blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError:
        traceback.print_exc()
        log("perfbench: the cloudtile_spark package is not importable here")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    correct, attempted, failed, metrics = run(args)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
