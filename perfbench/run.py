"""Run one benchmark workload against the package in the current directory.

    python3 perfbench/run.py --workload dedup_skewed --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each run pins the Spark environment (cores,
driver memory, local dirs inside the checkout), sets up the workload from
the seed, repeats the workload's timed operation until ``--seconds`` have
passed, checks every output, prints a report (every metric by name, with its
unit) and, as the last line, one JSON object. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` additionally runs one
traced operation and reports the per-layer metrics. The exit code is 1 when
a correctness check failed and 2 when the package is missing. ``--smoke``
runs every workload at a tiny size in both modes and checks that every
metric named in BENCHMARK.json is printed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("dedup_skewed", "ann_serve")


# --------------------------------------------------------------------------
# environment and processes
# --------------------------------------------------------------------------

def pin_env(root: Path, work: Path) -> dict[str, str]:
    """Spark settings fixed from outside the program: every core this process
    may use, a driver heap well below physical memory, and local/temporary
    dirs inside the checkout."""
    mem_gb = int(Path("/proc/meminfo").read_text().split()[1]) / 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 3)))}g",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # Python workers import the package
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    }
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    return env


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self._stop_evt = threading.Event()
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0

    def run(self) -> None:
        while not self._stop_evt.wait(self._interval):
            total = 0
            for pid in [os.getpid(), *descendants(os.getpid())]:
                try:
                    total += int(Path(f"/proc/{pid}/statm").read_text()
                                 .split()[1]) * self._page
                except OSError:
                    pass
            self.peak_bytes = max(self.peak_bytes, total)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_bytes / 2**20


def start_spark(work: Path, event_dir: Path | None):
    from annoy_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------

def _op(wl, run, i: int, traced: bool = False):
    from workloads import Op

    try:
        return wl.op(run, i, traced=traced)
    except Exception as e:   # a failed operation is counted, not fatal
        traceback.print_exc()
        return Op("error", math.nan, problems=[repr(e)])


def run_workload(args, root: Path, spec: dict) -> int:
    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    env = pin_env(root, work)
    sys.path.insert(0, str(root))
    import workloads as W
    from spans import Tracer

    wl = {"dedup_skewed": W.DedupSkewed,
          "ann_serve": W.AnnServe}[args.workload]()
    event_dir = work / "events" if args.trace else None
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, event_dir)
        session_s = time.perf_counter() - t0
        run = W.Run(spark, work, args.seed, int(env["SPARK_GRAFT_CPUS"]),
                    tiny=args.size == "tiny", event_dir=event_dir)
        if args.trace:
            run.tracer = Tracer(spark.sparkContext)
            if wl.trace_setup:
                wl.instrument(run)
        wl.prepare(run)
        setup_s = time.perf_counter() - t0

        ops, t_measure = [], time.perf_counter()
        while True:
            ops.append(_op(wl, run, len(ops)))
            if ops[-1].kind == "error":
                break
            if (time.perf_counter() - t_measure >= args.seconds
                    and wl.enough(ops)):
                break
        peak_mb = sampler.stop()
        good = [o for o in ops if o.kind != "error"]
        e2e = wl.metrics(run, good, setup_s) if good else {}
        e2e.update(setup_s=setup_s, peak_rss_mb=peak_mb)

        layer: dict = {}
        if args.trace and good:
            reference = e2e["wall_s"]
            if wl.warm_reference:
                ops.append(_op(wl, run, len(ops)))
                reference = ops[-1].seconds
            if not wl.trace_setup:
                wl.instrument(run)
            start = len(ops)
            traced = [_op(wl, run, start + j, traced=True)
                      for j in range(wl.traced_ops)]
            ops += traced
            if all(o.kind != "error" for o in ops):
                layer = wl.layer_metrics(run, traced, reference)
            layer["session.start_s"] = session_s
            out = root / ".perfbench_out"
            out.mkdir(exist_ok=True)
            run.tracer.dump(out / f"spans-{args.workload}-{args.seed}.json")
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(1 for o in ops if o.problems)
    for o in ops:
        for p in o.problems:
            print(f"check failed ({o.kind}): {p}", file=sys.stderr)
    report = dict(run.report)
    report.update(setup_s=(e2e["setup_s"], "s"),
                  session_start_s=(session_s, "s"),
                  peak_rss_mb=(e2e["peak_rss_mb"], "MB"),
                  failed_frac=(failed / attempted, "ratio"))
    print(f"workload {args.workload} seed {args.seed} "
          f"measured {args.seconds}s trace {args.trace}")
    print("env " + " ".join(f"{k}={v}" for k, v in sorted(env.items())))
    for name, (value, unit) in report.items():
        print(f"  {name:<28} {value} {unit}")
    for name, value in sorted(layer.items()):
        print(f"  {name:<28} {value}")

    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    correct = failed == 0 and bool(good)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": source.get(m["name"], 0.0),
                                "unit": m["unit"]} for m in section},
    }))
    return 0 if correct else 1


def smoke(root: Path, spec: dict) -> int:
    """Every workload at a tiny size, untraced and traced, in a fresh
    process each; every metric of BENCHMARK.json must be printed."""
    bad = 0
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            want = [m["name"] for m in
                    spec["per_layer" if trace else "end_to_end"]]
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace),
                 "--size", "tiny"],
                cwd=root, capture_output=True, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            try:
                got = json.loads(lines[-1])["metrics"]
            except (IndexError, ValueError, KeyError):
                got = {}
            missing = [n for n in want if n not in got]
            ok = proc.returncode == 0 and not missing
            bad += not ok
            print(f"{workload:<13} trace={trace} rc={proc.returncode} "
                  f"{time.perf_counter() - t0:5.1f}s "
                  f"{'ok' if ok else 'MISSING ' + ','.join(missing)}")
            if not ok:
                print(proc.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "annoy_spark" / "__init__.py").is_file():
        print("perfbench: no annoy_spark package under the current "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    if args.smoke:
        return smoke(root, spec)
    if args.workload is None:
        ap.error("--workload is required")
    return run_workload(args, root, spec)


if __name__ == "__main__":
    sys.exit(main())
