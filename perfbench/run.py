"""Closed-loop benchmark of the cartwright_spark engine on local[4].

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. One client sends one request at a time.
Set-up (session start, seeded inputs, 15 s of full-size warm-up cycles)
is timed as ``setup_s``; then whole cycles of requests run while
another cycle still fits in ``--seconds``. Every request's output is
checked. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a readable summary with the workload's own metric names
(``docs_per_s`` ...), ``error_rate`` and the request sample count.
perfbench/DESIGN.md records the workloads, metrics and layer map.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# full-size warm-up: whole cycles until WARMUP_S have passed and at least
# two cycles have run (crawl_pipeline: 3-4 one-request cycles, the
# others 2). Longer would still gain a few percent on crawl_pipeline, but
# a full evaluation (70 runs, see DESIGN.md) must fit 3,420 s; the summary
# prints the warm-up cycle times.
WARMUP_S, WARMUP_MIN_CYCLES = 15.0, 2
SETUP_REPEATS = 3             # input builds timed per run for setup_s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_pipeline", "categorize", "spatial_join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every output before it is checked")
    return ap.parse_args(argv)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` (Spark's JVM, its Python workers)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name is in parentheses and may hold spaces
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        todo.extend(kids)
    return out


def stop_session(spark, timeout: float = 60.0):
    """Stop Spark, end the driver JVM and wait until every process the
    session started has exited. The JVM exits when its stdin pipe closes."""
    proc = spark.sparkContext._gateway.proc
    started = descendants(os.getpid())
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def start_session(workdir: str, trace: bool):
    from cartwright_spark.session import get_spark
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse")}
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": log_dir})
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=2 * CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Loop:
    """Serves requests one at a time and keeps each one's record."""

    def __init__(self, wl, corrupt: bool):
        self.wl = wl
        self.corrupt = corrupt
        self.next_idx = 0
        self.records: list[dict] = []

    def one(self, force_check: bool, trace_extras: bool = False) -> dict:
        wl, idx = self.wl, self.next_idx
        self.next_idx += 1
        rec = {"idx": idx, "ok": False, "matched": 0, "total": 0,
               "items": 0, "seconds": None, "errors": []}
        try:
            wl.prepare(idx)
            with wl.tr.request_span(idx):
                t0 = time.perf_counter()
                out = wl.request(idx)
                rec["seconds"] = time.perf_counter() - t0
            rec["items"] = wl.items(idx, out)
            m, t, errs = wl.check(idx, out, self.corrupt, force_check)
            rec.update(matched=m, total=t, errors=errs, ok=not errs)
            if trace_extras:
                wl.trace_extras(idx, out)
        except Exception as e:  # a failed request is counted, not fatal
            rec["errors"].append(f"{type(e).__name__}: {e}")
        if rec["errors"]:
            print(f"request {idx} failed: {rec['errors'][:3]}",
                  file=sys.stderr)
        self.records.append(rec)
        return rec

    def cycle(self, first_checked: bool, trace_extras: bool = False):
        recs = [self.one(force_check=first_checked and i == 0,
                         trace_extras=trace_extras)
                for i in range(self.wl.cycle_len)]
        secs = [r["seconds"] for r in recs]
        return recs, (None if None in secs else sum(secs))

    def warm_up(self, seconds: float, min_cycles: int):
        """Full-size cycles before measuring; returns their times."""
        times, t0 = [], time.perf_counter()
        while len(times) < min_cycles or time.perf_counter() - t0 < seconds:
            times.append(self.cycle(first_checked=not times)[1])
        return times

    def measure(self, seconds: float, trace_extras: bool = False):
        """Whole cycles while the next one is expected to fit."""
        recs, t0, last = [], time.perf_counter(), 0.0
        while True:
            c0 = time.perf_counter()
            r, _ = self.cycle(first_checked=not recs,
                              trace_extras=trace_extras)
            recs += r
            last = time.perf_counter() - c0
            if time.perf_counter() - t0 + last > seconds:
                return recs


def end_to_end(recs, setup_s):
    ok = [r for r in recs if r["ok"]]
    secs = [r["seconds"] for r in ok]
    total = sum(r["total"] for r in recs)
    if not secs:
        return {}
    return {
        "setup_s": (setup_s, "s"),
        "items_per_s": (sum(r["items"] for r in ok) / sum(secs), "1/s"),
        "request_p50_s": (statistics.median(secs), "s"),
        "request_tail_s": (statistics.quantiles(
            secs, n=4, method="inclusive")[2] if len(secs) > 1 else secs[0],
            "s"),
        "match_rate": ((sum(r["matched"] for r in recs) / total)
                       if total else 0.0, "ratio"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cartwright_spark")):
        print(f"cartwright_spark package not found under {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # Python workers import the package by name; keep every scratch file
    # (Spark local dirs, JVM and Python temp files) inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir
    os.environ["SPARK_SUBMIT_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))   # only when no other run is
        except OSError:
            pass


def run(args, workdir) -> int:
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]
    import eventlog
    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    t_setup = time.perf_counter()
    spark = start_session(workdir, bool(args.trace))
    session_s = time.perf_counter() - t_setup
    try:
        tracer = Tracer(spark, enabled=False)
        # the seeded inputs are built SETUP_REPEATS times, each into a
        # fresh directory; the median build joins session start and
        # warm-up in setup_s (the last build is the one the run uses)
        builds = []
        for rep in range(SETUP_REPEATS):
            wd = os.path.join(workdir, f"inputs{rep}")
            os.makedirs(wd)
            wl = WORKLOADS[args.workload](spark, args.seed, wd, args.tiny,
                                          tracer)
            t0 = time.perf_counter()
            wl.setup()
            builds.append(time.perf_counter() - t0)
            if rep < SETUP_REPEATS - 1:
                shutil.rmtree(wd, ignore_errors=True)
        loop = Loop(wl, args.corrupt)
        t0 = time.perf_counter()
        warm_times = (loop.warm_up(0, 1) if args.tiny
                      else loop.warm_up(WARMUP_S, WARMUP_MIN_CYCLES))
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(builds) + warm_s
        warm_ok = all(r["ok"] for r in loop.records)

        if args.trace:
            # untraced then traced halves; their p50 ratio is the overhead
            plain = loop.measure(args.seconds / 2)
            tracer.enabled = True
            tracer.install()
            traced = loop.measure(args.seconds / 2, trace_extras=True)
            tracer.uninstall()
            recs = plain + traced
        else:
            recs = loop.measure(args.seconds)
        rss = {"python": vm_hwm_mb(os.getpid()),
               "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t_stop

    failed = sum(1 for r in recs if not r["ok"])
    e2e = end_to_end(recs, setup_s)
    ok_secs = [r["seconds"] for r in recs if r["ok"]]
    summary = {
        "workload": args.workload, "seed": args.seed,
        "requests": len(recs), "warmup_cycle_s": warm_times,
        "setup_parts_s": {"session": session_s, "inputs": builds,
                          "warmup": warm_s},
        "stop_s": stop_s,
        "error_rate": failed / len(recs),
        "peak_rss_mb": rss,
        "tail_percentile": "p75",
        wl.rate_name: e2e.get("items_per_s", (None,))[0],
        "request_s": ok_secs,
    }
    if args.trace:
        groups = eventlog.parse(eventlog.find_log(
            os.path.join(workdir, "eventlog")))
        metrics = layers.per_layer(tracer.spans, groups, traced, plain,
                                   wl, CORES, rss["python"] + rss["jvm"])
        summary["groups"] = layers.group_table(groups)
    else:
        metrics = e2e
    print(json.dumps({"summary": summary}, default=str))
    print(json.dumps({
        "correct": bool(warm_ok and failed == 0 and metrics),
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
