"""Real multi-JVM cluster evidence: the flagship job via spark-submit
--py-files on a localhost standalone cluster (VERDICT r3 item 2).

local[N] short-circuits executor-boundary serialization, broadcast
transport and the shuffle-service path; the north rule's scaling
criterion is written in EXECUTORS ("N and 4N executors"), which local[N]
can only approximate with threads. This script runs the identical
measured job as scripts/scaling_bench.py (extract → detect → S2/tile
encode → PIP join ‖ salted rollup) on a standalone master with
`spark.executor.cores=8`, so `--pair 8,32` is literally 1 executor vs 4
executors — separate JVMs with their own heaps, python worker pools and
shuffle files.

Orchestrator (builds the package zip, launches via spark-submit):

    python scripts/standalone_bench.py up                    # master + 4 workers
    python scripts/standalone_bench.py all --pages 1000000 --variant engine
    python scripts/standalone_bench.py report --variant engine
    python scripts/standalone_bench.py down

The `job` subcommand is the spark-submit entry point — do not run it
directly.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.dirname(os.path.abspath(__file__))
for p in (REPO, SCRIPTS):
    if p not in sys.path:
        sys.path.insert(0, p)

MASTER = os.environ.get("SPARK_STANDALONE_MASTER", "spark://127.0.0.1:7077")
WORK = "/tmp/cartwright_scaling"
CLUSTER_DIR = "/tmp/spark-standalone"
ZIP = "/tmp/cartwright_spark.zip"


def spark_home() -> str:
    import pyspark
    return os.path.dirname(pyspark.__file__)


def build_zip() -> str:
    """Package zip for --py-files: every executor-side pandas-UDF closure
    imports cartwright_spark by name, so the zip must reach the python
    workers' sys.path (spark-submit handles distribution + PYTHONPATH)."""
    with zipfile.ZipFile(ZIP, "w", zipfile.ZIP_DEFLATED) as z:
        for f in glob.glob(os.path.join(REPO, "cartwright_spark", "**", "*.py"),
                           recursive=True):
            z.write(f, os.path.relpath(f, REPO))
    return ZIP


def cluster_up(workers: int = 4, cores: int = 8, mem: str = "26g") -> None:
    sh = spark_home()
    os.makedirs(f"{CLUSTER_DIR}/logs", exist_ok=True)
    env = {**os.environ, "SPARK_HOME": sh}

    def daemon(name: str, *args: str) -> None:
        with open(f"{CLUSTER_DIR}/logs/{name}.log", "ab") as log:
            p = subprocess.Popen([f"{sh}/bin/spark-class", *args],
                                 stdout=log, stderr=log, env=env,
                                 cwd=CLUSTER_DIR, start_new_session=True)
        with open(f"{CLUSTER_DIR}/{name}.pid", "w") as f:
            f.write(str(p.pid))

    daemon("master", "org.apache.spark.deploy.master.Master",
           "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8080")
    time.sleep(5)
    for i in range(1, workers + 1):
        daemon(f"worker{i}", "org.apache.spark.deploy.worker.Worker",
               MASTER, "--host", "127.0.0.1", "--cores", str(cores),
               "--memory", mem, "--webui-port", f"808{i}",
               "--port", f"4056{i}")
    time.sleep(6)


def cluster_down() -> None:
    for pidf in glob.glob(f"{CLUSTER_DIR}/*.pid"):
        try:
            with open(pidf) as f:
                os.kill(int(f.read().strip()), 15)
        except (OSError, ValueError):
            pass
        os.unlink(pidf)


def submit(cores: int, pages: int, variant: str, repeats: int) -> None:
    sh = spark_home()
    env = {**os.environ, "SPARK_HOME": sh,
           "PYTHONPATH": f"{REPO}:{SCRIPTS}"}
    subprocess.run(
        [f"{sh}/bin/spark-submit", "--master", MASTER,
         "--py-files", build_zip(),
         "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", "8g"),
         os.path.abspath(__file__), "job", "--cores", str(cores),
         "--pages", str(pages), "--variant", variant,
         "--repeats", str(repeats)],
        check=True, env=env, cwd=REPO)


def _chaos_measure(spark, variant: str, pages: int,
                   marker: str | None) -> dict:
    """One measured pass of the scaling job that returns content DIGESTS,
    not just counts: bit_xor-of-xxhash64 over the tile rollup rows and the PIP
    join rows. Digests are order/partitioning-invariant (xor is
    commutative) and recompute-invariant (xxhash64 is a pure row
    function), so a run that lost an executor mid-stage must reproduce
    them bit-for-bit if task retry + shuffle recompute are correct."""
    from pyspark.sql import functions as F

    from cartwright_spark.functions.geodesy import tile_id_col
    from cartwright_spark.operators.detect import detect_coordinates
    from cartwright_spark.operators.extract import extract_pages
    from cartwright_spark.spatial.pip import point_in_polygon_join
    from cartwright_spark.spatial.udfs import s2_cell, s2_parent_col
    from scaling_bench import _corpus_boxes

    engine = variant == "engine"
    src = os.path.join(
        WORK, f"{'extracted' if engine else 'pages'}_{pages}")
    pages_df = spark.read.parquet(src)

    # warm the python-worker pool BEFORE the marker so the kill window
    # always lands inside the measured stages, not the warmup
    warm = pages_df.limit(2000)
    if not engine:
        warm = extract_pages(warm)
    detect_coordinates(warm, text_col="extracted_text") \
        .withColumn("c", s2_cell(F.col("lat"), F.col("lon"), 10)) \
        .write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    if marker:
        with open(marker, "w") as f:
            f.write(str(t0))
    ext = pages_df if engine else extract_pages(
        pages_df.select("url", "html"))
    det = detect_coordinates(ext, text_col="extracted_text")
    cells = (det
             .withColumn("s2_cell", s2_cell(F.col("lat"), F.col("lon"), 10))
             .withColumn("tile_id", tile_id_col(F.col("lat"), F.col("lon"), 8))
             .withColumn("cell_l7", s2_parent_col(F.col("s2_cell"), 7))
             .persist())
    n_coords = cells.count()
    t_cells = time.perf_counter() - t0
    rollup = cells.groupBy("tile_id").agg(
        F.count("*").alias("n_points"),
        F.approx_count_distinct("s2_cell").alias("n_cells"))
    tile = rollup.agg(
        F.bit_xor(F.xxhash64("tile_id", "n_points", "n_cells")).alias("d"),
        F.count("*").alias("n")).collect()[0]
    pip = point_in_polygon_join(spark, cells, _corpus_boxes(), level=7,
                                point_id_col="url", cell_col="cell_l7")
    pipd = pip.agg(F.bit_xor(F.xxhash64("point_id", "admin_id")).alias("d"),
                   F.count("*").alias("n")).collect()[0]
    wall = time.perf_counter() - t0
    cells.unpersist(blocking=False)
    return {"wall_sec": round(wall, 3), "phase_cells_sec": round(t_cells, 2),
            "coords": n_coords, "tiles": int(tile["n"]),
            "tile_digest": int(tile["d"]), "pip_rows": int(pipd["n"]),
            "pip_digest": int(pipd["d"]),
            "docs_per_sec": round(pages / wall, 1)}


def chaos_job(cores: int, pages: int, variant: str, marker: str | None,
              out_path: str) -> None:
    """spark-submit entry for the chaos run: same session config as
    run_once's standalone branch, digest-producing job body."""
    from cartwright_spark.session import get_spark
    exec_gc = ("-XX:+UseParallelGC -XX:ParallelGCThreads=8 "
               "-XX:ConcGCThreads=2")
    spark = get_spark(
        "chaos_standalone", master=MASTER, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.cores.max": str(cores),
            "spark.executor.cores": "8",
            "spark.executor.memory": os.environ.get("SPARK_EXEC_MEM", "18g"),
            "spark.executor.extraJavaOptions": exec_gc,
        })
    spark.sparkContext.setLogLevel("ERROR")
    res = _chaos_measure(spark, variant, pages, marker)
    os.makedirs(WORK, exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(res, f)
    print(json.dumps(res))
    spark.stop()


def _executor_pids() -> dict[int, int]:
    """{executor_pid: parent_worker_pid} for live standalone executors."""
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True, text=True).stdout.split()
    pids = {}
    for p in out:
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().split(")")[-1].split()[1])
            pids[int(p)] = ppid
        except (OSError, ValueError, IndexError):
            pass
    return pids


def chaos_orchestrate(pages: int, variant: str, cores: int,
                      kill_frac: float) -> None:
    """VERDICT r4 item 3: executor-loss fault tolerance. Runs the digest
    job twice on the 4x8 standalone cluster — a clean control, then a run
    where one worker JVM AND its executor JVM are SIGKILLed mid-`cells`
    (at kill_frac of the control's wall). SIGKILL means no shutdown hooks:
    running tasks die, the executor's shuffle files and cached partitions
    are gone, and Spark must recover via task retry + FetchFailed stage
    recompute (no snapshot resume involved). Completion + bit-identical
    tile/PIP digests is the pass criterion."""
    sh = spark_home()
    env = {**os.environ, "SPARK_HOME": sh, "PYTHONPATH": f"{REPO}:{SCRIPTS}"}
    marker = os.path.join(WORK, "chaos_marker")
    os.makedirs(WORK, exist_ok=True)

    def launch(tag: str, with_marker: bool) -> subprocess.Popen:
        args = [f"{sh}/bin/spark-submit", "--master", MASTER,
                "--py-files", build_zip(),
                "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", "8g"),
                os.path.abspath(__file__), "job-chaos",
                "--cores", str(cores), "--pages", str(pages),
                "--variant", variant,
                "--out", os.path.join(WORK, f"chaos_{tag}.json")]
        if with_marker:
            args += ["--marker", marker]
        if os.path.exists(marker):
            os.unlink(marker)
        return subprocess.Popen(args, env=env, cwd=REPO)

    print("== control run (no kill)")
    p = launch("control", with_marker=False)
    if p.wait() != 0:
        raise SystemExit("control run failed")
    with open(os.path.join(WORK, "chaos_control.json")) as f:
        control = json.load(f)
    kill_at = kill_frac * control["wall_sec"]
    print(f"== chaos run: SIGKILL one worker+executor at t={kill_at:.1f}s "
          f"(wall was {control['wall_sec']}s)")

    p = launch("kill", with_marker=True)
    while not os.path.exists(marker):
        if p.poll() is not None:
            raise SystemExit("chaos run died before the marker")
        time.sleep(0.2)
    time.sleep(kill_at)
    execs = _executor_pids()
    if not execs:
        raise SystemExit("no executor JVMs found to kill")
    victim, worker_ppid = sorted(execs.items())[-1]
    killed = {"executor_pid": victim, "worker_pid": worker_ppid}
    # worker daemon first (so it can't relaunch a replacement), then the
    # executor JVM — both SIGKILL, the no-shutdown-hook machine-loss shape
    for pid in (worker_ppid, victim):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    print(f"   killed worker JVM {worker_ppid} + executor JVM {victim}; "
          f"{len(execs) - 1} executors remain")
    if p.wait() != 0:
        raise SystemExit("chaos run FAILED after executor loss")
    with open(os.path.join(WORK, "chaos_kill.json")) as f:
        chaos = json.load(f)

    match = (chaos["tile_digest"] == control["tile_digest"]
             and chaos["pip_digest"] == control["pip_digest"]
             and chaos["coords"] == control["coords"]
             and chaos["pip_rows"] == control["pip_rows"])
    out = {"pages": pages, "variant": variant, "cores": cores,
           "kill_at_sec": round(kill_at, 2), "killed": killed,
           "control": control, "after_executor_loss": chaos,
           "digests_match": match,
           "slowdown_x": round(chaos["wall_sec"] / control["wall_sec"], 3)}
    print(json.dumps(out, indent=1))
    path = os.path.join(WORK, "standalone_chaos.json")
    with open(path, "w") as f:
        json.dump(out, f)
    if not match:
        raise SystemExit("DIGEST MISMATCH after executor loss")
    print(f"PASS — digests identical after executor loss ({path})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["up", "down", "job", "run", "all",
                                    "report", "chaos", "job-chaos"])
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--variant", default="engine",
                    choices=["full", "engine"])
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--pair", default="8,32",
                    help="total-core budgets; at executor.cores=8 this is "
                         "1 vs 4 executors")
    ap.add_argument("--marker", default=None,
                    help="(job-chaos) file to touch when measuring starts")
    ap.add_argument("--out", default=os.path.join(WORK, "chaos.json"),
                    help="(job-chaos) result path")
    ap.add_argument("--kill-frac", type=float, default=0.35,
                    help="(chaos) kill the worker at this fraction of the "
                         "control run's wall")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.pair.split(","))

    if args.cmd == "up":
        cluster_up()
        return
    if args.cmd == "down":
        cluster_down()
        return

    from scaling_bench import prepare, prepare_extracted, run_once

    if args.cmd == "job-chaos":
        chaos_job(args.cores, args.pages, args.variant, args.marker,
                  args.out)
        return
    if args.cmd == "chaos":
        if args.variant == "engine":
            prepare_extracted(args.pages)
        else:
            prepare(args.pages)
        chaos_orchestrate(args.pages, args.variant, args.cores,
                          args.kill_frac)
        return

    if args.cmd == "job":
        # running inside spark-submit: measure on the standalone master
        res = run_once(args.cores, args.pages, args.variant, args.repeats,
                       master=MASTER)
        res["mode"] = f"standalone-{args.cores // 8}x8"
        path = os.path.join(WORK,
                            f"standalone_{args.variant}_{args.cores}.json")
        os.makedirs(WORK, exist_ok=True)
        with open(path, "w") as f:
            json.dump(res, f)
        print(json.dumps(res))
        return

    if args.cmd in ("run", "all"):
        if args.variant == "engine":
            prepare_extracted(args.pages)
        else:
            prepare(args.pages)
    if args.cmd == "run":
        submit(args.cores, args.pages, args.variant, args.repeats)
        return
    if args.cmd == "all":
        for cores in (lo, hi):
            submit(cores, args.pages, args.variant, args.repeats)

    v = args.variant
    with open(os.path.join(WORK, f"standalone_{v}_{lo}.json")) as f:
        rlo = json.load(f)
    with open(os.path.join(WORK, f"standalone_{v}_{hi}.json")) as f:
        rhi = json.load(f)
    eff = rhi["docs_per_sec"] / ((hi / lo) * rlo["docs_per_sec"])
    out = {f"exec_{lo // 8}x8": rlo, f"exec_{hi // 8}x8": rhi, "variant": v,
           "scaling_efficiency": round(eff, 3)}
    print(json.dumps(out, indent=1))
    with open(os.path.join(WORK, f"standalone_scaling_{v}_{lo}_{hi}.json"),
              "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
