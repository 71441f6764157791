"""Run one benchmark workload and print its result as the last stdout line.

    python3 lakebench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

One run, all in one driver process on ``local[<cores>]``:

1. make the workload's inputs from the seed (a child process, off the clock);
2. start the session: ``setup_s`` runs from before the package import until
   the session answers its first action;
3. the cold first pass (``first_pass_s``); registry workloads collect their
   results in this pass, for the check;
4. warm passes, one at a time, for ``--seconds``: ``pass_s`` is their median,
   ``query_p50_s`` and ``query_tail_s`` come from their per-operation times;
5. with ``--trace 1``, one more pass with spans and Spark status-store reads,
   which gives the per-layer metrics;
6. off the clock: peak memory, the output check, stopping the JVM.

The metric names and units come from ``BENCHMARK.json``. Each run also
writes a record under ``.lakebench/records/`` that no later run overwrites;
``lakebench/compare.py`` diffs two of them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".lakebench"
PACKAGE = "data_engineering_nd_datalake_project_4_spark"

DRIVER_HEAP = "2g"
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples beyond it)`` for the highest percentile in
    TAIL_LADDER (nearest rank) that has at least TAIL_MIN_BEYOND samples above
    its rank. With too few samples for any, the maximum: percentile 100 with
    0 beyond, which the record shows as such."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(round(p * n / 100, 9)))  # round: 99.9 * 10000 / 100 is not exact
        if n - rank >= TAIL_MIN_BEYOND:
            return xs[rank - 1], p, n - rank
    return xs[-1], 100.0, 0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(n_cores: int) -> None:
    """Everything the JVM and the Python workers read at launch: the checkout
    on the workers' path, the driver heap, and scratch space inside the
    checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_HEAP} --conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # The driver heap is committed and touched in full at JVM start (the
    # percentage is capped at each JVM's -Xmx), so peak RSS measures what
    # varies outside the pinned heap, not when G1 happened to grow it.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:InitialRAMPercentage=100 -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(n_cores: int):
    """Import the package, start its session and run a first action.
    Returns ``(spark, setup_s, session_start_s)``."""
    t0 = time.perf_counter()
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not Path(pkg.__file__).resolve().is_relative_to(ROOT):
        raise SystemExit(f"{PACKAGE} resolves to {pkg.__file__}, outside the checkout {ROOT}")
    importlib.import_module(f"{PACKAGE}.queries")
    importlib.import_module(f"{PACKAGE}.pipelines.sparkify")
    get_spark = importlib.import_module(f"{PACKAGE}.session").get_spark
    t1 = time.perf_counter()
    spark = get_spark(app_name="lakebench", master=f"local[{n_cores}]", shuffle_partitions=2 * n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, t2 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb() -> dict[str, float]:
    """Peak resident size (VmHWM) of this process and of every descendant
    (the JVM and the Python workers), summed per executable name."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    mb: dict[str, float] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            mb[name] = mb.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return mb


def generate_inputs(kind: str, seed: int) -> str:
    res = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), kind, "--seed", str(seed), "--root", str(WORK / "inputs")],
        capture_output=True, text=True, timeout=300, check=True)
    return res.stdout.strip().splitlines()[-1]


def source_identity() -> dict:
    """The commit under test, or a digest of the sources when the checkout
    is not a git repository."""
    try:
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")) + sorted(HERE.glob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return {"commit": commit, "source_sha256": h.hexdigest()}


def op_medians(passes) -> dict:
    by_name: dict[str, list] = {}
    for p in passes:
        for op in p.ops:
            if op.error is None:
                by_name.setdefault(op.name, []).append(op)
    return {
        name: {"build_s": statistics.median(o.build_s for o in ops),
               "execute_s": statistics.median(o.execute_s for o in ops), "n": len(ops)}
        for name, ops in sorted(by_name.items())
    }


def run(args) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    import workloads

    n_cores = cores()
    run_id = f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_dir = WORK / "runs" / run_id
    work_dir.mkdir(parents=True)
    t_run = time.perf_counter()
    data_dir = generate_inputs(workloads.INPUTS[args.workload], args.seed)
    phases = {"inputs_s": time.perf_counter() - t_run}
    pin_environment(n_cores)

    spark, setup_s, start_s = start_session(n_cores)
    wl = workloads.make(args.workload, data_dir, str(work_dir))
    cold = wl.run_pass(spark, collect=True)
    warm = []
    t_window = time.perf_counter()
    # a pass starts only while its predicted end (median pass so far) stays in the window
    while not warm or (time.perf_counter() - t_window
                       + statistics.median(p.wall_s for p in warm) <= args.seconds):
        warm.append(wl.run_pass(spark))
    traced = layers = None
    if args.trace:
        traced, layers = wl.traced_pass(spark)
    rss = peak_rss_mb()
    conf = dict(spark.sparkContext.getConf().getAll())
    t_check = time.perf_counter()
    failures = wl.check()
    phases["check_s"] = time.perf_counter() - t_check
    stop_session(spark)
    shutil.rmtree(work_dir, ignore_errors=True)
    phases["run_s"] = time.perf_counter() - t_run

    passes = [cold] + warm + ([traced] if traced else [])
    ops = [op for p in passes for op in p.ops]
    errors = {op.name: op.error for op in ops if op.error is not None}
    attempted = len(ops)
    failed = len(errors) + len(failures)
    latencies = [op.total_s for p in warm for op in p.ops if op.error is None]
    if not latencies:
        raise SystemExit(f"no warm operation succeeded: {errors}")
    tail, tail_pct, tail_beyond = tail_percentile(latencies)
    pass_s = statistics.median(p.wall_s for p in warm)
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": cold.wall_s,
        "pass_s": pass_s,
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": tail,
        "peak_rss_mb": sum(rss.values()),
    }
    per_layer = None
    if args.trace:
        per_layer = {m["name"]: 0.0 for m in spec["per_layer"]}
        unknown = set(layers) - set(per_layer)
        if unknown:
            raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        per_layer.update(layers)
        per_layer["session.start_s"] = start_s
        per_layer["trace.overhead_ratio"] = traced.wall_s / pass_s

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": n_cores, **source_identity(), "spark_conf": conf,
        "end_to_end": e2e, "per_layer": per_layer,
        "fail_ratio": failed / attempted, "attempted": attempted, "failed": failed,
        "errors": errors, "check_failures": failures,
        "query_tail": {"percentile": tail_pct, "samples": len(latencies), "beyond": tail_beyond},
        "passes": {"first": cold.wall_s, "warm": [p.wall_s for p in warm],
                   "traced": traced.wall_s if traced else None},
        "traced_spans": traced.spans if traced else None,
        "phases": phases,
        "peak_rss_mb_by_process": rss,
        "ops": op_medians(warm),
    }
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    with open(records / f"{run_id}.json", "x") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one lakebench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the warm-pass window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args())
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
