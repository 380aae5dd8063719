"""Benchmark entry point: one workload, one seed, one long-lived Spark session.

    python3 qbench/run.py --workload label_mixed --seed 1 --seconds 8 --trace 0

Order of a run:

1. make or reuse the seed's inputs and expected outputs (child process,
   cached under ``.bench_cache/qbench/inputs``; before any clock);
2. start the host-speed meter (``probe.py``);
3. set-up, timed as ``setup_s``: import the program, start the session,
   run one untimed warm-up pass;
4. timed passes until ``--seconds`` of pass time have elapsed, and at
   least the workload's ``min_passes``, each after ``System.gc()`` and a
   short settle, each checked after its clock stops;
5. with ``--trace 1``, the per-layer accounting instead (``layers.py``).

Every time is reported in reference-host seconds: raw time × the reference
meter loop time ÷ the meter's mean loop time over the timed step, and a
wall time also × (1 − the share of vCPU time the host stole meanwhile);
each end-to-end time is the median of the run's timed passes. The last stdout
line is the result JSON; the line before it and ``.bench_cache/qbench/runs/``
hold the full run record (raw times, meter readings, pass count).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache", "qbench")
SETTLE_S = 0.3  # after System.gc(), before a timed step
CLK_TCK = os.sysconf("SC_CLK_TCK")

sys.path[:0] = [HERE, ROOT]
import inputs  # noqa: E402
import probe  # noqa: E402


def proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """Core-seconds used by a process tree: user+system of every live
    process plus what its reaped children left in cutime/cstime."""
    total = 0
    for p in proc_tree(root_pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    data = inputs.cache_dir(os.path.join(CACHE, "inputs"), workload, seed)
    if not os.path.exists(os.path.join(data, "expect.json")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", workload,
             "--seed", str(seed), "--out", data],
            check=True, stdout=sys.stderr,
        )
    with open(os.path.join(data, "expect.json")) as f:
        return data, json.load(f)


def spark_conf(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata files in /tmp either. C1 only: with the default
        # tiered JIT the driver's CPU time per pass was still falling after
        # eight warm passes (80 s), far beyond a run; with C1 it is flat from
        # the first warm pass. A 2 GB heap floor: without it some sessions
        # spent ~60% more CPU per query sweep than others, pass after pass
        # (README.md)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log = os.path.join(run_dir, "eventlog")
        os.makedirs(log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log,
            # the default zstd codec needs the zstandard module to parse
            "spark.eventLog.compress": "false",
        })
    return conf


def program_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "qamd_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="qamd_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print("qbench: qamd_spark/ and __spark_entry__.py must sit next to "
              "qbench/ (run from a full checkout)", file=sys.stderr)
        return 2

    data, expect = ensure_inputs(args.workload, args.seed)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(CACHE, "work", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the program from this checkout; every scratch
    # file of Spark and of the JVM stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](
        data, expect, run_dir, spark_conf(run_dir, bool(args.trace)), nproc
    )
    ref = probe.reference_us()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "nproc": nproc, "reference_meter_us": ref}
    try:
        with probe.Meter() as meter:
            wl.meter = meter
            t = time.perf_counter()
            wl.setup()
            wl.prepare("warmup")
            wl.run_pass("warmup")
            setup_raw = time.perf_counter() - t
            record.update(setup_raw_s=setup_raw, setup_meter=meter.window(t, t + setup_raw))
            failures = wl.check("warmup")
            setup_s = setup_raw * probe.wall_scale(record["setup_meter"], ref)
            if args.trace:
                import layers

                n_passes, metrics = layers.traced_run(wl, ref, record, failures)
            else:
                passes = timed_passes(wl, args.seconds, failures)
                record["passes"] = passes
                n_passes = 1 + len(passes)
                metrics = end_to_end(passes, setup_s, wl.units(), ref)
    finally:
        wl.close()
    if args.trace:
        metrics.update(layers.eventlog_metrics(wl, record))
        metrics = layers.as_metrics(metrics)
    shutil.rmtree(run_dir, ignore_errors=True)
    record["failures"] = failures
    for f in failures:
        print("qbench: FAILED " + f, file=sys.stderr)
    result = {
        "correct": not failures,
        "attempted": wl.ops_per_pass() * n_passes,
        "failed": len(failures),
        "metrics": metrics,
    }
    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    with open(os.path.join(CACHE, "runs", run_id + ".json"), "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


def settle(wl) -> None:
    """Start every timed step from a collected heap and a quiet JVM."""
    wl.gc()
    time.sleep(SETTLE_S)


def timed_passes(wl, seconds: float, failures: list) -> list[dict]:
    """Timed passes until ``seconds`` of pass time, and at least the
    workload's ``min_passes``.
    No pass is discarded; every one is checked after its clock stops."""
    jvm = wl.jvm_pid()
    passes: list[dict] = []
    spent = 0.0
    while len(passes) < wl.min_passes or spent < seconds:
        tag = f"p{len(passes)}"
        wl.prepare(tag)
        settle(wl)
        cpu0 = tree_cpu_s(jvm)
        t = time.perf_counter()
        try:
            wl.run_pass(tag)
            err = None
        except Exception as e:  # a failed operation: counted, run goes on
            err = f"{tag}: raised {type(e).__name__}: {e}"
        wall = time.perf_counter() - t
        cpu = tree_cpu_s(jvm) - cpu0
        passes.append({"wall_raw_s": wall, "cpu_raw_s": cpu,
                       "meter": wl.meter.window(t, t + wall)})
        bad = [err] if err else wl.check(tag)
        passes[-1]["failed"] = len(bad)
        failures.extend(bad)
        spent += wall
    return passes


def end_to_end(passes: list[dict], setup_s: float, units: int, ref: float) -> dict:
    """Each time is the median of the run's timed passes, in reference-host
    seconds."""
    wall = statistics.median(p["wall_raw_s"] * probe.wall_scale(p["meter"], ref) for p in passes)
    cpu = statistics.median(p["cpu_raw_s"] * probe.cpu_scale(p["meter"], ref) for p in passes)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "turns_per_s": {"value": units / wall, "unit": "1/s"},
        "cpu_s": {"value": cpu, "unit": "s"},
    }


if __name__ == "__main__":
    raise SystemExit(main())
