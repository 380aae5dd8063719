"""Host-speed meter: a fixed CPU loop timed continuously, beside the work.

The vCPUs of the host this benchmark runs on change speed from minute to
minute and between processes. The meter is one background process that,
every ``PERIOD_S``, runs a ~1.5 ms cache-resident integer loop and times it
by its own thread CPU time: when the host gives the vCPU less of a core
(a busy sibling hyperthread, a lower clock), the loop's CPU time grows;
waiting in the guest's run queue does not count. It costs about 3% of one
core and calls no program code.

The meter also reads the kernel's steal counter with every sample.
``Meter.window(t0, t1)`` gives the mean loop time (µs) of the samples taken
during a timed step and the share of vCPU time the host stole meanwhile.
``wall_scale`` and ``cpu_scale`` turn the step's raw seconds into
reference-host seconds with them and ``reference.json``'s loop time.

Tried and dropped (README.md): a snapshot probe (a numpy/dict/sha1 task on
every core, read once before and once after each pass) widened the spread;
a memory-latency loop (random lookups in a 30 MB dict) tracked the host
closely but read ~30% slower under the benchmark's own load than idle, so
it would partly cancel a change that eases the program's memory traffic.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
from multiprocessing import resource_tracker
import statistics
import time

PERIOD_S = 0.05
LOOP_N = 20_000
REFERENCE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")


def reference_us() -> float:
    with open(REFERENCE_FILE) as f:
        return float(json.load(f)["meter_us"])


def _loop_us() -> float:
    c = time.thread_time()
    x = 0
    for i in range(LOOP_N):
        x += i * i
    return (time.thread_time() - c) * 1e6


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, all) clock ticks of every vCPU so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _summary(got: list[tuple[float, float, int, int]]) -> dict:
    if not got:
        return {"n": 0}
    loop = [us for _, us, _, _ in got]
    (_, _, steal0, all0), (_, _, steal1, all1) = got[0], got[-1]
    return {"n": len(got), "mean_us": statistics.fmean(loop),
            "median_us": statistics.median(loop),
            "steal_share": (steal1 - steal0) / (all1 - all0) if all1 > all0 else 0.0}


def _meter(conn) -> None:
    samples: list[tuple[float, float, int, int]] = []
    while True:
        if conn.poll(PERIOD_S):
            msg = conn.recv()
            if msg == "stop":
                break
            t0, t1 = msg
            conn.send(_summary([s for s in samples if t0 <= s[0] <= t1]))
            continue
        samples.append((time.perf_counter(), _loop_us(), *_cpu_ticks()))
    conn.close()


def wall_scale(window: dict, ref_us: float) -> float:
    """Raw wall seconds → reference-host seconds: the share of the vCPUs'
    time the host stole during the window is taken out, and the rest is
    scaled by the reference loop time over the loop time measured."""
    return ref_us / window["mean_us"] * (1.0 - window["steal_share"])


def cpu_scale(window: dict, ref_us: float) -> float:
    """Raw CPU seconds → reference-host seconds. Stolen time is not
    charged to a process's CPU time, so only the loop time scales it."""
    return ref_us / window["mean_us"]


class Meter:
    """The sampling process; a context manager that stops and joins it.
    Windows are ``time.perf_counter()`` values of the calling process
    (CLOCK_MONOTONIC, shared by all processes)."""

    def __enter__(self) -> "Meter":
        ctx = mp.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_meter, args=(child,), daemon=True)
        self._proc.start()
        child.close()
        return self

    def window(self, t0: float, t1: float) -> dict:
        """Mean and median loop µs of the ``n`` samples taken in [t0, t1]
        (the mean is the normalizer), and the share of all vCPU time the
        host stole between the first and last of them. Raises if there is
        no sample."""
        self._conn.send((t0, t1))
        got = self._conn.recv()
        if not got["n"]:
            raise RuntimeError(f"host meter took no sample in a {t1 - t0:.3f} s window")
        return got

    def __exit__(self, *exc) -> None:
        try:
            self._conn.send("stop")
        except OSError:
            pass
        self._proc.join(timeout=10)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
        # starting a spawned process also started multiprocessing's resource
        # tracker process; end it and wait for it too
        resource_tracker._resource_tracker._stop()


if __name__ == "__main__":
    # the idle meter on this host, over 10 s: how reference.json was measured
    with Meter() as m:
        t = time.perf_counter()
        time.sleep(10)
        print(json.dumps({"meter_us": m.window(t, time.perf_counter())["mean_us"]}))
