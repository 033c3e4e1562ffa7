"""One pinned-run harness for the scaling tools.

Every scaling measurement runs in a fresh child Python whose whole process
tree (JVM task threads AND Python/Arrow workers) is CPU-pinned to cores
0..N-1, so ``local[N]`` behaves like an N-core executor on a cluster. A
level above the box's core count is skipped (:func:`runnable`), never
recorded as an N-core wall.
Without pinning, local[2] on a 32-core box quietly runs its Python workers
on spare cores, inflating the baseline and deflating measured efficiency
for any Python-kernel stage (webtext leg: 0.74 unpinned -> 0.96 pinned,
same binaries, same input). A measuring child prints one JSON object as
its last stdout line.

Host steal is watched around each measurement through
``perfbench.measure.cpu_times``; a window above ``STEAL_TPS_LIMIT`` is
noisy, and the tools record it as such instead of relying on operator
discipline.

Users: tools/scaling_bench.py, tools/op_scaling_spot.py, the two 10x
confirmation scripts, and bench.py (its run's steal share).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench import measure  # noqa: E402

# hypervisor steal above this many ticks/s during a window means the
# numbers are hostage to a noisy co-tenant (bursts on this VM tripled
# per-query times)
STEAL_TPS_LIMIT = 50.0


def cores() -> int:
    """How many cores this process may run on."""
    return len(os.sched_getaffinity(0))


def runnable(levels) -> list[int]:
    """The core counts of ``levels`` this box can pin; prints a skip line
    for each of the others, which the tools then leave unmeasured."""
    n = cores()
    for c in levels:
        if c > n:
            print(f"t({c}) skipped: box has {n} cores", flush=True)
    return [c for c in levels if c <= n]


def command(args: list[str], cpus: int | None = None) -> list[str]:
    """``python *args``, pinned to cores 0..cpus-1 when ``cpus`` is given.

    Refuses a ``cpus`` above :func:`cores`: taskset accepts a list naming
    absent cores and keeps only the present ones, so the run would use
    fewer cores than its level claims."""
    if cpus is not None and cpus > cores():
        raise ValueError(f"cannot pin {cpus} cores: box has {cores()} cores")
    pin = [] if cpus is None else ["taskset", "-c", f"0-{cpus - 1}"]
    return [*pin, sys.executable, *args]


def run(
    args: list[str], cpus: int | None = None, timeout: float | None = 900, **env: str
) -> str:
    """Run ``python *args`` with the repo on PYTHONPATH plus ``env``;
    raise on a non-zero exit or after ``timeout`` seconds; return stdout."""
    out = subprocess.run(
        command(args, cpus),
        env=dict(os.environ, PYTHONPATH=REPO, **env),
        capture_output=True,
        text=True,
        timeout=timeout,
        check=True,
    )
    return out.stdout


def last_json(stdout: str):
    return json.loads(stdout.strip().splitlines()[-1])


def timed(code: str, cpus: int, timeout: float, **env: str) -> dict:
    """Run measuring child ``code`` pinned to ``cpus`` cores; return the
    JSON object on its last stdout line."""
    return last_json(run(["-c", code], cpus, timeout, **env))


def session(app: str, cpus: int, partitions: int) -> str:
    """Child-script lines binding ``spark`` to a local[cpus] session."""
    return (
        "from geocore_spark.session import get_spark\n"
        f'spark = get_spark("{app}", master="local[{cpus}]", '
        f"shuffle_partitions={partitions})\n"
    )


def best_of(
    app: str,
    cpus: int,
    partitions: int,
    setup: str,
    repeat: int,
    warm: str = "pipe()",
    call: str = "pipe()",
) -> str:
    """Child script: a session, ``setup`` (which defines ``pipe``), one
    untimed ``warm`` pass (JIT, codegen, Python workers, parquet footers),
    then the best of ``repeat`` timed ``call`` passes, printed as
    ``{"t": seconds}``."""
    return f"""
import time, json
{session(app, cpus, partitions)}
{setup}
{warm}
ts = []
for _ in range({repeat}):
    t0 = time.time(); {call}; ts.append(time.time() - t0)
print(json.dumps({{"t": min(ts)}}))
"""


class StealWatch:
    """Host steal since construction, read from ``proc``/stat."""

    def __init__(self, proc: str = "/proc"):
        self.proc = proc
        self.t0, self.c0 = time.time(), measure.cpu_times(proc)

    def rate(self) -> float:
        """Steal jiffies (summed over CPUs) per wall second."""
        steal = measure.cpu_times(self.proc)[1] - self.c0[1]
        return steal / max(time.time() - self.t0, 1e-6)

    def share(self) -> float:
        """Steal jiffies as a share of all CPU jiffies."""
        return measure.steal_share(self.c0, measure.cpu_times(self.proc))


def noisy(rate: float) -> bool:
    return rate > STEAL_TPS_LIMIT
