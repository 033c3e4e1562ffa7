"""Seeded benchmark of the geocore_spark engine.

    python3 perfbench/run.py --workload geo_features --seed 1 --seconds 10 --trace 0

Generates the workload's input from ``--seed`` (outside every timed
region), builds the session with ``geocore_spark.session.get_spark`` at
``local[<nproc>]`` and runs the workload in a closed loop with one
client: one driver process, one Spark action at a time. Every iteration
is checked against an independent computation. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(see perfbench/METRICS.md). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Run it from the repository root; everything it writes goes under
``.perfbench_work/`` there and is removed at exit.
"""

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# BENCHMARK.json lists the first two; lake_maintenance runs on demand,
# because three workloads' runs do not fit the benchmark's time budget
WORKLOADS = ("geo_features", "spatial_join", "lake_maintenance")
MAX_CONSECUTIVE_FAILURES = 3

# (span, counter, unit) reported by a traced run. Counters come from the
# span's self time, the event-log fold of its job group, or the
# workload's own counts. A span that does not run on a workload reads 0.
# A workload module may add its own list (``LAYER_METRICS``).
LAYER_METRICS = [
    ("session.start", "self_s", "s"),
    ("session.warm", "self_s", "s"),
    ("sources.pages_scan", "self_s", "s"),
    ("sources.pages_scan", "task_s", "s"),
    ("sources.pages_scan", "input_bytes", "bytes"),
    ("functions.geotag", "self_s", "s"),
    ("functions.geotag", "cpu_s", "s"),
    ("functions.tile", "self_s", "s"),
    ("functions.tile", "cpu_s", "s"),
    ("functions.s2", "self_s", "s"),
    ("functions.s2", "python_s", "s"),
    ("operators.zonal", "self_s", "s"),
    ("operators.zonal", "shuffle_write_bytes", "bytes"),
    *[
        (f"operators.assembly.{fn}", counter, unit)
        for fn in ("join_features", "merge_labels", "mask_bad_train")
        for counter, unit in (
            ("self_s", "s"), ("task_s", "s"), ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"), ("skew", "ratio"),
        )
    ],
    ("operators.blockcv", "self_s", "s"),
    ("operators.spatial_join.cover", "self_s", "s"),
    ("operators.spatial_join.pip", "self_s", "s"),
    ("operators.spatial_join.pip", "python_s", "s"),
    ("operators.spatial_join.pip", "candidate_rows", "count"),
    ("operators.spatial_join.pip", "hit_ratio", "ratio"),
    ("geometry.points_in_wkb", "points_per_s", "points/s"),
    ("operators.spatial_join.distance_join", "self_s", "s"),
    ("operators.spatial_join.distance_join", "candidate_pairs", "count"),
    ("operators.spatial_join.distance_join", "pair_ratio", "ratio"),
    ("operators.spatial_join.distance_join", "skew", "ratio"),
    ("operators.knn", "self_s", "s"),
    ("operators.knn", "candidate_pairs", "count"),
    ("operators.knn", "shuffle_write_bytes", "bytes"),
    ("operators.knn", "skew", "ratio"),
]


def _say(msg: str) -> None:
    print(msg, flush=True)


def _environment(work: str, nproc: int) -> None:
    """Session hygiene: the engine's own defaults except the core count
    (``SPARK_GRAFT_CPUS`` defaults to 32), driver memory below physical
    RAM, the repo on the Python workers' path, and every scratch
    directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata files in the system /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _warm(spark, nproc: int) -> None:
    """JVM codegen and the Python-worker pool, before the first iteration."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark.range(0, 100_000, 1, nproc).groupBy((F.col("id") % 10).alias("k")).count().collect()

    @F.pandas_udf("long")
    def _ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 10_000, 1, nproc).select(_ident(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()


def _stop_jvm() -> None:
    """Stop the session and its JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _versions(spark) -> dict:
    commit = "unknown"  # a source checkout without git metadata
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if os.path.samefile(top, ROOT):
            commit = head
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    return {
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "commit": commit,
    }


class Loop:
    """Closed loop, one client: the next iteration starts when the last
    one and its output check have finished."""

    def __init__(self, wl):
        self.wl = wl
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def once(self, full_check: bool = False, timed: bool = True) -> None:
        from perfbench import measure

        wl = self.wl
        wl.prepare()
        self.attempted += 1
        pid = os.getpid()
        cpu0 = measure.tree_cpu_s(pid)
        t0 = time.perf_counter()
        try:
            result = wl.iterate()
            wall = time.perf_counter() - t0
            cpu = measure.tree_cpu_s(pid) - cpu0
            bad = wl.check(result, full_check)
        except Exception:  # noqa: BLE001 - any failure counts, the loop goes on
            bad = [traceback.format_exc(limit=3)]
        finally:
            wl.tr.end_iteration()
        if bad:
            self.failed += 1
            self.problems.extend(bad)
            return
        if timed:
            self.walls.append(wall)
            self.cpus.append(cpu)

    def run(self, seconds: float) -> None:
        """Run the iterations that fill ``seconds`` at the workload's
        nominal iteration time (at least one; fewer on a run of failures
        or past 3x ``seconds`` of wall). A count fixed by ``seconds``,
        not a clock, puts every run's samples at the same point of the
        JVM's warm-up curve, which is still falling after the warm-up
        iteration."""
        count = max(1, int(seconds / self.wl.ITERATION_S + 0.5))
        deadline = time.perf_counter() + 3 * seconds + 30
        streak = 0
        for _ in range(count):
            if time.perf_counter() > deadline:
                break
            before = self.failed
            self.once()
            streak = streak + 1 if self.failed > before else 0
            if streak >= MAX_CONSECUTIVE_FAILURES:
                break


def _end_to_end(loop: Loop, setup_s: float, wl, peak_rss: int) -> dict:
    from perfbench import measure

    if not loop.walls:
        return {}
    p50 = measure.median(loop.walls)
    tail, pct, n = measure.tail(loop.walls)
    walls = " ".join(f"{w:.3f}" for w in loop.walls)
    _say(f"wall_tail_s = {tail:.6g} s, the p{pct:.0f} of n={n} iterations: {walls}")
    _say(f"error_rate = {loop.failed / loop.attempted:.4f} ratio ({loop.failed}/{loop.attempted})")
    return {
        "setup_s": (setup_s, "s"),
        "wall_p50_s": (p50, "s"),
        "rows_per_s": (wl.input_rows / p50, "rows/s"),
        "cpu_s": (measure.median(loop.cpus), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MiB"),
    }


def run(args, work: str, nproc: int) -> tuple[dict, Loop]:
    from perfbench import measure, trace

    from geocore_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    steal0 = measure.cpu_times()
    tracer = trace.Tracer(enabled=bool(args.trace))
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)  # the session fails to start without it
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", extra_conf=conf)
    tracer.spark = spark
    with tracer.span("session.warm"):
        _warm(spark, nproc)
    setup_s = time.perf_counter() - t0
    meta = {"workload": args.workload, "seed": args.seed, "nproc": nproc, **_versions(spark)}

    module = importlib.import_module(f"perfbench.{args.workload}")
    t_gen = time.perf_counter()
    wl = module.Workload(spark, args.seed, work, tracer)
    meta["input_s"] = round(time.perf_counter() - t_gen, 3)
    meta.update(wl.sizes)

    loop = Loop(wl)
    tracer.enabled = False
    loop.once(full_check=True, timed=False)  # fills caches; full output check
    with measure.RssPeak(os.getpid()) as rss:
        if args.trace:
            loop.run(args.seconds / 2)
            untraced = list(loop.walls)
            tracer.enabled = True
            loop.walls, loop.cpus = [], []
            loop.run(args.seconds / 2)
            tracer.enabled = False
        else:
            loop.run(args.seconds)
    loop.problems.extend(wl.final_check())
    if loop.problems and loop.failed == 0:
        loop.failed = 1  # the end-of-run check fails the run as a whole
    meta["steal_share"] = round(measure.steal_share(steal0, measure.cpu_times()), 4)

    if args.trace:
        spark.stop()  # flushes the event log
        tracer.write(os.path.join(os.path.dirname(work), f"{args.workload}.spans.jsonl"))
        folded = trace.fold_event_log(trace.event_log_files(log_dir))
        layers = LAYER_METRICS + getattr(module, "LAYER_METRICS", [])
        metrics = _per_layer(layers, tracer, folded, wl, untraced, loop.walls)
    else:
        metrics = _end_to_end(loop, setup_s, wl, rss.peak)
    _say("meta " + json.dumps(meta, sort_keys=True))
    return metrics, loop


def _per_layer(layers, tracer, folded, wl, untraced: list[float], traced: list[float]) -> dict:
    from perfbench import measure

    selfs = tracer.by_name()
    per_iter: dict[str, set[int]] = {}
    for sp in tracer.spans:
        per_iter.setdefault(sp.name, set()).add(sp.iteration)
    counts = {k: len(v) for k, v in per_iter.items()}
    extra = wl.counters(folded, tracer)
    out = {}
    for span, counter, unit in layers:
        n = counts.get(span, 0)
        name = f"{span}.{counter}"
        if name in extra:
            value = extra[name]
        elif n == 0:
            value = 0.0
        elif counter == "self_s":
            value = sum(selfs[span]) / n
        elif counter == "skew":
            value = folded.get(span, {}).get("skew", 1.0)
        else:
            value = folded.get(span, {}).get(counter, 0.0) / n
        out[name] = (float(value), unit)
    if untraced and traced:
        out["trace.overhead_ratio"] = (measure.median(traced) / measure.median(untraced), "ratio")
        top = [sp for sp in tracer.spans if sp.parent is None and sp.iteration >= 0]
        covered = sum(sp.duration for sp in top)
        _say(
            f"trace: top-level spans cover {covered:.3f} s of {sum(traced):.3f} s traced wall "
            f"({len(traced)} traced, {len(untraced)} untraced iterations)"
        )
    else:
        out["trace.overhead_ratio"] = (0.0, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geocore_spark", "session.py")):
        print(f"perfbench: no geocore_spark package under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, nproc)
    sys.path.insert(0, ROOT)
    try:
        metrics, loop = run(args, work, nproc)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        _say(f"{name} = {value:.6g} {unit}")
    for p in loop.problems[:10]:
        _say("check failed: " + p.strip().replace("\n", " | "))
    result = {
        "correct": not loop.problems,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
