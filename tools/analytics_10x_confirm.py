"""One-shot 10x-input confirmation of the analytics leg's Amdahl fit
(r4 VERDICT item #5).

The 40M-event leg decomposes as S ~= 10 s (4 job submissions +
window/ntile codegen) and W ~= 105 core-s; the model predicts
eff(2->8) ~= S+W/2 over 4*(S+W/8) ~= 0.94 at 10x input. This script
MEASURES that: the identical chained pipeline (scaling_bench.ANALYTICS:
attribution -> RFM -> grouped_corr -> max_drawdown, shuffle_partitions
fixed at 32) over a 400M-event table at CPU-pinned 2 and 8 cores, one
timed run per level after a 40M-table warm pass in the same context
(codegen/daemon warm-up without paying a second 400M pass).

Steal-watched like every recorded run (tools/harness.py samples
/proc/stat steal around each level): a level whose window was noisy (>50 ticks/s) marks the row noisy. Appends its result
to BENCH/op_spots.jsonl with op="analytics_10x" and prints the
predicted-vs-measured comparison for SCALE.md.

Usage: python tools/analytics_10x_confirm.py  (box must be idle)
"""

from __future__ import annotations

import os

import harness
import op_scaling_spot as spot
import scaling_bench as sb

EVENTS_40M = sb.EVENTS_PARQUET
EVENTS_400M = "/tmp/geocore_events400m"
N10 = 400_000_000

# the 40M-leg fit these numbers confirm (BENCH/BASELINE.md, r4/r5 merge)
FIT_S = 10.1
FIT_W = 104.8


def _run_level(cpus: int, nparts: int = 32) -> float:
    # user/group cardinalities scale with the input (materialize_events)
    # so per-key row counts match the 40M leg.
    # nparts: shuffle partitions — 32 replicates the leg's fixed value
    # (12.5M rows/partition at 400M: spills under 8-way concurrency on
    # a FIXED 16g heap); 256 is the size-appropriate setting
    # (~1.6M rows/partition) a real 400M-row job would use.
    code = harness.best_of(
        "scale-analytics10x", cpus, nparts, sb.ANALYTICS, repeat=1,
        warm=f'pipe("{EVENTS_40M}")',  # codegen + python workers at 1/10 cost
        call=f'pipe("{EVENTS_400M}")',
    )
    return harness.timed(code, cpus, timeout=7200)["t"]


def main() -> None:
    if not os.path.exists(os.path.join(EVENTS_40M, "_SUCCESS")):
        raise SystemExit(
            "40M warm table missing — run tools/scaling_bench.py --legs "
            "analytics first (it materializes /tmp/geocore_events40m)"
        )
    nparts = int(os.environ.get("SPARK_GRAFT_10X_PARTITIONS", "32"))
    print("materializing 400M-event table (once)...", flush=True)
    sb.materialize_events(EVENTS_400M, N10, 2048, "mat-events10x", 3600)
    spot.confirm_10x(
        "analytics_10x",
        lambda cpus: _run_level(cpus, nparts),
        FIT_S,
        FIT_W,
        f"{N10} events (10x the 40M leg)",
        shuffle_partitions=nparts,
    )


if __name__ == "__main__":
    main()
