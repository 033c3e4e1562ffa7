"""10x-input confirmation for a KERNEL-BOUND leg — the counterpart of
tools/analytics_10x_confirm.py.

The analytics 10x run showed the spot table's "eff at 10x" column
fails for shuffle/window-heavy JVM pipelines (fixed-heap spill + the
memory-bus ceiling). This script tests the model's claimed domain of
validity from the other side: the winnowing-fingerprint leg is an
Arrow-batched numpy kernel with no shuffle beyond one partial agg —
per-core working set is one document batch, bandwidth-friendly by
construction — where the 200k-doc fit (S = 2.3 s, W = 51.4 core-s)
predicts eff(2->8) ~= 0.97 at 2M docs. If the prediction holds here
and fails there, the SCALE.md revision ("licensed only while the
per-core working set stays bandwidth-friendly") is confirmed from
both sides rather than asserted.

Same methodology: the spot op's `winnow` (op_scaling_spot.WINNOW),
CPU-pinned levels, steal-watched, one timed run per level after a
200k-doc warm pass in the same context. Appends to BENCH/op_spots.jsonl
as op="winnow_10x".

Usage: python tools/winnow_10x_confirm.py  (box must be idle)
"""

from __future__ import annotations

import harness
import op_scaling_spot as spot

DOCS_200K = spot.DOCS
DOCS_2M = "/tmp/geocore_spot_docs2m.parquet"
N10 = 2_000_000

# the 200k-doc fit these numbers test (SCALE.md spot table)
FIT_S = 2.3
FIT_W = 51.4


def _materialize() -> None:
    code = (
        harness.session("mat-docs10x", 32, 32)
        + spot.docs_fixture(DOCS_200K, 200_000)
        + spot.docs_fixture(DOCS_2M, N10)
    )
    harness.run(["-c", code], timeout=1800)


def _run_level(cpus: int) -> float:
    setup = spot.WINNOW + "def pipe(path):\n    return winnow(spark.read.parquet(path))\n"
    code = harness.best_of(
        "scale-winnow10x", cpus, 32, setup, repeat=1,
        warm=f'pipe("{DOCS_200K}")',  # codegen + python workers at 1/10 cost
        call=f'pipe("{DOCS_2M}")',
    )
    return harness.timed(code, cpus, timeout=7200)["t"]


def main() -> None:
    print("materializing 2M-doc table (once)...", flush=True)
    _materialize()
    spot.confirm_10x(
        "winnow_10x", _run_level, FIT_S, FIT_W, f"{N10} docs (10x the 200k leg)"
    )


if __name__ == "__main__":
    main()
