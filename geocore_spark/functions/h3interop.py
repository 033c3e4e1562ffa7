"""H3 cell-id STRING interop without the h3 library — pure Column bit
math over the published H3 index layout (h3geo.org/docs/core-library/h3Indexing,
public spec; reference keys its data on these strings:
/root/reference/modeling/datasets/test_data.py:15
``H3_LATLNG_TO_CELL_STRING(lat, lon, 8)``).

The 64-bit cell index layout (mode-1 cells):

    bit 63      reserved (0)
    bits 62-59  mode (1 = cell)
    bits 58-56  reserved (0)
    bits 55-52  resolution (0-15)
    bits 51-45  base cell (0-121)
    bits 44-0   fifteen 3-bit digits, res 1..15; digits past the cell's
                resolution are set to 7 (the "unused" marker)

This gives every structural operation a closed form that needs no
library: parse/format (canonical lowercase hex, leading zeros stripped),
resolution and base-cell extraction, full validity (including the
pentagon deleted-K-subsequence rule), and parent derivation (truncate
digits past the parent resolution to 7). So externally produced H3-keyed
data can be joined, validated and rolled up to coarser cells anywhere,
even where ``h3`` isn't installed — geometry-dependent ops (lat/lng,
neighbors) still require the real backend (functions/h3compat.py, gated).

Everything here is JVM-side Column arithmetic — no UDF, no shuffle; at
100 TB these are free expressions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the 12 pentagon base cells (public spec, baseCellData table)
PENTAGON_BASE_CELLS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)

_RES_SHIFT = 52
_BASE_SHIFT = 45
_MODE_SHIFT = 59


def h3_parse(cell_str: Column) -> Column:
    """Canonical H3 hex string -> BIGINT index; NULL for non-hex input.

    Accepts 1-16 hex chars, any case (h3ToString strips leading zeros, so
    round-trips are exact for valid cells — their value is < 2^60)."""
    s = F.lower(F.trim(cell_str))
    # \A/\z absolute anchors, NOT ^/$: Java's '$' also matches just
    # before a trailing line terminator, so '8828308281fffff\n' (lines
    # read with terminators kept) would silently pass validation and
    # F.conv would longest-prefix-parse it instead of returning NULL
    return F.when(
        s.rlike(r"\A[0-9a-f]{1,15}\z") | s.rlike(r"\A0[0-9a-f]{15}\z"),
        F.conv(s, 16, 10).cast("bigint"),
    )


def h3_format(cell: Column) -> Column:
    """BIGINT index -> canonical lowercase hex string (leading zeros
    stripped, matching h3ToString / Snowflake H3_*_STRING output)."""
    return F.lower(F.hex(cell.cast("bigint")))


def h3_resolution(cell: Column) -> Column:
    return F.shiftright(cell, _RES_SHIFT).bitwiseAND(F.lit(0xF)).cast("int")


def h3_base_cell(cell: Column) -> Column:
    return F.shiftright(cell, _BASE_SHIFT).bitwiseAND(F.lit(0x7F)).cast("int")


def _digit(cell: Column, d: int) -> Column:
    """3-bit digit for resolution d (1-based), 0..7."""
    return F.shiftright(cell, 3 * (15 - d)).bitwiseAND(F.lit(0x7))


def h3_is_valid(cell: Column) -> Column:
    """Full structural validity of a mode-1 cell index: reserved bits
    zero, resolution digits in range, unused digits all 7, base cell
    <= 121, and the pentagon deleted-K-subsequence rule (a pentagon
    cell's first non-zero digit cannot be 1)."""
    res = h3_resolution(cell)
    base = h3_base_cell(cell)
    mode = F.shiftright(cell, _MODE_SHIFT).bitwiseAND(F.lit(0xF))
    high_reserved = F.shiftright(cell, 63).bitwiseAND(F.lit(0x1))
    mid_reserved = F.shiftright(cell, 56).bitwiseAND(F.lit(0x7))
    ok = (
        cell.isNotNull()
        & (mode == 1)
        & (high_reserved == 0)
        & (mid_reserved == 0)
        & (base <= 121)
    )
    for d in range(1, 16):
        dig = _digit(cell, d)
        ok = ok & F.when(F.lit(d) <= res, dig != 7).otherwise(dig == 7)
    # pentagon rule: first non-zero digit at or below res must not be 1
    first_nonzero = F.lit(None).cast("int")
    for d in range(15, 0, -1):
        dig = _digit(cell, d)
        first_nonzero = F.when(
            (F.lit(d) <= res) & (dig != 0), dig.cast("int")
        ).otherwise(first_nonzero)
    is_pent = base.isin(*PENTAGON_BASE_CELLS)
    ok = ok & (
        ~is_pent | first_nonzero.isNull() | (first_nonzero != 1)
    )
    return ok


def h3_parent(cell: Column, parent_res: int) -> Column:
    """Parent cell at ``parent_res`` (BIGINT in, BIGINT out): replace the
    resolution nibble and set every digit past ``parent_res`` to 7.
    NULL when the cell is coarser than the requested parent."""
    if not 0 <= parent_res <= 15:
        raise ValueError("parent_res must be in 0..15")
    res_cleared = cell.bitwiseAND(F.lit(~(0xF << _RES_SHIFT)))
    trailing = (1 << (3 * (15 - parent_res))) - 1
    parent = (
        res_cleared.bitwiseOR(F.lit(parent_res << _RES_SHIFT))
        .bitwiseOR(F.lit(trailing))
    )
    return F.when(h3_resolution(cell) >= parent_res, parent)


def h3_parent_str(cell_str: Column, parent_res: int) -> Column:
    """String-in/string-out convenience: parse -> parent -> format."""
    return h3_format(h3_parent(h3_parse(cell_str), parent_res))


# --- SQL mirrors (for DuckDB oracle twins) ------------------------------


def resolution_sql(cell: str) -> str:
    return f"CAST(({cell} >> {_RES_SHIFT}) & 15 AS INT)"


def parent_sql(cell: str, parent_res: int) -> str:
    """ANSI-SQL twin of :func:`h3_parent` over a BIGINT expression."""
    trailing = (1 << (3 * (15 - parent_res))) - 1
    cleared = f"({cell} & ~(CAST(15 AS BIGINT) << {_RES_SHIFT}))"
    parent = (
        f"(({cleared} | (CAST({parent_res} AS BIGINT) << {_RES_SHIFT})) "
        f"| CAST({trailing} AS BIGINT))"
    )
    return (
        f"CASE WHEN {resolution_sql(cell)} >= {parent_res} "
        f"THEN {parent} END"
    )
