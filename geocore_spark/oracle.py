"""ANSI-SQL twin builders for the DuckDB correctness oracle.

Every oracle-checkable operator has two implementations: the Spark
DataFrame plan (the engine) and an ANSI-SQL string produced here (the
oracle). Twins are written with identical IEEE-double operation order so
values match bit-for-bit before rounding; integer derivations (synthetic
coordinates) are modular arithmetic, exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geocore_spark.functions import tiling as tl

# ---------------------------------------------------------------------------
# Derived deterministic coordinates (driver tables carry no geo columns —
# points are an exact integer function of an id column, same in both engines)
# ---------------------------------------------------------------------------


def derived_lat(id_col: Column) -> Column:
    return ((id_col * 37 + 11) % 12000) / 100.0 - 60.0


def derived_lon(id_col: Column) -> Column:
    return ((id_col * 91 + 17) % 36000) / 100.0 - 180.0


def derived_lat_sql(id_sql: str) -> str:
    return f"((({id_sql}) * 37 + 11) % 12000) / 100.0 - 60.0"


def derived_lon_sql(id_sql: str) -> str:
    return f"((({id_sql}) * 91 + 17) % 36000) / 100.0 - 180.0"


# ---------------------------------------------------------------------------
# Geocell twins (tiling.py arithmetic in SQL; edge is an exact binary
# fraction, so floor-division matches bit-for-bit)
# ---------------------------------------------------------------------------


def cell_sql(lat_sql: str, lon_sql: str, res: int = tl.DEFAULT_RES) -> str:
    e = f"CAST({tl.edge_deg(res)!r} AS DOUBLE)"
    ix = (
        f"least(greatest(CAST(floor((({lon_sql}) + 180.0) / {e}) AS BIGINT), 0),"
        f" {tl.ncols(res) - 1})"
    )
    iy = (
        f"least(greatest(CAST(floor((({lat_sql}) + 90.0) / {e}) AS BIGINT), 0),"
        f" {tl.nrows(res) - 1})"
    )
    # NULL/NaN coordinates -> NULL, mirroring tiling.latlng_to_cell's
    # guard (DuckDB's concat would otherwise swallow a NULL index)
    return (
        f"(CASE WHEN ({lat_sql}) IS NULL OR ({lon_sql}) IS NULL"
        f" OR isnan({lat_sql}) OR isnan({lon_sql}) THEN NULL"
        f" ELSE concat({res}, ':', {ix}, ':', {iy}) END)"
    )


def cell_parts_sql(cell_sql: str) -> tuple[str, str, str]:
    """(res INT, ix BIGINT, iy BIGINT) of a string cell id: the SQL twin of
    ``tiling.cell_parts``."""
    p = f"string_split({cell_sql}, ':')"
    return f"CAST({p}[1] AS INT)", f"CAST({p}[2] AS BIGINT)", f"CAST({p}[3] AS BIGINT)"


def cell_iy_sql(lat_sql: str, res: int = tl.DEFAULT_RES) -> str:
    e = f"CAST({tl.edge_deg(res)!r} AS DOUBLE)"
    return (
        f"least(greatest(CAST(floor((({lat_sql}) + 90.0) / {e}) AS BIGINT), 0),"
        f" {tl.nrows(res) - 1})"
    )


def cell_ix_sql(lon_sql: str, res: int = tl.DEFAULT_RES) -> str:
    e = f"CAST({tl.edge_deg(res)!r} AS DOUBLE)"
    return (
        f"least(greatest(CAST(floor((({lon_sql}) + 180.0) / {e}) AS BIGINT), 0),"
        f" {tl.ncols(res) - 1})"
    )


def centroid_lat_sql(lat_sql: str, res: int = tl.DEFAULT_RES) -> str:
    e = f"CAST({tl.edge_deg(res)!r} AS DOUBLE)"
    return f"(-90.0 + ({cell_iy_sql(lat_sql, res)} + 0.5) * {e})"


def centroid_lon_sql(lon_sql: str, res: int = tl.DEFAULT_RES) -> str:
    e = f"CAST({tl.edge_deg(res)!r} AS DOUBLE)"
    return f"(-180.0 + ({cell_ix_sql(lon_sql, res)} + 0.5) * {e})"


# ---------------------------------------------------------------------------
# Text twins
# ---------------------------------------------------------------------------

NORM_TEXT_SPARK = lambda c: F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")  # noqa: E731


def norm_text_sql(col: str) -> str:
    return f"regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"


def token_count_sql(col: str) -> str:
    return (
        f"CASE WHEN trim({col}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
    )


def stopword_ratio_sql(col: str, stopwords: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in stopwords)
    toks = f"regexp_split_to_array(lower(trim({col})), '\\s+')"
    return (
        f"(CAST(len(list_filter({toks}, x -> x IN ({inlist}))) AS DOUBLE)"
        f" / CAST(greatest(len({toks}), 1) AS DOUBLE))"
    )
