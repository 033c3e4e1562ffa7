"""Logical-plan rewrite: ST_DWITHIN-style cross joins -> cell-cover joins.

The reference ships the un-keyed distance theta-join as SQL text and lets
Snowflake brute-force it (J4 — /root/reference/modeling/datasets/
build.py:170-176: ``LEFT JOIN test WHERE ST_DWITHIN(...)`` with no ON
clause).  Catalyst likewise will not index a spatial predicate: a user who
writes

    a.crossJoin(b).filter(haversine_km(a.lat, a.lon, b.lat, b.lon) <= km)

gets a cartesian product.  SURVEY §4 sketches the fix as an optional
optimizer rule; this module implements it as a *best-effort plan rewrite*
over the analyzed logical plan (the DataFrame-space analogue of a Catalyst
rule — no JVM extension jar needed, same effect):

  Filter(haversine(lat_a, lon_a, lat_b, lon_b) <= km [AND rest...],
         Join(L, R, Cross|Inner, no condition))
    ==>
  refine(cover_join(L, R, km))  [+ rest re-applied]

where ``cover_join`` is :func:`geocore_spark.operators.spatial_join.ring_join`
on the ``ring_plan`` cover, the candidate generator of ``distance_join``.
The original distance predicate is RE-APPLIED verbatim after the cover
join, so the rewrite is exact whenever the cover is a superset of
qualifying pairs. That holds within ``max_abs_lat`` (see
``tl.rings_for_km``); a row above it makes the rewritten query raise. The
rewrite never changes the output schema or column order.

Matching is deliberately conservative: the haversine conjunct must be
*structurally identical* to what :func:`geodesy.haversine_km` builds
(checked against the Catalyst-rendered SQL of the condition, coefficient
2*R included).  Anything else returns the input DataFrame unchanged.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocore_spark.functions.geodesy import EARTH_RADIUS_KM, haversine_km
from geocore_spark.operators.spatial_join import ring_join, ring_plan, within_band

_ID = r"`?[\w.]+`?"
_NUM = r"[0-9]+(?:\.[0-9]+)?(?:[Ee][+-]?[0-9]+)?"


def _dwithin_regex() -> re.Pattern:
    """Regex for the Catalyst SQL rendering of ``haversine_km(...) <= km``.

    Mirrors the exact parenthesization Catalyst emits for the Column tree
    built by :func:`geodesy.haversine_km` (double literals carry a ``D``
    suffix in ``Expression.sql()``).
    """
    dlat = r"\(RADIANS\(\((?P<lat2>{id}) - (?P<lat1>{id})\)\) / 2\.0D?\)".format(id=_ID)
    dlat_b = r"\(RADIANS\(\((?P=lat2) - (?P=lat1)\)\) / 2\.0D?\)"
    dlon = r"\(RADIANS\(\((?P<lon2>{id}) - (?P<lon1>{id})\)\) / 2\.0D?\)".format(id=_ID)
    dlon_b = r"\(RADIANS\(\((?P=lon2) - (?P=lon1)\)\) / 2\.0D?\)"
    a = (
        r"\(\(SIN\({dlat}\) \* SIN\({dlat_b}\)\)"
        r" \+ \(\(\(COS\(RADIANS\((?P=lat1)\)\) \* COS\(RADIANS\((?P=lat2)\)\)\)"
        r" \* SIN\({dlon}\)\) \* SIN\({dlon_b}\)\)\)"
    ).format(dlat=dlat, dlat_b=dlat_b, dlon=dlon, dlon_b=dlon_b)
    # second occurrence of the a-term: all column groups as backrefs
    a_b = (
        r"\(\(SIN\({dlat_b}\) \* SIN\({dlat_b}\)\)"
        r" \+ \(\(\(COS\(RADIANS\((?P=lat1)\)\) \* COS\(RADIANS\((?P=lat2)\)\)\)"
        r" \* SIN\({dlon_b}\)\) \* SIN\({dlon_b}\)\)\)"
    ).format(dlat_b=dlat_b, dlon_b=dlon_b)
    # haversine_km clamps the term as (a - greatest(a - 1.0, 0.0))
    # (null-preserving antipodal NaN guard, geodesy.py) — the pattern
    # must include it or the rule silently stops matching and every
    # dwithin stays cartesian
    clamp = r"\({a} - greatest\(\({a_b} - 1\.0D?\), 0\.0D?\)\)".format(a=a, a_b=a_b)
    return re.compile(
        r"^\(\((?P<coef>{num})D? \* ASIN\(SQRT\({clamp}\)\)\) (?P<op><=?) (?P<km>{num})D?\)$".format(
            num=_NUM, clamp=clamp
        )
    )


_DWITHIN_RE = _dwithin_regex()
_D_SUFFIX_RE = re.compile(r"(\d(?:\.\d+)?(?:[Ee][+-]?\d+)?)D\b")


def _strip_d_suffix(sql: str) -> str:
    """Strip Catalyst's double-literal D suffix OUTSIDE quoted regions.

    A blanket regex sub corrupts quoted content: ``tag = '3D'`` would
    become ``tag = '3'`` — a SILENTLY wrong filter (it still parses) —
    and a backticked identifier like ``p3D`` would mangle into a
    resolution error. Single-quoted literals (with backslash escapes)
    and backtick-quoted identifiers pass through untouched.
    """
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", "`"):
            j = i + 1
            while j < n:
                if ch == "'" and sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == ch:
                    j += 1
                    break
                j += 1
            out.append(sql[i:j])
            i = j
        else:
            j1 = sql.find("'", i)
            j2 = sql.find("`", i)
            j = min(x for x in (j1, j2, n) if x != -1)
            out.append(_D_SUFFIX_RE.sub(r"\1", sql[i:j]))
            i = j
    return "".join(out)


def _strip_backticks(name: str) -> str:
    return name.strip("`")


def _conjuncts(jcond):
    """Flatten a Catalyst condition into top-level AND conjuncts."""
    if jcond.getClass().getSimpleName() == "And":
        return _conjuncts(jcond.left()) + _conjuncts(jcond.right())
    return [jcond]


def _output_names(jplan) -> list[str]:
    out = jplan.output()
    return [out.apply(i).name() for i in range(out.size())]


def _of_rows(spark, jplan) -> DataFrame:
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan
    )
    return DataFrame(jdf, spark)


def rewrite_dwithin(
    df: DataFrame, res: int | None = None, max_abs_lat: float = 66.0
) -> DataFrame:
    """Rewrite a cartesian distance-filter plan into a cell-cover join.

    Returns ``df`` unchanged (the same object) when the plan doesn't match
    — callers can apply this unconditionally, like an optimizer rule.
    Exact within ``max_abs_lat`` (cover superset bound; the distance
    predicate itself is re-applied either way). A row of either side with
    ``|lat| > max_abs_lat`` makes the rewritten query raise at execution.
    """
    spark = df.sparkSession
    try:
        plan = df._jdf.queryExecution().analyzed()
    except AttributeError:  # e.g. Spark Connect: no local plan access
        return df
    if plan.nodeName() != "Filter":
        return df
    join = plan.child()
    if join.nodeName() != "Join" or join.condition().isDefined():
        return df
    jt = join.joinType().toString()
    if jt not in ("Cross", "Inner"):
        return df

    conjuncts = _conjuncts(plan.condition())
    match, rest = None, []
    for c in conjuncts:
        m = _DWITHIN_RE.match(c.sql()) if match is None else None
        if m and abs(float(m.group("coef")) - 2.0 * EARTH_RADIUS_KM) < 1e-6:
            match = m
        else:
            rest.append(c)
    if match is None:
        return df

    lat1, lon1 = _strip_backticks(match["lat1"]), _strip_backticks(match["lon1"])
    lat2, lon2 = _strip_backticks(match["lat2"]), _strip_backticks(match["lon2"])
    km = float(match["km"])
    strict = match["op"] == "<"
    left_names = _output_names(join.left())
    right_names = _output_names(join.right())
    if set(left_names) & set(right_names):
        # shared output names would make the final projection ambiguous; the
        # rule's contract is "return df unchanged when it doesn't match".
        return df

    def side(name: str) -> str | None:
        in_l, in_r = name in left_names, name in right_names
        if in_l == in_r:  # ambiguous or missing
            return None
        return "l" if in_l else "r"

    sides = {n: side(n) for n in (lat1, lon1, lat2, lon2)}
    if None in sides.values():
        return df
    if not (
        sides[lat1] == sides[lon1]
        and sides[lat2] == sides[lon2]
        and sides[lat1] != sides[lat2]
    ):
        return df  # both coords of a point must come from one side

    left_df = _of_rows(spark, join.left())
    right_df = _of_rows(spark, join.right())
    if sides[lat1] == "l":
        llat, llon, rlat, rlon = lat1, lon1, lat2, lon2
    else:
        llat, llon, rlat, rlon = lat2, lon2, lat1, lon1

    res, k = ring_plan(km, res, max_abs_lat)
    dist = haversine_km(F.col(llat), F.col(llon), F.col(rlat), F.col(rlon))
    # re-apply the predicate with the ORIGINAL comparison operator: a strict
    # '<' must stay strict or pairs at exactly km would be wrongly included.
    out = ring_join(
        within_band(left_df, llat, max_abs_lat),
        within_band(right_df, rlat, max_abs_lat),
        llat, llon, rlat, rlon, res, k,
    ).filter(dist < F.lit(km) if strict else dist <= F.lit(km))
    for c in rest:  # re-apply the non-distance conjuncts
        try:
            out = out.filter(F.expr(_strip_d_suffix(c.sql())))
        except Exception:
            return df  # unparseable leftover predicate: keep original plan
    return out.select(*[F.col(c) for c in left_names + right_names])


def cartesian_free(df: DataFrame) -> bool:
    """True if the physical plan contains no cartesian/nested-loop join —
    the assertion the rewrite's tests (and plan guards) use."""
    phys = df._jdf.queryExecution().executedPlan().toString()
    return "CartesianProduct" not in phys and "BroadcastNestedLoopJoin" not in phys
