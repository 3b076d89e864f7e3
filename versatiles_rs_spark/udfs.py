"""Column-level tile math for Spark DataFrames.

Two tiers, chosen per the scale mandate ("UDFs are the slow path"):

1. **Pure column expressions** (`tile_x_expr` / `tile_y_expr` / ...) — the
   lat/lng->tile formula (tile_coord.rs:64-80) is plain arithmetic, so the hot
   path stays JVM-side inside whole-stage codegen and is visible to Catalyst
   (predicate pushdown onto z/x/y partition columns works through them).
2. **Vectorized pandas UDFs** (Hilbert index, decode) for math that SQL can't
   express — Arrow-batched numpy, never per-row Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from . import tile_math as tm


def single_eval(col: Column) -> Column:
    """Evaluate-once barrier for a Python UDF column that feeds a JOIN KEY.

    Catalyst's ExtractPythonUDFs materializes a UDF referenced as both a
    join key and a surviving output column as TWO stacked ArrowEvalPython
    nodes — the whole assignment kernel runs twice. Wrapping the UDF in
    explode(array(...)) inserts a Generate node, which is a projection
    barrier the extractor does not duplicate across; the array/explode pair
    is semantically the identity and costs nothing measurable. Plan-gated
    in tests/test_plan_quality.py (ann_ivf: exactly 2 Arrow evals)."""
    return F.explode(F.array(col))


# ---------------------------------------------------------------------------
# Tier 1: JVM-side column expressions (whole-stage codegen)
# ---------------------------------------------------------------------------


def tile_x_frac_expr(lon: Column, z) -> Column:
    """Fractional tile x: 2^z * (lon/360 + 0.5). tile_coord.rs:71-72."""
    zoom = F.pow(F.lit(2.0), z)
    return zoom * (lon / F.lit(360.0) + F.lit(0.5))


def tile_y_frac_expr(lat: Column, z) -> Column:
    """Fractional tile y: 2^z * (0.5 - ln(tan(lat*pi/360 + pi/4))/(2*pi)).

    tile_coord.rs:73 (PI32 is f64 pi).
    """
    zoom = F.pow(F.lit(2.0), z)
    pi = F.lit(3.141592653589793)
    return zoom * (
        F.lit(0.5) - F.lit(0.5) * F.log(F.tan(lat * pi / F.lit(360.0) + pi / F.lit(4.0))) / pi
    )


def _clamp_floor(frac: Column, z) -> Column:
    """min(zoom-1).max(0).floor() per tile_coord.rs:75-79 (clamp floats, then floor)."""
    zoom = F.pow(F.lit(2.0), z)
    return F.floor(F.greatest(F.least(frac, zoom - F.lit(1.0)), F.lit(0.0))).cast("long")


def tile_x_expr(lon: Column, z) -> Column:
    return _clamp_floor(tile_x_frac_expr(lon, z), z)


def tile_y_expr(lat: Column, z) -> Column:
    return _clamp_floor(tile_y_frac_expr(lat, z), z)


def _pow2_long(z: Column) -> Column:
    """2^z as bigint for a *column* z (shiftleft needs a literal bit count)."""
    return F.pow(F.lit(2.0), z).cast("long")


def flip_y_expr(z: Column, y: Column) -> Column:
    """TMS <-> XYZ y flip (tile_coord.rs:179-181)."""
    return _pow2_long(z) - F.lit(1) - y


def block_expr(xy: Column, block_size: int) -> Column:
    shift = int(block_size).bit_length() - 1
    return F.shiftright(xy, shift)


def with_tile_columns(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zoom: int = 12,
    prefix: str = "",
) -> DataFrame:
    """Assign (z, x, y) at a fixed zoom — the engine's core projection.

    All JVM-side; `.explain` shows a single Project inside WholeStageCodegen.
    """
    zc = F.lit(zoom)
    return (
        df.withColumn(f"{prefix}z", zc.cast("int"))
        .withColumn(f"{prefix}x", tile_x_expr(F.col(lon_col), zc))
        .withColumn(f"{prefix}y", tile_y_expr(F.col(lat_col), zc))
    )


# ---------------------------------------------------------------------------
# Tier 2: Arrow-vectorized pandas UDFs (non-SQL-expressible math)
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def hilbert_index_udf(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """PMTiles Hilbert tile_id (tile_hilbert_index.rs:81-113), numpy-vectorized."""
    return pd.Series(
        tm.hilbert_index(z.to_numpy("int64"), x.to_numpy("int64"), y.to_numpy("int64"))
    )


def with_hilbert(df: DataFrame, z="z", x="x", y="y", out: str = "hilbert") -> DataFrame:
    return df.withColumn(out, hilbert_index_udf(F.col(z), F.col(x), F.col(y)))


# ---------------------------------------------------------------------------
# Deterministic coordinate derivation (FIXTURES.md §1)
# ---------------------------------------------------------------------------
# lon/lat are derived from an int64 key by Knuth multiplicative hashing so that
# Spark and any ANSI-SQL oracle compute bit-identical doubles. Used both by the
# fixture generator (phash -> lon/lat) and by testdata-table queries.

_LON_MULT = 2654435761  # Knuth 2^32 golden-ratio multiplier
_LAT_MULT = 2246822519  # xxhash prime2
_MOD = 4294967296


_KEY_MOD = 1048576  # reduce keys to 20 bits first so key*mult never overflows int64


def derived_lon_expr(key: Column) -> Column:
    h = F.pmod(F.pmod(key, F.lit(_KEY_MOD)) * F.lit(_LON_MULT), F.lit(_MOD))
    return h / F.lit(float(_MOD)) * F.lit(360.0) - F.lit(180.0)


def derived_lat_expr(key: Column) -> Column:
    h = F.pmod(F.pmod(key, F.lit(_KEY_MOD)) * F.lit(_LAT_MULT), F.lit(_MOD))
    return h / F.lit(float(_MOD)) * F.lit(170.0) - F.lit(85.0)


def derived_lonlat_sql(key_sql: str) -> tuple[str, str]:
    """The same derivation as ANSI SQL (for DuckDB oracles)."""
    lon = f"(((({key_sql}) % {_KEY_MOD}) * {_LON_MULT}) % {_MOD}) / {_MOD}.0 * 360.0 - 180.0"
    lat = f"(((({key_sql}) % {_KEY_MOD}) * {_LAT_MULT}) % {_MOD}) / {_MOD}.0 * 170.0 - 85.0"
    return lon, lat


# Nonlinear (xor-mixed) point scatter for POINT-PATTERN statistics.
#
# The linear derived_lon/lat pair maps sequential ids onto a rank-1 lattice
# whose minimum 2D spacing is ~sqrt(area/n) — NO pairs exist at sub-degree
# radii, so pair statistics (Ripley's K, co-location) would be degenerate
# zeros. One xor-shift between two 32-bit multiplies breaks the linearity
# (measured: n=1000 gives 46 ordered pairs within 1 degree vs CSR's
# expected ~51; the lattice gives 0). All arithmetic stays in int64
# (32-bit products; shifts as floor division of non-negative values) and
# the xor spells bitwiseXOR in Spark, xor() in DuckDB — VALUES, not
# expression text, are the cross-engine contract.


def _scatter_h(key: Column, mult_a: int, shift: int, mult_b: int) -> Column:
    h1 = F.pmod(F.pmod(key, F.lit(_KEY_MOD)) * F.lit(mult_a), F.lit(_MOD))
    # reduce the mixed value to 20 bits before the second multiply: a full
    # 32-bit mix x a 32-bit multiplier exceeds int64 (Spark wraps silently,
    # DuckDB raises — the same overflow class as the PageRank guard)
    mix = F.pmod(
        h1.bitwiseXOR(F.floor(h1 / F.lit(1 << shift)).cast("long")),
        F.lit(_KEY_MOD),
    )
    return F.pmod(mix * F.lit(mult_b), F.lit(_MOD))


def scatter_lon_expr(key: Column) -> Column:
    h = _scatter_h(key, _LON_MULT, 13, _LAT_MULT)
    return h / F.lit(float(_MOD)) * F.lit(360.0) - F.lit(180.0)


def scatter_lat_expr(key: Column) -> Column:
    h = _scatter_h(key, _LAT_MULT, 17, _LON_MULT)
    return h / F.lit(float(_MOD)) * F.lit(170.0) - F.lit(85.0)


def scatter_lonlat_sql(key_sql: str) -> tuple[str, str]:
    """The same scatter derivation as DuckDB SQL (xor() + // on
    non-negative ints — exact int64 twins of the Spark expressions)."""
    h1 = f"(((({key_sql}) % {_KEY_MOD}) * {_LON_MULT}) % {_MOD})"
    g1 = f"(((({key_sql}) % {_KEY_MOD}) * {_LAT_MULT}) % {_MOD})"
    lon = (f"(((xor({h1}, {h1} // 8192) % {_KEY_MOD}) * {_LAT_MULT}) % {_MOD})"
           f" / {_MOD}.0 * 360.0 - 180.0")
    lat = (f"(((xor({g1}, {g1} // 131072) % {_KEY_MOD}) * {_LON_MULT}) % {_MOD})"
           f" / {_MOD}.0 * 170.0 - 85.0")
    return lon, lat


def tile_xy_sql(lon_sql: str, lat_sql: str, zoom: int) -> tuple[str, str]:
    """ANSI-SQL rendering of the tile formula (oracle side of the contract)."""
    zf = float(1 << zoom)
    pi = "3.141592653589793"
    x = f"CAST(floor(greatest(least({zf} * (({lon_sql}) / 360.0 + 0.5), {zf} - 1.0), 0.0)) AS BIGINT)"
    y = (
        f"CAST(floor(greatest(least({zf} * (0.5 - 0.5 * ln(tan(({lat_sql}) * {pi} / 360.0 + {pi} / 4.0)) / {pi}), "
        f"{zf} - 1.0), 0.0)) AS BIGINT)"
    )
    return x, y


def schema_with(schema, *cols):
    """Copy of a StructType with extra (name, type) fields appended —
    StructType.add mutates in place, which corrupts a DataFrame's cached
    schema, so never call .add on df.schema."""
    from pyspark.sql.types import StructType, StructField, _parse_datatype_string
    fields = list(schema.fields)
    for name, dt in cols:
        fields.append(StructField(name, _parse_datatype_string(dt)))
    return StructType(fields)


def log2_fp_stages(k: int, x_col: str = "x", div: str = "div") -> list[tuple[str, str]]:
    """Staged column definitions computing EXACT fixed-point
    floor(log2(x) * 2^k) for a positive-integer column `x_col` — the
    classic bit-by-bit mantissa-squaring log, float-free except one
    pow(2.0, e) whose argument is an exact small integer (IEEE-exact to
    2^53 in both engines).

    Returns [(col_name, sql_expr), ...] to apply IN ORDER (Spark:
    chained withColumn(F.expr(...)); DuckDB: chained `SELECT *, expr AS
    name FROM prev` CTEs — each intermediate must be a NAMED column,
    never inlined: the squared mantissa is referenced three times per
    step and textual inlining would blow up 3^k (the lambda-CSE lesson
    at the SQL-text level).  Final value lands in column `lg`.
    Contract: 1 <= x < 2^33 (mantissa shift keeps x * 2^30 in int64)."""
    stages = [
        ("e2", f"CAST(length(bin({x_col})) - 1 AS BIGINT)"),
        ("p2", "CAST(pow(2.0, e2) AS BIGINT)"),
        ("m0", f"(({x_col}) * 1073741824) {div} p2"),
        ("f0", "CAST(0 AS BIGINT)"),
    ]
    for i in range(1, k + 1):
        stages.append((f"s{i}", f"(m{i - 1} * m{i - 1}) {div} 1073741824"))
        stages.append(
            (f"m{i}", f"CASE WHEN s{i} >= 2147483648 THEN s{i} {div} 2 ELSE s{i} END")
        )
        stages.append(
            (f"f{i}", f"f{i - 1} * 2 + CASE WHEN s{i} >= 2147483648 THEN 1 ELSE 0 END")
        )
    stages.append(("lg", f"e2 * {1 << k} + f{k}"))
    return stages
