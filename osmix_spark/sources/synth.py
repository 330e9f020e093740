"""Deterministic synthetic geo layers derived from the driver's testdata.

The driver provides TPC-H-ish tables plus `documents`/`embeddings`
(TESTDATA.md). The spatial engine needs point/polygon layers; this module
derives them as PURE ARITHMETIC over integer ids so that

  1. the layers scale with the testdata scale factor,
  2. the DuckDB oracle can derive the *same* layer with the same IEEE-754
     doubles (integer modular arithmetic + double division is bit-identical
     across engines), and
  3. skew is built in: documents cluster into NUM_CLUSTERS hot spots
     (FIXTURES.md §6 "hot cells ... zipf") to exercise salting/AQE.

Every Spark Column builder here has a `*_SQL` format-string twin used
verbatim inside oracle_sql(). Keep them in lockstep.

Geometry centers follow the reference's merge-fixture centroid
(Yakima, WA: lat 46.60207 lon -120.505898 — reference
packages/core/src/mocks.ts:5-9).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CENTROID_LON = -120.505898
CENTROID_LAT = 46.60207
NUM_CLUSTERS = 10
CLUSTER_STEP_LON = 0.08
CLUSTER_STEP_LAT = 0.05
JITTER_SCALE = 100000.0  # jitter in units of 1e-5 deg, max ~0.02 deg


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


# --- clustered points (documents -> page points; skewed: cluster id is
#     zipf-ish because (id*id) % 17 % NUM_CLUSTERS over-weights low values) --

def cluster_id(id_col) -> Column:
    return ((_c(id_col) * _c(id_col) + 3) % 17) % NUM_CLUSTERS


def clustered_lon(id_col) -> Column:
    i = _c(id_col)
    return (
        F.lit(CENTROID_LON)
        + cluster_id(id_col).cast("double") * CLUSTER_STEP_LON
        + ((i * 9973) % 2000).cast("double") / JITTER_SCALE
    )


def clustered_lat(id_col) -> Column:
    i = _c(id_col)
    return (
        F.lit(CENTROID_LAT)
        + (cluster_id(id_col) % 3).cast("double") * CLUSTER_STEP_LAT
        + ((i * 7919) % 2000).cast("double") / JITTER_SCALE
    )


def clustered_sql(id_expr: str) -> tuple[str, str]:
    """(lon_sql, lat_sql) twins of clustered_lon/lat for DuckDB."""
    cid = f"((({id_expr}) * ({id_expr}) + 3) % 17) % {NUM_CLUSTERS}"
    lon = (
        f"({CENTROID_LON} + ({cid})::DOUBLE * {CLUSTER_STEP_LON}"
        f" + ((({id_expr}) * 9973) % 2000)::DOUBLE / {JITTER_SCALE})"
    )
    lat = (
        f"({CENTROID_LAT} + (({cid}) % 3)::DOUBLE * {CLUSTER_STEP_LAT}"
        f" + ((({id_expr}) * 7919) % 2000)::DOUBLE / {JITTER_SCALE})"
    )
    return lon, lat


# --- scattered points (global uniform; used for the OSM node layer) --------

def scattered_lon(id_col) -> Column:
    return -180.0 + ((_c(id_col) * 9973) % 360000).cast("double") / 1000.0


def scattered_lat(id_col) -> Column:
    return -85.0 + ((_c(id_col) * 7919) % 170000).cast("double") / 1000.0


# --- synthetic OSM versions / timestamps for merge semantics ---------------

def synth_version(id_col) -> Column:
    """Deterministic small version number 1..3."""
    return ((_c(id_col) * 31) % 3 + 1).cast("int")


def synth_version_sql(id_expr: str) -> str:
    return f"(((({id_expr}) * 31) % 3) + 1)::INT"


# --- hexagon polygons around cluster centers (nation -> polygon layer) -----

HEX_RADIUS_DEG = 0.045


def hexagon_vertices(center_lon: float, center_lat: float,
                     r: float = HEX_RADIUS_DEG) -> list[tuple[float, float]]:
    """Flat-top regular hexagon, CCW, starting at angle 0. Pure python —
    used by fixture builders and by the pandas-UDF PIP refiner."""
    import math

    return [
        (center_lon + r * math.cos(math.radians(60 * k)),
         center_lat + r * math.sin(math.radians(60 * k)))
        for k in range(6)
    ]


def cluster_center(cid: int) -> tuple[float, float]:
    return (
        CENTROID_LON + cid * CLUSTER_STEP_LON,
        CENTROID_LAT + (cid % 3) * CLUSTER_STEP_LAT,
    )
