"""Geometry functions (reference: F1-F4, SURVEY §2.8).

The reference delegates to external packages — ``qcore.coordinates`` for
WGS84↔NZTM (nshmdb/nshmdb.py:414,564; nshmdb/api.py:248), ``pyproj.Geod``
for dip-direction azimuth (nshmdb/api.py:201-220), ``shapely`` for trace
cleanup (nshmdb/api.py:250-263), and ``source_modelling.Plane`` for corner
construction (nshmdb/api.py:268-277). None of those are assumptions here:
everything below is self-contained vectorized NumPy implementing the public
formulas, exposed to Spark as Arrow-batched pandas UDFs — geometry runs at
INGEST time only and never in the query path (SURVEY §7 "what's hard" (e)).

Projection: NZTM2000 = Transverse Mercator on GRS80 with the published LINZ
parameters (origin lat 0, central meridian 173°E, k0 0.9996, false easting
1,600,000 m, false northing 10,000,000 m), computed with the 4th-order
Krüger series (Karney 2011, "Transverse Mercator with an accuracy of a few
nanometers") — sub-millimetre over the NZTM domain.

Deviation (documented): dip-direction azimuth uses the spherical
initial-bearing formula instead of the WGS84 geodesic inverse; for the
short (< 50 km) trace segments involved the difference is < 0.2°, well
inside the data's own precision.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# NZTM2000 constants (LINZ-published; GRS80 ellipsoid)
# --------------------------------------------------------------------------

_A = 6_378_137.0                    # GRS80 semi-major axis (m)
_F = 1.0 / 298.257222101            # GRS80 flattening
_K0 = 0.9996                        # NZTM central-meridian scale
_LON0 = 173.0                       # NZTM central meridian (°E)
_FE = 1_600_000.0                   # false easting (m)
_FN = 10_000_000.0                  # false northing (m)

_N = _F / (2.0 - _F)                # third flattening n
_E = math.sqrt(_F * (2.0 - _F))     # eccentricity e
# Rectifying radius A = a/(1+n) (1 + n²/4 + n⁴/64 + …)
_RECT_A = _A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)

# Krüger forward (alpha) / inverse (beta) series, 4th order in n.
_ALPHA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0 + 41.0 * _N**4 / 180.0,
    13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0 + 557.0 * _N**4 / 1440.0,
    61.0 * _N**3 / 240.0 - 103.0 * _N**4 / 140.0,
    49561.0 * _N**4 / 161280.0,
)
_BETA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 37.0 * _N**3 / 96.0 - _N**4 / 360.0,
    _N**2 / 48.0 + _N**3 / 15.0 - 437.0 * _N**4 / 1440.0,
    17.0 * _N**3 / 480.0 - 37.0 * _N**4 / 840.0,
    4397.0 * _N**4 / 161280.0,
)


def wgs_to_nztm(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 degrees → NZTM2000 (northing m, easting m), vectorized.

    Same convention as the reference's ``wgs_depth_to_nztm`` (y=north first).
    """
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - _LON0)

    # Conformal latitude via the exact Gauss-Schreiber relation.
    t = np.sinh(np.arctanh(np.sin(phi)) - _E * np.arctanh(_E * np.sin(phi)))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))

    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)

    northing = _FN + _K0 * _RECT_A * xi
    easting = _FE + _K0 * _RECT_A * eta
    return northing, easting


def nztm_to_wgs(northing: np.ndarray, easting: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """NZTM2000 (m) → WGS84 (lat°, lon°), vectorized; inverse of
    :func:`wgs_to_nztm` to < 1e-9 degrees."""
    xi = (np.asarray(northing, dtype=np.float64) - _FN) / (_K0 * _RECT_A)
    eta = (np.asarray(easting, dtype=np.float64) - _FE) / (_K0 * _RECT_A)

    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)

    t = np.sin(xi_p) / np.hypot(np.sinh(eta_p), np.cos(xi_p))
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))

    # Invert the conformal latitude by Newton iteration on
    # f(phi) = sinh(atanh(sin phi) - e atanh(e sin phi)) - t.
    phi = np.arctan(t)
    for _ in range(5):
        s = np.sin(phi)
        ft = np.sinh(np.arctanh(s) - _E * np.arctanh(_E * s)) - t
        # d/dphi of the conformal sinh term.
        dft = (
            np.cosh(np.arctanh(s) - _E * np.arctanh(_E * s))
            * (1.0 - _E**2)
            / ((1.0 - (_E * s) ** 2) * np.cos(phi))
        )
        phi = phi - ft / dft

    return np.degrees(phi), np.degrees(lam) + _LON0


def initial_bearing(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Initial great-circle bearing (° clockwise from north), vectorized."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dl = np.radians(np.asarray(lon2) - np.asarray(lon1))
    y = np.sin(dl) * np.cos(p2)
    x = np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(dl)
    return np.degrees(np.arctan2(y, x)) % 360.0


def dip_direction(start_lonlat: np.ndarray, end_lonlat: np.ndarray) -> float:
    """F2 — strike azimuth of a trace segment + 90°, in [0, 360)
    (reference semantics: nshmdb/api.py:201-220)."""
    b = initial_bearing(
        start_lonlat[0], start_lonlat[1], end_lonlat[0], end_lonlat[1]
    )
    return float((b + 90.0) % 360.0)


def dedupe_consecutive(points: np.ndarray) -> np.ndarray:
    """F3 — drop exact consecutive duplicate points from a trace
    (reference: shapely.remove_repeated_points with tolerance 0,
    nshmdb/api.py:250-263)."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) < 2:
        return pts
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = np.any(pts[1:] != pts[:-1], axis=1)
    return pts[keep]


def planes_from_trace(
    trace_lonlat: np.ndarray,
    top_km: float,
    bottom_km: float,
    dip_deg: float,
    dip_dir_deg: float | None = None,
) -> list[np.ndarray]:
    """F4 — consecutive-pair plane construction from a WGS84 trace
    (reference: nshmdb/api.py:268-277 over source_modelling's
    ``Plane.from_nztm_trace``).

    Each pair of consecutive trace points becomes one quadrilateral: the
    two trace points at ``top_km`` depth, plus the same points displaced
    horizontally down-dip by (bottom-top)/tan(dip) km along the
    ``dip_dir_deg`` azimuth at ``bottom_km`` depth. Vertical planes
    (dip 90°, reference passes dip_dir=0 then) get zero offset.

    Returns one 4×3 corner array per segment, rows = (top_left, top_right,
    bottom_right, bottom_left), columns = (lat, lon, depth_km) — the layout
    the fault_plane schema flattens (schema.sql:20-34).
    """
    pts = dedupe_consecutive(trace_lonlat)
    if len(pts) < 2:
        return []
    if dip_dir_deg is None:
        dip_dir_deg = dip_direction(pts[0], pts[1])
    if dip_deg == 90.0:
        dip_dir_deg = 0.0

    north, east = wgs_to_nztm(pts[:, 1], pts[:, 0])
    offset_m = (
        0.0
        if dip_deg == 90.0
        else (bottom_km - top_km) / math.tan(math.radians(dip_deg)) * 1000.0
    )
    az = math.radians(dip_dir_deg)
    dn, de = offset_m * math.cos(az), offset_m * math.sin(az)

    bot_lat, bot_lon = nztm_to_wgs(north + dn, east + de)
    top_lat, top_lon = pts[:, 1], pts[:, 0]

    planes = []
    for j in range(len(pts) - 1):
        planes.append(
            np.array(
                [
                    [top_lat[j], top_lon[j], top_km],
                    [top_lat[j + 1], top_lon[j + 1], top_km],
                    [bot_lat[j + 1], bot_lon[j + 1], bottom_km],
                    [bot_lat[j], bot_lon[j], bottom_km],
                ]
            )
        )
    return planes


# --------------------------------------------------------------------------
# Spark-facing wrappers — ingest-time only
# --------------------------------------------------------------------------

_CORNERS = ("top_left", "top_right", "bottom_right", "bottom_left")


def _plane_row_schema(id_fields: list[T.StructField]) -> T.StructType:
    return T.StructType(
        list(id_fields)
        + [
            T.StructField(f"{c}_{ax}", T.DoubleType(), False)
            for c in _CORNERS
            for ax in ("lat", "lon")
        ]
        + [
            T.StructField("top_depth", T.DoubleType(), False),
            T.StructField("bottom_depth", T.DoubleType(), False),
            T.StructField("segment_idx", T.IntegerType(), False),
        ]
    )


PLANE_ROW_SCHEMA = _plane_row_schema([T.StructField("fault_nshm_id", T.LongType(), False)])


def _planes_batch(batch: pd.DataFrame, id_cols: list[str], out_cols: list[str]) -> pd.DataFrame:
    rows = []
    for r in batch.itertuples(index=False):
        trace = np.asarray([[p[0], p[1]] for p in r.trace], dtype=np.float64)
        dip_dir = None if pd.isna(r.dip_dir) else float(r.dip_dir)
        for seg, corners in enumerate(
            planes_from_trace(trace, r.top_depth, r.bottom_depth, r.dip, dip_dir)
        ):
            flat = {c: getattr(r, c) for c in id_cols}
            for (cname, (lat, lon, _)) in zip(_CORNERS, corners):
                flat[f"{cname}_lat"] = lat
                flat[f"{cname}_lon"] = lon
            flat["top_depth"] = r.top_depth
            flat["bottom_depth"] = r.bottom_depth
            flat["segment_idx"] = seg
            rows.append(flat)
    return pd.DataFrame(rows, columns=out_cols)


def traces_to_planes(
    traces: DataFrame, id_cols: list[str] | None = None
) -> DataFrame:
    """Distributed plane construction: input columns (``id_cols`` —
    default [fault_nshm_id] — plus trace: array<array<double>> of
    [lon, lat], top_depth, bottom_depth, dip, dip_dir nullable) → one
    fault_plane row per trace segment, id columns passed through (include
    fault_system when frames span systems — nshm ids are only unique per
    system, schema.sql:47).

    ``mapInPandas`` keeps this embarrassingly parallel — no shuffle, no
    state; each Arrow batch of faults expands independently, so at 100 TB
    the cost is one pass over the trace partitions.
    """
    id_cols = id_cols or ["fault_nshm_id"]
    schema = _plane_row_schema(
        [traces.schema[c] for c in id_cols]
    )
    out_cols = [f.name for f in schema.fields]
    cols = [*id_cols, "trace", "top_depth", "bottom_depth", "dip", "dip_dir"]

    def gen(batches: Iterable[pd.DataFrame]):
        for b in batches:
            yield _planes_batch(b, id_cols, out_cols)

    return traces.select(*cols).mapInPandas(gen, schema)
