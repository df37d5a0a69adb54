"""Spatial joins: point-in-polygon (the benchmark op) and kNN support.

PIP join = the reference's spatial-filter / overlay candidate pattern
(OGRLayer::FilterGeometry 3-stage test, generic/ogrlayer.cpp:1357;
overlay Intersection's per-feature pushdown, :2128-2198) restated as:

  zones --(driver build, CSR numpy)--> broadcast PackedCover (index.py)
  docs  --(ONE vectorized pandas UDF: parse WKT -> rep point -> cell
           lookup in the broadcast -> bbox reject -> exact PIP)--> matches

The whole join is a single map stage: no shuffle, no join, no row
duplication, no per-row Python, and the only cross-task data movement
is the broadcast index itself (megabytes, once per executor). Left /
first-match semantics reproduce OGR SQL's one-to-first-match LEFT JOIN
(ogr_sql_dialect.rst:483-490); 'all' mode reproduces the overlay join's
every-intersecting-pair semantics (generic/ogrlayer.cpp:2062).

Span-order invariant: `spans` stays a nested array column on the row
through the join — shuffles (there are none here anyway) cannot reorder
it (SURVEY.md §1.1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geomlite as G
from . import index as IX
from .cells import np_geo_cell


def geom_wkt_col():
    """The single 'geom' span's WKT, pulled out of the nested spans
    array with JVM higher-order functions — no Python."""
    return F.element_at(
        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("geom")), 1
    )["text"]


_POINT_RE = r"^POINT\(([-0-9.eE+]+) ([-0-9.eE+]+)\)$"


def _fill_poly_rows(lon: np.ndarray, lat: np.ndarray, raw: pd.Series) -> dict:
    """Input adapter for the raw-docs path. Rows whose lon is NaN carry
    a non-point (or missing) WKT in `raw`: parse them Python-side
    (bounded minority), fill their rep point in place, and return the
    sparse {row: (xs, ys)} dict. Point rows never touch Python: the JVM
    already extracted their coordinates with codegen'd regexp + cast
    (both sides parse decimal -> nearest double, so parity holds)."""
    polys: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    miss = np.where(np.isnan(lon))[0]
    if len(miss):
        gxs, gys = G.parse_wkt_objs(raw.to_numpy()[miss])
        for k, i in enumerate(miss):
            xs, ys = gxs[k], gys[k]
            lon[i], lat[i] = G.rep_point(xs, ys)
            if len(xs) != 1:  # a POINT the fast path missed stays a point
                polys[int(i)] = (xs, ys)  # empty geom -> never matches
    return polys


def _polys_from_lists(lon, lat, gx: pd.Series, gy: pd.Series) -> dict:
    """Input adapter for extract_geom(_wkb) output, whose lon/lat are
    already the rep points: sparse {row: (xs, ys)} for rows whose gx/gy
    vertex list is not a single point."""
    polys: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for i, (a, b) in enumerate(zip(gx, gy)):
        if a is None or len(a) != 1:
            polys[i] = (
                np.asarray(a if a is not None else [], dtype=np.float64),
                np.asarray(b if b is not None else [], dtype=np.float64),
            )
    return polys


_GEOM = T.StructType(
    [
        T.StructField("gx", T.ArrayType(T.DoubleType())),
        T.StructField("gy", T.ArrayType(T.DoubleType())),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)


def _geom_frame(geoms: list) -> pd.DataFrame:
    """extract_geom's UDF output from per-row (xs, ys): the vertex lists
    plus the rep point."""
    rep = [G.rep_point(xs, ys) for xs, ys in geoms]
    lon, lat = np.array(rep, dtype=np.float64).reshape(-1, 2).T
    return pd.DataFrame(
        {
            "gx": [np.asarray(xs).tolist() for xs, _ in geoms],
            "gy": [np.asarray(ys).tolist() for _, ys in geoms],
            "lon": lon,
            "lat": lat,
        }
    )


def _with_geom(docs: DataFrame, g) -> DataFrame:
    docs = docs.withColumn("_g", g)
    for c in _GEOM.fieldNames():
        docs = docs.withColumn(c, F.col("_g." + c))
    return docs.drop("_g")


def extract_geom(docs: DataFrame) -> DataFrame:
    """Pull geometry out of spans, parse to vertex arrays + rep point in
    one Arrow UDF batch. Used by operators that need the vertex columns
    JVM-side (kNN, tiling); pip_join fuses this work into its own UDF."""
    docs = docs.withColumn("geom_wkt", geom_wkt_col())

    @F.pandas_udf(_GEOM)
    def parse_wkt(wkt_s: pd.Series) -> pd.DataFrame:
        return _geom_frame(list(zip(*G.parse_wkt_batch(wkt_s.to_numpy()))))

    return _with_geom(docs, parse_wkt(F.col("geom_wkt")))


def extract_geom_wkb(docs: DataFrame, wkb_col: str = "geom_wkb") -> DataFrame:
    """WKB (binary) counterpart of extract_geom — SURVEY §1.1 declares
    WKB the canonical geometry encoding, so the join path must consume
    it without a WKT round trip. 2-D little-endian POINTs (the 21-byte
    common case) unpack directly; other types go through the full WKB
    reader. Output columns match extract_geom (gx, gy, lon, lat), so
    pip_join runs unchanged."""
    import struct

    from . import geometry as GM

    def xy(v):
        if v is None:
            return np.empty(0), np.empty(0)
        v = bytes(v)
        if len(v) == 21 and v[:5] == b"\x01\x01\x00\x00\x00":
            x, y = struct.unpack_from("<2d", v, 5)
            return np.array([x]), np.array([y])
        g = GM.parse_wkb(v)
        if g.kind == "polygon" and len(g.parts[0]) > 1:
            raise ValueError("POLYGON with interior rings is unsupported")
        return g.all_points()

    @F.pandas_udf(_GEOM)
    def parse(bs: pd.Series) -> pd.DataFrame:
        return _geom_frame([xy(v) for v in bs.to_numpy()])

    return _with_geom(docs, parse(F.col(wkb_col)))


_MATCH_FIELDS = [
    T.StructField("zone_id", T.LongType()),
    T.StructField("eas_id", T.LongType()),
]
_LONLAT = [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
_OUT = {
    "first": T.StructType(_LONLAT + _MATCH_FIELDS),
    "all": T.StructType(
        _LONLAT
        + [T.StructField("matches", T.ArrayType(T.StructType(_MATCH_FIELDS)))]
    ),
}


def _make_pip_udf(bc, level: int, mode: str, polys_of):
    """The one PIP UDF: rep point -> cell -> staged match against the
    broadcast PackedCover. `polys_of(lon, lat, *geom)` is the input
    adapter that turns the geometry columns into the sparse polygon
    dict (filling polygon rep points in place). Arrow traffic on the
    raw-docs path: two doubles + a rarely-non-null string in, one small
    struct out — candidate data never rides on document rows."""

    @F.pandas_udf(_OUT[mode])
    def pip(plon: pd.Series, plat: pd.Series, *geom: pd.Series) -> pd.DataFrame:
        cov = bc.value
        lon = plon.to_numpy(dtype=np.float64, na_value=np.nan)
        lat = plat.to_numpy(dtype=np.float64, na_value=np.nan)
        polys = polys_of(lon, lat, *geom)
        cell = np_geo_cell(np.nan_to_num(lon, nan=-999.0),
                           np.nan_to_num(lat, nan=-999.0), level)
        cell[np.isnan(lon)] = -1
        out = pd.DataFrame({"lon": lon, "lat": lat})
        if mode == "first":
            zone, eas = IX.first_match_packed(cov, cell, lon, lat, polys)
            miss = zone < 0  # the -1 sentinel becomes NULL
            out["zone_id"] = pd.arrays.IntegerArray(zone, miss)
            out["eas_id"] = pd.arrays.IntegerArray(eas, miss)
        else:
            matches = IX.all_matches_packed(cov, cell, lon, lat, polys)
            out["matches"] = [
                [{"zone_id": z, "eas_id": e} for z, e in m] for m in matches
            ]
        return out

    return pip


def pip_join(docs: DataFrame, zindex: IX.ZoneIndex, mode: str = "first") -> DataFrame:
    """Join documents to zones by geometric intersection.

    docs: the raw document table (spans nested, or a geom_wkt column)
      OR extract_geom / extract_geom_wkb output (gx, gy, lon, lat).
    zindex: index.zone_index(...) — the broadcast PackedCover.
    mode 'first': one row per doc, first (lowest zone_id) match, NULLs
      when none — OGR SQL LEFT JOIN semantics (ogr_sql_dialect.rst:490).
    mode 'all': one row per intersecting pair, NULL row when none —
      overlay-join semantics (generic/ogrlayer.cpp:2062).

    Either input shape runs the same vectorized pandas UDF; only its
    input adapter differs. The output gains the rep point (lon, lat)
    and the match (zone_id, eas_id).
    """
    if mode not in _OUT:
        raise ValueError(f"mode must be 'first' or 'all', got {mode}")

    if "gx" in docs.columns:  # pre-extracted geometry: no re-parse
        src, args, polys_of = docs, ("lon", "lat", "gx", "gy"), _polys_from_lists
    else:
        src = docs if "geom_wkt" in docs.columns else docs.withColumn(
            "geom_wkt", geom_wkt_col()
        )
        # point coords extracted JVM-side (whole-stage codegen regexp +
        # cast); only non-point rows ship their WKT through Arrow
        src = (
            src.withColumn(
                "_plon", F.regexp_extract("geom_wkt", _POINT_RE, 1).cast("double")
            )
            .withColumn(
                "_plat", F.regexp_extract("geom_wkt", _POINT_RE, 2).cast("double")
            )
            .withColumn(
                "_pwkt", F.when(F.col("_plon").isNull(), F.col("geom_wkt"))
            )
        )
        args, polys_of = ("_plon", "_plat", "_pwkt"), _fill_poly_rows

    udf = _make_pip_udf(zindex.bc, zindex.level, mode, polys_of)
    j = (
        src.withColumn("_m", udf(*map(F.col, args)))
        .drop("_plon", "_plat", "_pwkt")
        .withColumn("lon", F.col("_m.lon"))
        .withColumn("lat", F.col("_m.lat"))
    )
    if mode == "all":
        j = j.withColumn("_m", F.explode_outer("_m.matches"))
    return (
        j.withColumn("zone_id", F.col("_m.zone_id"))
        .withColumn("eas_id", F.col("_m.eas_id"))
        .drop("_m")
    )


def pip_join_full(
    spark: SparkSession,
    docs: DataFrame,
    zones_pdf: pd.DataFrame,
    level: int | None = None,
    mode: str = "first",
) -> DataFrame:
    """Convenience: build + broadcast the packed cover, then pip_join."""
    zidx = IX.zone_index(spark, zones_pdf, level)
    return pip_join(docs, zidx, mode=mode)
