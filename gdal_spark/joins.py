"""Spatial joins: point-in-polygon (the benchmark op) and kNN support.

PIP join = the reference's spatial-filter / overlay candidate pattern
(OGRLayer::FilterGeometry 3-stage test, generic/ogrlayer.cpp:1357;
overlay Intersection's per-feature pushdown, :2128-2198) restated as:

  zones --(driver build, CSR numpy)--> broadcast PackedCover (index.py)
  docs  --(ONE Arrow UDF over geom_wkt: Arrow-kernel WKT parse -> CSR
           vertex arrays + rep point -> cell lookup in the broadcast ->
           bbox reject -> exact PIP -> Arrow struct out)--> matches

The whole join is a single map stage: no shuffle, no join, no row
duplication, no per-row Python for POINT / single-ring POLYGON docs,
and the only cross-task data movement is the broadcast index itself
(megabytes, once per executor). Left / first-match semantics
reproduce OGR SQL's one-to-first-match LEFT JOIN
(ogr_sql_dialect.rst:483-490); 'all' mode reproduces the overlay join's
every-intersecting-pair semantics (generic/ogrlayer.cpp:2062).

Span-order invariant: `spans` stays a nested array column on the row
through the join — shuffles (there are none here anyway) cannot reorder
it (SURVEY.md §1.1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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


# the point shape of geomlite's Arrow parser, in the positional-group
# form JVM regexp_extract takes
_POINT_RE = r"^POINT\(([-0-9.eE+]+) ([-0-9.eE+]+)\)$"


def _f64(a: pa.Array) -> np.ndarray:
    return a.to_numpy(zero_copy_only=False)  # a copy only when a NULL needs NaN


def _nan_null(a: np.ndarray) -> pa.Array:
    """A double column with NaN written as NULL: an EMPTY geometry's
    rep point is NULL."""
    return pa.array(a, mask=np.isnan(a))


_GEOM = T.StructType(
    [
        T.StructField("gx", T.ArrayType(T.DoubleType())),
        T.StructField("gy", T.ArrayType(T.DoubleType())),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)


def _geom_struct(off: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> pa.Array:
    """extract_geom's UDF output from CSR vertex arrays: the vertex
    lists (sharing the CSR buffers) plus the rep point."""
    o = pa.array(off, pa.int32())
    return pa.StructArray.from_arrays(
        [pa.ListArray.from_arrays(o, xs), pa.ListArray.from_arrays(o, ys),
         *map(_nan_null, G.rep_points(off, xs, ys))],
        names=_GEOM.fieldNames(),
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

    @F.arrow_udf(_GEOM)
    def parse_wkt(wkt: pa.Array) -> pa.Array:
        return _geom_struct(*G.parse_wkt_arrow(wkt))

    return _with_geom(docs, parse_wkt(F.col("geom_wkt")))


def extract_geom_wkb(docs: DataFrame, wkb_col: str = "geom_wkb") -> DataFrame:
    """WKB (binary) counterpart of extract_geom — SURVEY §1.1 declares
    WKB the canonical geometry encoding, so the join path must consume
    it without a WKT round trip. 2-D little-endian POINTs (the 21-byte
    common case) unpack directly; other types go through the full WKB
    reader. EMPTY (a NaN NaN point, a zero-ring polygon) has no
    vertices. Output columns match extract_geom (gx, gy, lon, lat), so
    pip_join runs unchanged."""
    import struct

    from . import geometry as GM

    def xy(v):
        if v is None:
            return np.empty(0), np.empty(0)
        if len(v) == 21 and v[:5] == b"\x01\x01\x00\x00\x00":
            x, y = struct.unpack_from("<2d", v, 5)
            if x == x or y == y:  # NaN NaN is POINT EMPTY
                return np.array([x]), np.array([y])
        g = GM.parse_wkb(v)
        if g.kind == "polygon" and len(g.parts[0]) > 1:
            raise ValueError("POLYGON with interior rings is unsupported")
        return g.all_points()

    @F.arrow_udf(_GEOM)
    def parse(bs: pa.Array) -> pa.Array:
        geoms = [xy(v) for v in bs.to_pylist()]
        return _geom_struct(*G.csr_from_lists([g[0] for g in geoms], [g[1] for g in geoms]))

    return _with_geom(docs, parse(F.col(wkb_col)))


def _csr_from_wkt(wkt: pa.Array):
    """Input adapter for raw docs: parse the WKT column."""
    off, xs, ys = G.parse_wkt_arrow(wkt)
    return (*G.rep_points(off, xs, ys), off, xs, ys)


def _csr_from_lists(lon: pa.Array, lat: pa.Array, gx: pa.Array, gy: pa.Array):
    """Input adapter for extract_geom(_wkb) output: its rep points, and
    the gx/gy ListArrays' offsets and values read as the CSR without a
    copy (a NULL list has no vertices)."""
    if gx.null_count or gy.null_count:
        gx, gy = (pc.fill_null(a, pa.scalar([], a.type)) for a in (gx, gy))
    off = gx.offsets.to_numpy().astype(np.int64)
    return _f64(lon), _f64(lat), off, _f64(gx.values), _f64(gy.values)


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


def _make_pip_udf(bc, level: int, mode: str, csr_of):
    """The one PIP UDF: rep point -> cell -> staged match against the
    broadcast PackedCover. `csr_of(*cols)` is the input adapter that
    turns the geometry columns into (px, py, off, xs, ys): rep points
    plus CSR vertex arrays. Arrow traffic on the raw-docs path: the WKT
    string in, one small struct out — candidate data never rides on
    document rows."""

    @F.arrow_udf(_OUT[mode])
    def pip(*cols: pa.Array) -> pa.Array:
        cov = bc.value
        px, py, *geom = csr_of(*cols)
        cell = np_geo_cell(np.nan_to_num(px, nan=-999.0),
                           np.nan_to_num(py, nan=-999.0), level)
        cell[np.isnan(px)] = -1
        out = [_nan_null(px), _nan_null(py)]
        if mode == "first":
            zone, eas = IX.first_match_packed(cov, cell, px, py, geom)
            miss = zone < 0  # the -1 sentinel becomes NULL
            out += [pa.array(zone, mask=miss), pa.array(eas, mask=miss)]
        else:
            off, zone, eas = IX.all_matches_packed(cov, cell, px, py, geom)
            m = pa.StructArray.from_arrays([zone, eas], names=["zone_id", "eas_id"])
            out.append(pa.ListArray.from_arrays(pa.array(off, pa.int32()), m))
        return pa.StructArray.from_arrays(out, names=_OUT[mode].fieldNames())

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

    Either input shape runs the same Arrow UDF; only its input adapter
    differs. The output gains the rep point (lon, lat)
    and the match (zone_id, eas_id).
    """
    if mode not in _OUT:
        raise ValueError(f"mode must be 'first' or 'all', got {mode}")

    if "gx" in docs.columns:  # pre-extracted geometry: no re-parse
        src, args, csr_of = docs, ("lon", "lat", "gx", "gy"), _csr_from_lists
    else:
        src = docs if "geom_wkt" in docs.columns else docs.withColumn(
            "geom_wkt", geom_wkt_col()
        )
        args, csr_of = ("geom_wkt",), _csr_from_wkt

    udf = _make_pip_udf(zindex.bc, zindex.level, mode, csr_of)
    j = (
        src.withColumn("_m", udf(*map(F.col, args)))
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
