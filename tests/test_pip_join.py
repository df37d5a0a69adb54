"""E2E golden test for the PIP spatial join (FIXTURES.md golden #1, #3).

Semantics under test = OGRLayer::FilterGeometry staged predicate
(gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1357) with OGR SQL LEFT JOIN
row shape (ogr_sql_dialect.rst:483-490): exactly one output row per doc,
NULL zone columns when nothing intersects.
"""

import functools
import struct

import numpy as np
import pandas as pd
import pytest

from gdal_spark import geomlite as G
from gdal_spark import synth
from gdal_spark.functions import geometry as SG
from gdal_spark.joins import extract_geom, extract_geom_wkb, geom_wkt_col, pip_join_full

from .oracle import pip_oracle, span_tuples

N_DOCS = 2000
N_ZONES = 16
# extra inputs that the oracle answers with the NULL / no-match row
EMPTY_DOCS = {"docempty_pt": "POINT EMPTY", "docempty_poly": "POLYGON EMPTY"}
HOLED = "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,3 2,3 3,2 2))"


def _docs(spark, shape):
    """The synth docs (5% polygons) plus the EMPTY docs, in one of the
    three input shapes pip_join accepts: raw nested spans, extract_geom
    output, and WKB (EMPTY as a NaN NaN point and a zero-ring polygon)
    through extract_geom_wkb."""
    docs = synth.documents_df(spark, N_DOCS)
    extra = spark.createDataFrame(
        [(k, [("geom", w, "", 0)]) for k, w in EMPTY_DOCS.items()], docs.schema
    )
    docs = docs.unionByName(extra)
    if shape == "wkb":
        wkb = docs.select("doc_id", "spans", SG.st_aswkb(geom_wkt_col()).alias("geom_wkb"))
        return extract_geom_wkb(wkb)
    return docs if shape == "docs" else extract_geom(docs)


@functools.lru_cache(maxsize=None)
def _expected(mode):
    docs = synth.documents_np(N_DOCS)[["doc_id", "geom_wkt"]]
    extra = pd.DataFrame({"doc_id": list(EMPTY_DOCS), "geom_wkt": list(EMPTY_DOCS.values())})
    docs = pd.concat([docs, extra], ignore_index=True)
    return pip_oracle(docs, synth.zones_np(N_ZONES), mode)


def _result(spark, mode, shape="docs"):
    out = pip_join_full(spark, _docs(spark, shape), synth.zones_np(N_ZONES), mode=mode)
    return out.select("doc_id", "zone_id", "eas_id", "lon", "lat", "spans").toPandas()


def _ids(df):
    return (
        df[["doc_id", "zone_id", "eas_id"]]
        .astype({"zone_id": "float64", "eas_id": "float64"})
        .sort_values(["doc_id", "zone_id"])
        .reset_index(drop=True)
    )


def _check_golden(spark, mode, shape):
    got = _result(spark, mode, shape)
    exp = _expected(mode)
    pd.testing.assert_frame_equal(_ids(got), _ids(exp))
    # some docs match and some don't (NULL leg is exercised)
    assert got["zone_id"].notna().sum() > 0.5 * N_DOCS
    assert got["zone_id"].isna().sum() > 0
    return got


def test_pip_join_first_match_golden(spark):
    got = _check_golden(spark, "first", "docs")
    assert len(got) == N_DOCS + len(EMPTY_DOCS)


def test_pip_join_all_mode_golden(spark):
    _check_golden(spark, "all", "docs")


@pytest.mark.parametrize("mode", ["first", "all"])
@pytest.mark.parametrize("shape", ["extract_geom", "wkb"])
def test_pip_join_prepared_golden(spark, shape, mode):
    """The same goldens over pre-extracted geometry (gx/gy/lon/lat);
    an EMPTY doc has no vertices and a NULL rep point in every shape."""
    got = _check_golden(spark, mode, shape)
    empty = got[got.doc_id.isin(list(EMPTY_DOCS))]
    assert len(empty) == len(EMPTY_DOCS)
    assert empty[["zone_id", "lon", "lat"]].isna().all().all()


def test_wkb_empty():
    """EMPTY to WKB is the standard form (POINT: NaN NaN; POLYGON: zero
    rings), and reads back with no vertices."""
    from gdal_spark import geometry as GM

    nan2 = struct.pack("<2d", np.nan, np.nan)
    want = {"POINT EMPTY": b"\x01\x01\x00\x00\x00" + nan2,
            "POLYGON EMPTY": b"\x01\x03\x00\x00\x00\x00\x00\x00\x00"}
    for wkt, wkb in want.items():
        assert GM.to_wkb(GM.parse_wkt(wkt)) == wkb
        assert [len(a) for a in GM.parse_wkb(wkb).all_points()] == [0, 0]


def test_wkt_parsers_empty_and_holes():
    """Both WKT parsers: EMPTY -> no vertices (never matches), an
    interior ring -> a clear ValueError, never a silently dropped hole."""
    wkts = np.array(list(EMPTY_DOCS.values()) + ["POINT(1 2)"], dtype=object)
    for parse in (G.parse_wkt_batch, G.parse_wkt_objs):
        xs, ys = parse(wkts)
        assert [len(a) for a in xs] == [len(a) for a in ys] == [0, 0, 1]
        with pytest.raises(ValueError, match="interior rings"):
            parse(np.array([HOLED], dtype=object))


def test_pip_join_rejects_interior_rings(spark):
    docs = spark.createDataFrame([("holed", HOLED)], "doc_id string, geom_wkt string")
    wkb = extract_geom_wkb(docs.select("doc_id", SG.st_aswkb("geom_wkt").alias("geom_wkb")))
    for d in (docs, wkb):
        with pytest.raises(Exception, match="interior rings"):
            pip_join_full(spark, d, synth.zones_np(N_ZONES)).collect()


def test_span_order_invariance_through_join(spark):
    """Per-doc ordered (kind, text, media_ref, offset) must equal the
    generation sequence after the join (SURVEY.md §1.1 invariant)."""
    got = _result(spark, "first")
    got = got[~got.doc_id.isin(list(EMPTY_DOCS))]
    exp = synth.documents_np(N_DOCS).set_index("doc_id")
    assert len(got) == N_DOCS
    for _, row in got.iterrows():
        assert span_tuples(row["spans"]) == span_tuples(exp.loc[row["doc_id"], "spans"])


def test_pip_join_plan_has_no_shuffle(spark):
    """The join must compile to a single map stage: the spatial index
    rides a broadcast VARIABLE (not even a join node), so the physical
    plan has no Exchange of any kind and exactly one Arrow Python eval
    (the fused parse+locate+match UDF)."""
    docs = synth.documents_df(spark, 100)
    zones = synth.zones_np(N_ZONES)
    out = pip_join_full(spark, docs, zones, mode="first")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
