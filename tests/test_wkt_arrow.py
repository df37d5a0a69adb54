"""The Arrow WKT parser and the CSR PIP kernel, Spark-free.

geomlite.parse_wkt_arrow must give, string by string and bit for bit,
the vertices of the per-string reference parser (_parse_wkt_one), and
geomlite.rep_points the np.add.reduce vertex mean of each row; errors
(interior rings, bad tokens) must be the reference parser's own. The
kernel test runs index.first_match_packed / all_matches_packed over
that CSR against the brute-force oracle.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_spark import geomlite as G
from gdal_spark import index as IX
from gdal_spark import synth
from gdal_spark.cells import np_geo_cell

from .oracle import pip_oracle

HOLED = "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,3 2,3 3,2 2))"

# number spellings Arrow's cast and Python's float() must agree on
num = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.floats(-180, 180).map(lambda v: f"{v:.7f}"),
    st.floats(allow_nan=False, allow_infinity=False).map(lambda v: f"{v:e}"),
    st.integers(-10**20, 10**20).map(str),
    st.sampled_from(["+1", "1.", ".5", "-.5", "1E+05", "1e-7", "1e400", "-1e400",
                     "-0", "0.0", "4.9e-324", "1e-400", "00012.50"]),
)
pair = st.tuples(num, num).map(" ".join)


@st.composite
def polygon(draw):
    ring = draw(st.lists(pair, min_size=1, max_size=12))
    if draw(st.booleans()):
        ring.append(ring[0])  # closed, as WKT writes it
    return "POLYGON((" + draw(st.sampled_from([",", ", "])).join(ring) + "))"


wkt = st.one_of(
    pair.map(lambda p: f"POINT({p})"),
    polygon(),
    st.sampled_from([None, "POINT EMPTY", "POLYGON EMPTY", "POLYGON(())",
                     "POINT (1 2)", "POLYGON ((0 0, 1 0, 1 1, 0 0))"]),
)
padded = st.one_of(
    wkt,
    st.tuples(st.sampled_from([" ", "  ", "\t", ""]), polygon(),
              st.sampled_from(["", " ", "\n"])).map("".join),
    pair.map(lambda p: f" POINT({p})\n"),
)


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.int64).tolist()


def _reference(strings):
    xs, ys = G.parse_wkt_objs(strings)
    rx = [np.add.reduce(a) / len(a) if len(a) else np.nan for a in xs]
    ry = [np.add.reduce(a) / len(a) if len(a) else np.nan for a in ys]
    return xs, ys, rx, ry


def _check_parity(strings):
    xs, ys, rx, ry = _reference(strings)
    off, fx, fy = G.parse_wkt_arrow(pa.array(strings, pa.string()))
    px, py = G.rep_points(off, fx, fy)
    assert off.tolist() == np.cumsum([0] + [len(a) for a in xs]).tolist()
    for i in range(len(strings)):
        o = slice(off[i], off[i + 1])
        assert _bits(fx[o]) == _bits(xs[i]), strings[i]
        assert _bits(fy[o]) == _bits(ys[i]), strings[i]
    assert _bits(px) == _bits(rx) and _bits(py) == _bits(ry)


@pytest.mark.filterwarnings("ignore:overflow:RuntimeWarning")
@settings(max_examples=300, deadline=None)
@given(st.lists(padded, max_size=12))
def test_parse_wkt_arrow_matches_reference(strings):
    _check_parity(strings)


@settings(max_examples=100, deadline=None)
@given(st.lists(padded, max_size=8), st.lists(padded, max_size=8),
       st.sampled_from([HOLED, "POINT(1-2 3)", "POLYGON((1 2 3))",
                        "POLYGON((1 2, e 3))", "LINESTRING(1 2, 3 4)"]))
def test_parse_wkt_arrow_raises_as_reference(head, tail, bad):
    """A batch holding a string the reference refuses raises the same
    ValueError, whether the Arrow kernels or the fallback meet it."""
    strings = head + [bad] + tail
    with pytest.raises(ValueError) as ref:
        G.parse_wkt_objs(strings)
    with pytest.raises(ValueError) as got:
        G.parse_wkt_arrow(pa.array(strings, pa.string()))
    assert str(got.value) == str(ref.value)


def test_parse_wkt_arrow_edge_cases():
    _check_parity([None, "POINT EMPTY", "POLYGON EMPTY", " POINT(1 2) ", "POINT(1 2)\n",
                   "POLYGON((5 5))", "POLYGON((5 5,5 5))", "POLYGON((0 0,1 0,1 1))",
                   "POLYGON((+1 1.,.5 1E+05,1e-7 1e400,+1 1.))"])
    off, xs, ys = G.parse_wkt_arrow(pa.array(["POINT(1 2)", "POINT(1e400 2)"]))
    assert np.diff(off).tolist() == [1, 1] and np.isinf(xs[1])
    with pytest.raises(ValueError, match="interior rings"):
        G.parse_wkt_arrow(pa.array(["POINT(1 2)", HOLED]))


@pytest.mark.parametrize("mode", ["first", "all"])
def test_csr_kernel_matches_oracle(mode):
    """The CSR kernel on docs mixing points, 8-vertex polygons, EMPTY
    and NULL geometry, against the brute-force oracle."""
    docs = synth.documents_np(3000)[["doc_id", "geom_wkt"]]
    extra = ["POINT EMPTY", "POLYGON EMPTY", None, "POLYGON((0 0,1 0,1 1,0 0))"]
    docs = pd.concat([docs, pd.DataFrame({"doc_id": [f"x{i}" for i in range(4)],
                                          "geom_wkt": extra})], ignore_index=True)
    zones = synth.zones_np(16)
    cov = IX.build_packed_cover(zones, IX.auto_level(len(zones)))
    off, xs, ys = G.parse_wkt_arrow(pa.array(docs["geom_wkt"].tolist(), pa.string()))
    px, py = G.rep_points(off, xs, ys)
    cell = np_geo_cell(np.nan_to_num(px, nan=-999.0), np.nan_to_num(py, nan=-999.0), cov.level)
    cell[np.isnan(px)] = -1
    ids = docs["doc_id"].to_numpy()
    if mode == "first":
        zone, eas = IX.first_match_packed(cov, cell, px, py, (off, xs, ys))
        got = pd.DataFrame({"doc_id": ids, "zone_id": np.where(zone < 0, np.nan, zone),
                            "eas_id": np.where(zone < 0, np.nan, eas)})
    else:
        moff, zone, eas = IX.all_matches_packed(cov, cell, px, py, (off, xs, ys))
        n = np.diff(moff)
        assert moff[-1] == len(zone) == len(eas)
        got = pd.concat([
            pd.DataFrame({"doc_id": np.repeat(ids, n), "zone_id": zone, "eas_id": eas}),
            pd.DataFrame({"doc_id": ids[n == 0], "zone_id": np.nan, "eas_id": np.nan}),
        ])
    exp = pip_oracle(docs, zones, mode)

    def norm(df):
        return (df.astype({"zone_id": "float64", "eas_id": "float64"})
                .sort_values(["doc_id", "zone_id"]).reset_index(drop=True))

    assert got["zone_id"].notna().sum() > len(docs) // 2
    pd.testing.assert_frame_equal(norm(got), norm(exp[["doc_id", "zone_id", "eas_id"]]))
