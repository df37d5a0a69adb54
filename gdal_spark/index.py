"""Broadcast cell-cover spatial index.

Plays the role of the reference's spatial indexes — the shapefile .qix
quadtree probe (gdal/ogr/ogrsf_frmts/shape/ogrshapelayer.cpp:541,621-668)
and the in-memory CPLQuadTree (gdal/port/cpl_quad_tree.cpp:149) — but
re-expressed for Spark's execution model:

  zone polygons (small side) -> every geodetic grid cell their dilated
  bbox touches -> a CSR-packed numpy bundle (cell -> candidate zones,
  zone -> bbox + exterior ring) shipped ONCE per executor as a Spark
  broadcast variable.

The big documents side never joins, never shuffles, and never carries a
byte of candidate data per row: a single Arrow UDF looks its cell up
in the broadcast index (np.searchsorted) and runs the staged exact test
(OGRLayer::FilterGeometry, generic/ogrlayer.cpp:1357 — bbox reject
:1377-1382, exact Intersects :1449-1462) over flat numpy arrays: the
docs arrive as CSR vertex arrays, so polygon docs too are handled with
no per-doc or per-pair Python.

Why not a broadcast hash JOIN against a cover DataFrame: that plan
re-serializes the driver-local cover on every action and — worse —
materializes the candidate arrays onto every matching document row, so
at 10^12 docs the Arrow channel carries candidates ~per-doc (petabytes)
instead of the index once per executor (megabytes).

Scale: cover ~= 4-9 candidate slots per zone; 10^4 zones -> a few MB.
At 10^6+ zones, shard the packed cover by cell-id range and turn the
lookup into a shuffled join on cell prefix — the kernel below is
unchanged, only the shipping strategy differs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from . import geomlite as G
from .cells import geo_cell_xy, pack_geo_cell


def auto_level(n_zones: int) -> int:
    """Index level with cell pitch ~ half the zone pitch: candidates per
    cell stay O(1) regardless of zone count."""
    g = max(1, int(round(math.sqrt(n_zones))))
    return min(14, max(3, int(math.ceil(math.log2(g))) + 1))


class PackedCover:
    """Picklable CSR bundle: the whole spatial index as 12 flat numpy
    arrays (no Python objects inside — unpickles in O(bytes))."""

    __slots__ = (
        "level", "cells", "off", "cand_zone",
        "zone_id", "eas_id", "zxmin", "zymin", "zxmax", "zymax",
        "ring_off", "ring_len", "ring_x", "ring_y",
    )

    def __init__(self, **kw):
        for k in self.__slots__:
            setattr(self, k, kw[k])

    def __getstate__(self):
        return {k: getattr(self, k) for k in self.__slots__}

    def __setstate__(self, state):
        for k, v in state.items():
            setattr(self, k, v)


def build_packed_cover(
    zones: pd.DataFrame, level: int, dilation: float = 0.011
) -> PackedCover:
    """Driver-side cover build (zones are the broadcast side by design).

    dilation expands each zone bbox by the maximum document-geometry
    radius (0.01 deg polygon buffer + grid slack) so a document whose
    own polygon straddles a cell border still finds every zone it can
    intersect in its representative point's cell candidate list.

    Candidates within a cell are sorted by zone_id — "first match" is
    then the first hit in pair order, reproducing OGR SQL's
    one-to-first-match LEFT JOIN determinism (ogr_sql_dialect.rst:483-490).
    """
    zid = zones["zone_id"].to_numpy(dtype=np.int64)
    eas = zones["eas_id"].to_numpy(dtype=np.int64)
    zxmin = zones["xmin"].to_numpy(dtype=np.float64)
    zymin = zones["ymin"].to_numpy(dtype=np.float64)
    zxmax = zones["xmax"].to_numpy(dtype=np.float64)
    zymax = zones["ymax"].to_numpy(dtype=np.float64)
    xs_list = zones["xs"].tolist()
    ys_list = zones["ys"].tolist()

    cell_keys: list[int] = []
    zone_idxs: list[int] = []
    for k in range(len(zid)):
        cx0, cy0 = geo_cell_xy(zxmin[k] - dilation, zymin[k] - dilation, level)
        cx1, cy1 = geo_cell_xy(zxmax[k] + dilation, zymax[k] + dilation, level)
        for cx in range(cx0, cx1 + 1):
            for cy in range(cy0, cy1 + 1):
                cell_keys.append(pack_geo_cell(cx, cy, level))
                zone_idxs.append(k)

    cell_arr = np.asarray(cell_keys, dtype=np.int64)
    zidx_arr = np.asarray(zone_idxs, dtype=np.int64)
    order = np.lexsort((zid[zidx_arr], cell_arr))
    cell_sorted = cell_arr[order]
    cand_zone = zidx_arr[order].astype(np.int32)
    cells, starts = np.unique(cell_sorted, return_index=True)
    off = np.append(starts, len(cell_sorted)).astype(np.int64)

    ring_len = np.array([len(a) for a in xs_list], dtype=np.int64)
    ring_off = np.concatenate([[0], np.cumsum(ring_len)])[:-1]
    ring_x = (
        np.concatenate([np.asarray(a, dtype=np.float64) for a in xs_list])
        if len(xs_list) else np.empty(0)
    )
    ring_y = (
        np.concatenate([np.asarray(a, dtype=np.float64) for a in ys_list])
        if len(ys_list) else np.empty(0)
    )
    return PackedCover(
        level=level, cells=cells, off=off, cand_zone=cand_zone,
        zone_id=zid, eas_id=eas,
        zxmin=zxmin, zymin=zymin, zxmax=zxmax, zymax=zymax,
        ring_off=ring_off, ring_len=ring_len, ring_x=ring_x, ring_y=ring_y,
    )


class ZoneIndex:
    """Handle pairing the broadcast PackedCover with its grid level."""

    def __init__(self, bc, level: int):
        self.bc = bc
        self.level = level


def zone_index(
    spark: SparkSession,
    zones: pd.DataFrame,
    level: int | None = None,
    dilation: float = 0.011,
) -> ZoneIndex:
    lvl = auto_level(len(zones)) if level is None else level
    cov = build_packed_cover(zones, lvl, dilation)
    return ZoneIndex(spark.sparkContext.broadcast(cov), lvl)


# ---------------------------------------------------------------- numpy side
def _doc_bboxes(px, py, off, xs, ys, is_poly):
    """Per-doc (xmin, xmax, ymin, ymax): the rep point for a point doc,
    the vertex extent of a polygon doc (one reduceat over the CSR runs),
    NaN for a doc without vertices, which then fails every bbox test."""
    runs = np.flatnonzero(np.diff(off))
    poly = is_poly[runs]
    rows = runs[poly]
    out = []
    for p, v, red in ((px, xs, np.minimum), (px, xs, np.maximum),
                      (py, ys, np.minimum), (py, ys, np.maximum)):
        b = np.where(is_poly, np.nan, p)
        if len(runs):
            b[rows] = red.reduceat(v[: off[-1]], off[runs])[poly]
        out.append(b)
    return out


def eval_pairs_packed(
    cov: PackedCover,
    cell: np.ndarray,
    px: np.ndarray,
    py: np.ndarray,
    geom: tuple | None = None,
):
    """Expand each doc to its cell's candidate zones and run the staged
    test. Returns (doc_idx, zone_pos) arrays of HIT pairs only, ordered
    by (doc, zone_id asc) — candidates are pre-sorted in the cover.

    px/py: per-doc representative point (the point itself for point
    docs). geom: the docs' CSR vertex arrays (off[B+1], xs, ys), as
    geomlite.parse_wkt_arrow returns them; a doc with other than one
    vertex is a polygon, and one with none never matches. None means
    every doc is a point. No step loops over docs or pairs in Python.

    Stage structure mirrors FilterGeometry (ogrlayer.cpp:1357):
      1. candidate cells (np.searchsorted on the broadcast index) —
         quadtree-probe analog
      2. bbox reject (:1377-1382) — vectorized over all (doc,cand) pairs
      3. exact intersects (:1449-1462) — pip_pairs / intersects_pairs
    """
    B = len(px)
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    if len(cov.cells) == 0 or B == 0:
        return empty

    pos = np.searchsorted(cov.cells, cell)
    pos_c = np.minimum(pos, len(cov.cells) - 1)
    found = cov.cells[pos_c] == cell
    start = np.where(found, cov.off[pos_c], 0)
    end = np.where(found, cov.off[pos_c + 1], 0)
    ncand = end - start
    total = int(ncand.sum())
    if total == 0:
        return empty

    doc_idx = np.repeat(np.arange(B), ncand)
    cum0 = np.cumsum(ncand) - ncand
    within = np.arange(total) - np.repeat(cum0, ncand)
    z = cov.cand_zone[np.repeat(start, ncand) + within].astype(np.int64)

    is_poly = None
    dxmin = dxmax = px
    dymin = dymax = py
    if geom is not None:
        off, xs, ys = geom
        is_poly = np.diff(off) != 1
        if is_poly.any():
            dxmin, dxmax, dymin, dymax = _doc_bboxes(px, py, off, xs, ys, is_poly)
        else:
            is_poly = None

    keep = (
        (dxmax[doc_idx] >= cov.zxmin[z])
        & (dxmin[doc_idx] <= cov.zxmax[z])
        & (dymax[doc_idx] >= cov.zymin[z])
        & (dymin[doc_idx] <= cov.zymax[z])
    )
    if not keep.any():
        return empty

    sel = np.where(keep)[0]
    zs = z[sel]
    rl = cov.ring_len[zs]
    Lmax = int(rl.max())
    take = cov.ring_off[zs, None] + np.minimum(np.arange(Lmax)[None, :], rl[:, None] - 1)
    RX = cov.ring_x[take]
    RY = cov.ring_y[take]
    d_of_pair = doc_idx[sel]

    hits = np.zeros(len(sel), dtype=bool)
    if is_poly is None:
        hits[:] = G.pip_pairs(px[d_of_pair], py[d_of_pair], RX, RY, rl)
    else:
        pt_pair = ~is_poly[d_of_pair]
        if pt_pair.any():
            pp = np.where(pt_pair)[0]
            hits[pp] = G.pip_pairs(
                px[d_of_pair[pp]], py[d_of_pair[pp]], RX[pp], RY[pp], rl[pp]
            )
        poly_rows = np.where(~pt_pair)[0]
        if len(poly_rows):
            # pad each pair's doc ring by repeating its last vertex (one
            # gather; every doc here has a vertex, else its bbox is NaN),
            # then one vectorized intersects over all polygon pairs
            d = d_of_pair[poly_rows]
            dlen = off[d + 1] - off[d]
            dtake = off[d, None] + np.minimum(
                np.arange(int(dlen.max()))[None, :], dlen[:, None] - 1
            )
            hits[poly_rows] = G.intersects_pairs_padded(
                xs[dtake], ys[dtake], dlen,
                RX[poly_rows], RY[poly_rows], rl[poly_rows],
            )
    hit_pairs = sel[hits]
    return doc_idx[hit_pairs], z[hit_pairs]


def first_match_packed(cov, cell, px, py, geom=None):
    """Per doc the hit with the LOWEST zone_id, -1 sentinel when none —
    flat int64 outputs, no per-row Python (the benchmark hot loop)."""
    B = len(px)
    zone_out = np.full(B, -1, dtype=np.int64)
    eas_out = np.full(B, -1, dtype=np.int64)
    doc_idx, zpos = eval_pairs_packed(cov, cell, px, py, geom)
    if len(doc_idx):
        # pairs are ordered (doc asc, zone_id asc) -> first hit per doc
        d_first, first_at = np.unique(doc_idx, return_index=True)
        zone_out[d_first] = cov.zone_id[zpos[first_at]]
        eas_out[d_first] = cov.eas_id[zpos[first_at]]
    return zone_out, eas_out


def all_matches_packed(cov, cell, px, py, geom=None):
    """Every match per doc in CSR form: (off[B+1], zone_id, eas_id),
    doc i's matches ordered by zone_id at [off[i]:off[i+1]] — an empty
    run when no zone intersects (overlay-join semantics)."""
    doc_idx, zpos = eval_pairs_packed(cov, cell, px, py, geom)
    off = np.zeros(len(px) + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc_idx, minlength=len(px)), out=off[1:])
    return off, cov.zone_id[zpos], cov.eas_id[zpos]
