"""Output checks: each compares engine output with an oracle that does
not share the engine's code path.

Every check returns a list of mismatch descriptions; an empty list is a
pass. A run counts each check as one attempted operation and each
non-empty result as one failure.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

import localref
from tests.oracle import pip_oracle

_EARTH_RADIUS = 6378137.0  # WGS84 semi-major axis, the Web-Mercator sphere
_MEAN_RADIUS = 6371008.8  # IUGG mean radius, the engine's haversine sphere


def _norm_pairs(df: pd.DataFrame) -> list[tuple]:
    out = []
    for r in df.itertuples(index=False):
        z = None if r.zone_id is None or pd.isna(r.zone_id) else int(r.zone_id)
        e = None if r.eas_id is None or pd.isna(r.eas_id) else int(r.eas_id)
        out.append((r.doc_id, z, e))
    return sorted(out, key=lambda t: (t[0], -1 if t[1] is None else t[1]))


def pip_rows(got: pd.DataFrame, docs_pdf: pd.DataFrame, zones: pd.DataFrame,
             mode: str) -> list[str]:
    """Join rows (doc_id, zone_id, eas_id) against tests/oracle.pip_oracle,
    a brute-force search over every zone that uses no cell index."""
    want = _norm_pairs(pip_oracle(docs_pdf, zones, mode))
    have = _norm_pairs(got[["doc_id", "zone_id", "eas_id"]])
    if want == have:
        return []
    diff = sorted(set(want) ^ set(have))[:5]
    return [f"pip_join mode={mode}: {len(want)} oracle rows vs {len(have)}; "
            f"first differences {diff}"]


def tiles(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Google tile x/y and Bing quadkey, recomputed from the published
    Web-Mercator formulas (PixelsToTile uses ceil(p / 256) - 1, clamped
    into the grid)."""
    shift = math.pi * _EARTH_RADIUS
    mx = lon / 180.0 * shift
    my = np.log(np.tan(np.radians(90.0 + lat) / 2.0)) * _EARTH_RADIUS
    res = 2.0 * shift / 256.0 / float(1 << zoom)
    top = (1 << zoom) - 1
    tx = np.clip(np.ceil((mx + shift) / res / 256.0) - 1, 0, top).astype(np.int64)
    ty_tms = np.clip(np.ceil((my + shift) / res / 256.0) - 1, 0, top).astype(np.int64)
    ty = top - ty_tms
    keys = []
    for x, y in zip(tx.tolist(), ty.tolist()):
        digits = []
        for b in range(zoom - 1, -1, -1):
            digits.append(str(((x >> b) & 1) + 2 * ((y >> b) & 1)))
        keys.append("".join(digits))
    return tx, ty, np.array(keys, dtype=object)


def tile_cols(got: pd.DataFrame, zoom: int) -> list[str]:
    """tile_x / tile_y / quadkey of joined rows against `tiles`."""
    tx, ty, qk = tiles(got["lon"].to_numpy(float), got["lat"].to_numpy(float), zoom)
    bad = ((got["tile_x"].to_numpy() != tx) | (got["tile_y"].to_numpy() != ty)
           | (got["quadkey"].to_numpy(object) != qk))
    if not bad.any():
        return []
    r = got[bad].iloc[0]
    return [f"assign_tiles: {int(bad.sum())} rows differ, e.g. {r.doc_id} "
            f"({r.tile_x},{r.tile_y},{r.quadkey})"]


def rep_points(got: pd.DataFrame, lon: np.ndarray, lat: np.ndarray) -> list[str]:
    """Representative points against the generator's own (vertex mean of
    the ring as written, closing vertex excluded)."""
    d = np.maximum(np.abs(got["lon"].to_numpy(float) - lon),
                   np.abs(got["lat"].to_numpy(float) - lat))
    if np.all(d <= 1e-9):
        return []
    return [f"rep point: {int((d > 1e-9).sum())} rows off by up to {d.max():.3g} deg"]


def raster_checksums(got: pd.DataFrame, arr: np.ndarray, raster_id: str,
                     what: str) -> list[str]:
    """Per-tile checksums against localref.tile_checksums of the source
    image (tile_y counts rows from the top, as in the engine's tables)."""
    want = {(tx, ty): c for _, _, _, tx, ty, c in
            localref.tile_checksums(arr, 256, raster_id, 1, 0)}
    have = {(int(r.tile_x), int(r.tile_y)): int(r.checksum)
            for r in got.itertuples(index=False)}
    if want == have:
        return []
    bad = sorted(k for k in set(want) | set(have) if want.get(k) != have.get(k))
    return [f"{what}: {len(bad)} of {len(want)} tile checksums differ, e.g. {bad[:3]}"]


def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * _MEAN_RADIUS * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn(got: pd.DataFrame, queries: pd.DataFrame, ids: np.ndarray,
        lon: np.ndarray, lat: np.ndarray) -> list[str]:
    """k nearest doc ids and distances per sampled query against a
    brute-force haversine scan of every point."""
    errs = []
    for q in queries.itertuples(index=False):
        dist = _haversine(q.lon, q.lat, lon, lat)
        order = np.lexsort((ids, dist))[: int(q.k)]
        mine = got[got["q_id"] == q.q_id].sort_values("rank")
        if list(mine["doc_id"]) != list(ids[order]) or not np.allclose(
            mine["dist_m"].to_numpy(float), dist[order], rtol=1e-9, atol=1e-6
        ):
            errs.append(f"knn q_id={q.q_id}: got {list(mine['doc_id'])} "
                        f"want {list(ids[order])}")
    return errs


def planted_recall(pairs: set, planted: set) -> float:
    return len(planted & pairs) / len(planted) if planted else 1.0
