"""Seeded benchmark inputs.

Every input is a pure function of the workload seed. The document
table follows the engine's synthetic layout (interleaved spans, exactly
one `geom` span at position 3, 95% points and 5% 8-vertex polygons) but
is built here with numpy + pyarrow, so the seed reaches every value and
staging costs no Spark job. The generator also keeps the numpy truth the
output checks need (rep points, WKT, planted duplicate pairs).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gdal_spark import synth

POLY_SHARE = 20  # 1 in 20 documents is an 8-vertex polygon
DUP_SHARE = 100  # 1 in 100 documents is a planted text duplicate


@dataclass
class Docs:
    doc_id: np.ndarray  # object (str)
    wkt: np.ndarray  # object (str)
    lon: np.ndarray  # representative point: the point, or the vertex mean
    lat: np.ndarray
    is_poly: np.ndarray
    dup_pairs: set  # planted (id_a, id_b) pairs with id_a < id_b


def _grid7(x):
    return np.floor(np.asarray(x, dtype=np.float64) * 1e7) / 1e7


def _padded(prefix: str, v: np.ndarray, width: int) -> pa.Array:
    """prefix + v zero-padded to `width` digits, as an arrow string array."""
    return pc.binary_join_element_wise(
        prefix, pc.utf8_lpad(pc.cast(pa.array(v), pa.string()), width, "0"), "")


def documents(n: int, seed: int) -> tuple[Docs, pa.Table]:
    """n documents as (numpy truth, arrow table of doc_id + spans)."""
    i = np.arange(n, dtype=np.int64)
    h = lambda stream: synth.h_np(i, stream, seed)  # noqa: E731
    lon = _grid7(-180.0 + synth.rnd_u01_np(h(1)) * 360.0)
    lat = _grid7(-85.0 + synth.rnd_u01_np(h(2)) * 170.0)
    is_poly = synth.rnd_int_np(h(3), POLY_SHARE) == 0
    n_spans = 4 + synth.rnd_int_np(h(0), 5)

    # planted near-duplicates: doc k copies the span layout and every
    # text span of an earlier source doc; geometry and media differ
    src = np.full(n, -1, dtype=np.int64)
    dup = (synth.rnd_int_np(h(20), DUP_SHARE) == 0) & (i > 0)
    src[dup] = synth.rnd_int_np(h(21)[dup], 1 << 62) % i[dup]
    src[dup & dup[np.maximum(src, 0)]] = -1  # sources are never dups
    dup = src >= 0
    n_spans[dup] = n_spans[src[dup]]

    doc_id = _padded(f"d{seed % 100000:05d}", i, 9)
    ids = np.asarray(doc_id.to_numpy(zero_copy_only=False), dtype=object)
    wkt = np.empty(n, dtype=object)
    rep_lon, rep_lat = lon.copy(), lat.copy()
    pts = np.where(~is_poly)[0]
    wkt[pts] = [f"POINT({x:.7f} {y:.7f})" for x, y in zip(lon[pts], lat[pts])]
    cos8, sin8 = np.array(synth.COS8), np.array(synth.SIN8)
    for k in np.where(is_poly)[0]:
        vx = _grid7(lon[k] + synth.POLY_RADIUS * cos8)
        vy = _grid7(lat[k] + synth.POLY_RADIUS * sin8)
        ring = [f"{x:.7f} {y:.7f}" for x, y in zip(vx, vy)]
        wkt[k] = "POLYGON((" + ", ".join(ring + [ring[0]]) + "))"
        # the rep point of the ring as parsed back from its 7-decimal text
        xy = np.array(" ".join(ring).split(), dtype=np.float64)
        rep_lon[k] = np.add.reduce(xy[0::2]) / 8
        rep_lat[k] = np.add.reduce(xy[1::2]) / 8

    # flat span arrays: span j of doc d sits at offsets[d] + j
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    d = np.repeat(i, n_spans)
    p = np.arange(len(d), dtype=np.int64) - offsets[:-1][d]
    text_owner = np.where(dup[d], src[d], d)  # dups read their source's words
    sk = text_owner * 16 + p
    words = [synth.rnd_int_np(synth.h_np(sk, s, seed), 10000) for s in (4, 5, 6)]
    media = synth.rnd_int_np(synth.h_np(d * 16 + p, 7, seed), 1000000000)
    is_geom, is_text = p == 3, (p != 3) & (p % 2 == 0)
    kind = np.where(is_geom, "geom", np.where(is_text, "text", "media"))
    vocab = pa.array([f"w{k:04d}" for k in range(10000)])
    span_text = pc.if_else(
        is_geom, pa.array(wkt, pa.string()).take(pa.array(d)),
        pc.if_else(is_text, pc.binary_join_element_wise(
            *(vocab.take(pa.array(w)) for w in words), " "), ""))
    media_ref = pc.if_else(is_geom | is_text, "", _padded("media://", media, 9))
    dup_pairs = {tuple(sorted((ids[k], ids[src[k]]))) for k in np.where(dup)[0]}

    spans = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.StructArray.from_arrays(
            [pa.array(kind, pa.string()), span_text, media_ref,
             pa.array(p.astype(np.int32))],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )
    table = pa.table({"doc_id": doc_id, "spans": spans})
    docs = Docs(ids, wkt, rep_lon, rep_lat, is_poly, dup_pairs)
    return docs, table


def head(docs: Docs, n: int) -> Docs:
    """The first n documents."""
    keep = set(docs.doc_id[:n])
    return Docs(docs.doc_id[:n], docs.wkt[:n], docs.lon[:n], docs.lat[:n],
                docs.is_poly[:n], {p for p in docs.dup_pairs if p[1] in keep})


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Stage a table as `files` equal parquet files under `path`."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"))


def sample(n: int, k: int, seed: int, stream: int = 30) -> np.ndarray:
    """k distinct row indices of n, a pure function of the seed."""
    order = np.argsort(synth.h_np(np.arange(n), stream, seed).astype(np.uint64))
    return np.sort(order[:k])


def kernel_batch(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points for the Spark-free kernel ceilings."""
    i = np.arange(n, dtype=np.int64)
    lon = -180.0 + synth.rnd_u01_np(synth.h_np(i, 40, seed)) * 360.0
    lat = -85.0 + synth.rnd_u01_np(synth.h_np(i, 41, seed)) * 170.0
    return lon, lat
