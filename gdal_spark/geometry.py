"""General polygon geometry: the constructive + predicate surface of
the reference's OGRGeometry (ogr/ogrgeometry.cpp — Buffer :4136,
ConvexHull :3894, Intersection :4240, Union :4359, Difference :4560,
Centroid :5343, Simplify :5597, MakeValid :3695, predicates
Intersects/Contains/Within/Touches/Crosses/Overlaps/Equals/Disjoint
:4896-5227) re-expressed without GEOS:

  - simple-polygon triangulation via ear clipping (O(n^2), exact)
  - ALL area-type binary ops run as triangle x triangle convex clips
    through overlay.clip_convex_pairs, batched in one vectorized call;
    polygons WITH HOLES work via signed triangles (indicator_A =
    sum_i s_i * 1_{T_i} pointwise, so area(A∩B) = sum_ij s_i s_j
    area(T_i ∩ U_j) exactly)
  - predicates derive from intersection areas + boundary-segment
    tests with an explicit area tolerance (documented difference from
    GEOS's exact DE-9IM on adversarially degenerate inputs)

WKB (ogr/ogrgeometryfactory.cpp:106 createFromWkb) is supported as a
first-class geometry encoding next to WKT: Point / LineString /
Polygon / MultiPolygon, either byte order in, little-endian out.

Column-level API lives in functions/geometry.py (Arrow-batched pandas
UDFs over WKT string or WKB binary columns).
"""

from __future__ import annotations

import struct

import numpy as np

from .overlay import clip_convex_pairs, shoelace_pairs

AREA_EPS = 1e-12


# ------------------------------------------------------------------- rings
def signed_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Signed shoelace area of an open ring (CCW positive)."""
    return float(
        0.5 * np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)
    )


def ensure_ccw(xs: np.ndarray, ys: np.ndarray):
    if signed_area(xs, ys) < 0:
        return xs[::-1].copy(), ys[::-1].copy()
    return xs, ys


def dedupe_ring(xs: np.ndarray, ys: np.ndarray):
    """Drop consecutive duplicate vertices (and a closing vertex equal
    to the first) — the normalization half of MakeValid."""
    if len(xs) and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    keep = np.ones(len(xs), dtype=bool)
    keep[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    return xs[keep], ys[keep]


# ---------------------------------------------------------- triangulation
def ear_clip(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """(m, 3, 2) triangles partitioning a SIMPLE polygon ring (holes
    handled by the caller via signed triangles). Ear clipping with a
    convexity + emptiness test; falls back to a fan if no ear is found
    (degenerate/self-touching input — MakeValid first)."""
    xs, ys = dedupe_ring(np.asarray(xs, np.float64), np.asarray(ys, np.float64))
    xs, ys = ensure_ccw(xs, ys)
    n = len(xs)
    if n < 3:
        return np.empty((0, 3, 2))
    idx = list(range(n))
    tris = []
    guard = 0
    while len(idx) > 3 and guard < 4 * n:
        guard += 1
        found = False
        m = len(idx)
        for k in range(m):
            i0, i1, i2 = idx[k - 1], idx[k], idx[(k + 1) % m]
            ax, ay = xs[i0], ys[i0]
            bx, by = xs[i1], ys[i1]
            cx, cy = xs[i2], ys[i2]
            cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            if cross <= AREA_EPS:  # reflex or degenerate corner
                continue
            # no other active vertex strictly inside the candidate ear
            ok = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                px, py = xs[j], ys[j]
                d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
                d2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
                d3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
                if d1 > -AREA_EPS and d2 > -AREA_EPS and d3 > -AREA_EPS:
                    ok = False
                    break
            if ok:
                tris.append(((ax, ay), (bx, by), (cx, cy)))
                del idx[k]
                found = True
                break
        if not found:
            break
    if len(idx) >= 3:
        # remaining ring is convex (normal termination) or degenerate
        # (fallback): fan from the first remaining vertex
        for k in range(1, len(idx) - 1):
            tris.append(
                ((xs[idx[0]], ys[idx[0]]),
                 (xs[idx[k]], ys[idx[k]]),
                 (xs[idx[k + 1]], ys[idx[k + 1]]))
            )
    return np.asarray(tris, dtype=np.float64)


def rings_to_signed_tris(rings):
    """[(xs, ys), ...] (first = exterior, rest = holes) -> (tris, signs).
    Hole rings triangulate with sign -1: the polygon's indicator is the
    signed sum, which makes every area-type binary op exact on
    polygons with holes."""
    tris = []
    signs = []
    for i, (xs, ys) in enumerate(rings):
        t = ear_clip(xs, ys)
        if len(t):
            tris.append(t)
            signs.append(np.full(len(t), 1.0 if i == 0 else -1.0))
    if not tris:
        return np.empty((0, 3, 2)), np.empty(0)
    return np.concatenate(tris), np.concatenate(signs)


def tris_area(tris: np.ndarray) -> float:
    if len(tris) == 0:
        return 0.0
    a = tris[:, 0]
    b = tris[:, 1]
    c = tris[:, 2]
    return float(
        np.abs(
            (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
            - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0])
        ).sum()
        / 2.0
    )


def intersection_area_tris(ta, sa, tb, sb) -> float:
    """Sum of signed pairwise triangle∩triangle areas — one batched
    clip_convex_pairs call over ALL pairs (vectorized; Python loops
    only over the 3 clip edges and <=9 vertex slots)."""
    na, nb = len(ta), len(tb)
    if na == 0 or nb == 0:
        return 0.0
    ia = np.repeat(np.arange(na), nb)
    ib = np.tile(np.arange(nb), na)
    sx = ta[ia, :, 0]
    sy = ta[ia, :, 1]
    cx = tb[ib, :, 0]
    cy = tb[ib, :, 1]
    L = np.full(na * nb, 3, dtype=np.int64)
    ox, oy, olen = clip_convex_pairs(sx, sy, L, cx, cy, L)
    areas = shoelace_pairs(ox, oy, olen)
    return float((areas * sa[ia] * sb[ib]).sum())


# ------------------------------------------------------------ geometry type
class Geom:
    """Parsed geometry: kind in {point, multipoint, linestring,
    multilinestring, polygon, multipolygon}; rings = [(xs, ys), ...]
    per polygon part. `zs` optionally carries Z ordinates for
    point/linestring kinds (2.5D input: carried, never computed on —
    like the reference where get_Area/predicates are XY-only)."""

    __slots__ = ("kind", "parts", "zs")

    def __init__(self, kind: str, parts, zs=None):
        self.kind = kind
        self.parts = parts  # point/linestring: [(xs, ys)]; polygon: [rings]
        self.zs = zs

    # -- areas / triangles ------------------------------------------------
    def signed_tris(self):
        if not self.parts:
            return np.empty((0, 3, 2)), np.empty(0)
        if self.kind == "polygon":
            return rings_to_signed_tris(self.parts[0])
        if self.kind == "multipolygon":
            ts, ss = [], []
            for rings in self.parts:
                t, s = rings_to_signed_tris(rings)
                if len(t):
                    ts.append(t)
                    ss.append(s)
            if not ts:
                return np.empty((0, 3, 2)), np.empty(0)
            return np.concatenate(ts), np.concatenate(ss)
        return np.empty((0, 3, 2)), np.empty(0)

    def area(self) -> float:
        if self.kind not in ("polygon", "multipolygon") or not self.parts:
            return 0.0
        total = 0.0
        polys = self.parts if self.kind == "multipolygon" else [self.parts[0]]
        for rings in polys:
            for i, (xs, ys) in enumerate(rings):
                a = abs(signed_area(*dedupe_ring(np.asarray(xs), np.asarray(ys))))
                total += a if i == 0 else -a
        return total

    def all_points(self):
        out = []
        if not self.parts:
            z = np.empty(0)
            return z, z
        if self.kind in ("point", "linestring", "multipoint"):
            out.append(self.parts[0])
        elif self.kind == "multilinestring":
            out.extend(self.parts)
        else:
            polys = self.parts if self.kind == "multipolygon" else [self.parts[0]]
            for rings in polys:
                for r in rings:
                    out.append(r)
        xs = np.concatenate([np.empty(0)] + [np.asarray(r[0], np.float64) for r in out])
        ys = np.concatenate([np.empty(0)] + [np.asarray(r[1], np.float64) for r in out])
        return xs, ys

    def boundary_segments(self):
        """(ax, ay, bx, by) arrays over every ring/line segment."""
        segs = []
        if not self.parts:
            z = np.empty(0)
            return z, z, z, z
        if self.kind == "linestring":
            xs, ys = self.parts[0]
            segs.append((xs[:-1], ys[:-1], xs[1:], ys[1:]))
        elif self.kind in ("polygon", "multipolygon"):
            polys = self.parts if self.kind == "multipolygon" else [self.parts[0]]
            for rings in polys:
                for xs, ys in rings:
                    xs = np.asarray(xs, np.float64)
                    ys = np.asarray(ys, np.float64)
                    segs.append((xs, ys, np.roll(xs, -1), np.roll(ys, -1)))
        if not segs:
            z = np.empty(0)
            return z, z, z, z
        return tuple(np.concatenate([s[i] for s in segs]) for i in range(4))


# ------------------------------------------------------------------- WKT
def parse_wkt(wkt: str) -> Geom:
    s = wkt.strip()
    up = s.upper()
    from .curves import CURVE_WKT_PREFIXES, parse_curve_wkt

    if up.startswith(CURVE_WKT_PREFIXES):
        return parse_curve_wkt(s)

    def nums(chunk):
        pts = [p.strip().split() for p in chunk.split(",")]
        xs = np.array([float(p[0]) for p in pts])
        ys = np.array([float(p[1]) for p in pts])
        return xs, ys

    def nums_z(chunk, has_m_token):
        """x y [z] [m] tuples: Z captured when the dim token or the
        tuple width says so (x y m reads m as the 3rd number only
        under an explicit M token)."""
        pts = [p.strip().split() for p in chunk.split(",")]
        xs = np.array([float(p[0]) for p in pts])
        ys = np.array([float(p[1]) for p in pts])
        zs = None
        if pts and len(pts[0]) >= 3 and not (has_m_token and len(pts[0]) == 3):
            zs = np.array([float(p[2]) for p in pts])
        return xs, ys, zs

    def dim_token(name):
        rest = up[len(name):].lstrip()
        for tok in ("ZM", "Z", "M"):
            if rest.startswith(tok) and rest[len(tok):].lstrip().startswith("("):
                return tok
        return ""

    def rings_of(body):
        # body like "(x y, ...), (x y, ...)"
        rings = []
        depth = 0
        start = None
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    rings.append(dedupe_ring(*nums(body[start:i])))
        return rings

    if up.endswith("EMPTY"):
        # empty geometries (OGRGeometry::IsEmpty contract): no parts;
        # area 0, no points, no boundary segments
        kind = up.split()[0].lower()
        if kind == "geometrycollection":
            kind = "multipolygon"
        return Geom(kind, [])
    if up.startswith("MULTIPOINT"):
        # both forms: MULTIPOINT(1 2, 3 4) and MULTIPOINT((1 2), (3 4))
        body = s[s.index("(") + 1 : s.rindex(")")]
        xs, ys = nums(body.replace("(", "").replace(")", ""))
        return Geom("multipoint", [(xs, ys)])
    if up.startswith("POINT"):
        xs, ys, zs = nums_z(s[s.index("(") + 1 : s.rindex(")")],
                            dim_token("POINT") == "M")
        return Geom("point", [(xs, ys)], zs=zs)
    if up.startswith("LINESTRING"):
        xs, ys, zs = nums_z(s[s.index("(") + 1 : s.rindex(")")],
                            dim_token("LINESTRING") == "M")
        return Geom("linestring", [(xs, ys)], zs=zs)
    if up.startswith("MULTILINESTRING"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        lines = []
        depth = 0
        start = None
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    lines.append(nums(body[start:i]))
        return Geom("multilinestring", lines)
    if up.startswith("POLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        return Geom("polygon", [rings_of(body)])
    if up.startswith("MULTIPOLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        # split top-level polygon groups
        polys = []
        depth = 0
        start = None
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    polys.append(rings_of(body[start:i]))
        return Geom("multipolygon", polys)
    raise ValueError(f"unsupported WKT: {s[:40]}")


def to_wkt(g: Geom, prec: int = 7) -> str:
    if not g.parts:
        return f"{g.kind.upper()} EMPTY"

    def pt(xs, ys):
        return ", ".join(f"{x:.{prec}f} {y:.{prec}f}" for x, y in zip(xs, ys))

    def ring(xs, ys):
        return "(" + pt(np.append(xs, xs[0]), np.append(ys, ys[0])) + ")"

    if g.kind == "point":
        xs, ys = g.parts[0]
        if g.zs is not None:
            return (f"POINT Z ({xs[0]:.{prec}f} {ys[0]:.{prec}f} "
                    f"{g.zs[0]:.{prec}f})")
        return f"POINT({xs[0]:.{prec}f} {ys[0]:.{prec}f})"
    if g.kind == "multipoint":
        return "MULTIPOINT(" + pt(*g.parts[0]) + ")"
    if g.kind == "linestring":
        xs, ys = g.parts[0]
        if g.zs is not None and len(g.zs) == len(xs):
            body = ", ".join(
                f"{x:.{prec}f} {y:.{prec}f} {z:.{prec}f}"
                for x, y, z in zip(xs, ys, g.zs)
            )
            return "LINESTRING Z (" + body + ")"
        return "LINESTRING(" + pt(*g.parts[0]) + ")"
    if g.kind == "multilinestring":
        return "MULTILINESTRING(" + ", ".join(
            "(" + pt(*ln) + ")" for ln in g.parts
        ) + ")"
    if g.kind == "polygon":
        return "POLYGON(" + ", ".join(ring(*r) for r in g.parts[0]) + ")"
    return "MULTIPOLYGON(" + ", ".join(
        "(" + ", ".join(ring(*r) for r in rings) + ")" for rings in g.parts
    ) + ")"


# ------------------------------------------------------------------- WKB
_WKB_POINT, _WKB_LINESTRING, _WKB_POLYGON = 1, 2, 3
_WKB_MULTIPOINT, _WKB_MULTILINESTRING, _WKB_MULTIPOLYGON = 4, 5, 6
_WKB_CODES = {"point": 1, "linestring": 2, "polygon": 3, "multipoint": 4,
              "multilinestring": 5, "multipolygon": 6}


def parse_wkb(buf: bytes) -> Geom:
    """createFromWkb (ogrgeometryfactory.cpp:106): either byte order;
    the full ISO hierarchy — classic Point..MultiPolygon plus the
    curve/surface types (linearized, see curves.py) — with Z/M/ZM
    variants in ISO (+1000/+2000/+3000), legacy 2.5D (wkb25DBit
    0x80000000), and EWKB-SRID-flagged encodings. Z ordinates are
    carried on point/linestring Geoms (`zs`), never computed on."""
    return parse_wkb_at(bytes(buf), [0])


def parse_wkb_at(buf: bytes, pos: list, step_deg=None) -> Geom:
    """Parse one geometry at cursor `pos` (shared with nested curve
    parsing in curves.py); advances the cursor."""
    from . import curves as CV

    def take(fmt, bo):
        sz = struct.calcsize(fmt)
        v = struct.unpack_from(bo + fmt, buf, pos[0])
        pos[0] += sz
        return v

    (order,) = struct.unpack_from("B", buf, pos[0])
    pos[0] += 1
    bo = "<" if order == 1 else ">"
    (gtype,) = take("I", bo)
    if gtype & 0x20000000:  # EWKB SRID flag: skip the srid word
        gtype &= ~0x20000000
        take("I", bo)
    base, has_z, has_m = CV.decode_wkb_type(gtype)
    ncoord = 2 + int(has_z) + int(has_m)

    def coords(n):
        a = np.asarray(take(f"{ncoord * n}d", bo)).reshape(n, ncoord)
        return (a[:, 0].copy(), a[:, 1].copy(),
                a[:, 2].copy() if has_z else None)

    def ring():
        (n,) = take("I", bo)
        xs, ys, _ = coords(n)
        return dedupe_ring(xs, ys)

    if base == _WKB_POINT:
        xs, ys, zs = coords(1)
        if np.isnan(xs[0]) and np.isnan(ys[0]):  # POINT EMPTY
            return Geom("point", [])
        return Geom("point", [(xs, ys)], zs=zs)
    if base == _WKB_LINESTRING:
        (n,) = take("I", bo)
        xs, ys, zs = coords(n)
        return Geom("linestring", [(xs, ys)], zs=zs)
    if base == _WKB_POLYGON:
        (nr,) = take("I", bo)
        return Geom("polygon", [[ring() for _ in range(nr)]])
    if base == _WKB_MULTIPOINT:
        (np_,) = take("I", bo)
        pts = [parse_wkb_at(buf, pos, step_deg) for _ in range(np_)]
        return Geom(
            "multipoint",
            [(np.concatenate([p.parts[0][0] for p in pts]),
              np.concatenate([p.parts[0][1] for p in pts]))]
            if pts else [],
        )
    if base == _WKB_MULTILINESTRING:
        (np_,) = take("I", bo)
        return Geom(
            "multilinestring",
            [parse_wkb_at(buf, pos, step_deg).parts[0] for _ in range(np_)],
        )
    if base == _WKB_MULTIPOLYGON:
        (np_,) = take("I", bo)
        return Geom(
            "multipolygon",
            [parse_wkb_at(buf, pos, step_deg).parts[0] for _ in range(np_)],
        )
    return CV.parse_curve_wkb(
        buf, pos, bo, base, has_z, has_m, take,
        step_deg if step_deg is not None else CV.ARC_STEP_DEG,
    )


def to_wkb(g: Geom) -> bytes:
    def ring_bytes(xs, ys):
        xs = np.append(xs, xs[0])
        ys = np.append(ys, ys[0])
        out = struct.pack("<I", len(xs))
        for x, y in zip(xs, ys):
            out += struct.pack("<2d", x, y)
        return out

    if not g.parts:  # EMPTY: a NaN NaN point, else a zero count
        if g.kind == "point":
            return struct.pack("<BI2d", 1, _WKB_POINT, np.nan, np.nan)
        return struct.pack("<BII", 1, _WKB_CODES[g.kind], 0)
    if g.kind == "point":
        xs, ys = g.parts[0]
        return struct.pack("<BI2d", 1, _WKB_POINT, xs[0], ys[0])
    if g.kind == "linestring":
        xs, ys = g.parts[0]
        out = struct.pack("<BII", 1, _WKB_LINESTRING, len(xs))
        for x, y in zip(xs, ys):
            out += struct.pack("<2d", x, y)
        return out
    if g.kind == "multipoint":
        xs, ys = g.parts[0]
        out = struct.pack("<BII", 1, _WKB_MULTIPOINT, len(xs))
        for x, y in zip(xs, ys):
            out += struct.pack("<BI2d", 1, _WKB_POINT, x, y)
        return out
    if g.kind == "multilinestring":
        out = struct.pack("<BII", 1, _WKB_MULTILINESTRING, len(g.parts))
        for xs, ys in g.parts:
            out += struct.pack("<BII", 1, _WKB_LINESTRING, len(xs))
            for x, y in zip(xs, ys):
                out += struct.pack("<2d", x, y)
        return out
    if g.kind == "polygon":
        out = struct.pack("<BII", 1, _WKB_POLYGON, len(g.parts[0]))
        for xs, ys in g.parts[0]:
            out += ring_bytes(xs, ys)
        return out
    out = struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(g.parts))
    for rings in g.parts:
        out += struct.pack("<BII", 1, _WKB_POLYGON, len(rings))
        for xs, ys in rings:
            out += ring_bytes(xs, ys)
    return out


def geom_of(v) -> Geom:
    """Accept WKT str or WKB bytes."""
    if isinstance(v, (bytes, bytearray)):
        return parse_wkb(bytes(v))
    return parse_wkt(str(v))


# ------------------------------------------------------------ constructive
def centroid(g: Geom) -> tuple[float, float]:
    """Area-weighted polygon centroid (OGRGeometry::Centroid :5343 /
    GEOS getCentroid); point/linestring = vertex mean."""
    if g.kind not in ("polygon", "multipolygon"):
        xs, ys = g.all_points()
        return float(xs.mean()), float(ys.mean())
    ta, sa = g.signed_tris()
    a = (
        (ta[:, 1, 0] - ta[:, 0, 0]) * (ta[:, 2, 1] - ta[:, 0, 1])
        - (ta[:, 1, 1] - ta[:, 0, 1]) * (ta[:, 2, 0] - ta[:, 0, 0])
    ) / 2.0 * sa
    cx = ta[:, :, 0].mean(axis=1)
    cy = ta[:, :, 1].mean(axis=1)
    A = a.sum()
    if abs(A) < AREA_EPS:
        xs, ys = g.all_points()
        return float(xs.mean()), float(ys.mean())
    return float((cx * a).sum() / A), float((cy * a).sum() / A)


def convex_hull(g: Geom) -> Geom:
    """Andrew monotone chain (ConvexHull :3894)."""
    xs, ys = g.all_points()
    pts = np.unique(np.stack([xs, ys], axis=1), axis=0)
    if len(pts) < 3:
        return Geom("polygon", [[(pts[:, 0], pts[:, 1])]])
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return Geom("polygon", [[(hull[:, 0], hull[:, 1])]])


def buffer_geom(g: Geom, dist: float, quadsegs: int = 30) -> Geom:
    """Positive buffer (Buffer :4136, GEOS default 30 segs/quadrant):
    point -> 4*quadsegs-gon circle; CONVEX ring -> edge offsets joined
    by vertex arcs (exact Minkowski sum with the disc). Concave rings
    buffer their convex hull (documented approximation — GEOS handles
    concave exactly)."""
    if dist <= 0:
        raise ValueError("buffer_geom supports positive distances")
    n = 4 * quadsegs
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    if g.kind == "point":
        xs, ys = g.parts[0]
        return Geom(
            "polygon",
            [[(xs[0] + dist * np.cos(ang), ys[0] + dist * np.sin(ang))]],
        )
    hull = convex_hull(g)
    xs, ys = hull.parts[0][0]
    xs, ys = ensure_ccw(*dedupe_ring(np.asarray(xs), np.asarray(ys)))
    m = len(xs)
    ox, oy = [], []
    for i in range(m):
        ax, ay = xs[i], ys[i]
        bx, by = xs[(i + 1) % m], ys[(i + 1) % m]
        px, py = xs[i - 1], ys[i - 1]
        # outward normals of the two edges at vertex a
        def norm(ux, uy):
            L = math_hypot(ux, uy)
            return uy / L, -ux / L  # right normal of CCW edge = outward

        n1 = norm(ax - px, ay - py)
        n2 = norm(bx - ax, by - ay)
        a1 = np.arctan2(n1[1], n1[0])
        a2 = np.arctan2(n2[1], n2[0])
        while a2 < a1:  # CCW walk rotates the outward normal CCW
            a2 += 2 * np.pi
        steps = max(1, int(np.ceil((a2 - a1) / (np.pi / 2 / quadsegs))))
        arc = np.linspace(a1, a2, steps + 1)
        ox.extend((ax + dist * np.cos(arc)).tolist())
        oy.extend((ay + dist * np.sin(arc)).tolist())
    return Geom("polygon", [[dedupe_ring(np.asarray(ox), np.asarray(oy))]])


def math_hypot(a, b):
    return float(np.hypot(a, b))


def simplify(g: Geom, tol: float) -> Geom:
    """Douglas-Peucker per ring (Simplify :5597)."""

    def dp(xs, ys, closed):
        if closed:
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
        keep = np.zeros(len(xs), dtype=bool)
        keep[0] = keep[-1] = True
        stack = [(0, len(xs) - 1)]
        while stack:
            i0, i1 = stack.pop()
            if i1 <= i0 + 1:
                continue
            ax, ay, bx, by = xs[i0], ys[i0], xs[i1], ys[i1]
            dx, dy = bx - ax, by - ay
            L = np.hypot(dx, dy)
            seg = slice(i0 + 1, i1)
            if L < 1e-300:
                d = np.hypot(xs[seg] - ax, ys[seg] - ay)
            else:
                d = np.abs(dx * (ys[seg] - ay) - dy * (xs[seg] - ax)) / L
            k = int(np.argmax(d))
            if d[k] > tol:
                j = i0 + 1 + k
                keep[j] = True
                stack.extend([(i0, j), (j, i1)])
        xs2, ys2 = xs[keep], ys[keep]
        if closed:
            xs2, ys2 = xs2[:-1], ys2[:-1]
        return xs2, ys2

    if g.kind == "linestring":
        return Geom("linestring", [dp(*g.parts[0], closed=False)])
    if g.kind == "polygon":
        return Geom("polygon", [[dp(xs, ys, True) for xs, ys in g.parts[0]]])
    if g.kind == "multipolygon":
        return Geom(
            "multipolygon",
            [[dp(xs, ys, True) for xs, ys in rings] for rings in g.parts],
        )
    return g


def make_valid(g: Geom) -> Geom:
    """MakeValid (:3695). Fast path: close/dedupe rings, exterior CCW,
    holes CW, drop sub-3-vertex rings. When the normalized shape is
    still invalid (self-intersecting rings, e.g. a bowtie), fall
    through to full re-noding: split boundary segments at every
    self-intersection and reassemble by the even-odd rule
    (boolean.renode_even_odd — the GEOS MakeValid 'linework'
    semantics)."""
    if g.kind not in ("polygon", "multipolygon"):
        return g

    def fix(rings):
        out = []
        for i, (xs, ys) in enumerate(rings):
            xs, ys = dedupe_ring(np.asarray(xs, np.float64), np.asarray(ys, np.float64))
            if len(xs) < 3:
                continue
            xs, ys = ensure_ccw(xs, ys)
            if i > 0:  # hole: CW
                xs, ys = xs[::-1].copy(), ys[::-1].copy()
            out.append((xs, ys))
        return out

    if g.kind == "polygon":
        norm = Geom("polygon", [fix(g.parts[0])])
    else:
        norm = Geom("multipolygon", [fix(r) for r in g.parts])
    if not norm.parts or all(not r for r in norm.parts) \
            or is_valid_shape(norm):
        return norm
    from .boolean import renode_even_odd

    polys = renode_even_odd(g)
    if not polys:
        return norm
    parts = [[(r[:, 0].copy(), r[:, 1].copy()) for r in rings]
             for rings in polys]
    if len(parts) == 1:
        return Geom("polygon", parts)
    return Geom("multipolygon", parts)


def simplify_preserve_topology(g: Geom, tol: float) -> Geom:
    """SimplifyPreserveTopology (ogr/ogrgeometry.cpp:5676): like
    Simplify, but a ring may not collapse below a triangle or turn
    self-intersecting — per ring, halve the tolerance until the
    simplified ring stays a valid simple polygon (GEOS enforces the
    same invariant through its topology-preserving simplifier)."""
    if g.kind == "linestring":
        return simplify(g, tol)

    def safe(xs, ys):
        t = tol
        for _ in range(24):
            s = simplify(Geom("polygon", [[(xs, ys)]]), t)
            rx, ry = s.parts[0][0]
            if len(rx) >= 3 and is_valid_shape(s):
                return rx, ry
            t /= 2.0
        return xs, ys

    polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
    out = [[safe(xs, ys) for xs, ys in rings] for rings in polys]
    if g.kind == "polygon":
        return Geom("polygon", [out[0]])
    return Geom("multipolygon", out)


def union_cascaded(g: Geom) -> Geom:
    """UnionCascaded (ogr/ogrgeometry.cpp:4473): union every part of a
    multipolygon into one geometry — folded through the boundary-
    classification boolean union."""
    from .boolean import canonical_wkt, polygon_boolean

    if g.kind != "multipolygon":
        return g
    if len(g.parts) == 1:
        return Geom("polygon", [g.parts[0]])
    acc = Geom("polygon", [g.parts[0]])
    for rings in g.parts[1:]:
        polys = polygon_boolean(acc, Geom("polygon", [rings]), "union")
        acc = parse_wkt(canonical_wkt(polys))
    return acc


def normalize(g: Geom) -> Geom:
    """Normalize (ogr/ogrgeometry.cpp:3811): a canonical vertex / ring
    ordering so equal geometries compare equal as text — exterior CCW,
    holes CW, each ring rotated to its lexicographically smallest
    vertex, holes and parts sorted."""
    if g.kind not in ("polygon", "multipolygon"):
        return g
    from .boolean import _norm_polys, canonical_wkt

    polys = [[np.stack(r, axis=1) for r in rings] for rings in _norm_polys(g)]
    return parse_wkt(canonical_wkt(polys, prec=12))


def force_polygon(g: Geom) -> Geom:
    """forceToPolygon (ogr/ogrgeometryfactory.cpp:721): a 1-part
    multipolygon becomes a polygon; multi-part keeps the largest part
    (the reference keeps the first — our parts are canonical-ordered,
    so 'first' is deterministic)."""
    if g.kind != "multipolygon":
        return g
    return Geom("polygon", [g.parts[0]])


def force_multipolygon(g: Geom) -> Geom:
    """forceToMultiPolygon (ogr/ogrgeometryfactory.cpp ff)."""
    if g.kind == "polygon":
        return Geom("multipolygon", [g.parts[0]])
    return g


def force_multipoint(g: Geom) -> Geom:
    """forceToMultiPoint (ogr/ogrgeometryfactory.cpp:828): a point
    becomes a 1-member multipoint; multipoint passes through; other
    kinds are returned unchanged (the reference returns the input when
    no conversion applies)."""
    if g.kind == "point":
        return Geom("multipoint", [g.parts[0]])
    return g


def force_multilinestring(g: Geom) -> Geom:
    """forceToMultiLineString (ogr/ogrgeometryfactory.cpp:992): a
    linestring becomes a 1-member multilinestring; polygons and
    multipolygons convert each ring to a closed member line (the
    reference converts rings via forceToLineString per ring)."""
    if g.kind == "linestring":
        return Geom("multilinestring", [g.parts[0]])
    if g.kind in ("polygon", "multipolygon"):
        polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
        lines = []
        for rings in polys:
            for xs, ys in rings:
                xs = np.asarray(xs, np.float64)
                ys = np.asarray(ys, np.float64)
                lines.append((np.append(xs, xs[0]), np.append(ys, ys[0])))
        return Geom("multilinestring", lines)
    return g


def force_linestring(g: Geom) -> Geom:
    """forceToLineString (ogr/ogrgeometryfactory.cpp:1430): merge the
    members of a multilinestring by chaining shared endpoints (the
    reference's repeated join loop); a single chain collapses to a
    LINESTRING, otherwise the remaining parts stay a MULTILINESTRING."""
    if g.kind != "multilinestring":
        return g
    parts = [
        (np.asarray(xs, np.float64), np.asarray(ys, np.float64))
        for xs, ys in g.parts
    ]
    merged = True
    while merged and len(parts) > 1:
        merged = False
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                ax, ay = parts[i]
                bx, by = parts[j]
                if ax[-1] == bx[0] and ay[-1] == by[0]:
                    parts[i] = (np.concatenate([ax, bx[1:]]),
                                np.concatenate([ay, by[1:]]))
                elif bx[-1] == ax[0] and by[-1] == ay[0]:
                    parts[i] = (np.concatenate([bx, ax[1:]]),
                                np.concatenate([by, ay[1:]]))
                elif ax[-1] == bx[-1] and ay[-1] == by[-1]:
                    parts[i] = (np.concatenate([ax, bx[::-1][1:]]),
                                np.concatenate([ay, by[::-1][1:]]))
                elif ax[0] == bx[0] and ay[0] == by[0]:
                    parts[i] = (np.concatenate([ax[::-1], bx[1:]]),
                                np.concatenate([ay[::-1], by[1:]]))
                else:
                    continue
                del parts[j]
                merged = True
                break
            if merged:
                break
    if len(parts) == 1:
        return Geom("linestring", [parts[0]])
    return Geom("multilinestring", parts)


def boundary(g: Geom) -> Geom:
    """OGRGeometry::Boundary (ogr/ogrgeometry.cpp:4009): polygon ->
    LINESTRING of its exterior ring (closed) or MULTILINESTRING when
    holes / multiple parts exist; linestring -> its endpoints as a
    multipoint is out of scope (polygonal inputs only)."""
    if g.kind not in ("polygon", "multipolygon"):
        raise ValueError("boundary: polygonal input required")
    polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
    lines = []
    for rings in polys:
        for xs, ys in rings:
            xs = np.append(np.asarray(xs, np.float64), xs[0])
            ys = np.append(np.asarray(ys, np.float64), ys[0])
            lines.append((xs, ys))
    if len(lines) == 1:
        return Geom("linestring", [lines[0]])
    return Geom("multilinestring", lines)


def point_on_surface(g: Geom) -> tuple[float, float]:
    """OGRGeometry::PointOnSurface (ogr/ogrgeometry.cpp:5485 via GEOS
    InteriorPoint): the centroid when it falls inside (common case);
    otherwise the midpoint of the widest polygon span on the envelope's
    horizontal bisector (nudged off exact vertex rows)."""
    cx, cy = centroid(g)
    if _point_in(g, cx, cy):
        return cx, cy
    xs, ys = g.all_points()
    y = (float(ys.min()) + float(ys.max())) / 2.0
    if np.any(np.abs(ys - y) < 1e-12):  # bisector hits a vertex row
        y += (float(ys.max()) - float(ys.min())) * 1e-6
    ax0, ay0, ax1, ay1 = g.boundary_segments()
    den = ay1 - ay0
    hit = ((ay0 > y) != (ay1 > y))
    with np.errstate(divide="ignore", invalid="ignore"):
        xc = ax0 + (y - ay0) / den * (ax1 - ax0)
    xcs = np.sort(xc[hit])
    if len(xcs) < 2:
        return cx, cy
    widths = xcs[1::2] - xcs[0::2]
    k = int(np.argmax(widths))
    return float((xcs[2 * k] + xcs[2 * k + 1]) / 2.0), float(y)


def is_simple(g: Geom) -> bool:
    """OGRGeometry::IsSimple (ogr/ogrgeometry.cpp:2259): points always;
    linestrings with no proper self-intersection between non-adjacent
    segments; polygons iff valid."""
    if g.kind == "point":
        return True
    if g.kind in ("polygon", "multipolygon"):
        return is_valid_shape(g)
    xs, ys = g.parts[0]
    x = np.asarray(xs, np.float64)
    y = np.asarray(ys, np.float64)
    n = len(x) - 1  # segment count
    if n < 2:
        return True
    closed = x[0] == x[-1] and y[0] == y[-1]

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    for i in range(n):
        for j in range(i + 2, n):
            if closed and i == 0 and j == n - 1:
                continue  # the closing segment shares the start vertex
            d1 = orient(x[i], y[i], x[i + 1], y[i + 1], x[j], y[j])
            d2 = orient(x[i], y[i], x[i + 1], y[i + 1], x[j + 1], y[j + 1])
            d3 = orient(x[j], y[j], x[j + 1], y[j + 1], x[i], y[i])
            d4 = orient(x[j], y[j], x[j + 1], y[j + 1], x[i + 1], y[i + 1])
            if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
                return False
    return True


def is_ring(g: Geom) -> bool:
    """OGRGeometry::IsRing (ogr/ogrgeometry.cpp:2330): a closed simple
    linestring."""
    if g.kind != "linestring":
        return False
    xs, ys = g.parts[0]
    if len(xs) < 4 or xs[0] != xs[-1] or ys[0] != ys[-1]:
        return False
    return is_simple(g)


def delaunay_triangles(g: Geom):
    """OGRGeometry::DelaunayTriangulation (ogr/ogrgeometry.cpp:5763,
    GEOS-backed in the reference): Delaunay over the geometry's unique
    vertices via the engine's tin.delaunay; returns a list of
    ((x1,y1),(x2,y2),(x3,y3)) triangles in canonical order."""
    from .tin import delaunay as _delaunay

    xs, ys = g.all_points()
    pts = np.unique(np.stack([xs, ys], axis=1), axis=0)
    tris = _delaunay(pts[:, 0], pts[:, 1])
    return [
        tuple((float(pts[i, 0]), float(pts[i, 1])) for i in t) for t in tris
    ]


def _pt_seg_dist2(px, py, ax, ay, bx, by):
    """Squared distance from points (px, py) to segments (a, b) —
    broadcastable arrays."""
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / np.where(L2 > 0, L2, 1.0),
                    0.0, 1.0)
    cx = ax + t * dx
    cy = ay + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def geom_distance(a: Geom, b: Geom) -> float:
    """OGRGeometry::Distance (ogr/ogrgeometry.cpp:3289): 0 when the
    geometries intersect, else the min distance between boundaries
    (exact for non-crossing segment sets: the minimum is attained at an
    endpoint of one side)."""
    if a.kind == "point":
        px, py = a.parts[0][0][0], a.parts[0][1][0]
        if b.kind == "point":
            return float(np.hypot(px - b.parts[0][0][0], py - b.parts[0][1][0]))
        if b.kind in ("polygon", "multipolygon") and _point_in(b, px, py):
            return 0.0
        bx0, by0, bx1, by1 = b.boundary_segments()
        return float(np.sqrt(_pt_seg_dist2(px, py, bx0, by0, bx1, by1).min()))
    if b.kind == "point":
        return geom_distance(b, a)
    if intersects(a, b):
        return 0.0
    ax0, ay0, ax1, ay1 = a.boundary_segments()
    bx0, by0, bx1, by1 = b.boundary_segments()
    d2 = min(
        float(_pt_seg_dist2(ax0[:, None], ay0[:, None],
                            bx0[None, :], by0[None, :],
                            bx1[None, :], by1[None, :]).min()),
        float(_pt_seg_dist2(bx0[:, None], by0[:, None],
                            ax0[None, :], ay0[None, :],
                            ax1[None, :], ay1[None, :]).min()),
    )
    return float(np.sqrt(d2))


# ------------------------------------------------- linear referencing
def _line_coords(g: Geom):
    if g.kind != "linestring" or not g.parts:
        raise ValueError("linear referencing needs a LINESTRING")
    xs, ys = g.parts[0]
    return np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)


def line_value(g: Geom, dist: float) -> tuple[float, float]:
    """OGRSimpleCurve::Value (ogr/ogrlinestring.cpp:1949): the point at
    `dist` along the line. dist < 0 -> start point; past the end ->
    end point; zero-length segments are skipped exactly as the
    reference's loop does."""
    xs, ys = _line_coords(g)
    if dist < 0:
        return float(xs[0]), float(ys[0])
    acc = 0.0
    for i in range(len(xs) - 1):
        seg = math_hypot(xs[i + 1] - xs[i], ys[i + 1] - ys[i])
        if seg > 0:
            if acc <= dist <= acc + seg:
                r = (dist - acc) / seg
                return (
                    float(xs[i] * (1 - r) + xs[i + 1] * r),
                    float(ys[i] * (1 - r) + ys[i + 1] * r),
                )
            acc += seg
    return float(xs[-1]), float(ys[-1])


def line_project(g: Geom, px: float, py: float) -> float:
    """OGRSimpleCurve::Project (ogr/ogrlinestring.cpp:2022, GEOS
    GEOSProject semantics): distance from the line's origin to the
    closest point on the line; ties resolve to the earliest segment
    (strict-less scan, like GEOS LocationIndexOfPoint)."""
    xs, ys = _line_coords(g)
    best_d2 = np.inf
    best_m = 0.0
    acc = 0.0
    for i in range(len(xs) - 1):
        dx, dy = xs[i + 1] - xs[i], ys[i + 1] - ys[i]
        seg2 = dx * dx + dy * dy
        seg = math_hypot(dx, dy)
        if seg2 > 0:
            t = ((px - xs[i]) * dx + (py - ys[i]) * dy) / seg2
            t = 0.0 if t < 0 else (1.0 if t > 1 else t)
            cx, cy = xs[i] + t * dx, ys[i] + t * dy
            d2 = (px - cx) ** 2 + (py - cy) ** 2
            if d2 < best_d2:
                best_d2 = d2
                best_m = acc + t * seg
            acc += seg
    return float(best_m)


def line_sub(g: Geom, dist_from: float, dist_to: float,
             as_ratio: bool = False) -> Geom | None:
    """OGRSimpleCurve::getSubLine (ogr/ogrlinestring.cpp:2076): the
    portion of the line between two measures. Out-of-range inputs are
    clamped like the reference; an invalid range (from > to, or from
    past the end) returns None, matching its nullptr."""
    xs, ys = _line_coords(g)
    segs = np.hypot(np.diff(xs), np.diff(ys))
    total = float(segs.sum())
    if as_ratio:
        dist_from *= total
        dist_to *= total
    dist_from = max(dist_from, 0.0)
    dist_to = min(dist_to, total)
    if dist_from > dist_to or dist_from >= total:
        return None
    ox: list[float] = []
    oy: list[float] = []

    def interp(i, r):
        ox.append(float(xs[i] * (1 - r) + xs[i + 1] * r))
        oy.append(float(ys[i] * (1 - r) + ys[i + 1] * r))

    n = len(xs)
    acc = 0.0
    i = 0
    # first point (mirrors the reference's two branches exactly,
    # including its duplicate-first-vertex quirk at dist_from == 0)
    if dist_from == 0:
        ox.append(float(xs[0]))
        oy.append(float(ys[0]))
    else:
        while i < n - 1:
            seg = float(segs[i])
            if seg > 0:
                if acc <= dist_from <= acc + seg:
                    interp(i, (dist_from - acc) / seg)
                    if acc <= dist_to <= acc + seg:
                        interp(i, (dist_to - acc) / seg)
                        return (
                            Geom("linestring",
                                 [(np.asarray(ox), np.asarray(oy))])
                            if len(ox) >= 2 else None
                        )
                    i += 1
                    acc += seg
                    break
                acc += seg
            i += 1
    # middle vertices + end point
    while i < n - 1:
        ox.append(float(xs[i]))
        oy.append(float(ys[i]))
        seg = float(segs[i])
        if seg > 0:
            if acc <= dist_to <= acc + seg:
                interp(i, (dist_to - acc) / seg)
                return Geom("linestring", [(np.asarray(ox), np.asarray(oy))])
            acc += seg
        i += 1
    ox.append(float(xs[-1]))
    oy.append(float(ys[-1]))
    if len(ox) < 2:
        return None
    return Geom("linestring", [(np.asarray(ox), np.asarray(oy))])


def is_valid_shape(g: Geom) -> bool:
    """OGRGeometry::IsValid restated for this module's shape model
    (ogr/ogrgeometry.cpp:2145 delegates to GEOS IsValid): points and
    linestrings with finite coords are valid; a polygon is valid when
    every ring keeps >= 3 distinct vertices after consecutive-duplicate
    removal and no two non-adjacent ring segments properly cross."""
    if g.kind in ("point", "linestring"):
        xs, ys = g.parts[0]
        return bool(np.isfinite(xs).all() and np.isfinite(ys).all())
    polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
    for rings in polys:
        for xs, ys in rings:
            x = np.asarray(xs, dtype=np.float64)
            y = np.asarray(ys, dtype=np.float64)
            if not (np.isfinite(x).all() and np.isfinite(y).all()):
                return False
            # drop the closing vertex, then consecutive duplicates
            if len(x) > 1 and x[0] == x[-1] and y[0] == y[-1]:
                x, y = x[:-1], y[:-1]
            keep = np.ones(len(x), dtype=bool)
            keep[1:] = (x[1:] != x[:-1]) | (y[1:] != y[:-1])
            x, y = x[keep], y[keep]
            n = len(x)
            if n < 3:
                return False
            ax, ay = x, y
            bx, by = np.roll(x, -1), np.roll(y, -1)

            def orient(px, py, qx, qy, rx, ry):
                return (qx - px) * (ry - py) - (qy - py) * (rx - px)

            i = np.arange(n)[:, None]
            j = np.arange(n)[None, :]
            # non-adjacent pairs only (cyclic adjacency shares a vertex)
            nonadj = (j > i + 1) & ~((i == 0) & (j == n - 1))
            d1 = orient(ax[:, None], ay[:, None], bx[:, None], by[:, None],
                        ax[None, :], ay[None, :])
            d2 = orient(ax[:, None], ay[:, None], bx[:, None], by[:, None],
                        bx[None, :], by[None, :])
            d3 = orient(ax[None, :], ay[None, :], bx[None, :], by[None, :],
                        ax[:, None], ay[:, None])
            d4 = orient(ax[None, :], ay[None, :], bx[None, :], by[None, :],
                        bx[:, None], by[:, None])
            proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
            if bool((proper & nonadj).any()):
                return False
    return True


# -------------------------------------------------------------- predicates
def intersection_area(a: Geom, b: Geom) -> float:
    ta, sa = a.signed_tris()
    tb, sb = b.signed_tris()
    return intersection_area_tris(ta, sa, tb, sb)


def _boundaries_touch(a: Geom, b: Geom) -> bool:
    from .geomlite import _segs_cross

    ax0, ay0, ax1, ay1 = a.boundary_segments()
    bx0, by0, bx1, by1 = b.boundary_segments()
    if len(ax0) == 0 or len(bx0) == 0:
        return False
    hit = _segs_cross(
        ax0[:, None], ay0[:, None], ax1[:, None], ay1[:, None],
        bx0[None, :], by0[None, :], bx1[None, :], by1[None, :],
    )
    return bool(hit.any())


def _point_in(g: Geom, x: float, y: float) -> bool:
    from .geomlite import pip_one

    polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
    for rings in polys:
        inside = False
        for i, (xs, ys) in enumerate(rings):
            hit = bool(pip_one(np.array([x]), np.array([y]), xs, ys)[0])
            if i == 0:
                inside = hit
            elif hit:
                inside = False
        if inside:
            return True
    return False


def intersects(a: Geom, b: Geom, eps: float = 1e-12) -> bool:
    if a.kind in ("polygon", "multipolygon") and b.kind in ("polygon", "multipolygon"):
        if intersection_area(a, b) > eps:
            return True
    if a.kind == "point":
        return _point_in(b, a.parts[0][0][0], a.parts[0][1][0]) or _boundaries_touch(a, b)
    if b.kind == "point":
        return intersects(b, a, eps)
    # line x polygon: a line strictly inside the polygon never touches
    # the boundary, so also test representative line points for
    # containment (GEOS: interior/interior intersection suffices).
    line = poly = None
    if a.kind == "linestring" and b.kind in ("polygon", "multipolygon"):
        line, poly = a, b
    elif b.kind == "linestring" and a.kind in ("polygon", "multipolygon"):
        line, poly = b, a
    if line is not None:
        xs, ys = line.parts[0]
        for k in range(len(xs) - 1):
            mx = (float(xs[k]) + float(xs[k + 1])) / 2.0
            my = (float(ys[k]) + float(ys[k + 1])) / 2.0
            if _point_in(poly, float(xs[k]), float(ys[k])) or _point_in(poly, mx, my):
                return True
        if len(xs) and _point_in(poly, float(xs[-1]), float(ys[-1])):
            return True
    return _boundaries_touch(a, b)


def contains(a: Geom, b: Geom, eps: float = 1e-9) -> bool:
    if b.kind == "point":
        return _point_in(a, b.parts[0][0][0], b.parts[0][1][0])
    ab = intersection_area(a, b)
    return ab > eps and abs(ab - b.area()) <= eps * max(1.0, b.area())


def within(a: Geom, b: Geom, eps: float = 1e-9) -> bool:
    return contains(b, a, eps)


def equals(a: Geom, b: Geom, eps: float = 1e-9) -> bool:
    aa, bb = a.area(), b.area()
    ab = intersection_area(a, b)
    s = max(1.0, aa, bb)
    return abs(aa - bb) <= eps * s and abs(ab - aa) <= eps * s


def overlaps(a: Geom, b: Geom, eps: float = 1e-9) -> bool:
    aa, bb = a.area(), b.area()
    ab = intersection_area(a, b)
    s = max(1.0, aa, bb)
    return ab > eps * s and ab < aa - eps * s and ab < bb - eps * s


def touches(a: Geom, b: Geom, eps: float = 1e-9) -> bool:
    if not _boundaries_touch(a, b):
        return False
    return intersection_area(a, b) <= eps * max(1.0, a.area(), b.area())


def disjoint(a: Geom, b: Geom, eps: float = 1e-12) -> bool:
    return not intersects(a, b, eps)


def crosses(a: Geom, b: Geom) -> bool:
    """LINESTRING x POLYGON crosses (same-dimension polygons never
    cross, matching GEOS)."""
    line, poly = None, None
    if a.kind == "linestring" and b.kind in ("polygon", "multipolygon"):
        line, poly = a, b
    elif b.kind == "linestring" and a.kind in ("polygon", "multipolygon"):
        line, poly = b, a
    else:
        return False
    xs, ys = line.parts[0]
    bx0, by0, bx1, by1 = poly.boundary_segments()
    has_in = has_out = False
    for k in range(len(xs) - 1):
        ax, ay, cx, cy = float(xs[k]), float(ys[k]), float(xs[k + 1]), float(ys[k + 1])
        # split the segment at every boundary crossing, then classify
        # each sub-segment by its midpoint
        ts = [0.0, 1.0]
        dx, dy = cx - ax, cy - ay
        for i in range(len(bx0)):
            ex, ey = bx1[i] - bx0[i], by1[i] - by0[i]
            den = dx * ey - dy * ex
            if abs(den) < 1e-300:
                continue
            t = ((bx0[i] - ax) * ey - (by0[i] - ay) * ex) / den
            u = ((bx0[i] - ax) * dy - (by0[i] - ay) * dx) / den
            if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
                ts.append(t)
        ts = sorted(set(ts))
        for t0, t1 in zip(ts[:-1], ts[1:]):
            tm = (t0 + t1) / 2.0
            if _point_in(poly, ax + tm * dx, ay + tm * dy):
                has_in = True
            else:
                has_out = True
        if has_in and has_out:
            return True
    return has_in and has_out


# -------------------------------------------- ogr2ogr geometry transforms
def segmentize(g: Geom, max_len: float) -> Geom:
    """Insert evenly spaced vertices so no segment exceeds `max_len`
    (OGRSimpleCurve::segmentize, ogr/ogrgeometry.cpp — the ogr2ogr
    -segmentize flag). Points pass through unchanged."""
    import math

    def densify(xs, ys, closed):
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        n = len(xs)
        if n < 2:
            return xs, ys
        x1 = np.roll(xs, -1)
        y1 = np.roll(ys, -1)
        m = n if closed else n - 1
        nx, ny = [], []
        for i in range(m):
            nx.append(xs[i])
            ny.append(ys[i])
            L = math.hypot(x1[i] - xs[i], y1[i] - ys[i])
            k = int(math.ceil(L / max_len)) if L > 0 else 1
            if k > 1:
                t = np.arange(1, k) / k
                nx.extend(xs[i] + (x1[i] - xs[i]) * t)
                ny.extend(ys[i] + (y1[i] - ys[i]) * t)
        if not closed:
            nx.append(xs[-1])
            ny.append(ys[-1])
        return np.asarray(nx), np.asarray(ny)

    if g.kind == "point":
        return g
    if g.kind == "linestring":
        xs, ys = g.parts[0]
        return Geom("linestring", [densify(xs, ys, False)])
    if g.kind == "polygon":
        return Geom(
            "polygon", [[densify(xs, ys, True) for xs, ys in g.parts[0]]]
        )
    return Geom(
        "multipolygon",
        [[densify(xs, ys, True) for xs, ys in rings] for rings in g.parts],
    )


def explode_parts(g: Geom) -> list[Geom]:
    """One Geom per collection member (ogr2ogr -explodecollections,
    apps/ogr2ogr_lib.cpp): multipolygon -> polygons; everything else is
    already a single part."""
    if g.kind == "multipolygon":
        return [Geom("polygon", [rings]) for rings in g.parts]
    return [g]


def _unwrap_x(xs: np.ndarray) -> np.ndarray:
    """Add +-360 to successive x so no step exceeds 180 in magnitude
    (the continuity assumption of OGRGeometryFactory::transformWithOptions
    WRAPDATELINE=YES, ogr/ogrgeometryfactory.cpp)."""
    xs = np.asarray(xs, np.float64).copy()
    d = np.diff(xs)
    shift = np.cumsum(np.where(d > 180.0, -360.0, np.where(d < -180.0, 360.0, 0.0)))
    xs[1:] += shift
    return xs


def wrapdateline_parts(g: Geom) -> list[Geom]:
    """Split a geometry at the antimeridian into parts whose longitudes
    all lie in [-180, 180] (ogr2ogr -wrapdateline). Segments implying a
    dateline hop (|dx| > 180) are unwrapped first, then cut at every
    x = +-180 + k*360 boundary and shifted back; polygons are cut by
    boolean intersection with the 360-degree strips. Returned as a
    list of single-part Geoms (the Spark surface explodes them to rows
    rather than emitting MULTI* collections)."""
    if g.kind == "point":
        x, y = float(g.parts[0][0][0]), float(g.parts[0][1][0])
        x = ((x + 180.0) % 360.0) - 180.0
        return [Geom("point", [(np.array([x]), np.array([y]))])]

    if g.kind == "linestring":
        xs = _unwrap_x(g.parts[0][0])
        ys = np.asarray(g.parts[0][1], np.float64)
        # walk the unwrapped polyline inserting a cut at every strip
        # boundary x = 180 + 360k a segment crosses
        px, py, cut = [xs[0]], [ys[0]], [False]
        for i in range(1, len(xs)):
            x0, y0, x1, y1 = px[-1], py[-1], xs[i], ys[i]
            lo, hi = (x0, x1) if x0 <= x1 else (x1, x0)
            bs = [
                180.0 + 360.0 * k
                for k in range(
                    int(np.ceil((lo - 180.0) / 360.0)),
                    int(np.floor((hi - 180.0) / 360.0)) + 1,
                )
                if lo < 180.0 + 360.0 * k < hi
            ]
            if x0 > x1:
                bs = bs[::-1]
            for bx in bs:
                t = (bx - x0) / (x1 - x0)
                px.append(bx)
                py.append(y0 + (y1 - y0) * t)
                cut.append(True)
            px.append(x1)
            py.append(y1)
            cut.append(False)
        parts = []
        start = 0
        bounds = [i for i, c in enumerate(cut) if c] + [len(px) - 1]
        for end in bounds:
            if end > start:
                xs_p = np.array(px[start : end + 1])
                ys_p = np.array(py[start : end + 1])
                # strip index from an interior x (endpoints may sit on
                # the boundary)
                mid = float(xs_p.mean())
                k = int(np.floor((mid + 180.0) / 360.0))
                parts.append(Geom("linestring", [(xs_p - 360.0 * k, ys_p)]))
            start = end
        return parts

    # polygon / multipolygon: boolean-clip against each 360-deg strip
    from .boolean import _norm_polys, polygon_boolean

    polys = g.parts if g.kind == "multipolygon" else [g.parts[0]]
    unwrapped = []
    for rings in polys:
        unwrapped.append(
            [(_unwrap_x(xs), np.asarray(ys, np.float64)) for xs, ys in rings]
        )
    gu = Geom("multipolygon", unwrapped)
    allx = np.concatenate([xs for rings in unwrapped for xs, _ in rings])
    ally = np.concatenate([ys for rings in unwrapped for _, ys in rings])
    k_lo = int(np.floor((allx.min() + 180.0) / 360.0))
    k_hi = int(np.floor((allx.max() + 180.0) / 360.0))
    y0, y1 = float(ally.min()) - 1.0, float(ally.max()) + 1.0
    parts = []
    for k in range(k_lo, k_hi + 1):
        xl, xr = -180.0 + 360.0 * k, 180.0 + 360.0 * k
        strip = Geom(
            "polygon",
            [[(np.array([xl, xr, xr, xl]), np.array([y0, y0, y1, y1]))]],
        )
        clipped = polygon_boolean(gu, strip, "intersection")
        for rings in clipped:  # rings: list of (m,2) arrays, ext first
            shifted = [
                (np.asarray(r)[:, 0] - 360.0 * k, np.asarray(r)[:, 1])
                for r in rings
            ]
            parts.append(Geom("polygon", [shifted]))
    return parts


# ---------------------------------------------------------------- segmentize
def _segmentize_arrays(xs, ys, zs, max_length: float):
    """OGRSimpleCurve::segmentize (ogr/ogrlinestring.cpp:2474):
    per-segment intermediate count floor(sqrt(d^2/m^2) - 1e-2) under
    the d^2 - m^2 > 1e-5*m^2 trigger, evenly spaced insertions, Z
    carried (not interpolated) from the segment start, and the
    direction canonicalization (reverse when first < last lex (x, y))
    so a line reads the same segmentized in both directions."""
    n = len(xs)
    if n < 2:
        return xs, ys, zs
    if xs[0] < xs[-1] or (xs[0] == xs[-1] and ys[0] < ys[-1]):
        rx, ry, rz = _segmentize_arrays(
            xs[::-1], ys[::-1], zs[::-1] if zs is not None else None,
            max_length)
        return rx[::-1], ry[::-1], rz[::-1] if rz is not None else None
    m2 = max_length * max_length
    ox, oy, oz = [], [], []
    for i in range(n):
        ox.append(xs[i])
        oy.append(ys[i])
        if zs is not None:
            oz.append(zs[i])
        if i == n - 1:
            break
        dx = xs[i + 1] - xs[i]
        dy = ys[i + 1] - ys[i]
        d2 = dx * dx + dy * dy
        if d2 - m2 > 1e-5 * m2:
            k = int(np.floor(np.sqrt(d2 / m2) - 1e-2))
            j = np.arange(1, k + 1, dtype=np.float64)
            ox.extend(xs[i] + j * dx / (k + 1))
            oy.extend(ys[i] + j * dy / (k + 1))
            if zs is not None:
                oz.extend([zs[i]] * k)  # no interpolation (:2583)
    return (np.asarray(ox), np.asarray(oy),
            np.asarray(oz) if zs is not None else None)


def segmentize(g: Geom, max_length: float) -> Geom:
    """Segmentize every linestring part / polygon ring of g."""
    if max_length <= 0:
        raise ValueError("dfMaxLength must be strictly positive")
    if g.kind == "point" or g.kind == "multipoint":
        return g
    if g.kind in ("linestring", "multilinestring"):
        zs = g.zs
        parts, z_out = [], [] if zs is not None else None
        for idx, (xs, ys) in enumerate(g.parts):
            pz = zs[idx] if isinstance(zs, list) else zs
            nx, ny, nz = _segmentize_arrays(
                np.asarray(xs, np.float64), np.asarray(ys, np.float64),
                np.asarray(pz, np.float64) if pz is not None else None,
                max_length)
            parts.append((nx, ny))
            if z_out is not None:
                z_out.append(nz)
        out_z = None
        if z_out is not None:
            out_z = z_out if isinstance(zs, list) else z_out[0]
        return Geom(g.kind, parts, out_z)
    # polygon / multipolygon: per ring — rings are stored OPEN, so
    # close before segmentizing (the closing segment must densify too,
    # like OGRLinearRing inherits segmentize) and reopen after
    new_parts = []
    for rings in g.parts:
        new_rings = []
        for xs, ys in rings:
            cx = np.append(np.asarray(xs, np.float64), float(xs[0]))
            cy = np.append(np.asarray(ys, np.float64), float(ys[0]))
            nx, ny, _ = _segmentize_arrays(cx, cy, None, max_length)
            new_rings.append((nx[:-1], ny[:-1]))
        new_parts.append(new_rings)
    return Geom(g.kind, new_parts)
