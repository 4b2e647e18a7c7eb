"""WKB <-> ragged-coordinate-array codec, pure numpy.

This engine has no GEOS: geometry values live in Spark as WKB
``BinaryType`` columns and are decoded *per Arrow batch* into a flat
GeoArrow-style ragged representation (one contiguous ``(N, 2)`` float64
coordinate block plus three offset arrays).  All geometry math downstream
(area, bounds, point-in-polygon, buffering) is vectorized numpy over this
representation — never per-row Python object graphs.

Layout (GeoArrow "polygon with offsets" generalised to mixed types):

    coords       (N, 2) float64 — every vertex of every row, concatenated
    ring_offsets (R+1,) int64   — coords[ring_offsets[i]:ring_offsets[i+1]]
                                   is ring/linestring/point i
    part_offsets (P+1,) int64   — rings of part j (a polygon's exterior ring
                                   followed by its holes; a linestring or a
                                   point is a 1-ring part)
    geom_offsets (G+1,) int64   — parts of geometry row g (multi-geometries
                                   have >1 part)
    types        (G,)   int8    — logical type per row: 0 empty/null,
                                   1 point, 2 line, 3 polygon

Reference parity: mirrors the reference's three logical geometry classes
(``sgis/geopandas_tools/geometry_types.py:130-172``) where multi- and
single-part share a type.  Z coordinates are dropped on decode, matching
the reference's ``force_2d`` convention
(``networkanalysis/_service_area.py:141``).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

# WKB geometry type codes (ISO base codes).
WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7

# logical type codes (column value of `geom_type`)
T_EMPTY = 0
T_POINT = 1
T_LINE = 2
T_POLYGON = 3

_BASE_TO_LOGICAL = {
    WKB_POINT: T_POINT,
    WKB_MULTIPOINT: T_POINT,
    WKB_LINESTRING: T_LINE,
    WKB_MULTILINESTRING: T_LINE,
    WKB_POLYGON: T_POLYGON,
    WKB_MULTIPOLYGON: T_POLYGON,
}


@dataclass
class GeomArray:
    """Ragged batch of G geometries (see module docstring for layout)."""

    coords: np.ndarray
    ring_offsets: np.ndarray
    part_offsets: np.ndarray
    geom_offsets: np.ndarray
    types: np.ndarray

    def __len__(self) -> int:
        return len(self.types)

    @property
    def n_rings(self) -> int:
        return len(self.ring_offsets) - 1

    @property
    def n_parts(self) -> int:
        return len(self.part_offsets) - 1

    def geom_rings(self, g: int) -> list[np.ndarray]:
        """All rings (as (k,2) coord views) of geometry row ``g``."""
        out = []
        for p in range(self.geom_offsets[g], self.geom_offsets[g + 1]):
            for r in range(self.part_offsets[p], self.part_offsets[p + 1]):
                out.append(self.coords[self.ring_offsets[r] : self.ring_offsets[r + 1]])
        return out

    def geom_parts(self, g: int) -> list[list[np.ndarray]]:
        """Parts of row ``g``, each a list of rings (exterior first)."""
        out = []
        for p in range(self.geom_offsets[g], self.geom_offsets[g + 1]):
            rings = [
                self.coords[self.ring_offsets[r] : self.ring_offsets[r + 1]]
                for r in range(self.part_offsets[p], self.part_offsets[p + 1])
            ]
            out.append(rings)
        return out


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0


def _read_header(cur: _Cursor) -> tuple[str, int, bool]:
    byte_order = cur.buf[cur.pos]
    endian = "<" if byte_order == 1 else ">"
    (raw_type,) = struct.unpack_from(endian + "I", cur.buf, cur.pos + 1)
    cur.pos += 5
    has_z = False
    t = raw_type
    if t & 0x80000000:  # EWKB Z flag
        has_z = True
        t &= 0x3FFFFFFF
    if t >= 1000:  # ISO Z/M codes
        dims = t // 1000
        has_z = dims in (1, 3)  # 1xxx = Z, 3xxx = ZM
        t = t % 1000
    return endian, t, has_z


def _read_coords(cur: _Cursor, endian: str, n: int, has_z: bool) -> np.ndarray:
    dim = 3 if has_z else 2
    nbytes = n * dim * 8
    arr = np.frombuffer(cur.buf, dtype=endian + "f8", count=n * dim, offset=cur.pos)
    cur.pos += nbytes
    arr = arr.reshape(n, dim)
    return np.ascontiguousarray(arr[:, :2], dtype=np.float64)


def decode(buffers) -> GeomArray:
    """Decode an iterable of WKB ``bytes`` (or None) into a GeomArray.

    The per-geometry header walk is a Python loop, but each ring's
    coordinate block is pulled with one ``np.frombuffer`` — the cost is
    O(rings) Python ops, not O(vertices).  At the Spark layer this runs
    once per Arrow batch on the (small, broadcast) polygon side; the hot
    page side never carries WKB at all (native x/y columns).
    """
    coords_chunks: list[np.ndarray] = []
    ring_sizes: list[int] = []
    part_ring_counts: list[int] = []
    geom_part_counts: list[int] = []
    types: list[int] = []

    def read_geom(cur: _Cursor) -> tuple[int, int]:
        """Read one geometry; returns (logical_type, n_parts_appended)."""
        endian, t, has_z = _read_header(cur)
        if t == WKB_POINT:
            pts = _read_coords(cur, endian, 1, has_z)
            if np.isnan(pts).all():  # POINT EMPTY encodes as NaN NaN
                return T_EMPTY, 0
            coords_chunks.append(pts)
            ring_sizes.append(1)
            part_ring_counts.append(1)
            return T_POINT, 1
        if t == WKB_LINESTRING:
            (n,) = struct.unpack_from(endian + "I", cur.buf, cur.pos)
            cur.pos += 4
            if n == 0:
                return T_EMPTY, 0
            coords_chunks.append(_read_coords(cur, endian, n, has_z))
            ring_sizes.append(n)
            part_ring_counts.append(1)
            return T_LINE, 1
        if t == WKB_POLYGON:
            (nrings,) = struct.unpack_from(endian + "I", cur.buf, cur.pos)
            cur.pos += 4
            if nrings == 0:
                return T_EMPTY, 0
            for _ in range(nrings):
                (n,) = struct.unpack_from(endian + "I", cur.buf, cur.pos)
                cur.pos += 4
                coords_chunks.append(_read_coords(cur, endian, n, has_z))
                ring_sizes.append(n)
            part_ring_counts.append(nrings)
            return T_POLYGON, 1
        if t in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON, WKB_GEOMETRYCOLLECTION):
            (ngeoms,) = struct.unpack_from(endian + "I", cur.buf, cur.pos)
            cur.pos += 4
            logical = T_EMPTY
            nparts = 0
            for _ in range(ngeoms):
                sub_logical, sub_parts = read_geom(cur)
                nparts += sub_parts
                if sub_logical != T_EMPTY:
                    if logical == T_EMPTY:
                        logical = sub_logical
                    elif logical != sub_logical:
                        logical = T_EMPTY  # mixed collection -> caller explodes
            return logical, nparts
        raise ValueError(f"unsupported WKB type code {t}")

    for buf in buffers:
        if buf is None or len(buf) == 0:
            types.append(T_EMPTY)
            geom_part_counts.append(0)
            continue
        cur = _Cursor(bytes(buf))
        logical, nparts = read_geom(cur)
        types.append(logical if nparts else T_EMPTY)
        geom_part_counts.append(nparts)

    if coords_chunks:
        coords = np.concatenate(coords_chunks, axis=0)
    else:
        coords = np.empty((0, 2), dtype=np.float64)
    ring_offsets = np.concatenate([[0], np.cumsum(ring_sizes, dtype=np.int64)])
    part_offsets = np.concatenate([[0], np.cumsum(part_ring_counts, dtype=np.int64)])
    geom_offsets = np.concatenate([[0], np.cumsum(geom_part_counts, dtype=np.int64)])
    return GeomArray(
        coords=coords,
        ring_offsets=ring_offsets.astype(np.int64),
        part_offsets=part_offsets.astype(np.int64),
        geom_offsets=geom_offsets.astype(np.int64),
        types=np.asarray(types, dtype=np.int8),
    )


def _pack_coords(pts: np.ndarray) -> bytes:
    return np.ascontiguousarray(pts, dtype="<f8").tobytes()


def encode_point(x: float, y: float) -> bytes:
    return b"\x01" + struct.pack("<I", WKB_POINT) + struct.pack("<dd", x, y)


def encode_linestring(pts: np.ndarray) -> bytes:
    return (
        b"\x01"
        + struct.pack("<I", WKB_LINESTRING)
        + struct.pack("<I", len(pts))
        + _pack_coords(pts)
    )


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    out = [b"\x01", struct.pack("<I", WKB_POLYGON), struct.pack("<I", len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(_pack_coords(r))
    return b"".join(out)


def encode_boxes(
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray
) -> list[bytes]:
    """Vectorized WKB for axis-aligned rectangles — byte-identical to
    ``encode_polygon`` of the closed ring (x0,y0) → (x1,y0) → (x1,y1) →
    (x0,y1) → (x0,y0) per row, but built in
    one numpy pass (a 93-byte fixed layout: header + 5-point ring).  Box
    results dominate tile/grid overlays, and per-row struct packing was
    the fast path's residual Python cost."""
    n = len(x0)
    buf = np.empty((n, 93), dtype=np.uint8)
    head = (
        b"\x01"
        + struct.pack("<I", WKB_POLYGON)
        + struct.pack("<I", 1)
        + struct.pack("<I", 5)
    )
    buf[:, :13] = np.frombuffer(head, dtype=np.uint8)
    coords = np.empty((n, 10), dtype="<f8")
    coords[:, 0::8] = np.asarray(x0)[:, None]   # cols 0, 8
    coords[:, 1] = y0
    coords[:, 2] = x1
    coords[:, 3] = y0
    coords[:, 4] = x1
    coords[:, 5] = y1
    coords[:, 6] = x0
    coords[:, 7] = y1
    coords[:, 9] = y0
    buf[:, 13:] = coords.view(np.uint8).reshape(n, 80)
    return [r.tobytes() for r in buf]


def encode_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [b"\x01", struct.pack("<I", WKB_MULTIPOLYGON), struct.pack("<I", len(polys))]
    for rings in polys:
        out.append(encode_polygon(rings))
    return b"".join(out)


def encode_multipoint(pts: np.ndarray) -> bytes:
    out = [b"\x01", struct.pack("<I", WKB_MULTIPOINT), struct.pack("<I", len(pts))]
    for p in pts:
        out.append(encode_point(p[0], p[1]))
    return b"".join(out)


def encode_multilinestring(lines: list[np.ndarray]) -> bytes:
    out = [b"\x01", struct.pack("<I", WKB_MULTILINESTRING), struct.pack("<I", len(lines))]
    for ln in lines:
        out.append(encode_linestring(ln))
    return b"".join(out)


def encode_geom(parts: list[list[np.ndarray]], logical: int) -> bytes:
    """Encode one geometry row back to WKB, single-part when possible."""
    if logical == T_POINT:
        if len(parts) == 1:
            (x, y) = parts[0][0][0]
            return encode_point(float(x), float(y))
        return encode_multipoint(np.array([p[0][0] for p in parts]))
    if logical == T_LINE:
        if len(parts) == 1:
            return encode_linestring(parts[0][0])
        return encode_multilinestring([p[0] for p in parts])
    if logical == T_POLYGON:
        if len(parts) == 1:
            return encode_polygon(parts[0])
        return encode_multipolygon(parts)
    raise ValueError(f"cannot encode logical type {logical}")


def encode(ga: GeomArray) -> list[bytes | None]:
    """Encode a GeomArray back to a list of WKB buffers (None for empty)."""
    out: list[bytes | None] = []
    for g in range(len(ga)):
        if ga.types[g] == T_EMPTY or ga.geom_offsets[g] == ga.geom_offsets[g + 1]:
            out.append(None)
            continue
        out.append(encode_geom(ga.geom_parts(g), int(ga.types[g])))
    return out


# ---------------------------------------------------------------- WKT (tests)

def _fmt(v: float) -> str:
    return repr(float(v))


def parse_wkt(wkt: str) -> bytes:
    """Minimal WKT -> WKB for tests/fixtures (POINT/LINESTRING/POLYGON/MULTI*)."""
    s = wkt.strip()
    upper = s.upper()

    def nums(body: str) -> np.ndarray:
        pts = []
        for pair in body.split(","):
            xy = pair.split()
            pts.append((float(xy[0]), float(xy[1])))
        return np.array(pts, dtype=np.float64)

    def rings_of(body: str) -> list[np.ndarray]:
        out, depth, start = [], 0, 0
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    out.append(nums(body[start:i]))
        return out

    inner = s[s.index("(") + 1 : s.rindex(")")]
    if upper.startswith("POINT"):
        p = nums(inner)[0]
        return encode_point(p[0], p[1])
    if upper.startswith("MULTIPOINT"):
        cleaned = inner.replace("(", "").replace(")", "")
        return encode_multipoint(nums(cleaned))
    if upper.startswith("LINESTRING"):
        return encode_linestring(nums(inner))
    if upper.startswith("MULTILINESTRING"):
        return encode_multilinestring(rings_of(inner))
    if upper.startswith("POLYGON"):
        return encode_polygon(rings_of(inner))
    if upper.startswith("MULTIPOLYGON"):
        polys, depth, start = [], 0, 0
        for i, ch in enumerate(inner):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    polys.append(rings_of(inner[start:i]))
        return encode_multipolygon(polys)
    raise ValueError(f"unsupported WKT: {wkt[:40]}")


def parse_geojson(geom: dict) -> bytes:
    """GeoJSON geometry dict -> WKB (the reference's to_gdf dict/GeoJSON
    ingestion, ``conversion.py:120-350``)."""
    t = geom.get("type")
    c = geom.get("coordinates")
    if t == "Point":
        return encode_point(float(c[0]), float(c[1]))
    if t == "MultiPoint":
        return encode_multipoint(np.asarray(c, dtype=np.float64))
    if t == "LineString":
        return encode_linestring(np.asarray(c, dtype=np.float64))
    if t == "MultiLineString":
        return encode_multilinestring([np.asarray(l, dtype=np.float64) for l in c])
    if t == "Polygon":
        return encode_polygon([np.asarray(r, dtype=np.float64) for r in c])
    if t == "MultiPolygon":
        return encode_multipolygon(
            [[np.asarray(r, dtype=np.float64) for r in p] for p in c]
        )
    raise ValueError(f"unsupported GeoJSON geometry type: {t!r}")


def _wkt_coords(pts: np.ndarray) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)


def to_wkt(ga: "GeomArray", g: int) -> str:
    """WKT text of geometry row ``g`` (writer side of parse_wkt).
    GeomArray types are LOGICAL (multi collapsed into its base type), so
    single vs MULTI is decided by the part/ring structure."""
    t = ga.types[g]
    parts = ga.geom_parts(g)
    if not parts:
        return "GEOMETRYCOLLECTION EMPTY"
    if t == T_POINT:
        pts = [r[0] for part in parts for r in part]
        if len(pts) == 1:
            return f"POINT ({_fmt(pts[0][0])} {_fmt(pts[0][1])})"
        return (
            "MULTIPOINT ("
            + ", ".join(f"({_fmt(p[0])} {_fmt(p[1])})" for p in pts)
            + ")"
        )
    if t == T_LINE:
        lines = [r for part in parts for r in part]
        if len(lines) == 1:
            return f"LINESTRING ({_wkt_coords(lines[0])})"
        return (
            "MULTILINESTRING ("
            + ", ".join(f"({_wkt_coords(r)})" for r in lines)
            + ")"
        )
    if t == T_POLYGON:
        if len(parts) == 1:
            return (
                "POLYGON ("
                + ", ".join(f"({_wkt_coords(r)})" for r in parts[0])
                + ")"
            )
        return (
            "MULTIPOLYGON ("
            + ", ".join(
                "(" + ", ".join(f"({_wkt_coords(r)})" for r in rings) + ")"
                for rings in parts
            )
            + ")"
        )
    raise ValueError(f"unsupported geometry type id {t} for WKT output")
