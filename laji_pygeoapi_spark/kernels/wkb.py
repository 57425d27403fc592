"""Minimal geometry model + WKB reader/writer (OGC 99-049 / ISO 19125 spec).

Replaces shapely's geometry objects for this engine.  A geometry is a plain
tuple ``(kind, payload)``:

* ``("Point", ndarray(2,))``
* ``("LineString", ndarray(n,2))``
* ``("Polygon", [ring0, ring1, ...])``      rings are ndarray(n,2), closed
* ``("MultiPoint", [point_coords, ...])``
* ``("MultiLineString", [line_coords, ...])``
* ``("MultiPolygon", [rings_list, ...])``
* ``("GeometryCollection", [geom, ...])``

Only 2-D, little-endian WKB is produced; both byte orders are accepted when
reading.  This is the storage format for the engine's ``geometry BinaryType``
column (reference stores PostGIS ``Geometry(*, 4326)``, ``edit_db.py:291``).
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION = 4, 5, 6, 7

_KIND_TO_CODE = {
    "Point": POINT, "LineString": LINESTRING, "Polygon": POLYGON,
    "MultiPoint": MULTIPOINT, "MultiLineString": MULTILINESTRING,
    "MultiPolygon": MULTIPOLYGON, "GeometryCollection": GEOMETRYCOLLECTION,
}
_CODE_TO_KIND = {v: k for k, v in _KIND_TO_CODE.items()}


def point(x: float, y: float):
    return ("Point", np.array([x, y], dtype=np.float64))


def linestring(coords):
    return ("LineString", np.asarray(coords, dtype=np.float64))


def polygon(shell, holes=()):
    rings = [_close_ring(np.asarray(shell, dtype=np.float64))]
    rings.extend(_close_ring(np.asarray(h, dtype=np.float64)) for h in holes)
    return ("Polygon", rings)


def multipoint(pts):
    return ("MultiPoint", [np.asarray(p, dtype=np.float64) for p in pts])


def multilinestring(lines):
    return ("MultiLineString", [np.asarray(l, dtype=np.float64) for l in lines])


def multipolygon(polys):
    """polys: list of rings-lists or of ("Polygon", rings) tuples."""
    parts = []
    for p in polys:
        if isinstance(p, tuple) and p[0] == "Polygon":
            parts.append(p[1])
        else:
            parts.append([_close_ring(np.asarray(r, dtype=np.float64)) for r in p])
    return ("MultiPolygon", parts)


def collection(geoms):
    return ("GeometryCollection", list(geoms))


def _close_ring(ring: np.ndarray) -> np.ndarray:
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def geom_kind(geom) -> str:
    """Route geometry to the point/line/polygon family (reference ``edit_db.py:279-283``)."""
    t = geom[0]
    if t in ("Point", "MultiPoint"):
        return "point"
    if t in ("LineString", "MultiLineString"):
        return "line"
    if t in ("Polygon", "MultiPolygon"):
        return "polygon"
    return "other"


# ---------------------------------------------------------------- writer

def dumps(geom) -> bytes:
    out = bytearray()
    _write(geom, out)
    return bytes(out)


def _write(geom, out: bytearray) -> None:
    kind, payload = geom
    out.append(1)  # little endian
    out += struct.pack("<I", _KIND_TO_CODE[kind])
    if kind == "Point":
        out += struct.pack("<2d", float(payload[0]), float(payload[1]))
    elif kind == "LineString":
        out += struct.pack("<I", len(payload))
        out += np.ascontiguousarray(payload, dtype="<f8").tobytes()
    elif kind == "Polygon":
        out += struct.pack("<I", len(payload))
        for ring in payload:
            out += struct.pack("<I", len(ring))
            out += np.ascontiguousarray(ring, dtype="<f8").tobytes()
    elif kind == "MultiPoint":
        out += struct.pack("<I", len(payload))
        for p in payload:
            _write(("Point", p), out)
    elif kind == "MultiLineString":
        out += struct.pack("<I", len(payload))
        for l in payload:
            _write(("LineString", l), out)
    elif kind == "MultiPolygon":
        out += struct.pack("<I", len(payload))
        for rings in payload:
            _write(("Polygon", rings), out)
    elif kind == "GeometryCollection":
        out += struct.pack("<I", len(payload))
        for g in payload:
            _write(g, out)
    else:  # pragma: no cover
        raise ValueError(f"unsupported geometry kind {kind}")


# ---------------------------------------------------------------- reader

def loads(buf: bytes):
    geom, _ = _read(memoryview(buf), 0)
    return geom


def _read(mv: memoryview, off: int):
    little = mv[off] == 1
    bo = "<" if little else ">"
    raw_code = struct.unpack_from(bo + "I", mv, off + 1)[0]
    off += 5
    if raw_code & 0x20000000:  # PostGIS EWKB: an SRID int follows the header
        off += 4
    if raw_code & 0xC0000000:
        raise NotImplementedError("Z/M coordinates are not supported (2-D engine)")
    code = raw_code & 0xFF
    kind = _CODE_TO_KIND[code]
    if kind == "Point":
        x, y = struct.unpack_from(bo + "2d", mv, off)
        return ("Point", np.array([x, y])), off + 16
    if kind == "LineString":
        n = struct.unpack_from(bo + "I", mv, off)[0]
        off += 4
        coords = np.frombuffer(mv, dtype=bo + "f8", count=2 * n, offset=off).reshape(n, 2).astype(np.float64)
        return ("LineString", coords), off + 16 * n
    if kind == "Polygon":
        nrings = struct.unpack_from(bo + "I", mv, off)[0]
        off += 4
        rings = []
        for _ in range(nrings):
            n = struct.unpack_from(bo + "I", mv, off)[0]
            off += 4
            rings.append(np.frombuffer(mv, dtype=bo + "f8", count=2 * n, offset=off).reshape(n, 2).astype(np.float64))
            off += 16 * n
        return ("Polygon", rings), off
    # multi-part kinds: payload is a count of full WKB sub-geometries
    n = struct.unpack_from(bo + "I", mv, off)[0]
    off += 4
    parts = []
    for _ in range(n):
        g, off = _read(mv, off)
        parts.append(g)
    if kind == "MultiPoint":
        return ("MultiPoint", [g[1] for g in parts]), off
    if kind == "MultiLineString":
        return ("MultiLineString", [g[1] for g in parts]), off
    if kind == "MultiPolygon":
        return ("MultiPolygon", [g[1] for g in parts]), off
    return ("GeometryCollection", parts), off


# ---------------------------------------------------------------- helpers

def bounds(geom) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) envelope."""
    pts = _all_coords(geom)
    if not pts:
        return (np.nan,) * 4
    arr = np.vstack(pts)
    return float(arr[:, 0].min()), float(arr[:, 1].min()), float(arr[:, 0].max()), float(arr[:, 1].max())


def centroid(geom) -> tuple[float, float]:
    """Centroid of the coordinate cloud (sufficient for CENTER_POINT serving,
    reference ``lajiapi_provider.py:73``); exact area centroid for polygons."""
    kind, payload = geom
    if kind == "Point":
        return float(payload[0]), float(payload[1])
    if kind == "Polygon":
        return _polygon_centroid(payload)
    if kind == "MultiPolygon":
        cs, ws = [], []
        for rings in payload:
            c = _polygon_centroid(rings)
            a = abs(_ring_area(rings[0]))
            cs.append(c)
            ws.append(a if a > 0 else 1e-300)
        w = np.asarray(ws)
        arr = np.asarray(cs)
        w = w / w.sum()
        return float((arr[:, 0] * w).sum()), float((arr[:, 1] * w).sum())
    arr = np.vstack(_all_coords(geom))
    return float(arr[:, 0].mean()), float(arr[:, 1].mean())


def _polygon_centroid(rings) -> tuple[float, float]:
    cx = cy = area = 0.0
    for i, ring in enumerate(rings):
        x, y = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = np.roll(ring[:-1], -1, axis=0).T
        cross = x * y1 - x1 * y
        a = cross.sum() / 2.0
        if a == 0:
            continue
        sign = 1.0 if i == 0 else -1.0
        # hole rings subtract regardless of their winding; normalize by |a|
        ccx = ((x + x1) * cross).sum() / (6.0 * a)
        ccy = ((y + y1) * cross).sum() / (6.0 * a)
        cx += sign * abs(a) * ccx
        cy += sign * abs(a) * ccy
        area += sign * abs(a)
    if area == 0:
        arr = np.vstack(rings)
        return float(arr[:, 0].mean()), float(arr[:, 1].mean())
    return cx / area, cy / area


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = np.roll(ring[:-1], -1, axis=0).T
    return float((x * y1 - x1 * y).sum() / 2.0)


def _all_coords(geom) -> list[np.ndarray]:
    kind, payload = geom
    if kind == "Point":
        return [payload.reshape(1, 2)]
    if kind == "LineString":
        return [payload]
    if kind == "Polygon":
        return list(payload)
    if kind in ("MultiPoint",):
        return [np.asarray(payload).reshape(-1, 2)] if len(payload) else []
    if kind == "MultiLineString":
        return list(payload)
    if kind == "MultiPolygon":
        return [r for rings in payload for r in rings]
    if kind == "GeometryCollection":
        return [c for g in payload for c in _all_coords(g)]
    return []
