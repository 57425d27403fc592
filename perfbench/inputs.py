"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed, so one seed always gives
the same points, requests, micro-batches and documents.  Generation runs
in set-up and is charged to ``setup_s``; the program only ever sees the
generated inputs (parquet files and request dicts).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Finland bbox, the Helsinki hotspot and its share follow
# ``sources.fixtures.synth_points`` so the store sees the same skew.
FINLAND = (19.083, 59.454, 31.587, 70.092)
HOTSPOT = (24.94, 60.17, 0.2)
HOT_SHARE = 0.2
DATE0 = np.datetime64("2000-01-01")
N_DAYS = 9131  # 2000-01-01 .. 2024-12-31

DOCS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")


def image_id(i) -> np.ndarray:
    """Zero-padded ids, so string order equals numeric order."""
    return np.char.add("IMG_", np.char.zfill(np.asarray(i).astype(str), 12))


class Points:
    """Occurrence points with ids ``offset .. offset+n-1`` and an
    observation date (``Keruu_aloitus_pvm``, the API's time field)."""

    def __init__(self, n: int, seed: int, offset: int):
        rng = np.random.default_rng([seed, offset])
        x0, y0, x1, y1 = FINLAND
        lon = rng.uniform(x0, x1, n)
        lat = rng.uniform(y0, y1, n)
        hot = rng.random(n) < HOT_SHARE
        hx, hy, half = HOTSPOT
        lon[hot] = hx + rng.uniform(-half, half, int(hot.sum()))
        lat[hot] = hy + rng.uniform(-half, half, int(hot.sum()))
        self.offset = offset
        self.ids = np.arange(offset, offset + n, dtype=np.int64)
        self.lon = lon
        self.lat = lat
        self.day = rng.integers(0, N_DAYS, n)

    def __len__(self) -> int:
        return len(self.ids)

    def dates(self) -> np.ndarray:
        return DATE0 + self.day.astype("timedelta64[D]")

    def write(self, path: str) -> str:
        table = pa.table({"image_id": image_id(self.ids), "lon": self.lon,
                          "lat": self.lat, "Keruu_aloitus_pvm": self.dates()})
        pq.write_table(table, path)
        return path


class PointIndex:
    """Every point the store should hold, addressable by numeric id — the
    reference the output checks compare API responses against."""

    def __init__(self):
        self.batches: list[Points] = []

    def add(self, pts: Points) -> None:
        self.batches.append(pts)

    @property
    def total(self) -> int:
        return sum(len(b) for b in self.batches)

    def contains(self, i: int) -> bool:
        return any(0 <= i - b.offset < len(b) for b in self.batches)

    def lookup(self, ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(lon, lat, day) for numeric ids; raises KeyError on an unknown id."""
        ids = np.asarray(ids, dtype=np.int64)
        lon = np.empty(len(ids))
        lat = np.empty(len(ids))
        day = np.empty(len(ids), dtype=np.int64)
        found = np.zeros(len(ids), dtype=bool)
        for b in self.batches:
            k = ids - b.offset
            m = (k >= 0) & (k < len(b))
            lon[m], lat[m], day[m] = b.lon[k[m]], b.lat[k[m]], b.day[k[m]]
            found |= m
        if not found.all():
            raise KeyError(f"ids not generated: {ids[~found][:5].tolist()}")
        return lon, lat, day

    def count_bbox(self, bbox) -> int:
        x0, y0, x1, y1 = bbox
        return int(sum(((b.lon >= x0) & (b.lon <= x1)
                        & (b.lat >= y0) & (b.lat <= y1)).sum()
                       for b in self.batches))


# ------------------------------------------------------------ requests

# Box half-sizes in degrees: city block, district, municipality, province.
# A district box in the hotspot always holds more than two pages of points.
BOX_HALF = (0.004, 0.1, 0.25, 1.2)
KUNTA = ("Helsinki", "Oulu", "Tampere", "Rovaniemi", "Kuopio", "Inari",
         "Turku", "Jyväskylä", "Vaasa", "Joensuu")


def _box(rng, half: float, hot: bool):
    x0, y0, x1, y1 = FINLAND
    if hot:
        hx, hy, h = HOTSPOT
        cx, cy = rng.uniform(hx - h, hx + h), rng.uniform(hy - h, hy + h)
    else:
        cx, cy = rng.uniform(x0 + half, x1 - half), rng.uniform(y0 + half, y1 - half)
    return (float(cx - half), float(cy - half / 2), float(cx + half), float(cy + half / 2))


def _tm_box(rng):
    """A 40 km TM35FIN metre box inside Finland (EPSG:3067 request)."""
    e = rng.uniform(250_000, 650_000)
    n = rng.uniform(6_700_000, 7_600_000)
    return (float(e), float(n), float(e + 40_000), float(n + 40_000))


def _polygon(rng):
    """An irregular 12-vertex star polygon of municipality size (intersects
    filter), lon/lat."""
    half = BOX_HALF[2]
    bx = _box(rng, half, False)
    cx, cy = (bx[0] + bx[2]) / 2, (bx[1] + bx[3]) / 2
    ang = np.linspace(0, 2 * np.pi, 12, endpoint=False)
    rad = np.where(np.arange(12) % 2 == 0, 1.0, 0.55) * rng.uniform(0.8, 1.0, 12)
    ring = np.stack([cx + half * rad * np.cos(ang),
                     cy + half / 2 * rad * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def _date_range(rng) -> str:
    y = int(rng.integers(2000, 2023))
    return f"{y}-03-01/{y + 2}-09-30"


def reads(rng, store_ids: tuple[int, int], kunta: str) -> list[dict]:
    """One of each read shape the client sends.  Shapes keep their size
    from call to call; the seed moves boxes, dates and ids, so per-kind
    cost is comparable across seeds.  The municipality is passed in: how
    many points match depends on which one it is."""
    lo, hi = store_ids
    return [
        {"kind": "page", "bbox": _box(rng, BOX_HALF[1], True), "limit": 100,
         "keyset": 2},
        {"kind": "filter", "properties": [("Kunta", kunta)],
         "crs": "EPSG:3067", "limit": 100},
        {"kind": "count", "bbox": _box(rng, BOX_HALF[3], False)},
        {"kind": "lookup", "id": int(rng.integers(lo, hi))},
        {"kind": "page", "bbox": _box(rng, BOX_HALF[2], False), "limit": 100,
         "sortby": [("Keruu_aloitus_pvm", "-")]},
        {"kind": "filter", "bbox": _box(rng, BOX_HALF[2], False),
         "datetime": _date_range(rng), "limit": 100},
        {"kind": "filter", "intersects": _polygon(rng), "crs": "EPSG:3067",
         "limit": 100},
        {"kind": "page", "bbox": _tm_box(rng), "limit": 100},
        {"kind": "count", "bbox": _box(rng, BOX_HALF[0], True)},
        {"kind": "lookup", "id": int(rng.integers(hi + 10**9, hi + 2 * 10**9))},
    ]


class Requests:
    """Seeded stream of client requests."""

    def __init__(self, seed: int, store_ids: tuple[int, int]):
        self.rng = np.random.default_rng([seed, 7])
        self.store_ids = store_ids
        self.rounds = 0

    def reads(self) -> list[dict]:
        """The next round; rounds go through the municipalities in a fixed
        order, so the n-th round costs alike whatever the seed."""
        kunta = KUNTA[self.rounds % len(KUNTA)]
        self.rounds += 1
        return reads(self.rng, self.store_ids, kunta)

    def cycle(self) -> list[dict]:
        """A round of every read shape with a staged append after each
        third of it (three appends give a median robust to one slow
        write)."""
        rs = self.reads()
        out = []
        for i in range(3):
            out += rs[i * len(rs) // 3:(i + 1) * len(rs) // 3] + [{"kind": "append"}]
        return out


# ------------------------------------------------------------ documents

def _permute_text(text: str, rep: int) -> str:
    """The ``tools/make_sfx.py`` replica scheme: tokens permuted by a seed
    of (rep, text), so exact duplicates stay exact and near-duplicates
    diverge — the token multiset (language, quality, length) is kept."""
    toks = text.split(" ")
    seed = int.from_bytes(hashlib.blake2b(
        (str(rep) + "\x00" + text).encode(), digest_size=8).digest(), "big")
    order = np.random.default_rng(seed).permutation(len(toks))
    return " ".join(toks[i] for i in order)


# The make_sfx replica whose permutation every corpus uses: how many
# near-duplicate candidates curation meets depends on the permutation (the
# cost of a job differs by up to 30% between replicas), so it is the same
# for every seed.
REPLICA = 1
# The seed picks one of this many doc-id blocks and row orders; the pool is
# small so the oracle's answer per corpus can be reused.
BLOCK_POOL = 8


def documents(seed: int, path: str) -> int:
    """Write a make_sfx-style corpus: the bundled sf0.1 documents with
    their tokens permuted as replica ``REPLICA`` of ``tools/make_sfx.py``,
    with the doc ids moved to a block and the rows shuffled, both chosen by
    the seed.  Returns the row count."""
    base = pq.read_table(DOCS_PATH).to_pandas()
    block = 1 + seed % BLOCK_POOL
    base["doc_id"] = base["doc_id"] + block * 10_000_000
    base["text"] = [_permute_text(t, REPLICA) for t in base["text"]]
    order = np.random.default_rng([block, 11]).permutation(len(base))
    corpus = base.iloc[order].reset_index(drop=True)
    pq.write_table(pa.Table.from_pandas(corpus, preserve_index=False), path)
    return len(corpus)
