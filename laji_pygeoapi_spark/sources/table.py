"""The occurrence/image store: partitioned parquet layout + lineage manifests
+ checkpoint-resume (north rule M5).

Layout (Iceberg-style on plain parquet — no Iceberg runtime jar in this
container; the write/read contract mirrors ``writeTo(...).append()``):

    <root>/data/geom_kind=<k>/cell_prefix=<c>/part-*.parquet
    <root>/_manifests/manifest-<job_id>.json     (per-partition lineage)
    <root>/_manifests/archived/                  (deltas a compaction superseded)
    <root>/_checkpoints/<job_id>.json            (completed-step markers)

Every write goes through :mod:`.commit`: new data lands in a private path,
becomes visible in one step, and the manifest written after it is the
commit record.  Readers never repair the store.

One logical table with ``geom_kind`` + ``cell_prefix`` partition columns
replaces the reference's 66 physical PostGIS tables
(``main.py:85``, ``edit_db.py:262-296``): region/geom-type routing becomes
partition pruning, and the GIST index becomes layout (coarse hex cell as the
physical key + lon/lat min-max in parquet row groups).

Lineage manifest per partition: cell range, row count, checksum — the
resume/verification record the north rule asks for.  ``xor`` of per-row
64-bit hashes is the checksum: associative + commutative, so it is
computable as a distributed agg and stable under row order.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from . import commit

PARTITION_COLS = ("geom_kind", "cell_prefix")


def write_partitioned(df: DataFrame, root: str, job_id: str,
                      mode: str = "append",
                      partition_cols=PARTITION_COLS,
                      bloom_col: str | None = None,
                      bloom_bits: int = 8192,
                      staged: bool = False) -> dict:
    """Write the table partitioned by (geom_kind, cell_prefix) and emit a
    lineage manifest.  An explicit repartition on the partition key bounds
    file counts (one shuffle, then parallel writes per partition).

    ``bloom_col``: also record a per-partition Bloom filter over that
    column in the manifest (and enable parquet's own row-group bloom on it)
    — the id-lookup index: a single-feature GET tests ``n_partitions``
    bitsets driver-side and scans only matching partitions, replacing the
    reference's PostGIS btree on the id (``edit_db.py:307-311``).  Size
    ``bloom_bits`` ≈ 10× expected rows per partition per delta for ~1 %
    false positives (the default 8192 suits ≤1 k rows; at petabyte scale
    the per-partition manifest bloom stays the COARSE pruner and parquet's
    per-row-group blooms — enabled by the same flag — do the fine skipping
    inside each file).

    ``staged=True``: EXACTLY-ONCE append (round-3 ADVICE — foreachBatch
    replays a batch whose checkpoint didn't commit, and a plain append
    would duplicate its rows), on the :mod:`.commit` protocol.  The commit
    record is ``manifest-<job_id>.json`` in ``_manifests/`` or, once a
    compaction has superseded it, ``_manifests/archived/``: if it exists
    the replay returns it unchanged.  Otherwise :func:`commit.publish`
    discards what an earlier attempt left, stages the batch privately and
    moves its files into the live tree under a ``<job_id>-`` prefix; the
    manifest write is the commit point.  Until then the job's files are
    uncommitted: a replay or the next :func:`compact_store` discards
    them."""
    part_cols = [c for c in partition_cols if c in df.columns]
    if bloom_col:
        _check_bloom_dtype(df, bloom_col)
    manifest_path = os.path.join(root, "_manifests", f"manifest-{job_id}.json")
    if staged:
        for path in (manifest_path, os.path.join(root, "_manifests", "archived",
                                                 f"manifest-{job_id}.json")):
            if os.path.exists(path):  # committed — replay is a no-op
                with open(path) as f:
                    return json.load(f)
    # persist the batch FIRST so both consumers below (the partitioned write
    # and the manifest aggregation) resolve to the same cached subtree and
    # the upstream plan is evaluated ONCE (round-1 ADVICE: it ran twice);
    # the manifest stays a DELTA record of this job's rows, which an
    # append-mode read-back could not provide
    with cache.scope():
        df = cache.persist(df)
        # honor salt_dense_cells: a _salt column splits hot cells across writer
        # tasks (shuffle key only — it is dropped from the stored table)
        shuffle_cols = part_cols + (["_salt"] if "_salt" in df.columns else [])
        out = df.repartition(*[F.col(c) for c in shuffle_cols]) if shuffle_cols else df
        if "_salt" in df.columns:
            out = out.drop("_salt")
            manifest_src = df.drop("_salt")
        else:
            manifest_src = df
        # sort within partitions on the fine cell key: clusters rows so parquet
        # row-group min/max stats on lon/lat/cell become tight -> rowgroup
        # pruning on bbox scans (the engine's GIST-index replacement)
        sort_key = next((c for c in ("cell_r7", "cell_r5", "lon") if c in manifest_src.columns), None)
        if sort_key:
            out = out.sortWithinPartitions(sort_key)
        t0 = time.time()
        data_dir = os.path.join(root, "data")
        writer = out.write.mode("overwrite" if staged else mode).partitionBy(*part_cols)
        if bloom_col:
            writer = (writer.option(f"parquet.bloom.filter.enabled#{bloom_col}", "true")
                            .option(f"parquet.bloom.filter.expected.ndv#{bloom_col}",
                                    str(max(bloom_bits // 10, 64))))
        if staged:
            commit.publish(data_dir, job_id, writer.parquet)
        else:
            writer.parquet(data_dir)
        write_s = time.time() - t0
        manifest = build_manifest(manifest_src, part_cols,
                                  bloom_col=bloom_col, bloom_bits=bloom_bits)
    total_rows = sum(p["row_count"] for p in manifest)
    manifest_doc = {
        "job_id": job_id,
        "written_at": time.time(),
        "partition_cols": part_cols,
        "partitions": manifest,
        "total_rows": total_rows,
        # job metrics (north rule: lineage + METRICS per job)
        "metrics": {
            "write_wall_s": round(write_s, 3),
            "rows_per_sec": round(total_rows / write_s, 1) if write_s > 0 else None,
            "n_partitions": len(manifest),
        },
    }
    if bloom_col:
        manifest_doc["bloom"] = {"col": bloom_col, "bits": bloom_bits,
                                 "k": _BLOOM_K}
    commit.write_json(manifest_path, manifest_doc)
    return manifest_doc


_BLOOM_K = 4  # hash rows per key (FPR ≈ (1 - e^(-k·n/bits))^k)


def _check_bloom_dtype(df: DataFrame, col: str) -> None:
    """Only string/integral columns may carry the manifest bloom index.

    The distributed build routes other types (float, date, timestamp,
    boolean) through JVM ``xxhash64`` on the NATIVE value while the
    driver-side :func:`bloom_words` probe hashes ``str(value)`` — the two
    diverge, and a diverging bloom makes ``lookup_partitions`` report a
    false MISS for a present key: a silently-empty GET, a wrong answer
    (round-3 ADVICE).  Failing the write is the safe contract."""
    from pyspark.sql import types as T
    dtype = df.schema[col].dataType
    if not isinstance(dtype, (T.StringType, T.LongType, T.IntegerType,
                              T.ShortType, T.ByteType)):
        raise ValueError(
            f"bloom_col={col!r} has type {dtype.simpleString()}; the manifest "
            "bloom index supports only string and integral columns (other "
            "types would make the driver-side probe diverge from the "
            "distributed build and falsely prune present keys)")


def _with_bloom_positions(df: DataFrame, col: str, bits: int,
                          n_hashes: int = _BLOOM_K) -> DataFrame:
    """Stage ``_bp0.._bp{k-1}`` bit-position columns for ``col`` — the same
    deterministic hash family as the sketches (``operators.sketch``), with
    every round staged as its own projection so nothing is re-evaluated
    per row (see ``sketch.with_hash32``)."""
    from ..operators.sketch import _MOD32, _MULT, with_hash32
    df = with_hash32(df, col, out="_bh")
    for i in range(n_hashes):
        df = df.withColumn(f"_bx{i}", (F.col("_bh")
                                       + F.lit(i * 0x9E3779B9)) % F.lit(_MOD32))
        x = F.col(f"_bx{i}")
        df = df.withColumn(f"_bx{i}", (x.bitwiseXOR(F.shiftright(x, 16))
                                       * F.lit(_MULT)) % F.lit(_MOD32))
        x = F.col(f"_bx{i}")
        df = df.withColumn(f"_bp{i}",
                           (x.bitwiseXOR(F.shiftright(x, 16)) % F.lit(bits)).cast("long"))
    return df.drop("_bh", *[f"_bx{i}" for i in range(n_hashes)])


def bloom_words(value, bits: int, k: int = _BLOOM_K) -> list[int]:
    """Driver-side bloom footprint of one python value (same hash family as
    the distributed build): list of (word_index, word_mask) pairs."""
    def h32(x: int) -> int:
        y = ((x % 2**32) + ((x >> 32) % 2**32)) % 2**32
        for _ in range(2):
            y = ((y ^ (y >> 16)) * 73244475) % 2**32
        return y ^ (y >> 16)

    if isinstance(value, int):
        base = h32(value)
    else:
        # key_expr's xxhash64, computed DRIVER-side (kernels.xxh is
        # bit-exact with the JVM) — a GET must not run a Spark job just to
        # hash its own key
        from ..kernels.xxh import xxhash64_spark
        base = h32(xxhash64_spark(str(value)))
    out = []
    for i in range(k):
        x = (base + i * 0x9E3779B9) % 2**32
        x = ((x ^ (x >> 16)) * 73244475) % 2**32
        pos = (x ^ (x >> 16)) % bits
        out.append((pos >> 6, 1 << (pos & 63)))
    return out


def build_manifest(df: DataFrame, part_cols, bloom_col: str | None = None,
                   bloom_bits: int = 8192) -> list[dict]:
    """Per-partition lineage: cell range, row count, xor-checksum — one
    distributed aggregation, no collect of data rows.  With ``bloom_col``,
    also a per-partition Bloom bitset (``bloom_bits`` bits as int64 words,
    bit_or-aggregated — associative, map-side combined like everything
    else in this manifest)."""
    # sorted so the checksum is invariant to physical column order
    # (partition columns move to the tail on read-back)
    hash_cols = sorted(c for c in df.columns if c not in ("bytes", "geometry"))
    checksum = F.bit_xor(F.xxhash64(*[F.col(c) for c in hash_cols]))
    aggs = [
        F.count(F.lit(1)).alias("row_count"),
        checksum.alias("checksum"),
    ]
    if "lon" in df.columns:
        aggs += [F.min("lon").alias("min_lon"), F.max("lon").alias("max_lon"),
                 F.min("lat").alias("min_lat"), F.max("lat").alias("max_lat")]
    if "cell_prefix" in df.columns:
        aggs += [F.min("cell_prefix").alias("min_cell"), F.max("cell_prefix").alias("max_cell")]
    n_words = 0
    if bloom_col and bloom_col in df.columns:
        n_words = bloom_bits // 64
        # stage the k bit positions once, then 64-bit words accumulate via
        # bit_or over per-row masks — pure JVM integer expressions
        df = _with_bloom_positions(df, bloom_col, bloom_bits)
        for w in range(n_words):
            row_mask = " | ".join(
                f"IF(_bp{i} DIV 64 = {w}, SHIFTLEFT(CAST(1 AS BIGINT), "
                f"CAST(_bp{i} % 64 AS INT)), CAST(0 AS BIGINT))"
                for i in range(_BLOOM_K))
            aggs.append(F.expr(f"bit_or({row_mask})").alias(f"_bw{w}"))
    rows = (df.groupBy(*part_cols).agg(*aggs) if part_cols else df.agg(*aggs)).collect()
    out = []
    for r in rows:
        d = r.asDict()
        if n_words:
            d["bloom_words"] = [int(d.pop(f"_bw{w}") or 0) for w in range(n_words)]
        out.append(d)
    return out


def read_table(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "data"))


def verify_against_manifest(spark: SparkSession, root: str, job_id: str) -> dict:
    """Recompute per-partition counts+checksums from storage and diff the
    manifest — the integrity check a resume consults before trusting state."""
    with open(os.path.join(root, "_manifests", f"manifest-{job_id}.json")) as f:
        doc = json.load(f)
    df = read_table(spark, root)
    recomputed = {tuple(p[c] for c in doc["partition_cols"]): p
                  for p in build_manifest(df, doc["partition_cols"])}
    mismatches = []
    for p in doc["partitions"]:
        key = tuple(p[c] for c in doc["partition_cols"])
        got = recomputed.get(key)
        if got is None:
            mismatches.append({"partition": key, "error": "missing"})
        elif got["row_count"] != p["row_count"] or got["checksum"] != p["checksum"]:
            mismatches.append({"partition": key, "expected": p, "got": got})
    return {"ok": not mismatches, "mismatches": mismatches,
            "partitions": len(doc["partitions"])}


# ------------------------------------------------------------ checkpoints

def _ckpt_path(root: str, job_id: str) -> str:
    return os.path.join(root, "_checkpoints", f"{job_id}.json")


def load_checkpoint(root: str, job_id: str) -> dict:
    path = _ckpt_path(root, job_id)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"job_id": job_id, "completed_steps": []}


def mark_step(root: str, job_id: str, step: str, info: dict | None = None) -> None:
    ck = load_checkpoint(root, job_id)
    if step not in [s["step"] for s in ck["completed_steps"]]:
        ck["completed_steps"].append({"step": step, "at": time.time(), **(info or {})})
    commit.write_json(_ckpt_path(root, job_id), ck)


def step_done(root: str, job_id: str, step: str) -> bool:
    return step in [s["step"] for s in load_checkpoint(root, job_id)["completed_steps"]]


def run_step(root: str, job_id: str, step: str, fn):
    """Checkpoint-resume wrapper: skip the step if already marked complete."""
    if step_done(root, job_id, step):
        return None
    result = fn()
    mark_step(root, job_id, step)
    return result


# ------------------------------------------------------------ watermark

def load_watermark(root: str, name: str = "last_update") -> str | None:
    """T1 — high-watermark incremental load (reference ``edit_db.py:32-66``)."""
    path = os.path.join(root, "_checkpoints", f"wm-{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["value"]
    return None


def save_watermark(root: str, value: str, name: str = "last_update") -> None:
    path = os.path.join(root, "_checkpoints", f"wm-{name}.json")
    commit.write_json(path, {"name": name, "value": value})


# ------------------------------------------------------------ compaction

def compact_store(spark: SparkSession, root: str, job_id: str,
                  max_files_per_partition: int = 1,
                  partition_cols=PARTITION_COLS) -> dict:
    """Small-file compaction — the maintenance job a streaming-ingested
    store needs (availableNow appends one file set per micro-batch; at
    10^12 rows the file count, not the byte count, kills scan planning).

    Rewrites each physical partition down to ``max_files_per_partition``
    files in ``data.compact``, checks it, then follows the :mod:`.commit`
    protocol: :func:`commit.install` puts it at ``data`` in one atomic
    step, the SNAPSHOT manifest for the whole compacted table is the
    commit record, and only after it are the superseded delta manifests
    archived to ``_manifests/archived/`` (left in place, they would make
    ``count_from_manifest`` double-count every row).  Readers
    ignore deltas older than the newest snapshot, so a crash mid-archive
    changes no count; before the snapshot lands the old deltas still
    describe the same rows.

    First, the ``<job_id>-part-*`` files of staged appends that never
    wrote their manifest are discarded: folded under plain names, the
    job's replay could no longer find them and would append its rows a
    second time.  Compaction must not run during an append.

    Correctness is checked BEFORE the install with the same
    order-invariant xor checksum the lineage manifests use: compaction
    must preserve every row exactly, and the checksum proves it without a
    sort."""
    data_dir = os.path.join(root, "data")
    tmp_dir = os.path.join(root, "data.compact")
    mdir = os.path.join(root, "_manifests")
    adir = os.path.join(mdir, "archived")
    snapshot = f"manifest-{job_id}.json"
    superseded = sorted(f for f in _listdir(mdir)
                        if f.endswith(".json") and f != snapshot)
    committed = {f[len("manifest-"):-len(".json")]
                 for f in superseded + _listdir(adir)}
    for dirpath, _dirnames, filenames in os.walk(data_dir):
        for fname in filenames:
            cut = fname.rfind("-part-")
            if cut > 0 and fname[:cut] not in committed:
                commit.discard(os.path.join(dirpath, fname))
    df = spark.read.parquet(data_dir)
    part_cols = [c for c in partition_cols if c in df.columns]
    # carry the bloom index through compaction: the snapshot manifest must
    # keep answering lookup_partitions after the deltas are archived
    bloom_meta = next((d["bloom"] for d in _live_manifests(root)
                       if d.get("bloom")), None)
    before = (build_manifest(df, part_cols) if part_cols
              else build_manifest(df, []))
    (df.repartition(max_files_per_partition, *[F.col(c) for c in part_cols])
       .write.mode("overwrite").partitionBy(*part_cols).parquet(tmp_dir))
    after_df = spark.read.parquet(tmp_dir)
    after = build_manifest(after_df, part_cols,
                           bloom_col=bloom_meta["col"] if bloom_meta else None,
                           bloom_bits=bloom_meta["bits"] if bloom_meta else 8192)

    def keyed(rows):
        return {tuple(r[c] for c in part_cols): (r["row_count"], r["checksum"])
                for r in rows}
    if keyed(before) != keyed(after):
        commit.discard(tmp_dir)
        raise RuntimeError("compaction checksum mismatch — store left untouched")
    commit.install(tmp_dir, data_dir)
    doc = {
        "job_id": job_id, "written_at": time.time(),
        "partition_cols": part_cols, "partitions": after,
        "total_rows": sum(p["row_count"] for p in after),
        "metrics": {"kind": "compaction",
                    "n_partitions": len(after),
                    "max_files_per_partition": max_files_per_partition},
    }
    if bloom_meta:
        doc["bloom"] = bloom_meta
    commit.write_json(os.path.join(mdir, snapshot), doc)
    os.makedirs(adir, exist_ok=True)
    for fname in superseded:
        commit.install(os.path.join(mdir, fname), os.path.join(adir, fname))
    return doc


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


# ------------------------------------------------------------ partition admin

def _live_manifests(root: str) -> list[dict]:
    """The manifests that describe the CURRENT store content: the latest
    compaction snapshot (if any) plus deltas written at-or-after it."""
    mdir = os.path.join(root, "_manifests")
    if not os.path.isdir(mdir):
        return []
    docs = []
    for fname in sorted(os.listdir(mdir)):
        if fname.endswith(".json"):
            with open(os.path.join(mdir, fname)) as f:
                docs.append((fname, json.load(f)))
    snaps = [(n, d) for n, d in docs
             if d.get("metrics", {}).get("kind") == "compaction"]
    if snaps:
        bname, base = max(snaps, key=lambda nd: nd[1].get("written_at", 0))
        docs = [(bname, base)] + [
            (n, d) for n, d in docs
            if d.get("metrics", {}).get("kind") != "compaction"
            and d.get("written_at", 0) >= base.get("written_at", 0)]
    return [{"file": n, **d} for n, d in docs]


def list_partitions(root: str) -> list[dict]:
    """The store's live partition set, from manifests only — the analog of
    the reference's ``get_all_tables`` (``edit_db.py:132-138``; its 66
    physical tables are this store's partitions).  One dict per distinct
    partition-key tuple with the summed row count.  No scan."""
    agg: dict[tuple, dict] = {}
    for doc in _live_manifests(root):
        cols = doc["partition_cols"]
        for p in doc["partitions"]:
            key = tuple((c, p[c]) for c in cols)
            if key not in agg:
                agg[key] = {**{c: p[c] for c in cols}, "row_count": 0}
            agg[key]["row_count"] += p["row_count"]
    return [agg[k] for k in sorted(agg)]


def partition_exists(root: str, **filters) -> bool:
    """``check_table_exists`` analog (``edit_db.py:214-230``) — manifest
    lookup, no scan."""
    for p in list_partitions(root):
        if all(p.get(k) == v for k, v in filters.items()):
            return True
    return False


def drop_partitions(root: str, **filters) -> int:
    """Drop every partition matching ``filters`` — the analog of the
    reference's per-region ``drop_table`` / ``drop_all_tables``
    (``edit_db.py:97-130``), which it runs before each full reload.

    A METADATA + FILESYSTEM operation: matching hive-style partition
    directories are removed and every live manifest is rewritten without
    the dropped entries (atomic per file) — no scan, no rewrite of
    surviving data, O(dropped partitions) regardless of table size.
    Returns the number of dropped partition directories.  Filters must
    name partition columns only (ValueError otherwise); empty filters drop
    everything (the reference's drop_all_tables).
    """
    live = _live_manifests(root)
    if live:
        part_cols = set(live[0]["partition_cols"])
        unknown = [k for k in filters if k not in part_cols]
        if unknown:
            raise ValueError(f"not partition columns: {unknown}")
    dropped_dirs = 0
    seen_paths: set[str] = set()
    for doc in live:
        cols = doc["partition_cols"]
        keep = []
        for p in doc["partitions"]:
            if all(p.get(k) == v for k, v in filters.items()):
                path = os.path.join(root, "data",
                                    *[f"{c}={p[c]}" for c in cols])
                if path not in seen_paths:
                    seen_paths.add(path)
                    if os.path.isdir(path):
                        commit.discard(path)
                        dropped_dirs += 1
            else:
                keep.append(p)
        doc_path = os.path.join(root, "_manifests", doc["file"])
        updated = {k: v for k, v in doc.items() if k != "file"}
        updated["partitions"] = keep
        updated["total_rows"] = sum(p["row_count"] for p in keep)
        commit.write_json(doc_path, updated)
    return dropped_dirs


# ------------------------------------------------------------ manifest counts

def partition_stats(root: str) -> list[dict]:
    """Per live partition: partition-key values, summed ``row_count`` and the
    merged lon/lat envelope from the lineage manifests.  Pure metadata — the
    statistics layer bbox planning reads (no scan)."""
    agg: dict[tuple, dict] = {}
    for doc in _live_manifests(root):
        cols = doc["partition_cols"]
        for p in doc["partitions"]:
            key = tuple((c, p[c]) for c in cols)
            st = agg.setdefault(key, {**{c: p[c] for c in cols}, "row_count": 0,
                                      "min_lon": None, "max_lon": None,
                                      "min_lat": None, "max_lat": None})
            st["row_count"] += p["row_count"]
            for k, fn in (("min_lon", min), ("min_lat", min),
                          ("max_lon", max), ("max_lat", max)):
                v = p.get(k)
                if v is not None:
                    st[k] = v if st[k] is None else fn(st[k], v)
    return [agg[k] for k in sorted(agg)]


def bbox_count(spark: SparkSession, root: str, bbox) -> int | None:
    """Exact numberMatched for a point-membership bbox query, answered
    mostly from manifests: the serving-scale count path for PARTIAL-cell
    bboxes (the unfiltered case is :func:`count_from_manifest`).

    Plan (all metadata until the last step):

    1. cover — the complete res-``PARTITION_RES`` cell cover of the bbox
       (same generator the scan predicate uses); partitions outside it hold
       no matching points and are never touched.
    2. For each covered live partition, classify from statistics:
       * manifest lon/lat envelope disjoint from the bbox → contributes 0;
       * envelope contained in the bbox, OR the cell's hexagon contained in
         the bbox (hexagons are convex: corners inside ⇒ cell inside, and a
         point is always inside its assigned cell's closed hexagon) →
         INTERIOR: the manifest row count is exact, zero IO;
       * otherwise → BOUNDARY: needs a residual scan.
    3. One partition-pruned scan over ONLY the boundary cells with the
       exact bbox predicate supplies the residual.

    At 100 TB the boundary set grows with the bbox *perimeter* while the
    interior grows with its *area* — the scanned fraction vanishes as the
    query box grows, exactly like a coverage-indexed spatial database.
    Returns None when the store's manifests can't answer (no ``cell_prefix``
    partitioning) — callers fall back to a full filtered count.
    """
    from ..kernels import cells as C
    minx, miny, maxx, maxy = bbox
    stats = partition_stats(root)
    if not stats or any("cell_prefix" not in s for s in stats):
        return None
    from ..operators.spatial import PARTITION_RES
    cover = {int(c) for c in C.hex_cells_in_bbox(minx, miny, maxx, maxy,
                                                 PARTITION_RES)}
    interior_total = 0
    boundary: set[int] = set()
    hex_inside: dict[int, bool] = {}
    for s in stats:
        cell = int(s["cell_prefix"])
        if cell not in cover:
            continue
        env = (s["min_lon"], s["min_lat"], s["max_lon"], s["max_lat"])
        if all(v is not None for v in env):
            if env[0] > maxx or env[2] < minx or env[1] > maxy or env[3] < miny:
                continue  # stats prove zero matches — no scan
            if (env[0] >= minx and env[2] <= maxx
                    and env[1] >= miny and env[3] <= maxy):
                interior_total += s["row_count"]
                continue
        if cell not in hex_inside:
            b = C.hex_boundary(cell)
            hex_inside[cell] = bool((b[:, 0] >= minx).all() and (b[:, 0] <= maxx).all()
                                    and (b[:, 1] >= miny).all() and (b[:, 1] <= maxy).all())
        if hex_inside[cell]:
            interior_total += s["row_count"]
        else:
            boundary.add(cell)
    residual = _bbox_residual_count(spark, root, sorted(boundary), bbox) \
        if boundary else 0
    return interior_total + residual


def _bbox_residual_count(spark: SparkSession, root: str, cells, bbox) -> int:
    """The boundary-cell scan of :func:`bbox_count` — partition-pruned to
    ``cells``, exact point predicate.  Separate function so tests can prove
    interior cells never reach IO."""
    minx, miny, maxx, maxy = bbox
    df = read_table(spark, root)
    return (df.filter(F.col("cell_prefix").isin([int(c) for c in cells])
                      & (F.col("lon") >= minx) & (F.col("lon") <= maxx)
                      & (F.col("lat") >= miny) & (F.col("lat") <= maxy))
              .count())


def lookup_partitions(root: str, value) -> list[dict] | None:
    """Candidate partitions that may contain ``value`` in the bloom-indexed
    column — pure manifest metadata, O(partitions) bitset tests, no IO.

    A partition is a candidate if ANY live delta's bloom for it matches
    (rows for one key may be split across deltas).  Partitions recorded
    without a bloom stay candidates (correctness first).  Returns None when
    no live manifest carries a bloom index at all — callers fall back to a
    full scan."""
    docs = _live_manifests(root)
    bloomed = [d for d in docs if d.get("bloom")]
    if not bloomed:
        return None
    out: dict[tuple, dict] = {}
    for doc in docs:
        cols = doc["partition_cols"]
        meta = doc.get("bloom")
        probe = bloom_words(value, meta["bits"], meta["k"]) if meta else None
        for p in doc["partitions"]:
            key = tuple((c, p[c]) for c in cols)
            words = p.get("bloom_words")
            if probe is not None and words is not None:
                hit = all(words[w] & m for w, m in probe)
            else:
                hit = True  # no bloom for this delta/partition: can't rule out
            if hit:
                out.setdefault(key, {c: p[c] for c in cols})
    return [out[k] for k in sorted(out)]


def get_by_id(spark: SparkSession, root: str, value,
              id_col: str | None = None) -> DataFrame:
    """Single-feature lookup through the manifest bloom index: test every
    partition's bitset driver-side, then scan ONLY the candidate partition
    directories (plus parquet's own row-group bloom inside them) — the
    engine's answer to the reference's btree-indexed id GET
    (``edit_db.py:307-311``).  Typically 1 partition read out of all of
    them; false positives only cost an extra pruned read, never a wrong
    result.  Falls back to a full pruned-scan filter when the store has no
    bloom index."""
    meta_col = bloom_column(root)
    id_col = id_col or meta_col
    if meta_col is None or id_col != meta_col:
        # the bloom indexes ONE column; pruning a lookup on a different
        # column with it would be a wrong-answer risk (false miss), so any
        # mismatch falls back to the full (still cell-pruned) scan
        return read_table(spark, root).filter(F.col(id_col or "image_id") == value)
    pruned = read_candidate_partitions(spark, root, value)
    if pruned is None:
        return read_table(spark, root).filter(F.col(id_col) == value)
    return pruned.filter(F.col(id_col) == value)


def bloom_column(root: str) -> str | None:
    """The column the store's manifest bloom indexes, if any."""
    return next((d["bloom"]["col"] for d in _live_manifests(root)
                 if d.get("bloom")), None)


def read_candidate_partitions(spark: SparkSession, root: str, value) -> DataFrame | None:
    """The pruned frame behind :func:`get_by_id`: only partition
    directories whose bloom may contain ``value``.  None when the store has
    no bloom index (caller falls back to the full table); an empty-by-
    construction frame when the bloom proves the value absent everywhere."""
    cands = lookup_partitions(root, value)
    if cands is None:
        return None
    data_dir = os.path.join(root, "data")
    paths = [p for c in cands
             if os.path.isdir(p := os.path.join(
                 data_dir, *[f"{k}={v}" for k, v in c.items()]))]
    if not paths:
        return read_table(spark, root).filter(F.lit(False))
    return spark.read.option("basePath", data_dir).parquet(*paths)


def count_from_manifest(root: str, **partition_filters) -> int | None:
    """Answer a partition-aligned COUNT from manifest row counts — no scan.

    ``partition_filters``: column -> value or set of values over the
    partition columns (e.g. ``geom_kind='point'``, ``cell_prefix={..}``).
    Returns None when any filter names a non-partition column (the caller
    must fall back to a real count).

    Manifest algebra (ADVICE round-2: naive summation double-counted after
    compaction): a ``metrics.kind == 'compaction'`` manifest is a full-table
    SNAPSHOT; the count is the latest snapshot plus every DELTA manifest
    written at-or-after it.  ``compact_store`` additionally archives
    superseded deltas, so this logic is belt-and-braces for stores
    compacted before the archive step existed.
    """
    docs = _live_manifests(root)
    total = 0
    seen_any = False
    for doc in docs:
        part_cols = set(doc["partition_cols"])
        if any(k not in part_cols for k in partition_filters):
            return None
        seen_any = True
        for p in doc["partitions"]:
            ok = all(p.get(k) in v if isinstance(v, (set, frozenset, list, tuple))
                     else p.get(k) == v
                     for k, v in partition_filters.items())
            if ok:
                total += p["row_count"]
    return total if seen_any else None
