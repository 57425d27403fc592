"""The benchmark workloads and their output checks.

* ``serve_append`` — one closed-loop OGC API client (each request is sent
  after the previous response returned) against a store bulk-loaded in
  set-up through ``plans.ingest.ingest_fused`` ->
  ``sources.table.write_partitioned``; between its reads the client makes
  staged exactly-once appends of fresh micro-batches, and
  ``compact_store`` runs every few appends.
* ``curate`` — the ``jobs/curation_job.py`` flow, repeated:
  ``plans.curation.curate`` -> staged write -> quantile sketch store; then
  the curated corpus is read back through ``api.features``.

Each run times whole cycles (of requests, or of jobs) until ``--seconds``
have passed, so every run samples the same mix.  Each timed operation
records its wall time and the CPU time of the process tree (``cpu.py``),
and is followed by an untimed host probe (:meth:`Ctx.host_probe`).  Every
response is checked against the generated inputs (or, for ``curate``,
against the DuckDB oracle); a failed check or a raised error counts as a
failed operation.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

import numpy as np

import cpu
import inputs

# Sizes.  Every run pays a JVM start and first-call costs before it can
# time anything, and all runs together must fit a fixed time budget, so
# the store and corpus are small; at this size the per-request and per-job
# fixed costs that the layers add dominate.
STORE_POINTS = 30_000
APPEND_POINTS = 10_000
# three jobs (>= 6 s at the fastest 1.9 s a job seen) outlast the window,
# so a run always times one whole cycle and its job count never varies
CURATE_JOBS = 3
CURATE_READ_CYCLES = 2
WARM_JOBS = 2
PROBE_ROWS = 2_000_000
ID_STRIDE = 10**8


class Ctx:
    """State of one run: session, tracer, work dir and the operation log."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.lat: dict[str, list[float]] = defaultdict(list)  # wall s
        self.cpu: dict[str, list[float]] = defaultdict(list)  # CPU s
        # wall s per request shape, of the traced and the untraced calls
        self.traced_lat: dict[str, list[float]] = defaultdict(list)
        self.untraced_lat: dict[str, list[float]] = defaultdict(list)
        self.shape_lat: dict[str, list[float]] = defaultdict(list)
        self.shape_cpu: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.values: dict[str, float] = {}
        self.check_s = 0.0  # time spent checking outputs, kept out of setup_s
        self.probe_cpu: list[float] = []  # CPU s of each host probe
        self.peak_rss = lambda: float("nan")  # MiB, driver + JVM (set by run.py)
        self._shape_count: dict[str, int] = defaultdict(int)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check(self, what: str, test) -> None:
        """Count one output check that is not tied to a timed operation;
        ``test`` is called and must return True."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = test()
        except Exception as e:
            ok = False
            what = f"{what}: {type(e).__name__}: {e}"
        self.check_s += time.perf_counter() - t0
        if not ok:
            self.fail(what)

    def op(self, kind: str, call, check=None, record: bool = True,
           shape: str | None = None):
        """Run one timed operation, then check its output outside the
        timing.  Both its wall time and the CPU time of the process tree
        are recorded.  In a traced run every other operation of a kind runs
        untraced (counted per request shape), so the trace can report its
        own overhead."""
        self.attempted += 1
        shape = shape or kind
        n = self._shape_count[shape]
        self._shape_count[shape] += 1
        traced_before = self.tracer.enabled
        traced = traced_before and n % 2 == 0
        self.tracer.enabled = traced
        probe0 = self.tracer.probe_s
        c0 = cpu.snapshot()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = call()
        except Exception as e:  # an operation that raises is a failed one
            self.tracer.enabled = traced_before
            self.fail(f"{kind}: {type(e).__name__}: {e}"[:400])
            return None
        # probes are extra calls a traced run makes, not tracing overhead
        dt = time.perf_counter() - t0 - (self.tracer.probe_s - probe0)
        dc = cpu.used_s(c0, cpu.snapshot())
        self.tracer.enabled = traced_before
        if record:
            self.lat[kind].append(dt)
            self.shape_lat[shape].append(dt)
            (self.traced_lat if traced else self.untraced_lat)[shape].append(dt)
            if not traced:
                self.cpu[kind].append(dc)
                self.shape_cpu[shape].append(dc)
        if check is not None:
            t1 = time.perf_counter()
            try:
                problem = check(out)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
            self.check_s += time.perf_counter() - t1
            if problem:
                self.fail(f"{kind}: {problem}"[:400])
        if record:
            self.host_probe()
        return out

    def host_probe(self) -> None:
        """Time a fixed Spark job that calls nothing in the package, after
        every timed operation.  The host's speed drifts by tens of percent
        between (and within) runs, moving every CPU cost with it; the
        run's median probe is the yardstick the end-to-end costs are
        scaled by (run.py)."""
        c0 = cpu.snapshot()
        self.spark.range(0, PROBE_ROWS, 1, 4).selectExpr("sum(hash(id))").collect()
        self.probe_cpu.append(cpu.used_s(c0, cpu.snapshot()))


# ------------------------------------------------------------ store helpers

def dir_files(root: str) -> dict[str, int]:
    """``{path: bytes}`` of the parquet files under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def store_layout(root: str) -> tuple[int, float, int]:
    """(live manifests, parquet files per partition directory, data bytes)."""
    mdir = os.path.join(root, "_manifests")
    manifests = len([f for f in os.listdir(mdir) if f.endswith(".json")]) \
        if os.path.isdir(mdir) else 0
    files = dir_files(os.path.join(root, "data"))
    parts = {os.path.dirname(p) for p in files}
    return manifests, len(files) / max(len(parts), 1), sum(files.values())


def write_store(ctx: Ctx, images, root: str, job_id: str, staged: bool) -> dict:
    """``write_partitioned`` of ``images`` run through the fused ingest UDF,
    with the files and bytes it added recorded on its span."""
    from laji_pygeoapi_spark.plans.ingest import ingest_fused
    from laji_pygeoapi_spark.sources import table as T
    tr = ctx.tracer
    if tr.enabled:
        # the fused UDF alone, on the same batch, to a sink that writes
        # nothing: the crossing cost without the store
        with tr.probe("plans.ingest.ingest_fused"):
            ingest_fused(images).write.format("noop").mode("overwrite").save()
    before = dir_files(os.path.join(root, "data")) if tr.enabled else {}
    with tr.span("sources.table.write_partitioned") as sp:
        doc = T.write_partitioned(ingest_fused(images), root, job_id,
                                  bloom_col="image_id", staged=staged)
    if sp is not None:
        after = dir_files(os.path.join(root, "data"))
        added = [p for p in after if before.get(p) != after[p]]
        sp.attrs["files"] = len(added)
        sp.attrs["bytes"] = sum(after[p] for p in added)
    return doc


def compact(ctx: Ctx, root: str, job_id: str) -> dict:
    from laji_pygeoapi_spark.sources import table as T
    with ctx.tracer.span("sources.table.compact_store") as sp:
        doc = T.compact_store(ctx.spark, root, job_id)
    if sp is not None:
        sp.attrs["bytes_rewritten"] = store_layout(root)[2]
    return doc


# ------------------------------------------------------------ serving

def _num_id(fid: str) -> int:
    return int(str(fid)[4:])


def _sort_rows(ids, day, sortby):
    """Indices ordering rows by (sortby..., id asc), as items() pages."""
    if sortby:
        return np.lexsort((ids, -day))  # only the date-desc sort is issued
    return np.argsort(ids, kind="stable")


class Server:
    """The API request path for one store: a fresh ``read_table`` per
    request (so an append is visible to the next read), then
    ``api.features``."""

    def __init__(self, ctx: Ctx, root: str, index: inputs.PointIndex):
        self.ctx = ctx
        self.root = root
        self.index = index

    def _items_kwargs(self, req: dict) -> dict:
        from laji_pygeoapi_spark.kernels import wkb as W
        kw = {"limit": req.get("limit", 100), "store_root": self.root}
        if "bbox" in req:
            kw["bbox"] = req["bbox"]
        if "intersects" in req:
            kw["intersects"] = W.dumps(W.polygon(req["intersects"]))
        if "datetime" in req:
            kw["datetime_range"] = req["datetime"]
        if "properties" in req:
            kw["properties"] = req["properties"]
        if "sortby" in req:
            kw["sortby"] = req["sortby"]
        return kw

    def call(self, req: dict):
        from laji_pygeoapi_spark.api import features as A
        from laji_pygeoapi_spark.sources import table as T
        tr = self.ctx.tracer
        spark = self.ctx.spark
        with tr.span("sources.table.read_table"):
            df = T.read_table(spark, self.root)
        kind = req["kind"]
        if kind in ("page", "filter"):
            kw = self._items_kwargs(req)
            if req.get("after") is not None:
                kw.update(req["after"])
            with tr.span("api.features.items"):
                page, matched = A.items(df, **kw)
            with tr.span("api.features.feature_collection") as sp:
                body = A.feature_collection(page, matched,
                                            crs=req.get("crs", "CRS84"))
            if sp is not None:
                sp.attrs["bytes"] = len(body)
                sp.attrs["rows"] = json.loads(body)["numberReturned"]
            return body
        if kind == "count":
            kw = {"resulttype": "hits", "store_root": self.root}
            if "bbox" in req:
                kw["bbox"] = req["bbox"]
                if tr.enabled:
                    with tr.probe("sources.table.bbox_count"):
                        T.bbox_count(spark, self.root, req["bbox"])
            with tr.span("api.features.items"):
                return A.items(df, **kw)[1]
        if kind == "lookup":
            fid = str(inputs.image_id(req["id"]))
            probe = None
            if tr.enabled:
                with tr.probe("sources.table.lookup_partitions") as probe:
                    cands = T.lookup_partitions(self.root, fid)
                probe.attrs["candidates"] = len(cands or [])
            with tr.span("api.features.get_feature"):
                rows = A.to_geojson(A.get_feature(df, fid, store_root=self.root)).collect()
            if probe is not None:  # each id lives in one partition
                probe.attrs["holding"] = len(rows)
            return [json.loads(r["feature_json"]) for r in rows]
        raise ValueError(f"unknown request kind {kind!r}")

    # ---------------------------------------------------------- checks

    def _expected_ids(self, req: dict):
        """Exact id order the page must return, or None where only
        membership is checked (Kunta and TM35FIN-box requests)."""
        from laji_pygeoapi_spark.kernels import geom as G
        if "properties" in req or ("bbox" in req and req["bbox"][0] > 180):
            return None
        ids = np.concatenate([b.ids for b in self.index.batches])
        lon = np.concatenate([b.lon for b in self.index.batches])
        lat = np.concatenate([b.lat for b in self.index.batches])
        day = np.concatenate([b.day for b in self.index.batches])
        m = np.ones(len(ids), dtype=bool)
        if "bbox" in req:
            x0, y0, x1, y1 = req["bbox"]
            m &= (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        if "intersects" in req:
            from laji_pygeoapi_spark.kernels import wkb as W
            geom = W.loads(W.dumps(W.polygon(req["intersects"])))
            m &= G.points_in_polygon(lon, lat, geom)
        if "datetime" in req:
            lo, hi = req["datetime"].split("/")
            d0 = (np.datetime64(lo) - inputs.DATE0).astype(int)
            d1 = (np.datetime64(hi) - inputs.DATE0).astype(int)
            m &= (day >= d0) & (day <= d1)
        ids, day = ids[m], day[m]
        order = _sort_rows(ids, day, req.get("sortby"))
        ids, day = ids[order], day[order]
        if req.get("after") is not None:
            a = req["after"]
            cur_id = _num_id(a["after_id"])
            if req.get("sortby"):
                cur_day = (np.datetime64(a["after_values"][0]) - inputs.DATE0).astype(int)
                after = (day < cur_day) | ((day == cur_day) & (ids > cur_id))
            else:
                after = ids > cur_id
            ids = ids[after]
        return ids[: req.get("limit", 100)]

    def check(self, req: dict, out) -> str | None:
        kind = req["kind"]
        if kind == "count":
            want = self.index.count_bbox(req["bbox"]) if "bbox" in req \
                else self.index.total
            return None if out == want else f"hits {out} != {want}"
        if kind == "lookup":
            fid = str(inputs.image_id(req["id"]))
            present = self.index.contains(req["id"])
            got = [f.get("id") for f in out]
            want = [fid] if present else []
            return None if got == want else f"get_feature {fid}: {got} != {want}"
        return self._check_page(req, out)

    def _check_page(self, req: dict, body: str) -> str | None:
        from laji_pygeoapi_spark.kernels import crs as K
        doc = json.loads(body)
        feats = doc["features"]
        limit = req.get("limit", 100)
        if doc["numberReturned"] != len(feats) or len(feats) > limit:
            return f"page size {len(feats)} (limit {limit})"
        ids = np.array([_num_id(f["id"]) for f in feats], dtype=np.int64)
        expected = self._expected_ids(req)
        if expected is not None:
            if not np.array_equal(ids, expected):
                return f"page ids differ from the expected {len(expected)}"
        else:
            lon, lat, day = self.index.lookup(ids)
            if "properties" in req:
                name, value = req["properties"][0]
                if any(f["properties"].get(name) != value for f in feats):
                    return f"row outside property filter {name}={value}"
            if "bbox" in req:  # TM35FIN metres: the edges are densified
                e, n = K.wgs84_to_tm35fin(lon, lat)
                x0, y0, x1, y1 = req["bbox"]
                if not ((e >= x0 - 1) & (e <= x1 + 1) & (n >= y0 - 1) & (n <= y1 + 1)).all():
                    return "row outside the TM35FIN bbox"
            if not (np.diff(ids) > 0).all():
                return "rows not in id order"
            if req.get("after") is not None and len(ids) and \
                    ids[0] <= _num_id(req["after"]["after_id"]):
                return "keyset page does not continue after the cursor"
        return None

    def next_page(self, req: dict, body: str) -> dict | None:
        """The keyset continuation request after a page, if the request
        asks for more pages and the page was full."""
        left = req.get("keyset", 0) - 1
        if left <= 0:
            return None
        feats = json.loads(body)["features"]
        if len(feats) < req.get("limit", 100):
            return None
        last = feats[-1]
        after = {"after_id": last["id"]}
        if req.get("sortby"):
            after["after_values"] = [last["properties"][c] for c, _ in req["sortby"]]
        return {**req, "after": after, "keyset": left}


def _pctl(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs), q)) if xs else float("nan")


def _mean(xs) -> float:
    return float(np.mean(xs)) if xs else float("nan")


def cpu_cost(ctx: Ctx, kinds: tuple[str, ...]) -> float:
    """CPU s of an operation of the given kinds: the mean over their
    request shapes of each shape's median, so one slow call does not move
    it and every shape weighs the same however often it was sent."""
    return _mean([float(np.median(xs)) for shape, xs in ctx.shape_cpu.items()
                  if shape.split("+")[0] in kinds])


def read_metrics(ctx: Ctx) -> None:
    """Per read kind, the CPU ms of a request (the end-to-end metrics, see
    :func:`cpu_cost`) and its median wall ms (reported by traced runs)."""
    for k in ("page", "filter", "count", "lookup"):
        ctx.values[f"{k}_cpu_ms"] = cpu_cost(ctx, (k,)) * 1e3
        ctx.values[f"wall.{k}_p50_ms"] = _pctl(ctx.lat.get(k, []), 50) * 1e3
    ctx.values["read_cpu_ms"] = cpu_cost(ctx, ("page", "filter", "count", "lookup")) * 1e3


def _load_images(ctx: Ctx, pts: inputs.Points, name: str):
    path = pts.write(ctx.path(f"{name}.parquet"))
    return ctx.spark.read.parquet(path)


def _bulk_store(ctx: Ctx, index: inputs.PointIndex, root: str) -> None:
    """Bulk-load the served store through the staged exactly-once append."""
    pts = inputs.Points(STORE_POINTS, ctx.seed, (ctx.seed % 1000) * ID_STRIDE)
    doc = write_store(ctx, _load_images(ctx, pts, "bulk"), root, "bulk", staged=True)
    index.add(pts)
    ctx.check("bulk manifest total_rows", lambda: doc["total_rows"] == len(pts))


def _store_values(ctx: Ctx, root: str, rows: int) -> None:
    manifests, fpp, nbytes = store_layout(root)
    ctx.values["bytes_per_row"] = nbytes / rows
    ctx.values["sources.table.live_manifests"] = manifests
    ctx.values["sources.table.files_per_partition"] = fpp


def serve_append(ctx: Ctx, mark_setup) -> None:
    root = ctx.path("store")
    index = inputs.PointIndex()
    base = (ctx.seed % 1000) * ID_STRIDE
    server = Server(ctx, root, index)
    appends: list[inputs.Points] = []

    def append(record: bool) -> list[dict]:
        k = len(appends)
        pts = inputs.Points(APPEND_POINTS, ctx.seed + 1 + k,
                            base + STORE_POINTS + k * APPEND_POINTS)
        images = _load_images(ctx, pts, f"append-{k}")
        appends.append(pts)
        doc = ctx.op("append", lambda: write_store(ctx, images, root, f"append-{k}", staged=True),
                     lambda d: None if d["total_rows"] == len(pts)
                     else f"append manifest rows {d['total_rows']}", record=record)
        if doc is None:
            return []
        index.add(pts)
        # freshness: the very next reads must see the append
        return [{"kind": "count"}, {"kind": "lookup", "id": int(pts.ids[-1])}]

    def compaction(record: bool) -> None:
        ctx.op("compact", lambda: compact(ctx, root, f"compact-{len(appends)}"),
               lambda d: None if d["total_rows"] == index.total
               else f"compacted rows {d['total_rows']} != {index.total}", record=record)

    def run(queue: list[dict], record: bool) -> None:
        while queue:
            req = queue.pop(0)
            if req["kind"] == "append":
                queue[:0] = append(record)
                continue
            shape = "+".join([req["kind"]] + sorted(
                k for k in req if k not in ("kind", "id", "limit")))
            out = ctx.op(req["kind"], lambda: server.call(req),
                         lambda o: server.check(req, o), record=record, shape=shape)
            nxt = server.next_page(req, out) if out is not None and req["kind"] == "page" else None
            if nxt is not None:
                queue.insert(0, nxt)

    with ctx.tracer.span("setup.store"):
        _bulk_store(ctx, index, root)
    stream = inputs.Requests(ctx.seed, (base, base + STORE_POINTS))
    with ctx.tracer.span("warmup"):
        # one untimed round of every read shape pays each shape's first-call
        # cost; the bulk load was the write path's first call, so the timed
        # appends are its second to fourth
        run(stream.reads(), False)
    mark_setup()
    # whole cycles until the window has passed, so every run samples each
    # kind with the same mix; each cycle's appends are compacted after it
    # (a compaction makes the append right after it slow, so none runs
    # mid-cycle; the first is timed cold, as a warm-up one did not fit)
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        run(stream.cycle(), True)
        compaction(True)
    ctx.values["peak_rss_mb"] = ctx.peak_rss()
    read_metrics(ctx)
    # appended rows over the CPU of the appends (at the median append)
    # and of the compaction that folds them in
    appends, append_s = len(ctx.cpu.get("append", [])), cpu_cost(ctx, ("append",))
    ctx.values["append_cpu_ms"] = append_s * 1e3
    ctx.values["wall.append_p50_ms"] = _pctl(ctx.lat.get("append", []), 50) * 1e3
    ctx.values["rows_per_cpu_s"] = APPEND_POINTS * appends / (
        appends * append_s + sum(ctx.cpu.get("compact", [])))
    _store_values(ctx, root, index.total)


# ------------------------------------------------------------ curation

def _oracle_kept(docs_path: str) -> dict[int, int]:
    """``{doc_id: n_tokens}`` of the documents the DuckDB oracle keeps.

    The oracle takes ~1.6 ms per document, so its answer is kept under
    ``.work/oracle/`` keyed by a hash of the SQL and the corpus bytes: a
    seed whose corpus was already checked costs nothing the next time."""
    import hashlib

    import duckdb

    from __spark_entry__ import oracle_sql
    sql = oracle_sql()["curation"]
    with open(docs_path, "rb") as f:
        key = hashlib.sha256(sql.encode() + f.read()).hexdigest()
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work",
                         "oracle", f"{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return {int(d): n for d, n in json.load(f).items()}
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        kept = {int(d): int(n) for d, n, _q in con.execute(sql).fetchall()}
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = f"{cache}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(kept, f)
    os.replace(tmp, cache)
    return kept


class Curator:
    def __init__(self, ctx: Ctx, docs_path: str, name: str):
        self.ctx = ctx
        self.name = name
        self.docs = ctx.spark.read.parquet(docs_path)
        self.n_docs = self.docs.count()
        self.runs = 0

    def job(self) -> tuple[str, float, float]:
        """One curation job into a fresh output root; returns (root, wall s
        and CPU s of its store write)."""
        from laji_pygeoapi_spark.operators.sketch import update_quantile_store
        from laji_pygeoapi_spark.plans import curation as CU
        from laji_pygeoapi_spark.sources import table as T
        tr = self.ctx.tracer
        self.runs += 1
        out_root = self.ctx.path(f"{self.name}-{self.runs}")
        job_id = f"{self.name}-{self.runs}"
        with tr.span("plans.curation.curate"):
            out = CU.curate(self.docs, lang="en", min_quality=0.6,
                            jaccard_threshold=0.7)
        try:
            t0, c0 = time.perf_counter(), cpu.snapshot()
            with tr.span("sources.table.write_partitioned") as sp:
                doc = T.write_partitioned(out, out_root, job_id,
                                          partition_cols=(), staged=True)
            write_s = time.perf_counter() - t0
            write_cpu = cpu.used_s(c0, cpu.snapshot())
            if sp is not None:
                files = dir_files(os.path.join(out_root, "data"))
                sp.attrs["files"] = len(files)
                sp.attrs["bytes"] = sum(files.values())
                self.ctx.values["plans.curation.curate.kept_frac"] = \
                    doc["total_rows"] / self.n_docs
            with tr.span("operators.sketch.update_quantile_store"):
                update_quantile_store(self.ctx.spark, out,
                                      os.path.join(out_root, "_quantiles"),
                                      "n_tokens", batch_id=job_id)
        finally:
            CU.release_caches(out)
        return out_root, write_s, write_cpu


class CorpusServer:
    """``api.features`` over a curated (unlocated) corpus: pages keyset by
    ``doc_id``, n_tokens property filters, manifest hits and id lookups."""

    def __init__(self, ctx: Ctx, root: str, kept: dict[int, int]):
        self.ctx = ctx
        self.root = root
        self.kept = kept
        self.sorted_ids = np.array(sorted(kept), dtype=np.int64)

    def call(self, req: dict):
        from laji_pygeoapi_spark.api import features as A
        from laji_pygeoapi_spark.sources import table as T
        tr = self.ctx.tracer
        with tr.span("sources.table.read_table"):
            df = T.read_table(self.ctx.spark, self.root)
        kind = req["kind"]
        if kind == "count":
            with tr.span("api.features.items"):
                return A.items(df, resulttype="hits", store_root=self.root)[1]
        if kind == "lookup":
            with tr.span("api.features.get_feature"):
                rows = A.to_geojson(A.get_feature(df, str(req["id"]), store_root=self.root),
                                    skip_geometry=True).collect()
            return [int(r["fid"]) for r in rows]
        kw = {"limit": req["limit"]}
        if "after" in req:
            kw["after_id"] = req["after"]
        if "n_tokens" in req:
            kw["properties"] = [("n_tokens", ",".join(str(v) for v in req["n_tokens"]))]
        with tr.span("api.features.items"):
            page, _ = A.items(df, **kw)
        with tr.span("api.features.to_geojson"):
            rows = A.to_geojson(page, skip_geometry=True).collect()
        return [int(r["fid"]) for r in rows]

    def check(self, req: dict, out) -> str | None:
        kind = req["kind"]
        if kind == "count":
            return None if out == len(self.kept) else f"hits {out} != {len(self.kept)}"
        if kind == "lookup":
            want = [req["id"]] if req["id"] in self.kept else []
            return None if out == want else f"lookup {req['id']}: {out}"
        ids = self.sorted_ids
        if "n_tokens" in req:
            ids = ids[np.isin([self.kept[int(i)] for i in ids], req["n_tokens"])]
        if "after" in req:
            ids = ids[ids > req["after"]]
        want = ids[: req["limit"]].tolist()
        return None if out == want else f"{kind} page differs ({len(out)} rows)"

    def cycle(self, rng, dropped: list[int]) -> list[dict]:
        ids = self.sorted_ids
        lens = sorted(set(self.kept.values()))
        return [
            {"kind": "page", "limit": 100},
            {"kind": "page", "limit": 100, "after": int(ids[rng.integers(len(ids))])},
            {"kind": "filter", "limit": 100,
             "n_tokens": [int(v) for v in rng.choice(lens, 3, replace=False)]},
            {"kind": "count"},
            {"kind": "lookup", "id": int(ids[rng.integers(len(ids))])},
            {"kind": "lookup", "id": int(dropped[rng.integers(len(dropped))])},
        ]


def curate(ctx: Ctx, mark_setup) -> None:
    import pyarrow.parquet as pq
    docs_path = ctx.path("documents.parquet")
    n_docs = inputs.documents(ctx.seed, docs_path)
    curator = Curator(ctx, docs_path, "curated")
    with ctx.tracer.span("warmup"):
        warm = Curator(ctx, docs_path, "warm")
        for _ in range(WARM_JOBS):  # jobs get faster for their first few runs
            warm.job()
    mark_setup()
    # whole cycles of CURATE_JOBS jobs until the window has passed
    deadline = time.perf_counter() + ctx.seconds
    roots, write_s, write_cpu = [], [], []
    while time.perf_counter() < deadline:
        for _ in range(CURATE_JOBS):
            out = ctx.op("curate", curator.job)
            if out is not None:
                roots.append(out[0])
                write_s.append(out[1])
                write_cpu.append(out[2])
    ctx.values["peak_rss_mb"] = ctx.peak_rss()  # before DuckDB joins the process
    kept = _oracle_kept(docs_path)
    from laji_pygeoapi_spark.sources import table as T

    def kept_ids_match(root: str) -> bool:
        got = T.read_table(ctx.spark, root).select("doc_id").collect()
        return {int(r["doc_id"]) for r in got} == set(kept)
    for root in roots:
        ctx.check(f"curated ids of {root}", lambda: kept_ids_match(root))
    all_ids = pq.read_table(docs_path, columns=["doc_id"]).column(0).to_pylist()
    dropped = sorted(set(all_ids) - set(kept))
    if roots:
        reader = CorpusServer(ctx, roots[-1], kept)
        rng = np.random.default_rng([ctx.seed, 13])
        for req in reader.cycle(rng, dropped):  # warm-up: first call of each shape
            ctx.op(req["kind"], lambda: reader.call(req),
                   lambda o: reader.check(req, o), record=False)
        for _ in range(CURATE_READ_CYCLES):
            for req in reader.cycle(rng, dropped):
                ctx.op(req["kind"], lambda: reader.call(req),
                       lambda o: reader.check(req, o))
    read_metrics(ctx)
    ctx.values["rows_per_cpu_s"] = n_docs / cpu_cost(ctx, ("curate",))
    ctx.values["append_cpu_ms"] = _pctl(write_cpu, 50) * 1e3
    ctx.values["wall.append_p50_ms"] = _pctl(write_s, 50) * 1e3
    ctx.values["plans.curation.curate.input_rows"] = n_docs
    if roots:
        _store_values(ctx, roots[-1], len(kept))


WORKLOADS = {"serve_append": serve_append, "curate": curate}
