"""The store commit protocol under crash injection.

For every store write path, the k-th filesystem call of the write
(``os.replace``, ``os.remove``, ``shutil.rmtree``, the directory exchange
and ``DataFrameWriter.parquet``) raises, for k = 1, 2, ... until the write
completes.  After each crash every reader must see the whole old state or
the whole new state (a directory listing of a live table may also show
the files of an append cut before its commit record, see ``_torn``), and
re-running the write must leave exactly the uncrashed result.  The faults
are placed on those calls rather than on the commit primitives, so the
test does not depend on how a store is written.
"""

import ast
import json
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameWriter

from laji_pygeoapi_spark.operators import similarity as SIM
from laji_pygeoapi_spark.operators import sketch as SK
from laji_pygeoapi_spark.sources import table as store

try:
    from laji_pygeoapi_spark.sources import commit
except ImportError:  # an engine without sources.commit has no exchange to fault
    commit = None


class Crash(Exception):
    """The injected fault: the process dies at this filesystem call."""


class Faults:
    """Raises :class:`Crash` at the k-th filesystem call on a path under
    ``base`` while :meth:`run` is active; calls on other paths (Spark's,
    pytest's) pass through uncounted."""

    def __init__(self, monkeypatch, base: str):
        self.base, self.k, self.calls = base, 0, 0
        targets = [(os, "replace"), (os, "remove"), (shutil, "rmtree"),
                   (DataFrameWriter, "parquet")]
        if commit is not None:
            targets.append((commit, "_exchange"))
        for owner, name in targets:
            monkeypatch.setattr(owner, name, self._wrap(getattr(owner, name)))

    def _wrap(self, fn):
        def call(*args, **kwargs):
            if self.k and any(isinstance(a, str) and a.startswith(self.base)
                              for a in args):
                self.calls += 1
                if self.calls == self.k:
                    raise Crash(f"{fn.__name__} #{self.k} {args}")
            return fn(*args, **kwargs)
        return call

    def run(self, k: int, op) -> bool:
        """Run ``op`` with a crash at call k; True if it crashed."""
        self.k, self.calls = k, 0
        try:
            op()
            return False
        except Crash:
            return True
        finally:
            self.k = 0


# ------------------------------------------------------------ store inputs

def _images(spark, lo: int, hi: int):
    """Rows ``lo..hi`` in two partitions: two data files per append."""
    return spark.range(lo, hi).select(
        F.format_string("IMG_%09d", "id").alias("image_id"),
        F.lit("point").alias("geom_kind"),
        (F.col("id") % 2).alias("cell_prefix"),
        (F.lit(24.0) + F.col("id") / 1000).alias("lon"),
        (F.lit(60.0) + F.col("id") / 1000).alias("lat"))


def _append(job: str, lo: int, hi: int):
    def op(spark, root):
        store.write_partitioned(_images(spark, lo, hi), root, job,
                                bloom_col="image_id", staged=True)
    return op


def _compact(spark, root):
    store.compact_store(spark, root, "c1")


def _hll(lo: int, hi: int):
    def op(spark, root):
        SK.update_hll_store(spark, _images(spark, lo, hi), root, "image_id")
    return op


def _fold(batch: int):
    def op(spark, root):
        vals = spark.range(batch * 1000, (batch + 1) * 1000).select(
            (F.col("id") * 7919 % (50_000 * (batch + 1))).alias("v"))
        SK.update_quantile_store(spark, vals, root, "v", batch_id=batch)
    return op


def _compact_quantiles(spark, root):
    SK.compact_quantile_store(spark, root)


_RNG = np.random.RandomState(23)
_CENTERS = _RNG.standard_normal((3, 8)) * 3
_VECS = np.vstack([_CENTERS[i % 3] + _RNG.standard_normal(8) * 0.3
                   for i in range(150)])


def _ivf_frames(spark):
    vecs = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(150), "embedding": [v.tolist() for v in _VECS]}))
    codebook = spark.createDataFrame(pd.DataFrame(
        {"cid": range(3), "cvec": [c.tolist() for c in _CENTERS]}))
    return vecs, codebook


def _ivf_build(spark, root):
    vecs, codebook = _ivf_frames(spark)
    SIM.write_ivf_store(vecs.filter(F.col("vec_id") < 100), codebook, root)


def _ivf_append(spark, root):
    vecs, codebook = _ivf_frames(spark)
    SIM.ivf_append(vecs.filter(F.col("vec_id") >= 100), codebook, root,
                   job_id="b7")


# ------------------------------------------------------------ readers
# Reader names starting with "scan" list the live directory; the others
# resolve through the store's commit records.

def _table_readers(spark, root) -> dict:
    df = store.read_table(spark, root)
    rows = df.select("image_id",
                     F.xxhash64(*sorted(df.columns)).alias("h")).collect()
    checksum = 0
    for r in rows:
        checksum ^= r["h"]
    out = {"scan ids": frozenset(r["image_id"] for r in rows),
           "scan checksum": checksum,
           "count_from_manifest": store.count_from_manifest(root)}
    for probe in ("IMG_000000007", "IMG_000000157"):  # one per batch
        out[f"get_by_id {probe}"] = store.get_by_id(spark, root, probe).count()
    return out


def _hll_readers(spark, root) -> dict:
    return {"read_hll_store": SK.read_hll_store(spark, root)}


def _quantile_readers(spark, root) -> dict:
    return {"read_quantile_store": {
        r["q"]: r["est"] for r in SK.read_quantile_store(spark, root).collect()}}


def _ivf_readers(spark, root) -> dict:
    _, codebook = _ivf_frames(spark)
    top = SIM.ivf_topk_stored(spark, root, codebook, _VECS[5].tolist(),
                              k=8, nprobe=2).collect()
    ids = spark.read.parquet(root).select("vec_id").collect()
    return {"scan ids": frozenset(r["vec_id"] for r in ids),
            "scan ivf_topk_stored": tuple(r["vec_id"] for r in top)}


# ------------------------------------------------------------ cases

@dataclass
class Case:
    setup: list
    op: Callable
    readers: Callable
    then: Callable | None = None          # runs uncrashed after the op
    replays: list = field(default_factory=list)  # must change nothing
    listing_sees_publish: bool = False    # op publishes into a live listing


CASES = {
    "staged_append": Case(
        [_append("d1", 0, 150)], _append("b1", 150, 300), _table_readers,
        listing_sees_publish=True),
    "staged_append_compact_replay": Case(
        [_append("d1", 0, 150)], _append("b1", 150, 300), _table_readers,
        then=_compact),
    "table_compaction": Case(
        [_append("d1", 0, 150), _append("b1", 150, 300)], _compact,
        _table_readers, replays=[_append("d1", 0, 150), _append("b1", 150, 300)]),
    "hll_update": Case([_hll(0, 150)], _hll(150, 300), _hll_readers),
    "quantile_update": Case([_fold(0)], _fold(1), _quantile_readers),
    "quantile_compaction": Case(
        [_fold(0), _fold(1), _compact_quantiles, _fold(2)], _compact_quantiles,
        _quantile_readers, replays=[_fold(0), _fold(1), _fold(2)]),
    "ivf_append": Case([_ivf_build], _ivf_append, _ivf_readers,
                       listing_sees_publish=True),
}


def _torn(got: dict, old: dict, new: dict, listing_sees_publish: bool) -> dict:
    """Readers that see neither the old nor the new state.  A publish cut
    before its commit record is the one allowed exception, and only for
    listing readers: they may show the old rows plus part of the batch
    until the replay discards the uncommitted files."""
    torn = {r: v for r, v in got.items() if v != old[r] and v != new[r]}
    if listing_sees_publish and "scan ids" in torn:
        assert old["scan ids"] < got["scan ids"] < new["scan ids"], torn
        torn = {r: v for r, v in torn.items() if not r.startswith("scan")}
    return torn


@pytest.mark.parametrize("name", list(CASES))
def test_crash_at_every_filesystem_step(spark, tmp_path, monkeypatch, name):
    case = CASES[name]
    base = str(tmp_path / "base" / "store")
    for step in case.setup:
        step(spark, base)
    ref = str(tmp_path / "ref" / "store")
    shutil.copytree(base, ref)
    old = case.readers(spark, base)
    case.op(spark, ref)
    if case.then:
        case.then(spark, ref)
    new = case.readers(spark, ref)
    assert old != new or name.endswith("compaction")

    faults = Faults(monkeypatch, str(tmp_path / "k"))
    k = 0
    while True:
        k += 1
        assert k < 60, "the write never completed"
        root = str(tmp_path / f"k{k}" / "store")
        shutil.copytree(base, root)
        if not faults.run(k, lambda: case.op(spark, root)):
            break
        if case.then:
            case.then(spark, root)
        got = case.readers(spark, root)
        torn = _torn(got, old, new, case.listing_sees_publish)
        assert not torn, f"crash at call {k}: torn readers {torn}"
        case.op(spark, root)  # the replay
        for replay in case.replays:
            replay(spark, root)
        again = case.readers(spark, root)
        assert again == new, f"replay after crash at call {k}: {again} != {new}"
    assert k > 1, "no crash point: nothing was injected"
    if name == "table_compaction":
        data = os.path.join(root, "data")
        assert os.path.isdir(data) and not os.path.islink(data)
        assert "manifest-c1.json" in os.listdir(os.path.join(root, "_manifests"))


def test_compaction_discards_uncommitted_staged_files(spark, tmp_path):
    """A staged append that crashed before its manifest leaves
    ``<job_id>-`` files behind.  Compaction must discard them rather than
    fold them under plain names, where the job's replay could no longer
    find them and would append its rows a second time."""
    root = str(tmp_path / "store")
    _append("d1", 0, 150)(spark, root)
    _append("b0", 150, 300)(spark, root)
    # b0 crashed before its commit: no record of it may survive
    for dirpath, _dirnames, filenames in os.walk(root):
        for fname in filenames:
            if fname in ("manifest-b0.json", "b0.json"):
                os.remove(os.path.join(dirpath, fname))
    store.compact_store(spark, root, "c1")
    _append("b0", 150, 300)(spark, root)  # the replay
    assert store.read_table(spark, root).count() == 300
    assert store.count_from_manifest(root) == 300


def test_metadata_manifest_survives_a_crash_mid_write(spark, tmp_path, monkeypatch):
    from laji_pygeoapi_spark.functions import transform
    from laji_pygeoapi_spark.operators import maintenance as M
    from laji_pygeoapi_spark.sources import fixtures
    raw = spark.createDataFrame(fixtures.raw_occurrences_pdf(120))
    tax = spark.createDataFrame(fixtures.taxonomy_pdf())
    occ = transform.transform_chain(raw, tax)
    path = str(tmp_path / "manifest.json")
    docs = M.write_metadata_manifest(occ, path)

    def torn_dump(obj, fp, **kwargs):
        fp.write(json.dumps(obj, **kwargs)[:40])
        raise OSError("disk full")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        M.write_metadata_manifest(occ, path)
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f)["collections"] == docs


_DISK_CALLS = {("os", "replace"), ("os", "rename"), ("os", "remove"),
               ("os", "unlink"), ("shutil", "rmtree"), ("shutil", "move")}


def _disk_writes(tree: ast.AST) -> list[str]:
    """Calls in ``tree`` that change files on disk: the ``_DISK_CALLS``
    (through any import alias) and ``open`` with a mode that is not a
    read-only literal."""
    alias = {a.asname or a.name: a.name for n in ast.walk(tree)
             if isinstance(n, ast.Import) for a in n.names}
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
            found += [f"{node.lineno}: from {node.module} import {a.name}"
                      for a in node.names if (node.module, a.name) in _DISK_CALLS]
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        if (isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name)
                and (alias.get(fn.value.id, fn.value.id), fn.attr) in _DISK_CALLS):
            found.append(f"{node.lineno}: {fn.value.id}.{fn.attr}")
        elif isinstance(fn, ast.Name) and fn.id == "open":
            mode = node.args[1] if len(node.args) > 1 else next(
                (kw.value for kw in node.keywords if kw.arg == "mode"), None)
            if mode is not None and not (
                    isinstance(mode, ast.Constant) and isinstance(mode.value, str)
                    and not set(mode.value) & set("wax+")):
                found.append(f"{node.lineno}: open(..., {ast.unparse(mode)})")
    return found


def test_only_the_commit_module_changes_files():
    pkg = Path(__file__).resolve().parents[1] / "laji_pygeoapi_spark"
    offenders = {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "sources/commit.py":
            continue
        found = _disk_writes(ast.parse(path.read_text(), filename=str(path)))
        if found:
            offenders[rel] = found
    assert not offenders, ("only sources/commit.py may change files on disk: "
                           f"{offenders}")


def test_disk_write_gate_can_fail():
    src = ("import os\nimport shutil as sh\nfrom os import unlink\n"
           "os.replace('a', 'b')\nsh.rmtree('d')\nopen('f', 'w')\n"
           "open('f', mode='a')\nopen('f')\nopen('f', 'rb')\n")
    lines = sorted(int(f.split(":")[0]) for f in _disk_writes(ast.parse(src)))
    assert lines == [3, 4, 5, 6, 7]
