"""Build a scaled MEASUREMENT-ONLY dataset from sf0.1 (default 10x ~ the
driver's sf1.0 shape).  NOT driver data and never used for oracles — it
exists so optimization A/Bs can run at the driver's measurement scale
after the driver-generated sf1.0 directory was cleaned between rounds.

Distribution care (naive replication distorts the dedup family):

* documents: replica texts get their tokens deterministically PERMUTED
  (sort by xxh of (token, rep)) — token multiset (histograms, profile,
  tf-idf mass) is preserved, but shingle sets diverge, so near-dup
  candidate density stays ~linear like real distinct data instead of
  forming 10-cliques of trivial near-dups.
* embeddings: fresh seeded random unit vectors per (vec_id, rep) — keeps
  LSH bucket load realistic instead of 10 exact copies per vector.
* events: ``event_id`` and ``user_id`` shifted per replica (user
  cardinality scales with rows).
* lineitem / orders: only ``l_orderkey`` and ``o_orderkey`` are shifted
  per replica, so order cardinality scales with rows; ``l_partkey``,
  ``l_suppkey`` and ``o_custkey`` are not, so part, supplier and customer
  cardinality stay at the sf0.1 values.
* dims (nation/region/customer/part/supplier): copied as-is.

Usage: python tools/make_sfx.py [out_dir] [factor]
"""
from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def _permute_text(text: str, rep: int) -> str:
    # Seeded by (text, rep): exact duplicates stay exact duplicates
    # (identical shuffle), while near-dups diverge (different seeds ->
    # independent orders -> shingle overlap ~0) so replication does not
    # build near-dup cliques.  A canonical sort-by-token-hash would do the
    # OPPOSITE (canonical order makes all similar-vocabulary docs
    # near-identical: 7.7M candidate pairs vs 256 on real data).
    toks = text.split(" ")
    seed = int.from_bytes(hashlib.blake2b(
        (str(rep) + "\x00" + text).encode(), digest_size=8).digest(), "big")
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(toks))
    return " ".join(toks[i] for i in order)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfx10"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)

    # --- documents ---
    docs = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
    parts = []
    for rep in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + rep * 10_000_000
        if rep > 0:
            d["text"] = [_permute_text(t, rep) for t in d["text"]]
        parts.append(d)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   f"{out}/documents.parquet",
                   row_group_size=len(big))  # mimic driver layout: 1 group
    print("documents", len(big))

    # --- embeddings ---
    emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
    dim = len(emb["embedding"].iloc[0])
    parts = []
    for rep in range(factor):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + rep * 10_000_000
        if rep > 0:
            rng = np.random.default_rng(90210 + rep)
            v = rng.standard_normal((len(e), dim)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            e["embedding"] = list(v)
        parts.append(e)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   f"{out}/embeddings.parquet", row_group_size=len(big))
    print("embeddings", len(big))

    # --- events ---
    ev = pq.read_table(f"{SRC}/events.parquet").to_pandas()
    parts = []
    for rep in range(factor):
        e = ev.copy()
        e["event_id"] = e["event_id"] + rep * 100_000_000
        e["user_id"] = e["user_id"] + rep * 10_000_000
        parts.append(e)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   f"{out}/events.parquet", row_group_size=len(big))
    print("events", len(big))

    # --- lineitem / orders (shift order keys together) ---
    li = pq.read_table(f"{SRC}/lineitem.parquet").to_pandas()
    parts = []
    for rep in range(factor):
        l = li.copy()
        l["l_orderkey"] = l["l_orderkey"] + rep * 100_000_000
        parts.append(l)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   f"{out}/lineitem.parquet",
                   row_group_size=max(len(big) // 6, 1))  # driver: ~6 groups
    print("lineitem", len(big))

    od = pq.read_table(f"{SRC}/orders.parquet").to_pandas()
    parts = []
    for rep in range(factor):
        o = od.copy()
        o["o_orderkey"] = o["o_orderkey"] + rep * 100_000_000
        parts.append(o)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   f"{out}/orders.parquet", row_group_size=len(big))
    print("orders", len(big))

    # --- dims: copy ---
    for t in ("customer", "nation", "region", "part", "supplier"):
        tb = pq.read_table(f"{SRC}/{t}.parquet")
        pq.write_table(tb, f"{out}/{t}.parquet")
    open(f"{out}/_DONE", "w").close()
    print("done ->", out)


if __name__ == "__main__":
    main()
