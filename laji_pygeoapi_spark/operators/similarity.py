"""Similarity search over embedding columns (driver mandate).

* brute-force cosine top-k — the exact baseline: JVM ``zip_with`` +
  ``aggregate`` dot products against a broadcast query vector, full scan,
  ``row_number`` top-k.  No Python in the loop.
* LSH-bucketed ANN — the scale path: sign-random-projection bucket keys
  (computed once, storable as a column / partition key), probe only the
  query's bucket (+ optional multi-probe neighbors), exact re-rank inside.

At 10^12 rows the bucket column becomes the partition key so a query probes
a handful of partitions (same pruning pattern as the bbox/cell design).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import cache


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns — JVM higher-order fns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom).otherwise(F.lit(0.0))


def _query_lit(vec) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def brute_force_topk(df: DataFrame, query_vec, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     round_dp: int = 4) -> DataFrame:
    """Exact cosine top-k against one query vector (the correctness oracle).

    Cosines are rounded to ``round_dp`` BEFORE ranking (ties broken by id):
    fp-accumulated cosines differ across engines in the last ulps, so the
    rank contract is defined on the rounded grid — 4 dp matches every
    DuckDB oracle (ADVICE round-1: mixed 6/4 dp could flake)."""
    q = _query_lit(query_vec)
    scored = df.select(F.col(id_col),
                       F.round(cosine_expr(F.col(vec_col), q), round_dp).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def lsh_bucket_expr(vec: Column, planes: int = 8, seed: int = 1,
                    dim: int = 16) -> Column:
    """Sign-random-projection bucket id (0..2^planes-1) as a JVM expression.

    The fixed random hyperplanes are baked in as literals (deterministic,
    seed-pinned) — the expression form means Catalyst can compute bucket ids
    at write time and use them for partition pruning.
    """
    rng = np.random.RandomState(seed)
    h = rng.standard_normal((planes, dim))
    bucket = F.lit(0)
    for p in range(planes):
        plane = F.array(*[F.lit(float(x)) for x in h[p]])
        bit = F.when(dot_expr(vec, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def ann_topk(df: DataFrame, query_vec, k: int = 10, planes: int = 8,
             seed: int = 1, multiprobe: int = 1,
             vec_col: str = "embedding", id_col: str = "vec_id",
             round_dp: int = 4) -> DataFrame:
    """LSH ANN: probe the query's bucket (plus ``multiprobe`` single-bit
    flips = the standard multi-probe trick), exact cosine re-rank inside."""
    dim = len(query_vec)
    rng = np.random.RandomState(seed)
    h = rng.standard_normal((planes, dim))
    qv = np.asarray(query_vec, dtype=np.float64)
    qbits = (h @ qv >= 0).astype(int)
    qbucket = int((qbits * (1 << np.arange(planes))).sum())
    margins = np.abs(h @ qv)
    probes = [qbucket]
    for p in np.argsort(margins)[:multiprobe]:
        probes.append(qbucket ^ (1 << int(p)))
    bucketed = df.withColumn("_bucket", lsh_bucket_expr(F.col(vec_col), planes, seed, dim))
    cand = bucketed.filter(F.col("_bucket").isin(probes))
    q = _query_lit(query_vec)
    scored = cand.select(F.col(id_col),
                         F.round(cosine_expr(F.col(vec_col), q), round_dp).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def write_ann_store(df: DataFrame, root: str, planes: int = 8, seed: int = 1,
                    vec_col: str = "embedding") -> None:
    """Materialize the LSH bucket as a PARTITION column at write time
    (round-1 verdict fix #5: computing the bucket per query forces a full
    scan; stored as layout, a query touches only its probe partitions).

    Layout: ``<root>/ann_bucket=<b>/part-*.parquet`` — the same
    partition-pruning pattern as the spatial cell_prefix store."""
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    bucketed = df.withColumn(
        "ann_bucket", lsh_bucket_expr(F.col(vec_col), planes, seed, dim))
    (bucketed.repartition("ann_bucket")
             .write.mode("overwrite").partitionBy("ann_bucket").parquet(root))


def ann_topk_stored(spark, root: str, query_vec, k: int = 10, planes: int = 8,
                    seed: int = 1, multiprobe: int = 1,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    round_dp: int = 4) -> DataFrame:
    """ANN over a bucket-partitioned store: the probe-bucket IN filter is a
    pure partition predicate, so Spark lists and reads ONLY the probed
    directories — |probes| / 2^planes of the data, no full scan.  Same
    probe selection and exact re-rank as :func:`ann_topk`."""
    dim = len(query_vec)
    rng = np.random.RandomState(seed)
    h = rng.standard_normal((planes, dim))
    qv = np.asarray(query_vec, dtype=np.float64)
    qbits = (h @ qv >= 0).astype(int)
    qbucket = int((qbits * (1 << np.arange(planes))).sum())
    margins = np.abs(h @ qv)
    probes = [qbucket]
    for p in np.argsort(margins)[:multiprobe]:
        probes.append(qbucket ^ (1 << int(p)))
    cand = spark.read.parquet(root).filter(F.col("ann_bucket").isin(probes))
    q = _query_lit(query_vec)
    scored = cand.select(F.col(id_col),
                         F.round(cosine_expr(F.col(vec_col), q), round_dp).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# ------------------------------------------------------------------- IVF

def ivf_train(df: DataFrame, n_lists: int = 16, vec_col: str = "embedding",
              id_col: str = "vec_id", sample_n: int = 4096,
              iters: int = 10, seed: int = 0) -> np.ndarray:
    """Deterministic coarse quantizer: Lloyd's k-means on a driver-side
    sample (the lowest ``sample_n`` ids — reproducible; at 10^12 rows the
    sample is what you would train on anyway).  Returns (n_lists, dim)."""
    pdf = (df.filter(F.col(id_col) < sample_n)
             .select(id_col, vec_col).orderBy(id_col).toPandas())
    x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=n_lists, replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_lists):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def ivf_assign(df: DataFrame, codebook: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id",
               cid_col: str = "cid", cvec_col: str = "cvec",
               round_dp: int = 4) -> DataFrame:
    """Assign every vector to its nearest codebook entry by cosine
    (broadcast cross join over the tiny codebook + row_number) — the IVF
    posting-list builder.  Cosines are ranked on the ``round_dp`` grid with
    cid tie-break so the assignment is engine-deterministic."""
    from pyspark.sql import Window
    scored = (df.crossJoin(F.broadcast(codebook))
                .withColumn("_sim", F.round(
                    cosine_expr(F.col(vec_col), F.col(cvec_col)), round_dp)))
    w = Window.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col(cid_col).asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select(id_col, vec_col, F.col(cid_col).alias("ivf_list")))


def _ivf_probes(codebook: DataFrame, query_vec, nprobe: int,
                round_dp: int = 4) -> list[int]:
    """Driver-side probe selection: rank the (tiny) codebook against the
    query on the same rounded-cosine grid the assignment uses, cid
    tie-break — deterministic and engine-independent."""
    code_pdf = codebook.toPandas()
    q = np.asarray(query_vec, dtype=np.float64)
    sims = []
    for _, row in code_pdf.iterrows():
        c = np.asarray(row["cvec"], dtype=np.float64)
        denom = np.linalg.norm(c) * np.linalg.norm(q)
        sims.append((round(float(c @ q / denom), round_dp) if denom > 0 else 0.0,
                     -int(row["cid"])))
    order = sorted(range(len(sims)), key=lambda i: sims[i], reverse=True)
    return [int(code_pdf.iloc[i]["cid"]) for i in order[:nprobe]]


def ivf_topk(df: DataFrame, codebook: DataFrame, query_vec, k: int = 10,
             nprobe: int = 4, vec_col: str = "embedding",
             id_col: str = "vec_id", round_dp: int = 4) -> DataFrame:
    """IVF ANN computed end-to-end at query time (the oracle-checkable
    form): rank codebook entries against the query, probe the ``nprobe``
    nearest posting lists, exact cosine re-rank inside.

    Scale path: :func:`write_ivf_store` persists the :func:`ivf_assign`
    output partitioned by ``ivf_list`` and :func:`ivf_topk_stored` turns
    the probe filter into partition pruning — a query touches
    nprobe/n_lists of the data instead of rebuilding assignments."""
    probes = _ivf_probes(codebook, query_vec, nprobe, round_dp)
    assigned = ivf_assign(df, codebook, vec_col=vec_col, id_col=id_col,
                          round_dp=round_dp)
    cand = assigned.filter(F.col("ivf_list").isin(probes))
    qlit = _query_lit(query_vec)
    scored = cand.select(F.col(id_col),
                         F.round(cosine_expr(F.col(vec_col), qlit), round_dp).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def write_ivf_store(df: DataFrame, codebook: DataFrame, root: str,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    round_dp: int = 4) -> None:
    """Materialize the IVF posting lists as an ``ivf_list``-partitioned
    parquet store (round-2 verdict fix #1: ``ivf_topk`` rebuilt the
    assignment — a full-table codebook cross-join — per query; stored as
    layout, a query lists and reads only its probed partitions, the same
    pruning pattern as :func:`write_ann_store`).

    Layout: ``<root>/ivf_list=<cid>/part-*.parquet``."""
    assigned = ivf_assign(df, codebook, vec_col=vec_col, id_col=id_col,
                          round_dp=round_dp)
    (assigned.repartition("ivf_list")
             .write.mode("overwrite").partitionBy("ivf_list").parquet(root))


def _append_partitioned(out: DataFrame, root: str, job_id: str | None) -> None:
    """Append partitioned-by-``ivf_list`` rows to an index store.

    ``job_id=None``: plain append (caller guarantees no replays).  With a
    job id, the append is EXACTLY-ONCE under retry/replay via the same
    commit protocol as the main store (:func:`..sources.commit.publish`):
    skip if this job's marker exists, else publish the batch (discarding
    a half-published attempt) and commit by writing the marker —
    dot/underscore-prefixed staging and marker paths are invisible to
    parquet readers throughout."""
    writer = out.repartition("ivf_list").write.partitionBy("ivf_list")
    if job_id is None:
        writer.mode("append").parquet(root)
        return
    import os
    import time

    from ..sources import commit
    marker = os.path.join(root, "_appends", f"{job_id}.json")
    if os.path.exists(marker):
        return
    commit.publish(root, job_id, writer.mode("overwrite").parquet)
    commit.write_json(marker, {"job_id": job_id, "committed_at": time.time()})


def ivf_append(df: DataFrame, codebook: DataFrame, root: str,
               vec_col: str = "embedding", id_col: str = "vec_id",
               round_dp: int = 4, job_id: str | None = None) -> None:
    """INCREMENTAL index maintenance: assign only the NEW batch to the
    existing centroids and append it to the posting-list partitions —
    O(batch) work, the stored lists are never rewritten.  Queries prune
    and rank identically afterwards: the store equals one built from the
    union under the same codebook (pytest-gated).

    This is the nightly-delta path at 10^12 vectors: the codebook drifts
    slowly and retrains offline (a full :func:`write_ivf_store` rebuild);
    between retrains, appends keep the index serving fresh vectors at
    delta cost.  Works for the IVF+PQ store too via
    :func:`ivfpq_append` (residual codes reuse the persisted books).

    ``job_id``: pass one to make the append exactly-once under replay
    (staged-commit protocol, see :func:`_append_partitioned`) — required
    when driven from a streaming foreachBatch or any retrying scheduler."""
    assigned = ivf_assign(df, codebook, vec_col=vec_col, id_col=id_col,
                          round_dp=round_dp)
    _append_partitioned(assigned, root, job_id)


def ivf_topk_stored(spark, root: str, codebook: DataFrame, query_vec,
                    k: int = 10, nprobe: int = 4,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    round_dp: int = 4) -> DataFrame:
    """IVF ANN over a posting-list store written by :func:`write_ivf_store`:
    the probe IN-filter is a pure partition predicate (PartitionFilters on
    ``ivf_list``), so only nprobe/n_lists of the data is listed and read.
    Probe selection and exact re-rank are identical to :func:`ivf_topk`,
    so the two forms return the same rows."""
    probes = _ivf_probes(codebook, query_vec, nprobe, round_dp)
    cand = spark.read.parquet(root).filter(F.col("ivf_list").isin(probes))
    qlit = _query_lit(query_vec)
    scored = cand.select(F.col(id_col),
                         F.round(cosine_expr(F.col(vec_col), qlit), round_dp).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def pairwise_topk_per_label(df: DataFrame, k: int = 3,
                            vec_col: str = "embedding", id_col: str = "vec_id",
                            label_col: str = "label") -> DataFrame:
    """Per-label centroid similarity ranking — a grouped similarity op whose
    oracle is expressible in SQL (centroid = AVG per dimension)."""
    from pyspark.sql import Window
    dim_df = df.select(F.size(vec_col).alias("d")).first()
    d = dim_df["d"]
    centroid = [F.avg(F.col(vec_col)[i]).alias(f"c{i}") for i in range(d)]
    cents = df.groupBy(label_col).agg(*centroid)
    cent_arr = cents.select(label_col, F.array(*[F.col(f"c{i}") for i in range(d)]).alias("centroid"))
    joined = df.join(F.broadcast(cent_arr), label_col)
    # 4 dp to match the oracle's rank grid (ADVICE round-1: 6-vs-4 dp
    # rounding asymmetry made rank ties engine-dependent)
    scored = joined.withColumn("cosine", F.round(cosine_expr(F.col(vec_col), F.col("centroid")), 4))
    w = Window.partitionBy(label_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(label_col, id_col, "cosine", "rank"))


# ----------------------------------------------------- product quantization

def pq_train(df: DataFrame, m_blocks: int = 8, n_codes: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id",
             sample_n: int = 4096, iters: int = 10, seed: int = 0) -> np.ndarray:
    """Product-quantization codebooks: per-block Lloyd's k-means on a
    deterministic driver-side sample (same protocol as :func:`ivf_train`).
    Returns (m_blocks, n_codes, dim // m_blocks).

    PQ is how billion-vector stores fit in memory: a d-dim float vector
    becomes m uint8 codes (here 64 doubles → 8 bytes, 64×), and queries
    score codes against a per-query lookup table instead of raw floats."""
    pdf = (df.filter(F.col(id_col) < sample_n)
             .select(id_col, vec_col).orderBy(id_col).toPandas())
    x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    dim = x.shape[1]
    assert dim % m_blocks == 0, "dim must divide into equal blocks"
    bd = dim // m_blocks
    rng = np.random.RandomState(seed)
    books = np.zeros((m_blocks, n_codes, bd))
    for b in range(m_blocks):
        xb = x[:, b * bd:(b + 1) * bd]
        cent = xb[rng.choice(len(xb), size=n_codes, replace=False)]
        for _ in range(iters):
            d = ((xb[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(n_codes):
                members = xb[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[b] = cent
    return books


def pq_encode(df: DataFrame, books: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Encode vectors to per-block nearest-centroid codes, Arrow-batched
    numpy (one pandas UDF crossing; the all-Column form built
    m·n_codes·block_dim expression nodes — past whole-stage codegen's
    method limits it fell back to interpreted eval at ~2.7 ms/row).

    fp-order contract: distances accumulate dimension-by-dimension
    (``acc += d*d`` left-to-right), bit-identical to the DuckDB oracle's
    ``(t0 + t1) + t2 …`` chain, and ``argmin`` ties break to the lowest
    code — so the numpy path is hash-exact against the SQL twin.
    Output: (id, code_0..code_{m-1}) ints."""
    from pyspark.sql import types as T
    m, n_codes, bd = books.shape
    bk = books.copy()
    schema = T.StructType([T.StructField(f"code_{b}", T.IntegerType())
                           for b in range(m)])

    @F.pandas_udf(schema)
    def enc(v: pd.Series) -> pd.DataFrame:
        x = np.array([np.asarray(e, dtype=np.float64) for e in v])
        n = len(x)
        data = {}
        for b in range(m):
            xb = x[:, b * bd:(b + 1) * bd]
            acc = np.zeros((n, n_codes))
            for i in range(bd):  # left-to-right over dims: oracle-matched
                d = xb[:, i][:, None] - bk[b][:, i][None, :]
                acc += d * d
            data[f"code_{b}"] = acc.argmin(axis=1).astype(np.int32)
        return pd.DataFrame(data)

    out = df.select(id_col, enc(F.col(vec_col)).alias("_c"))
    return out.select(id_col, *[F.col(f"_c.code_{b}").alias(f"code_{b}")
                                for b in range(m)])


def pq_topk(codes: DataFrame, books: np.ndarray, query_vec, k: int = 10,
            id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds an
    (m × n_codes) lookup table driver-side; each row's approximate
    distance is the sum of m table lookups (element_at over literal
    arrays — no floats read from storage, no UDF).  The scan cost per row
    is m byte-codes, independent of the original dimension — the whole
    point of PQ at 10^12 rows."""
    m, n_codes, bd = books.shape
    q = [float(v) for v in query_vec]
    lut = []
    for b in range(m):
        row = []
        for c in range(n_codes):
            acc = 0.0
            for i in range(bd):  # explicit left-to-right: oracle-matched
                diff = q[b * bd + i] - float(books[b, c, i])
                acc = acc + diff * diff
            row.append(acc)
        lut.append(row)
    adist = None
    for b in range(m):
        term = F.element_at(F.array(*[F.lit(v) for v in lut[b]]),
                            F.col(f"code_{b}") + 1)
        adist = term if adist is None else adist + term
    return (codes.withColumn("adist", adist)
                 .orderBy(F.col("adist").asc(), F.col(id_col).asc())
                 .limit(k)
                 .select(id_col, F.round("adist", 6).alias("adist_r")))


def write_ivfpq_store(df: DataFrame, codebook: DataFrame, root: str,
                      m_blocks: int = 8, n_codes: int = 16,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      round_dp: int = 4, sample_n: int = 4096,
                      books: np.ndarray | None = None) -> np.ndarray:
    """The FAISS-IVFPQ layout: coarse-assign every vector to a posting
    list, PQ-encode it, and store ONLY (id, code_0..code_{m-1}) partitioned
    by ``ivf_list`` — the billion-scale configuration where the index is
    m bytes/vector and a query reads nprobe partitions of byte codes
    (no raw floats on the query path at all).

    RESIDUAL encoding (the textbook IVFPQ detail that matters for
    accuracy): the PQ codebooks are TRAINED on and quantize
    ``vector − coarse centroid`` — residuals are centered near zero, so
    the m·n_codes resolution is spent on within-list structure; the query
    side compensates with one lookup table per probed list
    (:func:`ivfpq_topk_stored`).  The trained books are returned AND
    persisted beside the store (``_books.npy``) so later sessions can
    query without retraining."""
    assigned, resid = _ivfpq_residuals(df, codebook, vec_col, id_col, round_dp)
    if books is None:
        books = pq_train(resid, m_blocks=m_blocks, n_codes=n_codes,
                         vec_col="_resid", id_col=id_col, sample_n=sample_n)
    out = _ivfpq_codes(assigned, resid, books, id_col)
    (out.repartition("ivf_list")
        .write.mode("overwrite").partitionBy("ivf_list").parquet(root))
    import os
    np.save(os.path.join(root, "_books.npy"), books)
    return books


def _ivfpq_residuals(df: DataFrame, codebook: DataFrame, vec_col: str,
                     id_col: str, round_dp: int):
    """Shared coarse-assign + residual chain for the IVF+PQ write AND
    append paths — ONE definition of the residual convention, so appended
    codes can never drift from rebuilt ones (round-4 review finding)."""
    assigned = ivf_assign(df, codebook, vec_col=vec_col, id_col=id_col,
                          round_dp=round_dp)
    resid = (assigned.join(F.broadcast(codebook),
                           assigned["ivf_list"] == codebook["cid"])
             .withColumn("_resid", F.zip_with(F.col(vec_col), F.col("cvec"),
                                              lambda x, c: x - c)))
    return assigned, resid


def _ivfpq_codes(assigned: DataFrame, resid: DataFrame, books: np.ndarray,
                 id_col: str) -> DataFrame:
    codes = pq_encode(resid, books, vec_col="_resid", id_col=id_col)
    return assigned.select(id_col, "ivf_list").join(codes, id_col)


def load_ivfpq_books(root: str) -> np.ndarray:
    import os
    return np.load(os.path.join(root, "_books.npy"))


def ivfpq_append(df: DataFrame, codebook: DataFrame, root: str,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 round_dp: int = 4, job_id: str | None = None) -> None:
    """Incremental append for the IVF+PQ store: coarse-assign the new
    batch, residual-encode it against the PERSISTED books (no retraining
    — the quantizer must stay fixed or old codes become unreadable), and
    append the byte codes to the posting-list partitions.  O(batch) work;
    queries are indistinguishable from a store built from the union with
    the same codebook + books (pytest-gated)."""
    books = load_ivfpq_books(root)
    assigned, resid = _ivfpq_residuals(df, codebook, vec_col, id_col, round_dp)
    out = _ivfpq_codes(assigned, resid, books, id_col)
    _append_partitioned(out, root, job_id)


def ivfpq_topk_stored(spark, root: str, codebook: DataFrame,
                      query_vec, books: np.ndarray | None = None,
                      k: int = 10, nprobe: int = 4, id_col: str = "vec_id",
                      round_dp: int = 4) -> DataFrame:
    """IVF+PQ query: partition-pruned probe of ``nprobe`` posting lists
    (PartitionFilters on ``ivf_list``), then RESIDUAL-ADC scoring: each
    probed list gets its own lookup table built from the query's residual
    against that list's coarse centroid (matching the store's residual
    encoding); per-row the table is selected by a CASE on ``ivf_list`` —
    still pure literal arithmetic, still no floats read from storage."""
    if books is None:
        books = load_ivfpq_books(root)
    m, n_codes, bd = books.shape
    probes = _ivf_probes(codebook, query_vec, nprobe, round_dp)
    cents = {int(r["cid"]): np.asarray(r["cvec"], dtype=np.float64)
             for r in codebook.filter(F.col("cid").isin(probes)).collect()}
    q = np.asarray(query_vec, dtype=np.float64)
    luts = {}
    for p in probes:
        rq = q - cents[p]
        lut = []
        for b in range(m):
            row = []
            for c in range(n_codes):
                acc = 0.0
                for i in range(bd):
                    diff = float(rq[b * bd + i]) - float(books[b, c, i])
                    acc = acc + diff * diff
                row.append(acc)
            lut.append(row)
        luts[p] = lut
    cand = spark.read.parquet(root).filter(F.col("ivf_list").isin(probes))
    adist = None
    for b in range(m):
        tbl = None
        for p in probes:
            arr = F.array(*[F.lit(v) for v in luts[p][b]])
            tbl = F.when(F.col("ivf_list") == p, arr) if tbl is None \
                else tbl.when(F.col("ivf_list") == p, arr)
        term = F.element_at(tbl, F.col(f"code_{b}") + 1)
        adist = term if adist is None else adist + term
    return (cand.withColumn("adist", adist)
                .orderBy(F.col("adist").asc(), F.col(id_col).asc())
                .limit(k)
                .select(id_col, F.round("adist", 6).alias("adist_r")))


# ------------------------------------------------------------- k-means

def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  scale: int = 1000) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the document
    CLUSTERING step of corpus curation (SemDeDup-style semantic bucketing,
    domain mixture discovery) that IVF training only approximates on a
    sample.  Deterministic and BIT-EXACT across engines: vectors are
    quantized to integers (``floor(v*scale + 0.5)``, the repo's hex-axial
    rounding — no banker's ambiguity), centroids are kept in pure-integer
    fixed point (``floor(sum*scale / count)`` by exact integer floor
    division), and distances are integer sums of squares — so there is NO
    floating-point accumulation order to disagree on, the trap every
    cross-engine fp oracle hits (CLAUDE.md).

    Init: the vectors of the ``k`` smallest ids (cluster = id rank).  Each
    iteration assigns every vector to the argmin-distance centroid (ties
    -> lowest cluster index) and recomputes centroids as quantized member
    means; clusters that lose all members keep their previous centroid.

    Scale shape: per iteration ONE narrow projection computes k staged
    integer distance columns from broadcast-literal centroids (no explode,
    no join) and one map-side-combinable agg produces k rows x (dim sums +
    count); only k*(dim+1) integers ever reach the driver per round — the
    same bounded-collect class as PQ codebook training.  Magnitudes: with
    |v|<=2 and scale=1000, per-dim terms <= (4e6)^2*dim ~ 1e15 < 2^63.

    Returns (id, cluster:int, dist:long) — the assignment AFTER ``iters``
    centroid updates."""
    qx = F.transform(F.col(vec_col),
                     lambda v: F.floor(v.cast("double") * scale + F.lit(0.5))
                                .cast("long"))
    # persisted: the init collect, each round's update agg and the final
    # assignment all read the same narrow (id, _qx) projection — the
    # unpersisted form re-scanned + re-quantized the source per pass
    # (round-6).  Released by the caller's cache scope.
    from .text import spread_small_input
    staged = cache.persist(spread_small_input(
        emb.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col), qx.alias("_qx")))
    init_rows = (staged.orderBy(id_col).limit(k).collect())
    dim = len(init_rows[0]["_qx"])
    # fixed-point e-(2*log10(scale)): centroid units are qx*scale
    cents = [[int(v) * scale for v in r["_qx"]] for r in init_rows]

    def assigned(frame, cents):
        # ONE Arrow UDF with numpy int64 arithmetic replaces k staged
        # interpreted aggregate(zip_with) columns (k*dim multiplies per
        # row, never codegen'd — the pq_encode lesson, CLAUDE.md).
        # BIT-EXACT: int64 adds/multiplies have no accumulation-order
        # ambiguity, argmin ties resolve to the FIRST (= lowest cluster
        # index), matching the array_min (d, c) struct ordering.
        C = np.asarray(cents, dtype=np.int64)  # (k, dim), units qx*scale

        @pandas_udf("cluster: int, dist: bigint")
        def asg(qxs: pd.Series) -> pd.DataFrame:
            if not len(qxs):
                return pd.DataFrame({"cluster": pd.Series(dtype="int32"),
                                     "dist": pd.Series(dtype="int64")})
            X = np.asarray(qxs.tolist(), dtype=np.int64) * scale
            D = X[:, None, :] - C[None, :, :]
            dist = np.einsum("nkd,nkd->nk", D, D)
            cl = dist.argmin(axis=1)
            return pd.DataFrame(
                {"cluster": cl.astype(np.int32),
                 "dist": dist[np.arange(len(cl)), cl]})

        return (frame.withColumn("_a", asg(F.col("_qx")))
                     .withColumn("cluster", F.col("_a.cluster"))
                     .withColumn("dist", F.col("_a.dist"))
                     .drop("_a"))

    for _ in range(iters):
        a = assigned(staged, cents)
        upd = (a.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("_n"),
                     *[F.sum(F.col("_qx")[d]).alias(f"_s{d}")
                       for d in range(dim)])
                .collect())
        new_cents = list(cents)
        for r in upd:
            c, n = r["cluster"], r["_n"]
            # python // floors — matches the oracle's (a - pmod)/n form
            new_cents[c] = [(int(r[f"_s{d}"]) * scale) // n
                            for d in range(dim)]
        cents = new_cents

    return (assigned(staged, cents)
            .select(F.col(id_col), F.col("cluster"), F.col("dist")))


def cluster_balanced_sample(emb: DataFrame, k: int = 8, iters: int = 2,
                            quota: int = 20, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """DIVERSITY-BALANCED SAMPLING: k-means-cluster the embeddings, then
    keep a fixed per-cluster quota — the curation step that stops a
    majority domain from dominating a training sample (cluster-balanced
    selection a la DoReMi/SemDeDup pipelines), where uniform sampling
    would reproduce the corpus imbalance.

    Selection within a cluster is a deterministic hash order (the
    shard_assign Knuth key — pure-integer, engine-agnostic), never
    ``rand()``: resume-safe and oracle-checkable.  Cost on top of
    :func:`kmeans_assign` is one bounded window per cluster key.
    Returns (id, cluster, rnk) with rnk <= quota."""
    from pyspark.sql import Window
    asg = kmeans_assign(emb, k=k, iters=iters, id_col=id_col,
                        vec_col=vec_col)
    # (a%m)*K % m == a*K % m — overflow-safe at any id, oracle-identical
    key = (F.pmod(F.col(id_col), F.lit(1048576))
           * F.lit(2654435761)) % F.lit(1048576)
    w = Window.partitionBy("cluster").orderBy(key.asc(), F.col(id_col).asc())
    return (asg.withColumn("rnk", F.row_number().over(w).cast("int"))
               .filter(F.col("rnk") <= quota)
               .select(id_col, "cluster", "rnk"))
