"""Mergeable cardinality / frequency sketches — the approximate-aggregate
layer a 100-TB metadata catalog needs.

The reference computes its per-collection metadata with exact PostGIS
aggregates over ≤50 M rows (``edit_metadata.py:24-86``, ``edit_db.py:
235-260``); at 10^12 rows the exact distinct/frequency questions ("unique
observers per collection", "hot taxa") need SKETCHES: tiny, mergeable
summaries that partial-aggregate map-side and combine associatively —
Spark's agg pipeline handles them exactly like a sum.

Design constraints (deliberate, and what makes these testable):

* **Deterministic 32-bit avalanche hash in pure integer arithmetic** —
  two multiply-xorshift rounds (murmur3-finalizer family) on BIGINT with
  every intermediate < 2^59, so the identical chain evaluates in Spark
  SQL, DuckDB SQL, and numpy with zero fp involvement.  The driver oracle
  therefore checks the WHOLE sketch construction hash-exactly, not just
  statistically.
* **Integer register outputs** — HLL registers are (register, max_rho)
  ints and the summary exposes Σ 2^(32-rho) as a scaled INTEGER sum
  (order-independent, no fp accumulation), so cross-engine comparison is
  exact; the float estimate is derived OUTSIDE the compared plan.
* **Everything is built-in expressions** — groupBy(max)/groupBy(sum) over
  JVM column arithmetic: whole-stage codegen, map-side partial
  aggregation, no UDF, no shuffle beyond one hash agg keyed by
  (group, register) with m=2^p ≤ 4096 registers per group.

Spark ships approx_count_distinct (HLL++) and count_min_sketch builtins;
these re-implementations exist because the engine contract needs sketches
whose exact register state is reproducible in an independent engine (the
DuckDB oracle) and whose registers are first-class rows that can be
PERSISTED per partition and merged later (the metadata-manifest use),
which the opaque builtin buffers don't give.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import commit

HASH_BITS = 32
_MOD32 = 1 << 32
_MULT = 73244475  # 0x45d9f3b — the murmur/splittable 32-bit mix multiplier


def hash32(col: Column) -> Column:
    """Deterministic 32-bit avalanche hash of a non-negative BIGINT key.

    Folds the high 32 bits in, then two multiply-xorshift rounds + final
    xorshift.  All intermediates < 2^59 (no overflow under ANSI mode); the
    same chain is SQL-expressible in DuckDB (see ``__spark_entry__``) and
    numpy-expressible for kernels.

    HOT-PATH WARNING: as a single Column expression the chain duplicates
    its input subtree at every round (x referenced 2-3x, 6 levels deep →
    hundreds of nodes evaluated per row).  Row-at-scale operators must use
    :func:`with_hash32`, which stages each round as its own projection.
    This form exists for tests and driver-side/one-row uses.
    """
    k = col.cast("long")
    # pmod keeps every intermediate non-negative for NEGATIVE keys too
    # (shiftright sign-extends); for non-negative keys this is bit-identical
    # to the plain % chain the oracle SQL uses
    x = F.pmod(F.pmod(k, F.lit(_MOD32)) + F.pmod(F.shiftright(k, 32), F.lit(_MOD32)),
               F.lit(_MOD32))
    for _ in range(2):
        x = (x.bitwiseXOR(F.shiftright(x, 16)) * F.lit(_MULT)) % F.lit(_MOD32)
    return x.bitwiseXOR(F.shiftright(x, 16))


def key_expr(col: Column, dtype) -> Column:
    """A BIGINT sketch key for any column type: integral columns pass
    through (oracle-reproducible); everything else goes through xxhash64
    (JVM-side, deterministic per Spark version — fine for in-engine
    sketches, pytest-gated rather than oracle-gated)."""
    from pyspark.sql import types as T
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return col.cast("long")
    return F.xxhash64(col)


def with_hash32(df: DataFrame, key_col: str, out: str = "_h32") -> DataFrame:
    """``hash32`` STAGED round-by-round into projection columns.

    The pure-Column form duplicates its input subtree at every xorshift
    (x is referenced 2-3× per round, nested 6 deep → a several-hundred-node
    expression evaluated per row; measured ~38 µs/row vs ~0.2 µs staged).
    Each round here references only the previous round's bound attribute —
    cheap for CollapseProject, so the stages survive optimization and
    whole-stage codegen computes every round exactly once per row."""
    k = key_expr(F.col(key_col), df.schema[key_col].dataType)
    df = df.withColumn("_k64", k.cast("long"))
    kk = F.col("_k64")
    df = df.withColumn("_hx", F.pmod(F.pmod(kk, F.lit(_MOD32))
                                     + F.pmod(F.shiftright(kk, 32), F.lit(_MOD32)),
                                     F.lit(_MOD32)))
    for _ in range(2):
        x = F.col("_hx")
        df = df.withColumn("_hx", (x.bitwiseXOR(F.shiftright(x, 16))
                                   * F.lit(_MULT)) % F.lit(_MOD32))
    x = F.col("_hx")
    return (df.withColumn(out, x.bitwiseXOR(F.shiftright(x, 16)))
              .drop("_k64", "_hx"))


def _row_bucket(df: DataFrame, keep, key_col: str, depth: int, width: int):
    """(row, bucket) per input row × hash row: stage the base hash ONCE per
    input row (pre-explode), explode a constant 0..depth-1 sequence, then
    derive each row's bucket from the staged hash attribute — two more
    staged rounds, all inside whole-stage codegen."""
    cols = list(dict.fromkeys([*keep, key_col]))
    rows = (with_hash32(df.select(*cols), key_col)
            .select(*cols, "_h32",
                    F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")))
    rows = rows.withColumn("_rx", (F.col("_h32")
                                   + F.col("row").cast("long") * F.lit(0x9E3779B9))
               % F.lit(_MOD32))
    x = F.col("_rx")
    rows = rows.withColumn("_rx", (x.bitwiseXOR(F.shiftright(x, 16))
                                   * F.lit(_MULT)) % F.lit(_MOD32))
    x = F.col("_rx")
    return (rows.withColumn("bucket", x.bitwiseXOR(F.shiftright(x, 16)) % F.lit(width))
                .select(*cols, "row", "bucket"))


# ------------------------------------------------------------ HyperLogLog

def hll_sketch(df: DataFrame, key_col: str, group_cols=(), p: int = 8) -> DataFrame:
    """HLL register table: one row per (group, register) with the max rank.

    register = low ``p`` hash bits; rho = 1 + leading-zero count of the
    remaining ``32-p`` bits (via ``length(bin(w))`` — exact integer math,
    no log2 fp edge cases).  The output IS the sketch: max-mergeable across
    batches/partitions (``hll_merge``), ~2^p rows per group.
    """
    bits = HASH_BITS - p
    cols = list(dict.fromkeys([*group_cols, key_col]))
    staged = (with_hash32(df.select(*cols), key_col)
              .withColumn("_w", F.shiftright(F.col("_h32"), p)))
    w = F.col("_w")
    rho = (F.when(w == 0, F.lit(bits + 1))
            .otherwise(F.lit(bits + 1) - F.length(F.bin(w)))).cast("int")
    return (staged.groupBy(*group_cols,
                           F.col("_h32").bitwiseAND(F.lit((1 << p) - 1)).alias("register"))
                  .agg(F.max(rho).alias("max_rho")))


def hll_merge(*sketches: DataFrame, group_cols=()) -> DataFrame:
    """Union register tables and re-max — the associative merge that makes
    the sketch a distributed aggregate (per-partition sketches in lineage
    manifests combine to the table sketch without rescanning)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy(*group_cols, "register")
               .agg(F.max("max_rho").alias("max_rho")))


def hll_summary(registers: DataFrame, group_cols=(), p: int = 8) -> DataFrame:
    """Collapse a register table to one integer-exact row per group:

    * ``zero_registers`` — registers never hit (drives linear counting);
    * ``s_scaled`` — Σ_j 2^(32 - M_j) over ALL 2^p registers (absent ⇒
      M_j = 0 ⇒ 2^32): the harmonic-mean denominator as an exact integer,
      invariant to summation order — the cross-engine-comparable form.
    """
    m = 1 << p
    present = F.count(F.lit(1))
    s_present = F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 32 - max_rho)"))
    return (registers.groupBy(*group_cols)
            .agg((F.lit(m) - present).cast("long").alias("zero_registers"),
                 (s_present + (F.lit(m) - present) * F.lit(_MOD32))
                 .cast("long").alias("s_scaled")))


def hll_estimate(zero_registers: int, s_scaled: int, p: int = 8) -> float:
    """The float estimate from one summary row (driver-side — kept outside
    the engine-compared plan on purpose): standard HLL bias-corrected
    harmonic mean with linear counting for the small range."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    z = s_scaled / float(_MOD32)  # Σ 2^-M_j
    e = alpha * m * m / z
    if e <= 2.5 * m and zero_registers > 0:
        import math
        return m * math.log(m / zero_registers)
    return e


# ------------------------------------------------------------- Count-Min

def cms_sketch(df: DataFrame, key_col: str, depth: int = 4,
               width: int = 512, group_cols=()) -> DataFrame:
    """Count-Min frequency sketch: (row, bucket, cnt) counters.

    ``depth`` independent hash rows over ``width`` buckets; each input row
    increments one bucket per hash row (generate-first explode + one hash
    aggregation — map-side combined, fully codegen).  Sparse: only hit
    buckets appear (absent ⇒ 0).  Counters are sum-mergeable
    (``cms_merge``); point estimate = min over rows (``cms_lookup``),
    always ≥ the true count (one-sided error ≤ e·N/width w.p. 1-e^-depth).
    """
    rb = _row_bucket(df, list(group_cols), key_col, depth, width)
    return (rb.groupBy(*group_cols, "row", "bucket")
              .agg(F.count(F.lit(1)).alias("cnt")))


def update_hll_store(spark, batch_df: DataFrame, root: str, key_col: str,
                     group_cols=(), p: int = 8) -> None:
    """Fold one batch into a PERSISTED register store (tiny parquet, ≤ 2^p
    rows per group) — the incremental form: a stream or nightly delta
    updates cardinality metadata without ever rescanning the table.
    Registers are max-merged with the stored state, written to
    ``<root>.tmp`` and put at ``root`` by one :func:`commit.install`, so a
    reader sees the old store or the new one at every instant (a window
    with NO store would make the next batch fold into emptiness and
    under-count).  The max-merge makes a replay idempotent."""
    import os
    key = key_expr(F.col(key_col), batch_df.schema[key_col].dataType)
    batch = batch_df.select(*group_cols, key.alias("_k"))
    new = hll_sketch(batch, "_k", group_cols, p)
    if os.path.isdir(root):
        new = hll_merge(spark.read.parquet(root), new, group_cols=group_cols)
    tmp = root + ".tmp"
    new.coalesce(1).write.mode("overwrite").parquet(tmp)
    commit.install(tmp, root)


def read_hll_store(spark, root: str, group_cols=(), p: int = 8) -> dict:
    """Estimates from a register store: group-key tuple -> float estimate
    (driver-side — the store is metadata-sized)."""
    rows = hll_summary(spark.read.parquet(root), group_cols, p).collect()
    if not group_cols:
        r = rows[0]
        return {(): hll_estimate(r["zero_registers"], r["s_scaled"], p)}
    return {tuple(r[c] for c in group_cols):
            hll_estimate(r["zero_registers"], r["s_scaled"], p) for r in rows}


def cms_merge(*sketches: DataFrame, group_cols=()) -> DataFrame:
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy(*group_cols, "row", "bucket")
               .agg(F.sum("cnt").alias("cnt")))


def cms_lookup(sketch: DataFrame, keys: DataFrame, key_col: str,
               depth: int = 4, width: int = 512) -> DataFrame:
    """Point-frequency estimates for ``keys``: broadcast the (key, row,
    bucket) probe set against the sketch, take the min counter per key
    (missing bucket ⇒ 0).  One broadcast join — no rescan of the data."""
    probes = _row_bucket(keys, [], key_col, depth, width)
    # broadcast the SKETCH (≤ depth·width counters) and keep the probes as
    # the preserved left side: a right-outer with a broadcast hint on the
    # preserved side cannot be honored and degrades to a shuffle
    joined = (probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
                    .select(key_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")))
    return joined.groupBy(key_col).agg(F.min("cnt").alias("est"))


# --------------------------------------------------------------- quantiles

def quantile_sketch(df: DataFrame, value_col: str, group_cols=(),
                    b: int = 5) -> DataFrame:
    """Mergeable quantile sketch over a NON-NEGATIVE integer column:
    (group, bucket, cnt) counters with HdrHistogram-style log buckets —
    ≤ (64-b)·2^b rows per group regardless of input size, sum-mergeable
    (:func:`quantile_merge`), one map-side-combined hash aggregation.
    The 100-TB shape for "P50/P99 token length per source" metadata:
    sketch cost, never a global sort.

    Bucketing is EXACT INTEGER arithmetic so Spark and the SQL oracle
    agree bit-for-bit (float log() flips buckets at powers of two across
    engines):

    * x < 2^b  -> bucket = x (small values exact);
    * x >= 2^b -> e = floor(log2 x) = length(bin(x)) - 1,
                  m = the b bits after the leading 1,
                  bucket = 2^b + ((e-b) << b | m).

    Buckets are monotone in x, each covering a relative range of 2^-b
    (b=5 -> ~3 % worst-case relative error)."""
    base = 1 << b
    staged = (df.select(*group_cols,
                        F.col(value_col).cast("long").alias("_qx"))
                .withColumn("_qe", (F.length(F.bin(F.col("_qx")))
                                    - F.lit(1)).cast("int")))
    big = (F.lit(base).cast("long")
           + F.shiftleft((F.col("_qe") - F.lit(b)).cast("long"), b)
           + F.expr(f"shiftright(_qx, _qe - {b})") - F.lit(base))
    staged = staged.withColumn(
        "bucket", F.when(F.col("_qx") < base, F.col("_qx")).otherwise(big))
    return (staged.groupBy(*group_cols, "bucket")
                  .agg(F.count(F.lit(1)).alias("cnt")))


def quantile_merge(*sketches: DataFrame, group_cols=()) -> DataFrame:
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy(*group_cols, "bucket")
               .agg(F.sum("cnt").alias("cnt")))


def quantile_from_sketch(sketch: DataFrame, qs=(50, 90, 99), group_cols=(),
                         b: int = 5) -> DataFrame:
    """Quantile estimates from the counters, fully distributed: cumulative
    counts per group (window over the tiny sketch), pick the FIRST bucket
    whose cumulative count reaches q% of the total, invert the bucket to
    its LOWER-BOUND value — all integer ops, so the whole chain has an
    exact SQL twin.  Returns (group..., q, est)."""
    from pyspark.sql import Window
    base = 1 << b
    w = (Window.partitionBy(*group_cols).orderBy("bucket")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy(*group_cols)
    cum = (sketch.withColumn("_c", F.sum("cnt").over(w))
                 .withColumn("_total", F.sum("cnt").over(wt)))
    qdf = sketch.sparkSession.createDataFrame([(int(q),) for q in qs], "q int")
    hit = cum.join(F.broadcast(qdf),
                   F.col("_c") * 100 >= F.col("q") * F.col("_total"))
    picked = (hit.groupBy(*group_cols, "q")
                 .agg(F.min("bucket").alias("bucket"))
                 .withColumn("_t", F.col("bucket") - F.lit(base)))
    # lower bound: (2^b + (t & (2^b - 1))) << (t >> b) — the variable-
    # amount shift stays an integer SQL expression (no fp pow)
    est = F.when(F.col("bucket") < base, F.col("bucket")).otherwise(
        F.expr(f"shiftleft(CAST({base} + (_t % {base}) AS BIGINT), "
               f"CAST(_t / {base} AS INT))"))
    return picked.select(*group_cols, "q", est.cast("long").alias("est"))


def update_quantile_store(spark, batch_df: DataFrame, root: str,
                          value_col: str, group_cols=(), b: int = 5,
                          batch_id=None) -> None:
    """Fold one batch into a persisted quantile-sketch store.

    Unlike the HLL registers (max-merge, naturally idempotent), quantile
    counters SUM — a replayed batch would double-count.  Exactly-once
    therefore comes from layout: each batch's sketch is written to
    ``_staging-delta-<batch_id>`` and put at ``delta-<batch_id>`` by one
    :func:`commit.install`, so a ``delta-*`` directory is always complete
    and a foreachBatch replay replaces the same delta instead of adding a
    second one.  Readers merge all deltas (:func:`read_quantile_store`) —
    counters are associative, so merge order is irrelevant;
    ``compact_quantile_store`` folds deltas into one when the directory
    count grows.  A batch whose delta was already folded into a compacted
    delta is SKIPPED on replay (the compacted delta's supersession list is
    the durable commit record — without the check, replay-after-compaction
    would recreate the delta and double-count).

    ``batch_id=None`` is for one-shot MANUAL folds: the delta gets a fresh
    ``delta-manual-<n>`` name (no replay contract — replay semantics need
    a stable batch id)."""
    import os
    if batch_id is not None:
        name = f"delta-{batch_id}"
        if name in _superseded_deltas(root):
            return  # already folded into a compacted delta — replay no-op
    else:
        os.makedirs(root, exist_ok=True)
        taken = {d for d in os.listdir(root) if d.startswith("delta-manual-")} \
            | _superseded_deltas(root)
        n = 0
        while f"delta-manual-{n}" in taken:
            n += 1
        name = f"delta-manual-{n}"
    staging = os.path.join(root, f"_staging-{name}")
    sk = quantile_sketch(batch_df, value_col, group_cols, b)
    sk.coalesce(1).write.mode("overwrite").parquet(staging)
    commit.install(staging, os.path.join(root, name))


def read_quantile_store(spark, root: str, qs=(50, 90, 99), group_cols=(),
                        b: int = 5) -> DataFrame:
    """Quantile estimates over the merged delta sketches — metadata-sized
    read however many batches have been folded.  Deltas listed in a
    compacted delta's ``_superseded.json`` are skipped, so a crash between
    compaction's install and its cleanup can never double-count."""
    deltas = _live_quantile_deltas(root)
    if not deltas:
        raise FileNotFoundError(
            f"no quantile deltas at {root!r} — the store is empty or the "
            "path is wrong (fold a batch with update_quantile_store first)")
    merged = quantile_merge(*[spark.read.parquet(p) for p in deltas],
                            group_cols=group_cols)
    return quantile_from_sketch(merged, qs, group_cols, b)


def _superseded_deltas(root: str) -> set[str]:
    """Delta names already folded into a compacted delta — the durable
    record that makes replay-after-compaction a no-op."""
    import json
    import os
    superseded: set[str] = set()
    if not os.path.isdir(root):
        return superseded
    for d in os.listdir(root):
        marker = os.path.join(root, d, "_superseded.json")
        if d.startswith("delta-") and os.path.exists(marker):
            with open(marker) as f:
                superseded.update(json.load(f))
    return superseded


def _live_quantile_deltas(root: str) -> list[str]:
    """Live = delta-* dirs not superseded by a compaction.  The
    ``_SUCCESS`` check skips the torn deltas that stores written before
    deltas were installed whole can still hold."""
    import os
    if not os.path.isdir(root):
        return []
    deltas = {d for d in os.listdir(root) if d.startswith("delta-")
              and os.path.exists(os.path.join(root, d, "_SUCCESS"))}
    return [os.path.join(root, d)
            for d in sorted(deltas - _superseded_deltas(root))]


def compact_quantile_store(spark, root: str, group_cols=()) -> None:
    """Fold the live delta directories into one, on the :mod:`commit`
    protocol: the compacted delta is fully written (with the
    ``_superseded.json`` record naming its inputs) and installed FIRST —
    from that instant readers ignore the inputs — and only then are the
    superseded directories deleted, here or, after a crash, by the next
    compaction.  Counters are never lost or double-merged."""
    import hashlib
    import os
    for name in _superseded_deltas(root):
        commit.discard(os.path.join(root, name))
    live = _live_quantile_deltas(root)
    if len(live) <= 1:
        return
    names = [os.path.basename(p) for p in live]
    merged = quantile_merge(*[spark.read.parquet(p) for p in live],
                            group_cols=group_cols)
    tag = hashlib.sha1(",".join(names).encode()).hexdigest()[:10]
    tmp = os.path.join(root, "_compact.tmp")
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    # the record also carries the names its compacted inputs superseded,
    # so deleting an older compacted delta keeps their replays no-ops
    commit.write_json(os.path.join(tmp, "_superseded.json"),
                      sorted(set(names) | _superseded_deltas(root)))
    commit.install(tmp, os.path.join(root, f"delta-compact-{tag}"))
    for name in names:
        commit.discard(os.path.join(root, name))
