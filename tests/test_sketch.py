"""Mergeable HLL / Count-Min sketch tests (operators/sketch.py): hash
determinism vs an independent python reference, merge associativity,
estimate accuracy, and the CMS one-sided error guarantee."""

import math

import pyspark.sql.functions as F
import pytest

from laji_pygeoapi_spark.operators import sketch as SK


def _h32_py(k: int) -> int:
    x = ((k % 2**32) + (k >> 32)) % 2**32
    for _ in range(2):
        x = ((x ^ (x >> 16)) * 73244475) % 2**32
    return x ^ (x >> 16)


def test_hash32_matches_python_reference(spark):
    ks = [0, 1, 123456789, 987654321098, 2**32 - 1, 2**32]
    df = spark.createDataFrame([(k,) for k in ks], "k: long")
    got = [r["h"] for r in
           df.select(SK.hash32(F.col("k")).alias("h")).collect()]
    assert got == [_h32_py(k) for k in ks]
    assert all(0 <= h < 2**32 for h in got)


def test_hll_estimate_accuracy(spark):
    """p=8 (256 registers) has RSE ~6.5%; require within 15% on 3 decades
    of true cardinality, and linear-counting exactness-ish when tiny."""
    for n_true in (40, 1000, 20000):
        df = spark.range(n_true * 3).select(
            (F.col("id") % n_true).alias("k"))  # every key ~3 times
        summ = SK.hll_summary(SK.hll_sketch(df, "k")).collect()[0]
        est = SK.hll_estimate(summ["zero_registers"], summ["s_scaled"])
        assert abs(est - n_true) / n_true < 0.15, (n_true, est)
    tiny = spark.range(100).select((F.col("id") % 5).alias("k"))
    s = SK.hll_summary(SK.hll_sketch(tiny, "k")).collect()[0]
    assert round(SK.hll_estimate(s["zero_registers"], s["s_scaled"])) == 5


def test_hll_merge_equals_whole(spark):
    """Sketch(A ∪ B) == merge(Sketch(A), Sketch(B)) register-for-register —
    the property that makes per-partition sketches a distributed agg."""
    a = spark.range(0, 6000).select((F.col("id") % 700).alias("k"))
    b = spark.range(3000, 12000).select((F.col("id") % 1100).alias("k"))
    whole = SK.hll_sketch(a.unionByName(b), "k")
    merged = SK.hll_merge(SK.hll_sketch(a, "k"), SK.hll_sketch(b, "k"))
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_grouped(spark):
    df = spark.range(9000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 1500).alias("k"))
    out = {r["g"]: r for r in
           SK.hll_summary(SK.hll_sketch(df, "k", ["g"]), ["g"]).collect()}
    assert set(out) == {"0", "1", "2"}
    for g, r in out.items():
        est = SK.hll_estimate(r["zero_registers"], r["s_scaled"])
        assert abs(est - 500) / 500 < 0.15, (g, est)


def test_cms_overestimates_and_is_tight_for_heavy_keys(spark):
    """CMS guarantee: est ≥ true for EVERY key; with N=6000, width=512 the
    expected overshoot is N·e/width ≈ 32 — heavy keys stay within that."""
    # zipf-ish: key j appears 1200/(j+1) times for j < 30
    rows = [(j,) for j in range(30) for _ in range(1200 // (j + 1))]
    df = spark.createDataFrame(rows, "k: long")
    true = {r["k"]: r["c"] for r in
            df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    sk = SK.cms_sketch(df, "k")
    keys = spark.createDataFrame([(j,) for j in range(40)], "k: long")
    est = {r["k"]: r["est"] for r in
           SK.cms_lookup(sk, keys, "k").collect()}
    n_total = sum(true.values())
    bound = math.e * n_total / 512
    for j in range(40):
        t = true.get(j, 0)
        assert est[j] >= t, (j, est[j], t)
        assert est[j] <= t + 6 * bound, (j, est[j], t)
    # every hash row's counters sum to N exactly (each input row increments
    # one bucket per row)
    sums = (sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect())
    assert all(r["s"] == n_total for r in sums)


def test_cms_merge_equals_whole(spark):
    a = spark.range(0, 4000).select((F.col("id") % 37).alias("k"))
    b = spark.range(0, 3000).select((F.col("id") % 53).alias("k"))
    whole = SK.cms_sketch(a.unionByName(b), "k")
    merged = SK.cms_merge(SK.cms_sketch(a, "k"), SK.cms_sketch(b, "k"))
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_store_incremental_updates(spark, tmp_path):
    """update_hll_store folded batch-by-batch equals the one-shot sketch of
    the union, register-for-register; estimates read back sanely."""
    from laji_pygeoapi_spark.operators import sketch as SK
    root = str(tmp_path / "hll_store")
    a = spark.range(0, 5000).select((F.col("id") % 900).alias("k"))
    b = spark.range(2500, 9000).select((F.col("id") % 1300).alias("k"))
    SK.update_hll_store(spark, a, root, "k")
    SK.update_hll_store(spark, b, root, "k")
    stored = sorted(map(tuple, spark.read.parquet(root).collect()))
    whole = sorted(map(tuple,
                       SK.hll_sketch(a.unionByName(b), "k").collect()))
    assert stored == whole
    est = SK.read_hll_store(spark, root)[()]
    true = a.unionByName(b).distinct().count()
    assert abs(est - true) / true < 0.15


def test_stream_sketch_matches_batch(spark, tmp_path):
    """Streaming register maintenance (availableNow, one fold per
    micro-batch) leaves the store register-identical to the batch sketch
    of all files — the bounded-state streaming-cardinality contract."""
    import pyspark.sql.types as T
    from laji_pygeoapi_spark.operators import sketch as SK
    from laji_pygeoapi_spark.streaming.incremental import stream_sketch
    src = str(tmp_path / "src")
    schema = T.StructType([T.StructField("user_id", T.LongType()),
                           T.StructField("grp", T.StringType())])
    d1 = spark.range(0, 3000).select(
        (F.col("id") % 400).alias("user_id"),
        (F.col("id") % 2).cast("string").alias("grp"))
    d2 = spark.range(1000, 7000).select(
        (F.col("id") % 750).alias("user_id"),
        (F.col("id") % 2).cast("string").alias("grp"))
    d1.coalesce(1).write.mode("append").parquet(src)
    d2.coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "sketch")
    stream_sketch(spark, src, root, "user_id", group_cols=["grp"], schema=schema)
    stored = sorted(map(tuple, spark.read.parquet(root)
                        .select("grp", "register", "max_rho").collect()))
    whole = sorted(map(tuple,
                       SK.hll_sketch(d1.unionByName(d2), "user_id", ["grp"])
                       .select("grp", "register", "max_rho").collect()))
    assert stored == whole
    # re-running the stream with no new files is a no-op (exactly-once)
    stream_sketch(spark, src, root, "user_id", group_cols=["grp"], schema=schema)
    again = sorted(map(tuple, spark.read.parquet(root)
                       .select("grp", "register", "max_rho").collect()))
    assert again == stored


def test_collection_metadata_approx_distinct(spark):
    """distinct_cols adds HLL approx cardinalities per collection, within
    15% of the exact distinct count (string keys via xxhash64)."""
    from laji_pygeoapi_spark.functions import transform
    from laji_pygeoapi_spark.operators import maintenance as M
    from laji_pygeoapi_spark.sources import fixtures
    raw = spark.createDataFrame(fixtures.raw_occurrences_pdf(300))
    tax = spark.createDataFrame(fixtures.taxonomy_pdf())
    occ = transform.transform_chain(raw, tax)
    md = M.collection_metadata(occ, distinct_cols=("Havainnon_tunniste",))
    assert md and all("approx_distinct" in m for m in md)
    exact = {r["Aineiston_tunniste"]: r["d"] for r in occ.groupBy("Aineiston_tunniste")
             .agg(F.countDistinct("Havainnon_tunniste").alias("d")).collect()}
    for m in md:
        est = m["approx_distinct"]["Havainnon_tunniste"]
        true = exact[m["collection"]]
        assert abs(est - true) / max(true, 1) < 0.15, (m["collection"], est, true)


def test_xxh64_matches_spark(spark):
    """kernels.xxh is bit-exact with F.xxhash64 on strings across every
    length branch (empty, tails 1-7, 4-byte, stripes ≥32) and non-ASCII —
    the driver-side hash the bloom GET probe depends on."""
    from laji_pygeoapi_spark.kernels.xxh import xxhash64_spark
    tests = ["", "a", "ab", "abc", "abcd", "x" * 7, "y" * 8, "q" * 12,
             "z" * 31, "w" * 32, "v" * 33, "long " * 40,
             "IMG_000000042", "Paikallinen#123", "ä ö ü — unicode ✓"]
    df = spark.createDataFrame([(s,) for s in tests], "s: string")
    got = {r["s"]: r["h"] for r in
           df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in tests:
        assert xxhash64_spark(s) == got[s], repr(s)


def test_bloom_probe_is_jobless(spark, tmp_path):
    """A string-key bloom probe computes its positions without launching
    any Spark job (the serving-latency property)."""
    from laji_pygeoapi_spark.sources.table import bloom_words
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    words = bloom_words("IMG_000000042", 8192)
    after = tracker.getJobIdsForGroup(None)
    assert len(words) == 4 and all(0 <= w < 128 for w, _ in words)
    assert before == after, "bloom_words launched a Spark job"


def test_quantile_sketch_accuracy_and_merge(spark):
    """Log-bucket quantile sketch: estimates within the 2^-b relative
    bound of exact percentiles, and the sketch of a union equals the
    merged sketches of its parts counter-for-counter (the property that
    makes it a per-partition/streaming-foldable metadata aggregate)."""
    import random
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.operators import sketch as SK
    random.seed(11)
    vals = [(random.choice("ab"), random.randint(0, 250_000)) for _ in range(30_000)]
    df = spark.createDataFrame(vals, "g string, v long")
    sk = SK.quantile_sketch(df, "v", group_cols=("g",))
    est = {(r["g"], r["q"]): r["est"] for r in
           SK.quantile_from_sketch(sk, (50, 90, 99), group_cols=("g",)).collect()}
    by_g = {}
    for g, v in vals:
        by_g.setdefault(g, []).append(v)
    for g, arr in by_g.items():
        arr.sort()
        for q in (50, 90, 99):
            exact = arr[max(0, -(-len(arr) * q // 100) - 1)]
            assert abs(est[(g, q)] - exact) / max(exact, 1) < 2 ** -5 + 0.01, \
                (g, q, est[(g, q)], exact)
    halves = [SK.quantile_sketch(df.filter(F.col("v") % 2 == i), "v", ("g",))
              for i in (0, 1)]
    merged = {(r["g"], r["bucket"]): r["cnt"] for r in
              SK.quantile_merge(*halves, group_cols=("g",)).collect()}
    whole = {(r["g"], r["bucket"]): r["cnt"] for r in sk.collect()}
    assert merged == whole
    # small values (< 2^b) are represented exactly
    tiny = spark.createDataFrame([(i,) for i in range(32)] * 3, "v long")
    tsk = SK.quantile_sketch(tiny, "v")
    te = {r["q"]: r["est"] for r in
          SK.quantile_from_sketch(tsk, (50, 99)).collect()}
    assert te[50] == 15 and te[99] == 31


def test_quantile_store_streaming_fold_exactly_once(spark, tmp_path):
    """Per-batch delta layout: a replayed batch OVERWRITES its own delta
    (no double count), the folded store equals the one-shot sketch, and
    compaction is crash-safe via supersession markers."""
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.operators import sketch as SK
    root = str(tmp_path / "qstore")
    df = spark.range(5000).select((F.col("id") * 7919 % 100_000).alias("v"))
    a = df.filter(F.col("v") % 2 == 0)
    b = df.filter(F.col("v") % 2 == 1)
    SK.update_quantile_store(spark, a, root, "v", batch_id=0)
    SK.update_quantile_store(spark, b, root, "v", batch_id=1)
    SK.update_quantile_store(spark, b, root, "v", batch_id=1)  # replay
    whole = {r["q"]: r["est"] for r in
             SK.quantile_from_sketch(SK.quantile_sketch(df, "v"),
                                     (50, 90, 99)).collect()}
    folded = {r["q"]: r["est"] for r in
              SK.read_quantile_store(spark, root).collect()}
    assert folded == whole
    SK.compact_quantile_store(spark, root)
    assert {r["q"]: r["est"] for r in
            SK.read_quantile_store(spark, root).collect()} == whole
    # simulate the compaction crash window: superseded deltas NOT yet
    # deleted -> readers must still not double-count
    SK.update_quantile_store(spark, a, root, "v", batch_id=2)
    import json, os
    comp = next(d for d in os.listdir(root) if d.startswith("delta-compact-"))
    stale = json.load(open(os.path.join(root, comp, "_superseded.json")))
    os.makedirs(os.path.join(root, stale[0]), exist_ok=True)  # leftovers reappear
    sub = spark.createDataFrame([(0, 1)], "bucket long, cnt long")
    sub.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, stale[0]))
    got = {r["q"]: r["est"] for r in
           SK.read_quantile_store(spark, root).collect()}
    merged_truth = {r["q"]: r["est"] for r in
                    SK.quantile_from_sketch(
                        SK.quantile_merge(SK.quantile_sketch(df, "v"),
                                          SK.quantile_sketch(a, "v")),
                        (50, 90, 99)).collect()}
    assert got == merged_truth


def test_quantile_bucket_power_of_two_boundaries(spark):
    """Property: bucketing is exact-integer monotone including every 2^k
    boundary (the values where float log2 disagrees across engines)."""
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.operators import sketch as SK
    vals = sorted({0, 1, 31, 32, 33, 63, 64, 65} |
                  {2 ** k + d for k in range(5, 62) for d in (-1, 0, 1)})
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = (SK.quantile_sketch(df, "v", b=5)
            .select("bucket").distinct().count())
    # buckets must be monotone in v: recompute per-value buckets and check
    per = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = SK.quantile_sketch(per.withColumn("g", F.col("v")), "v",
                            group_cols=("g",), b=5)
    got = {r["g"]: r["bucket"] for r in sk.collect()}
    buckets = [got[v] for v in vals]
    assert buckets == sorted(buckets)
    # small values exact; lower-bound inversion never exceeds the value
    base = 32
    for v in vals:
        bk = got[v]
        if v < base:
            assert bk == v
        else:
            t = bk - base
            lower = (base + (t % base)) << (t // base)
            upper = lower + (1 << (t // base))
            assert lower <= v < upper, (v, bk, lower, upper)


def test_stream_quantiles_matches_batch(spark, tmp_path):
    """availableNow streaming quantile fold: store estimates after the
    stream equal the one-shot batch sketch of the whole source, and a
    re-run (file-source checkpoint + per-batch delta overwrite) changes
    nothing."""
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.operators import sketch as SK
    from laji_pygeoapi_spark.streaming.incremental import stream_quantiles
    src = str(tmp_path / "src")
    root = str(tmp_path / "qstore")
    df = spark.range(4000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 6151 % 50_000).alias("v"))
    df.coalesce(2).write.mode("overwrite").parquet(src)
    sch = "g string, v long"
    stream_quantiles(spark, src, root, "v", group_cols=("g",), schema=sch)
    want = {(r["g"], r["q"]): r["est"] for r in
            SK.quantile_from_sketch(
                SK.quantile_sketch(spark.read.parquet(src), "v", ("g",)),
                (50, 90, 99), ("g",)).collect()}
    got = {(r["g"], r["q"]): r["est"] for r in
           SK.read_quantile_store(spark, root, (50, 90, 99), ("g",)).collect()}
    assert got == want
    stream_quantiles(spark, src, root, "v", group_cols=("g",), schema=sch)
    again = {(r["g"], r["q"]): r["est"] for r in
             SK.read_quantile_store(spark, root, (50, 90, 99), ("g",)).collect()}
    assert again == want
