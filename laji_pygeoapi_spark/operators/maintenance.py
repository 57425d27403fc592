"""Maintenance jobs: dedup (A1), policy group-merge (A2), metadata (A3-A6).

The reference runs these as hand-written SQL inside PostGIS
(``edit_db.py:333-460``, ``edit_metadata.py:24-86``).  Here they are Spark
jobs over the one logical occurrence table:

* dedup-keep-latest: window ``row_number`` per id ordered by load date —
  scales as one hash shuffle on the id; no table rebuild;
* group-merge: policy-driven ``groupBy().agg()`` built from the registry's
  merge options, with an optional **salted two-phase** variant for hot keys
  (Helsinki-scale skew; north rule) that is result-identical to the
  single-phase plan (equivalence is tested);
* determinism: the reference's FIRST/string_agg order is PostGIS physical
  scan order (nondeterministic).  We define it as
  ``ORDER BY Lataus_pvm DESC, Havainnon_tunniste`` — documented divergence
  (SURVEY.md §7 parity traps).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import registry

DEDUP_KEY = "Havainnon_tunniste"
ORDER_COL = "Lataus_pvm"


def remove_duplicates(df: DataFrame, key: str = DEDUP_KEY,
                      order: str = ORDER_COL) -> DataFrame:
    """A1 — ``SELECT DISTINCT ON (key) * ORDER BY key, order DESC``
    (reference ``edit_db.py:364-369``), deterministic tie-break on the key."""
    w = Window.partitionBy(key).orderBy(F.col(order).desc_nulls_last(), F.col(key))
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def _first_key() -> Column:
    """Deterministic 'first' ordering: latest load date wins, id tie-break.

    Long arithmetic throughout: negating an int32 sentinel overflows under
    ANSI mode (Spark 4 default), and the wrapped value would make null-dated
    rows win.  Null load dates map to +2^60 so they sort LAST (same
    nulls-last semantics as remove_duplicates)."""
    days = F.datediff(F.col(ORDER_COL), F.lit("1970-01-01")).cast("long")
    return F.struct(F.coalesce(-days, F.lit(1 << 60)).alias("d"),
                    F.coalesce(F.col(DEDUP_KEY), F.lit("")).alias("i"))


def _agg_expr(col: str, sort_key: Column) -> Column:
    """AGGREGATE policy: ', '-joined non-null, non-'nan' values in
    deterministic order (reference ``edit_db.py:418`` string_agg + FILTER)."""
    pair = F.when(F.col(col).isNotNull() & (F.col(col) != "nan"),
                  F.struct(sort_key.alias("k"), F.col(col).alias("v")))
    arr = F.array_sort(F.collect_list(pair))
    joined = F.array_join(F.transform(arr, lambda x: x["v"]), ", ")
    return F.when(F.size(arr) > 0, joined)


def merge_similar_observations(df: DataFrame, salted: bool = False,
                               salt_buckets: int = 16,
                               policy: dict[str, list[str]] | None = None) -> DataFrame:
    """A2 — group-merge with CSV-driven policies (reference ``edit_db.py:381-460``).

    GROUPBY columns form the key; FIRST -> min_by on the deterministic order;
    AGGREGATE -> ordered, filtered string agg; SUM/MAX -> native aggs;
    geometry + geom_kind -> FIRST; ``Yhdistetty`` = number of merged ids.

    ``salted=True`` runs the identical aggregation in two phases with a
    random-free salt (hash of the id) so one hot group spreads over
    ``salt_buckets`` reducers before the final combine — same results.
    """
    # policy override mirrors the reference signature, which takes the
    # lookup_df as a parameter (edit_db.py:381) — callers may merge under a
    # different policy set than the production registry
    policy = policy if policy is not None else registry.merge_policy()
    policy = {k: policy.get(k, []) for k in ("GROUPBY", "AGGREGATE", "FIRST", "SUM", "MAX")}
    present = set(df.columns)
    groupby_cols = [c for c in policy["GROUPBY"] if c in present]
    firsts = [c for c in policy["FIRST"] if c in present]
    aggs = [c for c in policy["AGGREGATE"] if c in present]
    sums = [c for c in policy["SUM"] if c in present]
    maxs = [c for c in policy["MAX"] if c in present]
    extra_firsts = [c for c in ("geometry", "geom_kind", "lon", "lat") if c in present]
    key = _first_key()

    if not salted:
        exprs: list[Column] = []
        for c in firsts + extra_firsts:
            exprs.append(F.min_by(F.col(c), key).alias(c))
        for c in aggs:
            exprs.append(_agg_expr(c, key).alias(c))
        for c in sums:
            exprs.append(F.sum(c).alias(c))
        for c in maxs:
            exprs.append(F.max(c).alias(c))
        merged = df.groupBy(*groupby_cols).agg(*exprs)
    else:
        salt = (F.xxhash64(F.col(DEDUP_KEY)) % salt_buckets).alias("_salt")
        p1: list[Column] = []
        for c in firsts + extra_firsts:
            p1.append(F.min_by(F.struct(key.alias("k"), F.col(c).alias("v")), key).alias(f"_f_{c}"))
        for c in aggs:
            pair = F.when(F.col(c).isNotNull() & (F.col(c) != "nan"),
                          F.struct(key.alias("k"), F.col(c).alias("v")))
            p1.append(F.collect_list(pair).alias(f"_a_{c}"))
        for c in sums:
            p1.append(F.sum(c).alias(f"_s_{c}"))
        for c in maxs:
            p1.append(F.max(c).alias(f"_m_{c}"))
        phase1 = df.withColumn("_salt", salt).groupBy(*groupby_cols, "_salt").agg(*p1)
        p2: list[Column] = []
        for c in firsts + extra_firsts:
            p2.append(F.min_by(F.col(f"_f_{c}"), F.col(f"_f_{c}.k"))["v"].alias(c))
        for c in aggs:
            arr = F.array_sort(F.flatten(F.collect_list(F.col(f"_a_{c}"))))
            joined = F.array_join(F.transform(arr, lambda x: x["v"]), ", ")
            p2.append(F.when(F.size(arr) > 0, joined).alias(c))
        for c in sums:
            p2.append(F.sum(f"_s_{c}").alias(c))
        for c in maxs:
            p2.append(F.max(f"_m_{c}").alias(c))
        merged = phase1.groupBy(*groupby_cols).agg(*p2)

    ydist = F.when(F.col(DEDUP_KEY).contains(","),
                   F.size(F.split(F.col(DEDUP_KEY), ", "))).otherwise(F.lit(1))
    merged = merged.withColumn("Yhdistetty", ydist.cast("long"))
    # restore canonical column order where possible
    ordered = [c for c in registry.output_columns() if c in merged.columns]
    tail = [c for c in merged.columns if c not in ordered]
    return merged.select(*ordered, *tail)


# ------------------------------------------------------------ metadata

def quality_frequency(df: DataFrame, col: str = "Aineiston_laatu") -> DataFrame:
    """A3 — percentage histogram (reference ``edit_db.py:160-187``)."""
    counts = df.groupBy(col).count()
    total = Window.partitionBy()
    return counts.select(
        F.col(col),
        F.round(F.col("count") * 100.0 / F.sum("count").over(total), 2).alias("percentage"),
    )


def temporal_extent(df: DataFrame, start: str = "Keruu_aloitus_pvm",
                    end: str = "Keruu_lopetus_pvm"):
    """A5 — min/max dates in RFC3339 (reference ``edit_db.py:189-212``)."""
    row = (df.filter(F.col(start).isNotNull() | F.col(end).isNotNull())
             .agg(F.date_format(F.min(start), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("min_date"),
                  F.date_format(F.max(end), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("max_date"))
             .first())
    return (row["min_date"], row["max_date"]) if row else (None, None)


def write_metadata_manifest(df: DataFrame, path: str,
                            collection_col: str = "Aineiston_tunniste") -> list[dict]:
    """S8/S9 — persist the per-collection OGC-Records-style manifest as JSON
    (replaces the reference's TinyDB store + pygeoapi-config YAML rewrite,
    ``edit_metadata.py:88-217``, ``edit_config.py:5-58``)."""
    from ..sources import commit
    docs = collection_metadata(df, collection_col)
    commit.write_json(path, {"collections": docs})
    return docs


def collection_metadata(df: DataFrame, collection_col: str = "Aineiston_tunniste",
                        distinct_cols=()) -> list[dict]:
    """S8/A3-A6 — one OGC-Records-style manifest dict per collection
    (reference ``edit_metadata.py:24-86``): bbox, temporal extent, count,
    quality histogram.  Single pass per aggregate over the table.

    ``distinct_cols``: optional columns whose per-collection cardinality is
    added as ``approx_distinct`` via the mergeable HLL sketch
    (``operators.sketch`` — ±~6.5 % at p=8).  The reference's exact PostGIS
    distinct queries stop being affordable at 10^12 rows; the sketch keeps
    this a single map-side-combined hash agg of ≤256 rows per collection."""
    base = (df.groupBy(collection_col)
              .agg(F.count(F.lit(1)).alias("count"),
                   F.min("lon").alias("minx"), F.min("lat").alias("miny"),
                   F.max("lon").alias("maxx"), F.max("lat").alias("maxy"),
                   F.date_format(F.min("Keruu_aloitus_pvm"),
                                 "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("min_date"),
                   F.date_format(F.max("Keruu_lopetus_pvm"),
                                 "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("max_date"))
              .collect())
    qual = (df.groupBy(collection_col, "Aineiston_laatu").count()
              .withColumn("percentage",
                          F.round(F.col("count") * 100.0 /
                                  F.sum("count").over(Window.partitionBy(collection_col)), 2))
              .collect())
    qmap: dict[str, dict] = {}
    for r in qual:
        qmap.setdefault(r[collection_col], {})[r["Aineiston_laatu"]] = float(r["percentage"])
    approx: dict[str, dict] = {}
    if distinct_cols:
        from . import sketch as SK
        for col in distinct_cols:
            key = SK.key_expr(F.col(col), df.schema[col].dataType)
            sk = SK.hll_sketch(df.select(collection_col, key.alias("_k")),
                               "_k", [collection_col])
            for r in SK.hll_summary(sk, [collection_col]).collect():
                approx.setdefault(r[collection_col], {})[col] = round(
                    SK.hll_estimate(r["zero_registers"], r["s_scaled"]), 1)
    out = []
    for r in sorted(base, key=lambda x: (x[collection_col] or "")):
        doc = {
            "collection": r[collection_col],
            "count": r["count"],
            "bbox": [r["minx"], r["miny"], r["maxx"], r["maxy"]],
            "temporal": [r["min_date"], r["max_date"]],
            "quality": qmap.get(r[collection_col], {}),
        }
        if distinct_cols:
            doc["approx_distinct"] = approx.get(r[collection_col], {})
        out.append(doc)
    return out


# --------------------------------------------------------- T3: async overlap

def run_overlapped(spark, named_tasks: dict) -> dict:
    """T3 — overlap maintenance with ingest (SURVEY §2.10).

    The reference fires maintenance asynchronously while the next load
    proceeds (``main.py`` async stages).  Spark-idiomatic form: each task
    runs on its own driver thread tagged with its own scheduler pool
    (``spark.scheduler.pool``) — under FAIR scheduling the pools share
    executors proportionally; under the default FIFO the jobs still
    interleave stage-by-stage.  Correctness does not depend on the
    scheduler: tasks must touch disjoint state (enforced by the caller),
    and the overlap==sequential equivalence is integration-tested.

    ``named_tasks``: pool-name -> zero-arg callable.  Returns name ->
    result; re-raises the first task exception after all threads join.
    """
    import threading
    results: dict = {}
    errors: dict = {}

    def runner(name, fn):
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        try:
            results[name] = fn()
        except Exception as exc:  # noqa: BLE001 — reported to caller below
            errors[name] = exc
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    threads = [threading.Thread(target=runner, args=(n, f), name=f"t3-{n}")
               for n, f in named_tasks.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        name, exc = next(iter(errors.items()))
        raise RuntimeError(f"overlapped task '{name}' failed") from exc
    return results


def key_skew(df: DataFrame, key_col: str, top: int = 5) -> DataFrame:
    """Key-distribution SKEW DIAGNOSTICS — the measurement that decides
    whether a join/agg key needs salting BEFORE the job that would die on
    it runs (north rule: Helsinki-scale hotspot cells).  Reports the
    ``top`` heaviest keys plus corpus-wide shape stats: exact rank-based
    p50/p99 of per-key counts (never fp-interpolated percentiles — the
    value AT row ceil(q*n), unambiguous in both engines), the hottest
    key's count, and ``skew_x1000`` = floor(1000 * max_cnt / mean_cnt) in
    pure-integer arithmetic (the factor the hottest partition exceeds the
    average — the salt multiple that would level it).

    Scale shape: the corpus-sized work is ONE map-side-combinable count
    agg; everything after runs on the n_keys-sized count table (cells /
    domains / shard keys — millions of rows at 10^12 input, trivial), so
    the two global rank windows are single-task by construction and the
    summary joins are broadcasts."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    ranked = (counts
              .withColumn("_ra", F.row_number().over(
                  Window.orderBy(F.col("cnt").asc(), F.col(key_col).asc())))
              .withColumn("rnk", F.row_number().over(
                  Window.orderBy(F.col("cnt").desc(), F.col(key_col).asc()))))

    def fdiv(a: Column, b: Column) -> Column:
        # exact positive-integer floor division.  Via DECIMAL(38,0): the
        # long form overflows at max_cnt*1000*n_keys ~ 1e19 and double
        # division rounds past 2^53 (round-5 review) — decimal keeps the
        # product and remainder exact at any advertised scale; quotients
        # are bounded by 1000*n_keys so the final long cast is safe.
        a = a.cast("decimal(38,0)")
        b = b.cast("decimal(38,0)")
        return ((a - a % b) / b).cast("long")

    summ = (counts.agg(F.count(F.lit(1)).alias("n_keys"),
                       F.sum("cnt").alias("total_cnt"),
                       F.max("cnt").alias("max_cnt"))
            .withColumn("_p50pos",
                        fdiv(F.col("n_keys") * 50 + 99, F.lit(100)))
            .withColumn("_p99pos",
                        fdiv(F.col("n_keys") * 99 + 99, F.lit(100))))
    j = ranked.crossJoin(F.broadcast(summ))
    p50 = (j.filter(F.col("_ra") == F.col("_p50pos"))
            .select(F.col("cnt").alias("p50_cnt")))
    p99 = (j.filter(F.col("_ra") == F.col("_p99pos"))
            .select(F.col("cnt").alias("p99_cnt")))
    return (j.filter(F.col("rnk") <= top)
             .crossJoin(F.broadcast(p50))
             .crossJoin(F.broadcast(p99))
             .withColumn("skew_x1000",
                         # operands cast to DECIMAL BEFORE the multiply:
                         # the previous form built the long product first
                         # and only fdiv's cast saw it, so it still threw
                         # under ANSI past ~9.2e18 (round-5 ADVICE); the
                         # oracle casts to HUGEINT pre-multiply the same
                         # way
                         fdiv(F.col("max_cnt").cast("decimal(38,0)")
                              * 1000 * F.col("n_keys"),
                              F.col("total_cnt")))
             .select(key_col, "cnt", "rnk", "n_keys", "total_cnt",
                     "max_cnt", "p50_cnt", "p99_cnt", "skew_x1000"))
