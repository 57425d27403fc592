"""Training-data curation pipeline — the C4-style end-to-end composition of
the text/dedup operators (driver mandate: "the operations a large-scale
training-data pipeline would need", as a first-class pipeline, not just
parts).

Stage order matters at scale: cheap row-local filters (language, quality)
run FIRST inside the scan projection, exact dedup second (one shuffle on a
64-bit fingerprint), near-dup LSH last (runs only on survivors).  Every
stage is a composition of oracle-checked operators, so the WHOLE pipeline
has a DuckDB oracle (``__spark_entry__.oracle_sql['curation']``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..cache import release_caches  # noqa: F401  (re-export: bench, jobs)
from ..operators import dedup as DD
from ..operators import text as TX


def _curated_survivors(df: DataFrame, lang: str, min_quality: float,
                       text_col: str, id_col: str, extra_cols=()) -> DataFrame:
    """Shared head of the curation pipelines: profile (tokens staged once,
    kept) -> lang/quality filter -> exact dedup on the fingerprint -> ONE
    persisted survivor projection ``(id, n_tokens, quality, _toks,
    *extra_cols)`` that every downstream stage reads (round-3 verdict #1:
    the sub-pipelines each re-scanned + re-tokenized the survivor set).

    The survivor projection is registered with the cache scope; release
    it with :func:`release_caches`.  The scored projection is shielded from
    the lang/quality filter by a GENERATE barrier, not a persist: a filter
    on profile's output columns gets pushed below the staged token
    projection, substituting the whole lang-ID + quality chain (tokenize
    inlined ~40x, interpreted) into one per-row Filter on the scan
    (round-6 plan audit).  Wrapping the scored columns in
    ``explode_outer(array(struct(...)))`` stops that: predicates on
    generator OUTPUT attributes cannot be pushed below the Generate, and
    outer generates are exempt from InferFiltersFromGenerate (the gopher
    lesson).  The array is a literal singleton of a non-null struct, so
    the generate is row-for-row and null-free — and unlike the round-6
    persist barrier it costs no cache materialization (scored has exactly
    one consumer; measured ~0.5-0.8 s per curation query at the 10x
    corpus)."""
    scored_cols = ["n_tokens", "quality", "lang_pred", "fingerprint",
                   "_toks", *extra_cols]
    prof = TX.profile(df.select(id_col, text_col, *extra_cols), text_col,
                      keep_tokens=True)
    scored = (prof.select(
                  id_col,
                  F.explode_outer(F.array(F.struct(
                      *[F.col(c) for c in scored_cols]))).alias("_p"))
              .select(id_col,
                      *[F.col(f"_p.{c}").alias(c) for c in scored_cols]))
    kept = scored.filter((F.col("lang_pred") == lang)
                         & (F.col("quality") >= min_quality))
    # exact dedup keyed on the 64-bit fingerprint of the normalized token
    # stream (the scale-right shuffle key; the oracle partitions by the
    # normalized STRING — identical groups up to a 2^-64 collision)
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    exact = (kept.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
    return cache.persist(exact.select(id_col, "n_tokens", "quality", "_toks",
                                      *extra_cols))


def curate(df: DataFrame, lang: str = "en", min_quality: float = 0.6,
           jaccard_threshold: float = 0.7, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """lang-ID filter -> quality filter -> exact dedup (keep lowest id) ->
    MinHash near-dup drop (higher id of each verified pair) -> curated doc
    list with token counts.  Returns (id, n_tokens, quality).

    Fully fused: ONE corpus scan + tokenize feeds profile, the MinHash
    signature stage, both shingle sides of the verify join, and the final
    anti-join — all read the single persisted survivor projection
    (release with :func:`release_caches` once materialized)."""
    surv = _curated_survivors(df, lang, min_quality, text_col, id_col)
    toks = surv.select(F.col(id_col).alias("id"), "_toks")
    cand = DD.minhash_lsh_candidates(surv, text_col, id_col, toks=toks)
    dups = DD.jaccard_verify(surv, cand, text_col, id_col,
                             threshold=jaccard_threshold, toks=toks)
    drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    return (surv.join(drop, id_col, "left_anti")
                .select(id_col, "n_tokens", "quality"))


def curation_funnel(df: DataFrame, lang: str = "en", min_quality: float = 0.6,
                    jaccard_threshold: float = 0.7, text_col: str = "text",
                    id_col: str = "doc_id",
                    source_col: str = "source") -> DataFrame:
    """Per-source SURVIVAL FUNNEL of the curation pipeline — the audit
    report a data-governance pass needs: how many docs each source
    contributed and how many survived each stage (language ID, quality,
    exact dedup, near-dup).  Returns (source, n_total, n_lang, n_quality,
    n_exact, n_final), zeros for sources filtered out entirely.

    Scale shape: the SAME one-scan fused chain as :func:`curate` (one
    tokenize, persisted flagged projection feeds every stage), plus five
    source-keyed count aggregates — each a map-side combine to |sources|
    rows, joined broadcast-small at the end.  Stage semantics are
    identical to curate() by construction (the funnel's n_final equals
    curate().count() — pytest-gated)."""
    scored = TX.profile(df.select(id_col, text_col, source_col), text_col,
                        keep_tokens=True)
    # narrow projection persisted (round-6): the raw text column is never
    # read downstream — caching it doubled the flagged cache for nothing
    flagged = cache.persist(
        scored.withColumn("_lang_ok", F.col("lang_pred") == lang)
              .withColumn("_q_ok", F.col("_lang_ok")
                          & (F.col("quality") >= min_quality))
              .select(id_col, source_col, "n_tokens", "quality",
                      "fingerprint", "_toks", "_lang_ok", "_q_ok"))
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    surv = cache.persist(
        flagged.filter(F.col("_q_ok"))
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1)
               .select(id_col, "n_tokens", "quality", "_toks", source_col))
    toks = surv.select(F.col(id_col).alias("id"), "_toks")
    cand = DD.minhash_lsh_candidates(surv, text_col, id_col, toks=toks)
    dups = DD.jaccard_verify(surv, cand, text_col, id_col,
                             threshold=jaccard_threshold, toks=toks)
    drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    final = surv.join(drop, id_col, "left_anti")

    def _cnt(frame: DataFrame, name: str) -> DataFrame:
        return frame.groupBy(source_col).agg(F.count(F.lit(1)).alias(name))

    # the three whole-corpus stage counts are ONE conditional aggregate
    # over the cached flagged projection (sum-of-flag == count-of-filter:
    # F.sum skips NULL flags exactly as the filter dropped them) — three
    # cache scans + three aggs collapse to one (round-6)
    base = flagged.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("_lang_ok").cast("long")).alias("n_lang"),
        F.sum(F.col("_q_ok").cast("long")).alias("n_quality"))
    out = (base
           .join(_cnt(surv, "n_exact"), source_col, "left")
           .join(_cnt(final, "n_final"), source_col, "left"))
    return out.select(
        source_col,
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
          for c in ("n_total", "n_lang", "n_quality", "n_exact", "n_final")])


def deterministic_sample(df: DataFrame, fraction: float,
                         id_col: str = "doc_id", key=None) -> DataFrame:
    """Reproducible row sample: keep rows whose hash bucket falls under
    ``fraction``.  Default key is ``xxhash64(id)`` — stable across runs,
    partitionings and cluster sizes (the property rand()-based sampling
    lacks).  ``key`` overrides with any deterministic Column (the driver
    query passes a multiplicative hash both engines can evaluate)."""
    h = key if key is not None else F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
    return df.filter(h < int(fraction * (1 << 20)))


def stratified_sample(df: DataFrame, quota: int, strata_col: str = "source",
                      id_col: str = "doc_id", key=None) -> DataFrame:
    """Per-stratum deterministic quota sample: the ``quota`` rows with the
    smallest (hash, id) per stratum — one shuffle on the stratum key; the
    hash ordering makes the sample uniform-ish while reproducible."""
    h = key if key is not None else F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= quota).drop("_rn"))


def multimodal_curate(df: DataFrame, lang: str = "en", min_quality: float = 0.6,
                      jaccard_threshold: float = 0.7, max_hamming: int = 8,
                      text_col: str = "text", phash_col: str = "phash",
                      id_col: str = "doc_id") -> DataFrame:
    """Cross-modal curation for image+caption corpora: a row is dropped if
    it is a near-duplicate in EITHER modality — caption MinHash+verify OR
    image perceptual-hash Hamming — after the cheap row-local filters and
    exact text dedup.  The union drop-set is how multimodal training sets
    are actually cleaned (a re-encoded image with a paraphrased caption
    escapes either detector alone ~half the time).

    Same scale shape as :func:`curate`: both near-dup stages are
    bounded-bucket LSH equi-joins over the persisted survivor set — no
    all-pairs anywhere; the image stage adds one banded self-join keyed on
    16-bit phash chunks (``dedup.phash_neardup``).

    Fused (round-3 verdict #1): ONE corpus scan + tokenize produces a
    single persisted survivor projection ``(id, n_tokens, quality, phash,
    _toks)``; the caption MinHash signatures, both shingle sides of the
    Jaccard verify, the phash banding, the phash re-attach joins, and the
    final anti-join all read that cache — the round-3 form re-scanned and
    re-tokenized the survivor set in each of three sub-pipelines (14
    scans).  Release with :func:`release_caches` once materialized."""
    surv = _curated_survivors(df, lang, min_quality, text_col, id_col,
                              extra_cols=(phash_col,))
    toks = surv.select(F.col(id_col).alias("id"), "_toks")
    cand = DD.minhash_lsh_candidates(surv, text_col, id_col, toks=toks)
    text_dups = DD.jaccard_verify(surv, cand, text_col, id_col,
                                  threshold=jaccard_threshold, toks=toks)
    img_dups = DD.phash_neardup(surv.select(id_col, phash_col),
                                max_hamming=max_hamming,
                                phash_col=phash_col, id_col=id_col)
    drop = (text_dups.select(F.col("id_b").alias(id_col))
            .unionByName(img_dups.select(F.col("id_b").alias(id_col)))
            .distinct())
    return (surv.join(drop, id_col, "left_anti")
                .select(id_col, "n_tokens", "quality"))


def pack_sequences(df: DataFrame, budget: int = 2048,
                   text_col: str = "text", id_col: str = "doc_id",
                   n_buckets: int = 64, key=None) -> DataFrame:
    """Pre-training SEQUENCE PACKING: documents are laid out in a
    deterministic order (hash, id), token counts accumulate, and the
    concatenated stream is chopped into ``budget``-token training
    sequences — each doc learns which sequence bin it starts in and at
    what offset (GPT-style concatenate-then-chunk).

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global window: the naive
    ``Window.orderBy(key)`` with no partition key is a single task over
    the whole corpus.  Instead the hash key range-buckets rows
    (``n_buckets`` contiguous hash ranges), a window accumulates WITHIN
    each bucket, bucket totals (≤ ``n_buckets`` rows) come to the driver
    for an exclusive scan, and each row's global position = its
    within-bucket position + its bucket's offset.  Two narrow shuffles,
    no single-task stage, same exact integers as the serial form.
    """
    h = key if key is not None else F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
    staged = (TX.spread_small_input(df.select(id_col, text_col))
                .withColumn("_n", F.size(TX.tokenize_udf()(
                    F.col(text_col))).cast("long"))
                .withColumn("_h", h)
                .withColumn("_b", (h * n_buckets / F.lit(1 << 20)).cast("int")))
    w = (Window.partitionBy("_b").orderBy(F.col("_h").asc(), F.col(id_col).asc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # checkpoint the windowed stage: BOTH consumers below (the bucket-total
    # collect and the returned projection) would otherwise re-tokenize and
    # re-window the whole corpus (measured 2x wall)
    within = cache.checkpoint(staged.withColumn("_cum_in", F.sum("_n").over(w))
                                    .drop(text_col))
    totals = {r["_b"]: r["t"] for r in
              within.groupBy("_b").agg(F.max("_cum_in").alias("t")).collect()}
    offsets, acc = {}, 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b]
    off = F.coalesce(*[F.when(F.col("_b") == b, F.lit(v))
                       for b, v in offsets.items()]) if offsets else F.lit(0)
    cum_excl = off + F.col("_cum_in") - F.col("_n")
    return (within.select(
        id_col, F.col("_n").alias("n_tokens"),
        (cum_excl / budget).cast("long").alias("seq_bin"),
        F.pmod(cum_excl, F.lit(budget)).cast("long").alias("bin_offset")))


def assign_shards(df: DataFrame, n_shards: int = 8,
                  id_col: str = "doc_id", key=None) -> DataFrame:
    """Deterministic TRAINING-SHARD assignment: every doc gets a
    ``shard`` (hash-uniform over ``n_shards``) and a ``pos`` — its
    0-indexed rank within the shard in (hash, id) order — so a training
    job can stream shard files in a reproducible pseudo-random order and
    seek to any position (resume mid-epoch without re-shuffling).

    Scale shape: ONE shuffle keyed on ``shard``.  Shards are file-sized
    by construction (pick ``n_shards`` ≈ corpus_bytes / target_file_size,
    i.e. thousands at 100 TB), so the per-shard rank window is one
    bounded task per shard — the same reason shard writers are sized
    this way everywhere.  For pathologically few/huge shards compose
    with :func:`pack_sequences`'s bucket prefix-sum instead.  The hash
    is the Knuth multiplicative key both engines compute bit-identically
    (no xxhash in the oracle's SQL dialect)."""
    # id reduced mod 2^20 BEFORE the multiply: (a%m)*K % m == a*K % m, so
    # the key is bit-identical to the oracle's direct form on any id while
    # never overflowing int64 under ANSI (round-5 review: doc_id > ~3.47e9
    # made the raw product throw at exactly the scale this op advertises)
    k = key if key is not None else F.pmod(
        F.pmod(F.col(id_col), F.lit(1 << 20)) * F.lit(2654435761),
        F.lit(1 << 20))
    out = (df.withColumn("_key", k)
             .withColumn("shard", F.pmod(F.col("_key"),
                                         F.lit(n_shards)).cast("int")))
    w = Window.partitionBy("shard").orderBy(F.col("_key").asc(),
                                            F.col(id_col).asc())
    return (out.withColumn("pos",
                           (F.row_number().over(w) - 1).cast("long"))
               .drop("_key"))


def temperature_sample(df: DataFrame, target: int, alpha: float = 0.5,
                       strata_col: str = "source", id_col: str = "doc_id",
                       key=None) -> DataFrame:
    """Temperature-weighted data MIXTURE: per-stratum quotas ∝ n^alpha
    (alpha < 1 upsamples small sources relative to their share — the
    multilingual/multi-domain rebalancing rule), then the deterministic
    per-stratum hash-order sample.  Stratum counts are one tiny agg; the
    sample is one shuffle on the stratum key."""
    counts = {r[strata_col]: r["n"] for r in
              df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()}
    # sorted-stratum summation order: IEEE addition is order-dependent and
    # the oracle's `sum(... ORDER BY stratum)` must accumulate identically
    z = sum(n ** alpha for _, n in sorted(counts.items()))
    quotas = {s: max(1, int(target * (n ** alpha) / z)) for s, n in counts.items()}
    h = key if key is not None else F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    quota_col = F.coalesce(*[F.when(F.col(strata_col) == s, F.lit(q))
                             for s, q in quotas.items()])
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= quota_col).drop("_rn"))
