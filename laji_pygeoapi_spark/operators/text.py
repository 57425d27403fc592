"""Text-analysis operators for the training-data pipeline (driver mandate).

All pure ``pyspark.sql.functions`` expressions (JVM, whole-stage codegen) —
language-ID, quality scoring, token counting, fingerprinting.  Each has an
ANSI-SQL oracle twin in ``__spark_entry__.oracle_sql`` so the driver's DuckDB
comparison covers them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import cache

# tiny per-language stopword seeds for the n-gram/stopword heuristic.
# ASCII-only by construction: tokenize() splits on [^a-z0-9']+, so a marker
# containing 'ä'/'ö' could never match its own tokenization.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "fi": ["ja", "on", "ei", "oli", "se"],
    "sv": ["och", "att", "det", "som", "en"],
    "de": ["der", "und", "die", "das", "ist"],
}


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the cluster's default parallelism.

    Per-row text work (regex tokenize ~70 us/row) is CPU-bound; a small
    table read from one parquet row group arrives as ONE partition and
    serializes the whole stage on one core (guide §2.5 input skew).  At
    real scale the scan already has thousands of partitions and this is a
    no-op (getNumPartitions is metadata-only, no job).  Lives here so
    every tokenize-staging operator can use it; dedup re-exports it."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def tokenize(col: Column) -> Column:
    """Lowercase word array on an explicit ASCII class.

    The class is ASCII (not \\p{L}) so the Spark expression and the DuckDB
    oracle SQL (`regexp_split_to_array`) produce byte-identical tokens on any
    input — cross-engine determinism is part of the operator contract."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9']+"), lambda t: t != "")


def tokenize_udf():
    """Arrow-UDF twin of :func:`tokenize` for the HOT staging points.

    Token-identical by construction:
    ``filter(split(lower(x), "[^a-z0-9']+"), t != "")`` equals
    ``findall("[a-z0-9']+", x.lower())`` — both enumerate the maximal
    runs of the ASCII class in the lowercased text (split's leading/
    trailing/adjacent empty fragments are exactly what the filter drops),
    and null in -> null out on both paths.

    Why a UDF at all when the JVM expression exists: measured on this
    host, JVM regex with many matches per row does NOT scale across
    task threads (500 k splits: 17 s on local[1], 19.7 s on local[32],
    while arithmetic expressions scale ~13x and separate processes
    ~19x) — Spark's StringSplit also recompiles its Pattern per row.
    Python workers are separate PROCESSES, so one Arrow batch pass
    (`re.findall` on a pattern compiled once per batch iterator) gets
    real parallelism plus a ~10x lower per-row constant (guide §4.2).

    TRAP (CLAUDE.md): never ``.filter()`` on this UDF's output column —
    the predicate gets substituted through the projection and planner
    builds a SECOND ArrowEvalPython.  Gate empty-token docs with
    ``F.when(F.size(_toks) > 0, …).otherwise(empty array)`` feeding the
    explode instead."""
    @pandas_udf(T.ArrayType(T.StringType()))
    def tok(texts: pd.Series) -> pd.Series:
        import re
        rx = re.compile(r"[a-z0-9']+")
        return pd.Series([None if t is None else rx.findall(t.lower())
                          for t in texts])
    return tok


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish proxy: words + digit runs)."""
    return F.size(tokenize(col))


def lang_id(col: Column) -> Column:
    """Stopword-marker language ID: the language whose markers intersect the
    most *distinct* tokens wins; ties break in list order (en, fi, sv, de);
    null when nothing matches (short/empty text)."""
    toks = F.array_distinct(tokenize(col))
    order = ["en", "fi", "sv", "de"]
    hits = {lang: F.size(F.array_intersect(
        toks, F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])))
        for lang in order}
    best_lang = F.lit(order[0])
    best_hits = hits[order[0]]
    for lang in order[1:]:
        cond = hits[lang] > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    return F.when(best_hits > 0, best_lang)


def fingerprint64(col: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized token stream
    (whitespace-collapse + lowercase) — the rolling-hash doc id."""
    normalized = F.array_join(tokenize(col), " ")
    return F.xxhash64(normalized)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from a MATERIALIZED token-array column.

    ``toks`` must be a bound column reference (stage ``tokenize()`` into its
    own projection first): lambda expressions are not CSE'd, so an inline
    ``tokenize`` here would re-run the regex split once per shingle index —
    a ~100x blowup on real documents."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) >= n,
                  F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
                  ).otherwise(F.array(F.array_join(toks, " ")))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (for MinHash / Jaccard).

    Convenience form over raw text — fine for tiny frames/tests, but hot
    paths must stage tokens into their own projection and call
    :func:`shingles_from_tokens` (lambda re-evaluation trap)."""
    return shingles_from_tokens(tokenize(col), n)


def profile(df: DataFrame, text_col: str = "text",
            keep_tokens: bool = False) -> DataFrame:
    """Text profile: lang, tokens, chars, quality, fingerprint.

    The token array is staged ONCE (``_toks``) and every downstream
    feature (count, distinct-marker intersects, fingerprint) derives from
    that attribute: a single CASE chain built directly from
    :func:`lang_id` would inline ``tokenize`` ~40x (lambda expressions are
    not codegen'd or CSE'd in interpreted Project nodes), and even the
    round-3 two-projection form re-ran the regex split 4x per row.

    ``keep_tokens=True`` keeps ``_toks`` in the output so downstream
    dedup stages (MinHash signatures, shingle verify) can reuse the same
    tokenization without re-scanning the corpus — the shared-scan fusion
    the curation pipelines build on (round-3 verdict #1)."""
    t = F.col(text_col)
    # tokens via the Python-process tokenizer (see tokenize_udf: JVM regex
    # does not thread-scale on this class of host)
    staged = spread_small_input(df).withColumn("_toks", tokenize_udf()(t))
    order = ["en", "fi", "sv", "de"]
    staged = staged.withColumn("_toksd", F.array_distinct(F.col("_toks")))
    staged = staged.withColumns({
        "_ntok": F.size(F.col("_toks")),
        **{f"_hits_{lang}": F.size(F.array_intersect(
            F.col("_toksd"), F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])))
           for lang in order},
    })
    best_lang = F.lit(order[0])
    best_hits = F.col(f"_hits_{order[0]}")
    for lang in order[1:]:
        cond = F.col(f"_hits_{lang}") > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, F.col(f"_hits_{lang}")).otherwise(best_hits)
    n_chars = F.length(t)
    mean_wl = F.when(F.col("_ntok") > 0, n_chars / F.col("_ntok")).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(t, r"[^.!?,;:]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), 1.0).otherwise(0.3)
    wl_ok = F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), 1.0).otherwise(0.4)
    punct_ok = F.when(punct_ratio <= 0.1, 1.0).otherwise(0.5)
    out = staged.withColumns({
        "lang_pred": F.when(best_hits > 0, best_lang),
        "n_tokens": F.col("_ntok"),
        "n_chars_calc": n_chars,
        "quality": F.round((len_ok + wl_ok + punct_ok) / 3.0, 4),
        "fingerprint": F.xxhash64(F.array_join(F.col("_toks"), " ")),
    })
    drop = ["_ntok", "_toksd"] + [f"_hits_{lang}" for lang in order]
    if not keep_tokens:
        drop.append("_toks")
    return out.drop(*drop)


# --------------------------------------------------- curation-filter suite

# PII patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, \b — no
# lookaround.  Order matters and is part of the contract: counts are taken
# on the PROGRESSIVELY redacted text, so an IP inside an already-redacted
# email is never double-counted.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\+\d[\d ()-]{6,}\d", "[PHONE]"),
)


def top_terms(docs: DataFrame, k: int = 3, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document KEYWORD EXTRACTION: the top-``k`` terms ranked by
    (term frequency DESC, corpus document-frequency ASC, term ASC) — the
    TF-IDF ordering expressed on INTEGER keys only, so the rank is
    bit-exact across engines (a float idf = ln(N/df) ranks identically to
    df ASC for equal tf, but its last-ulp value does not compare
    reproducibly; CLAUDE.md fp-determinism rule).

    Scale shape: one tokenize pass; per-(doc, term) counts are one
    map-side-combinable agg; the corpus df table derives FROM the tf
    relation (no second corpus scan) and joins back term-keyed; the final
    per-doc top-k is a bounded window.  The tf relation is PERSISTED —
    it feeds both the df aggregate and the join probe side, and the
    unpersisted form re-ran the scan + explode + (doc, term) aggregation
    once per consumer (round-6; released by the caller's cache scope).
    Returns (id, term, tf, df, rnk)."""
    staged = (spread_small_input(docs.select(id_col, text_col))
                  .withColumn("_toks", tokenize_udf()(F.col(text_col))))
    # explode_outer: a plain explode on the UDF-output attribute gets an
    # inferred size>0 filter substituted below the projection — a SECOND
    # ArrowEvalPython (the gopher lesson); the null-row filter on the
    # generator OUTPUT is pushdown-proof
    terms = (staged.select(id_col, F.explode_outer("_toks").alias("term"))
                   .filter(F.col("term").isNotNull()))
    tf = cache.persist(terms.groupBy(id_col, "term")
                            .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (tf.join(dfreq, "term")
              .withColumn("rnk", F.row_number().over(w).cast("int"))
              .filter(F.col("rnk") <= k)
              .select(id_col, "term", "tf", "df", "rnk"))


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing (the C4/Dolma-style pre-training pass): replace
    emails / IPv4s / international phone numbers with typed placeholders
    and count each kind.  Pure JVM regexp expressions, staged per pattern
    so each redaction round is computed once (chained-expression trap)."""
    cur = F.col(text_col)
    df = spread_small_input(df).withColumn("_red", cur)
    for name, pat, repl in PII_PATTERNS:
        df = df.withColumn(f"n_{name}", F.regexp_count(F.col("_red"), F.lit(pat)))
        df = df.withColumn("_red", F.regexp_replace(F.col("_red"), pat, repl))
    return df.withColumnRenamed("_red", "text_redacted")


# URL syntax restricted to Java-regex ∩ RE2 semantics (same contract as
# PII_PATTERNS): character classes only, no lookaround
# Whitespace is the EXPLICIT escape list, not \s — Java's \s includes
# \x0B where RE2's does not, so \s would make Spark and the DuckDB oracle
# extract different URLs around a vertical tab (round-4 review finding;
# same rule as the tokenizer's explicit ASCII class).
URL_PATTERN = "https?://[A-Za-z0-9.-]+(?:/[^ \\t\\r\\n\\f\\x0B\"']*)?"
HOST_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def extract_domains(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """URL/domain extraction (the web-corpus blocklist pass): every URL in
    every document, reduced to its lowercase host — exploded (id, domain)
    rows.  Pure JVM ``regexp_extract_all`` projection + explode; the
    per-domain reduction downstream is one map-side-combined agg."""
    # deliberately UNSPREAD: regexp_extract_all with few matches per row
    # processes the whole table in one task faster than the repartition
    # exchange costs (round-6 A/B: 0.45 s vs 0.72 s at sf1.0)
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    ex = df.select(id_col, F.explode(urls).alias("_url"))
    host = F.lower(F.regexp_extract(F.col("_url"), HOST_PATTERN, 1))
    return ex.select(id_col, host.alias("domain")).filter(F.col("domain") != "")


def domain_stats(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-domain corpus statistics: documents containing the domain and
    total mentions — the frequency table a blocklist curator reads."""
    d = extract_domains(df, text_col, id_col)
    return (d.groupBy("domain")
             .agg(F.countDistinct(id_col).alias("n_docs"),
                  F.count(F.lit(1)).alias("n_mentions")))


def drop_blocklisted(df: DataFrame, blocklist: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     domain_col: str = "domain") -> DataFrame:
    """Drop every document that mentions a blocklisted domain: extract
    domains, broadcast-semi-join the blocklist, anti-join the hits back —
    one corpus pass, the blocklist never rescans anything."""
    hits = (extract_domains(df, text_col, id_col)
            .join(F.broadcast(blocklist.select(F.col(domain_col).alias("domain"))),
                  "domain")
            .select(id_col).distinct())
    return df.join(hits, id_col, "left_anti")


def gopher_line_signals(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals, line part (Gopher/Dolma repetition
    rules): non-empty line count and duplicate-line fraction.  Pure
    projection — no shuffle."""
    lines = F.filter(F.transform(F.split(F.col(text_col), "\n"),
                                 lambda s: F.trim(s)), lambda s: s != "")
    df = spread_small_input(df).withColumn("_lines", lines)
    n = F.size(F.col("_lines"))
    nd = F.size(F.array_distinct(F.col("_lines")))
    return (df.withColumn("n_lines", n)
              .withColumn("dup_line_frac",
                          F.when(n > 0, F.round((n - nd) / n, 6))
                           .otherwise(F.lit(0.0)))
              .drop("_lines"))


def gopher_bigram_signal(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Top-bigram fraction (Gopher rule: a document dominated by one
    repeated 2-gram is boilerplate): max bigram count / total bigrams.
    Shape: stage tokens -> bigram HASHES (xxhash64 of the 2-token window —
    the bigram only serves as a group key, and hash equality ≡ string
    equality modulo the accepted within-doc 2^-64 collision class; no
    string build, 8-byte shuffle keys), explode, two hash aggregations
    keyed by (doc, bigram) then doc — map-side combined, linear in corpus
    size."""
    from .dedup import _shingle_hashes
    staged = (spread_small_input(df.select(id_col, text_col))
                .withColumn("_toks", tokenize_udf()(F.col(text_col)))
                .withColumn("_bg", _shingle_hashes(F.col("_toks"), 2)))
    # explode_OUTER, not explode: InferFiltersFromGenerate adds a
    # ``size(_bg) > 0`` predicate for a plain explode and pushes it below
    # the staged projections, substituting the WHOLE tokenize+shingle
    # chain into an interpreted per-row Filter (the ~100x lambda
    # re-evaluation trap, re-introduced by the optimizer: measured 155 s
    # for 50 k docs at sf1.0, 4 s with the outer form).  _bg is never
    # empty here (short docs get one whole-doc shingle), so the outer
    # null-row branch never fires; the isNotNull filter on the OUTPUT
    # column keeps the row contract identical and cannot be pushed below
    # the generate.
    ex = (staged.select(id_col, F.explode_outer("_bg").alias("bg"))
                .filter(F.col("bg").isNotNull()))
    per = ex.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("c"))
    return (per.groupBy(id_col)
               .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
                    F.sum("c").alias("n_bigrams")))


