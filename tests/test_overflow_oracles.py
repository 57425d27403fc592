"""Oracle checks for the queries() entries beyond the driver's 50-entry
correctness cap (round-3 verdict: overflow entries fell off the official
green list).  Every near-duplicate variant parked beyond the cap
(``__spark_entry__.OVERFLOW_QUERIES`` — one row per rotation, each with a
one-line justification naming its in-cap sibling) is verified HERE on
every pytest run, with the same rowcount + schema + order-insensitive
value comparison the driver applies to the first 50.
"""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from laji_pygeoapi_spark.plans.curation import release_caches

# default sf0.01 (per-run budget); the closing ritual exercises sf0.1 too:
#   OVERFLOW_ORACLE_SF_DIR=/root/testdata/sf0.1 pytest tests/test_overflow_oracles.py
# (round-5 verdict #8 — the CLAUDE.md invariant is green at BOTH SFs, and
# the driver only covers in-cap entries at sf0.1)
SF_DIR = os.environ.get("OVERFLOW_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].map(repr)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_contract_ordering_invariants():
    """Every overflow name sits beyond position DRIVER_CAP, every §2-parity
    / high-risk op within it, and every overflow entry has an oracle."""
    names = list(entrymod.queries())
    cap = entrymod.DRIVER_CAP
    in_cap, beyond = names[:cap], names[cap:]
    assert sorted(beyond) == sorted(entrymod.OVERFLOW_QUERIES)
    for must in ("tm35fin", "geojson", "multimodal_curation", "redact_pii",
                 "gopher_signals", "decontamination", "mixture_sample",
                 "dedup_clusters", "paging_keyset", "ivfpq_topk",
                 # round-4 additions rotated in-cap in round 5:
                 "token_len_quantiles", "knn_join", "domain_stats",
                 "gapfill_hourly", "interval_join",
                 # round-5 additions (newest ops in-cap per policy):
                 "semantic_dedup", "dup_gram_fraction", "shard_assign",
                 "adaptive_cells", "top_terms", "curation_funnel",
                 "chunk_dedup", "kmeans", "skew_stats",
                 "tile_pyramid", "cluster_sample", "compact_cells"):
        assert must in in_cap, f"{must} overflowed the driver cap"
    oracles = entrymod.oracle_sql()
    for name in entrymod.OVERFLOW_QUERIES:
        assert name in oracles, f"overflow entry {name} lost its oracle"


@pytest.mark.parametrize("name", entrymod.OVERFLOW_QUERIES)
def test_overflow_query_matches_oracle(spark, duck, name):
    res = entrymod.queries()[name](spark, SF_DIR)
    sdf = res.toPandas()
    release_caches(res)  # fused pipelines persist projections
    odf = duck.sql(entrymod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), (len(sdf), len(odf))
    assert sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
    a, b = _norm(sdf), _norm(odf)
    b.columns = a.columns
    pd.testing.assert_frame_equal(a, b)
