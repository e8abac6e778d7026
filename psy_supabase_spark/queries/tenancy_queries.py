"""Tenancy/sink round-trip as a driver-checkable query (SURVEY.md §2.1
S5-S9, §2.8 T13-T14).

The reference isolates tenants with one Postgres schema per user plus
lazy DDL (`database.py:24`, `query.txt:59-106`); the Spark design is one
partition-per-tenant parquet table (sources/tenancy.py).  This query
exercises the WHOLE block end-to-end — sanitize (T14), lazy layout
creation (S7), tenant-tagged append with server-side timestamp (S5/S6,
T13), existence probe (S8), per-tenant pruned scan (S1), and the public
view (S9) — then emits a deterministic per-tenant summary the DuckDB
oracle reproduces from the same source table, so the sink block gets a
full hash-matched driver row instead of pytest-only evidence.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table
from ..sources.tenancy import TenantStore, sanitize_tenant_id

# (requested id, doc_id cutoff) — 'bob-7' and '9lives' exercise the
# sanitize rules (punctuation → _, leading digit → u_ prefix)
_TENANTS = [("alice", 40), ("bob-7", 25), ("9lives", 10)]


@register(
    "tenant_roundtrip",
    oracle="""
    SELECT 'alice'   AS tenant, COUNT(*) AS n_rows, COUNT(*) AS n_view_rows,
           TRUE AS layout_exists FROM documents WHERE doc_id < 40
    UNION ALL
    SELECT 'bob_7', COUNT(*), COUNT(*), TRUE FROM documents WHERE doc_id < 25
    UNION ALL
    SELECT 'u_9lives', COUNT(*), COUNT(*), TRUE FROM documents WHERE doc_id < 10
    """,
)
def tenant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the returned frame is lazy and reads this store, so it can only be
    # removed when the process exits
    root = tempfile.mkdtemp(prefix="tenant_roundtrip_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    store = TenantStore(spark, root)
    assert not store.table_exists("interactions")  # lazy DDL: nothing yet

    for user_id, cutoff in _TENANTS:
        store.append(
            "interactions", docs.where(F.col("doc_id") < cutoff), user_id=user_id
        )
    assert store.table_exists("interactions")  # S8 probe after first append

    parts = []
    for user_id, _cutoff in _TENANTS:
        tenant = sanitize_tenant_id(user_id)
        view = store.register_view("interactions", user_id=user_id)
        parts.append(
            store.scan("interactions", user_id=user_id)
            .groupBy()
            .agg(F.count("*").alias("n_rows"))
            .select(
                F.lit(tenant).alias("tenant"),
                "n_rows",
                F.lit(spark.table(view).count()).cast("bigint").alias("n_view_rows"),
                F.lit(store.table_exists("interactions")).alias("layout_exists"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
