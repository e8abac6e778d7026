"""Table names of the driver testdata (TESTDATA.md).

The reference declares two DDL tables per tenant (`query.txt:68-85` in the
reference repo): ``interactions`` (conversation log, JSONB metadata) and
``knowledge_base`` (content + `vector(1536)` embedding).  The engine keeps
each as one multi-tenant table partitioned by ``user_id`` (partition
pruning replaces schema-per-user isolation, `database.py:24` in the
reference); their scan schemas live in ``sources.tenancy.TABLE_SCHEMAS``,
the layout the store actually writes.
"""

from __future__ import annotations

# ---- driver testdata tables (TESTDATA.md) ----
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
