"""Canonical schemas.

The reference declares two DDL tables per tenant (`query.txt:68-85` in the
reference repo): ``interactions`` (conversation log, JSONB metadata) and
``knowledge_base`` (content + `vector(1536)` embedding).  We re-express
``interactions`` as a single multi-tenant table with a ``user_id`` column
(partition column at scale — partition pruning replaces schema-per-user
isolation, `database.py:24` in the reference); the tenant store's own
scan schemas for both tables live in ``sources.tenancy.TABLE_SCHEMAS``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference `interactions` (query.txt:68-76) + tenancy column.
INTERACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("interactionID", T.LongType(), False),
        T.StructField("user_id", T.StringType(), False),
        T.StructField("context", T.StringType(), True),
        T.StructField("question", T.StringType(), True),
        T.StructField("answer", T.StringType(), True),
        # JSONB kept as a JSON string + get_json_object/from_json accessors —
        # matches the reference's schemaless metadata writes
        # (database.py:106-111, rag_processor.py:163-168).
        T.StructField("metadata", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

# Typed view of the hot metadata keys (SURVEY.md §1.2) for fast paths.
METADATA_STRUCT = T.StructType(
    [
        T.StructField("topic", T.StringType(), True),
        T.StructField("prompt_template", T.StringType(), True),
        T.StructField("questionID", T.StringType(), True),
        T.StructField(
            "effectiveness",
            T.StructType(
                [
                    T.StructField("term_overlap", T.DoubleType(), True),
                    T.StructField("template_adherence", T.StringType(), True),
                    T.StructField("response_length", T.LongType(), True),
                    T.StructField("length_quality", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("detected_category", T.StringType(), True),
        T.StructField("severity", T.StringType(), True),
    ]
)


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
