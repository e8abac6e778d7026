"""psy_supabase_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference `alexey-obukhov/psy-supabase` (a Flask +
Supabase/pgvector RAG service), rebuilt on the Spark DataFrame/SQL/Catalyst
stack and extended with the LLM-data-pipeline operators a 100 TB training
corpus needs (dedup, similarity search, text analysis, multimodal plumbing).

Layout
------
- ``session``    : SparkSession factory (AQE on, Arrow on, sane shuffle dims)
- ``schemas``    : canonical StructTypes (interactions / testdata tables)
- ``sources``    : parquet catalog + multi-tenant storage layer + sinks
- ``functions``  : pure Column-expression libraries (vector, text, json, hashing)
- ``operators``  : composed DataFrame operators (top-k, IVF, dedup, windows, ...)
- ``streaming``  : Structured Streaming ingest / session windows
- ``api``        : the reference's entry points (DatabaseManager + RAGProcessor)

Design rules (enforced in code review + tests):
1. DataFrame/SQL first; RDDs never.  2. No row-at-a-time Python UDFs in any
hot path — native Catalyst expressions, else Arrow-batched pandas UDFs.
3. Every operator must keep filters/pruning pushable and joins broadcastable
where a side is small; ``plans.explain`` helpers assert this in tests.
"""

__version__ = "0.1.0"
