"""Coverage pack: SQL-surface parity (S4), set operations (§2.7),
remaining text scalars (T3 approximation, T8, T10, T12), quantiles,
and deterministic sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, register_views


@register(
    "sql_surface_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def sql_surface_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 parity: the raw-SQL escape hatch (reference query.txt:41-56
    `sql(command)`) is simply Spark SQL over registered views — same
    Catalyst plan as the DataFrame API."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    )


@register(
    "event_user_setops",
    oracle="""
    SELECT user_id, 'click_and_purchase' AS cohort FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT user_id, 'view_no_error' AS cohort FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
      EXCEPT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    """,
)
def event_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: INTERSECT / EXCEPT / UNION ALL cohorts (the reference has no
    set operations; the engine exposes Spark's)."""
    ev = load_table(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return ev.where(F.col("event_type") == t).select("user_id").distinct()

    both = users("click").intersect(users("purchase")).withColumn("cohort", F.lit("click_and_purchase"))
    clean = users("view").exceptAll(users("error")).withColumn("cohort", F.lit("view_no_error"))
    return both.unionAll(clean)


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in items) + "]"


@register(
    "category_info",
    oracle="""
    WITH cats AS (
      SELECT doc_id,
             list_filter([
               CASE WHEN regexp_matches(lower(text), '(anxious|anxiety|panic)') THEN 'anxiety' END,
               CASE WHEN regexp_matches(lower(text), '(depressed|depression|hopeless)') THEN 'depression' END,
               CASE WHEN regexp_matches(lower(text), '(relationship|partner|marriage)') THEN 'relationships' END,
               CASE WHEN regexp_matches(lower(text), '(stress|overwhelmed|burnout)') THEN 'stress' END
             ], x -> x IS NOT NULL) AS cl
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(cl) = 0 THEN 'Others' ELSE array_to_string(cl, ',') END AS categories
    FROM cats
    """,
)
def category_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: keyword-group category generator, guaranteed non-empty with
    'Others' default (reference prompt_selector.py:99-159)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    entries = [
        F.when(t.rlike("(anxious|anxiety|panic)"), F.lit("anxiety")),
        F.when(t.rlike("(depressed|depression|hopeless)"), F.lit("depression")),
        F.when(t.rlike("(relationship|partner|marriage)"), F.lit("relationships")),
        F.when(t.rlike("(stress|overwhelmed|burnout)"), F.lit("stress")),
    ]
    cl = F.filter(F.array(*entries), lambda x: x.isNotNull())
    cats = F.when(F.size(cl) == 0, F.lit("Others")).otherwise(F.array_join(cl, ","))
    return docs.select("doc_id", cats.alias("categories"))


@register(
    "prompt_render",
    oracle="""
    SELECT event_id,
           'Template[' || event_type || ']: respond to user ' || CAST(user_id AS VARCHAR) ||
           ' about ' || COALESCE(json_extract_string(props, '$.k'), 'general') AS prompt
    FROM events WHERE event_type = 'signup'
    """,
)
def prompt_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: prompt templating as format_string/concat (reference
    text_generator.py:330-345 + therapeutic_promt.py templates)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "signup").select(
        "event_id",
        F.concat(
            F.lit("Template["),
            F.col("event_type"),
            F.lit("]: respond to user "),
            F.col("user_id").cast("string"),
            F.lit(" about "),
            F.coalesce(F.get_json_object("props", "$.k"), F.lit("general")),
        ).alias("prompt"),
    )


_SEMDUP_EPS = 0.4  # low for the uniform-random corpus (real dup corpora use 0.95+)
_COS_EB = """CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) = 0
                  OR sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 0
             ELSE list_dot_product(e.embedding::DOUBLE[], c.cv) /
                  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                   sqrt(list_dot_product(c.cv, c.cv))) END"""

# streaming-admission threshold: 0.5 — the SAME threshold at which
# embedding_neardup_lsh's exact-answer oracle proves SRP candidate
# recall 1.0 on this corpus (the equivalence the admission mirror needs)
_ADMIT_T = 0.5

# exact pair cosine between table aliases a/b — the streaming-admission
# mirror's predicate (norms>0 guarded like embedding_neardup_exact)
_NRM = "sqrt(list_dot_product({x}.embedding::DOUBLE[], {x}.embedding::DOUBLE[]))"
_COS_AB = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    f"({_NRM.format(x='a')} * {_NRM.format(x='b')})"
)


@register(
    "embedding_codec_roundtrip",
    oracle=f"""
    WITH RECURSIVE cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4
    ),
    sd_scored AS (
      SELECT e.vec_id, c.cid, {_COS_EB} AS sim FROM embeddings e CROSS JOIN cents c
    ),
    sd_asg AS (
      SELECT vec_id, cid, ROUND(sim, 6) AS csim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
        FROM sd_scored
      ) WHERE rk = 1
    ),
    sd_pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM sd_asg a JOIN sd_asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) > 0
        AND sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])) > 0
        AND ROUND(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
                  (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
                   sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 6)
            >= {_SEMDUP_EPS}
    ),
    sd_edges AS (SELECT ia AS s, ib AS d FROM sd_pairs UNION SELECT ib, ia FROM sd_pairs),
    sd_reach AS (
      SELECT s AS id, s AS comp FROM sd_edges
      UNION
      SELECT e.d AS id, r.comp FROM sd_reach r JOIN sd_edges e ON e.s = r.id
    ),
    sd_comps AS (SELECT id, MIN(comp) AS comp FROM sd_reach GROUP BY id),
    sd_reps AS (
      SELECT id FROM (
        SELECT m.id, ROW_NUMBER() OVER (PARTITION BY m.comp ORDER BY a.csim ASC, m.id ASC) AS rk
        FROM sd_comps m JOIN sd_asg a ON a.vec_id = m.id
      ) WHERE rk = 1
    ),
    sd_dropped AS (SELECT id FROM sd_comps WHERE id NOT IN (SELECT id FROM sd_reps)),
    eunit AS (
      SELECT vec_id,
             CASE WHEN nrm = 0 THEN e2 ELSE list_transform(e2, x -> x / nrm) END AS u
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e2,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings)
    ),
    pq_cb AS (SELECT vec_id AS cid, u[1:32] AS c0, u[33:64] AS c1 FROM eunit WHERE vec_id < 4),
    pq_q AS (SELECT u[1:32] AS q0, u[33:64] AS q1 FROM eunit WHERE vec_id = 0),
    pq_d AS (
      SELECT e.vec_id, c.cid,
             list_dot_product(c.c0, c.c0) - 2 * list_dot_product(e.u[1:32], c.c0) AS d0,
             list_dot_product(c.c1, c.c1) - 2 * list_dot_product(e.u[33:64], c.c1) AS d1
      FROM eunit e CROSS JOIN pq_cb c
    ),
    pq_code0 AS (
      SELECT vec_id, cid AS code_a FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d0 ASC, cid ASC) AS rn
        FROM pq_d
      ) WHERE rn = 1
    ),
    pq_code1 AS (
      SELECT vec_id, cid AS code_b FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1 ASC, cid ASC) AS rn
        FROM pq_d
      ) WHERE rn = 1
    ),
    -- streaming EMBEDDING admission (r8): StreamingEmbeddingNearDupFilter
    -- .admit with the evens pre-indexed and the odds as the micro-batch.
    -- Mirror = the EXACT answer (the embedding_neardup_lsh precedent:
    -- SRP candidate recall is 1.0 at threshold 0.5 on this corpus, so
    -- LSH-candidate rejection == exact-cosine rejection, and a recall
    -- regression fails this gate loudly): reject odd iff any even within
    -- round6 cosine >= 0.5, then min-id-per-component among survivors.
    sa2_sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_NRM.format(x='a')} > 0 AND {_NRM.format(x='b')} > 0
        AND ROUND({_COS_AB}, 6) >= {_ADMIT_T}
    ),
    sa2_rej AS (
      SELECT ib AS id FROM sa2_sim WHERE ia % 2 = 0 AND ib % 2 = 1
      UNION
      SELECT ia FROM sa2_sim WHERE ib % 2 = 0 AND ia % 2 = 1
    ),
    sa2_surv AS (
      SELECT vec_id AS id FROM embeddings
      WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT id FROM sa2_rej)
    ),
    sa2_edges AS (
      SELECT p.ia AS s, p.ib AS d FROM sa2_sim p
      JOIN sa2_surv x ON x.id = p.ia JOIN sa2_surv y ON y.id = p.ib
      UNION
      SELECT p.ib, p.ia FROM sa2_sim p
      JOIN sa2_surv x ON x.id = p.ia JOIN sa2_surv y ON y.id = p.ib
    ),
    sa2_reach AS (
      SELECT s AS id, s AS comp FROM sa2_edges
      UNION
      SELECT e2.d, r.comp FROM sa2_reach r JOIN sa2_edges e2 ON e2.s = r.id
    ),
    sa2_comps AS (SELECT id, MIN(comp) AS comp FROM sa2_reach GROUP BY id),
    sa2_adm AS (
      SELECT s.id, COALESCE(c.comp, s.id) = s.id AS adm
      FROM sa2_surv s LEFT JOIN sa2_comps c ON c.id = s.id
    )
    SELECT e.vec_id, TRUE AS roundtrip_ok,
           ROUND(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) AS l2_norm,
           len(e.embedding) AS dim,
           a.cid AS centroid_id,
           e.vec_id NOT IN (SELECT id FROM sd_dropped) AS semdup_kept,
           CAST(p0.code_a AS INTEGER) AS pq_code_a,
           CAST(p1.code_b AS INTEGER) AS pq_code_b,
           ROUND(list_dot_product(q.q0, ca.c0) + list_dot_product(q.q1, cb.c1), 6) AS pq_adc_sim,
           CASE WHEN e.vec_id % 2 = 0 THEN NULL
                ELSE COALESCE(sa2.adm, FALSE) END AS stream_admit
    FROM embeddings e
    JOIN sd_asg a ON a.vec_id = e.vec_id
    JOIN pq_code0 p0 ON p0.vec_id = e.vec_id
    JOIN pq_code1 p1 ON p1.vec_id = e.vec_id
    JOIN pq_cb ca ON ca.cid = p0.code_a
    JOIN pq_cb cb ON cb.cid = p1.code_b
    CROSS JOIN pq_q q
    LEFT JOIN sa2_adm sa2 ON sa2.id = e.vec_id
    """,
)
def embedding_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 compat codec + A4 norm/dim + SemDeDup (merged registry slot):
    the reference ships vectors as '[0.1,...]' strings
    (database.py:394-399, 296-301) and precomputes norms at ingest
    (rag_processor.py:57); our engine stores native arrays and provides
    the codec for interop.  The query PROVES the round-trip is lossless
    (serialize → parse → compare, oracle asserts all-true) and gates the
    L2-norm/dim expressions.

    ``centroid_id`` / ``semdup_kept`` gate :mod:`operators.semdedup`
    (Abbas 2023) with DETERMINISTIC centroids — the first 4 corpus
    vectors, the ``ann_pruned_topk_fixed_centroids`` pattern — so the
    whole chain (GEMM assignment, within-cluster pair GEMM, connected
    components, keep-the-cluster-edge-member rule) is value-checked by
    the DuckDB mirror (recursive-CTE closure, same tie-breaks).  The
    fitted-k-means path is covered by recall tests (tests/test_semdedup).

    ``pq_code_a`` / ``pq_code_b`` / ``pq_adc_sim`` gate
    :mod:`operators.pq` (Jégou 2011) the same fixed-parameter way: a
    deterministic 2-subspace × 4-entry codebook (slices of the
    unit-normalized first 4 corpus vectors) drives the REAL
    ``pq_encode`` GEMM argmin, and the ADC score against the vec_id-0
    query is the real asymmetric lookup (per-subspace LUT, here a
    4-entry literal array) — so the driver value-hashes the encode
    arithmetic and the ADC table-sum against a pure-SQL mirror.  The
    fitted-codebook path stays recall-tested (tests/test_pq).

    ``stream_admit`` (round 8) oracle-gates the EMBEDDING streaming
    admission decision — `streaming/neardup.
    StreamingEmbeddingNearDupFilter.admit` (the SRP twin of the SimHash
    filter gated in doc_adjacent_stats): evens are appended to a fresh
    TxTable signature index, the odds form the micro-batch, NULL for the
    indexed evens.  The mirror is the EXACT answer (reject iff any even
    within round-6dp cosine ≥ 0.5, then min-id-per-component among
    survivors) — valid because SRP candidate recall is 1.0 at 0.5 on
    this corpus, the same equivalence embedding_neardup_lsh's oracle
    rests on; a banding/recall regression fails this gate loudly."""
    import shutil
    import tempfile

    from ..functions import vector as V
    from ..operators import lsh as lsh_ops
    from ..operators import pq as pq_ops
    from ..operators import semdedup
    from ..streaming.neardup import StreamingEmbeddingNearDupFilter

    emb = load_table(spark, sf_dir, "embeddings")
    rows4 = emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centers = [[float(x) for x in r["embedding"]] for r in rows4]
    asg = semdedup.assign_with_sim(emb, centers).select("vec_id", "centroid_id")
    flagged = semdedup.semdedup(
        emb, _SEMDUP_EPS, centers=centers, keep_flag="semdup_kept"
    ).select("vec_id", "semdup_kept")

    # fixed PQ codebooks: left-to-right float accumulation for the norms
    # and LUT (matching the oracle's sequential list_dot_product) — the
    # encode itself runs through the production pq_encode GEMM pass
    import math as _math

    def _unit(v):
        n = _math.sqrt(sum((float(x) * float(x) for x in v), 0.0))
        return [float(x) / n for x in v] if n > 0 else [float(x) for x in v]

    units = [_unit(c) for c in centers]
    dsub = len(units[0]) // 2
    books = pq_ops.PQCodebooks(
        m=2, dsub=dsub, centers=[[u[:dsub] for u in units], [u[dsub:] for u in units]]
    )
    codes = pq_ops.pq_encode(emb, books).select(
        "vec_id",
        F.element_at("codes", 1).cast("int").alias("pq_code_a"),
        F.element_at("codes", 2).cast("int").alias("pq_code_b"),
    )
    qu = units[0]
    lut = [
        [sum((a * b for a, b in zip(qu[s * dsub : (s + 1) * dsub], e)), 0.0) for e in books.centers[s]]
        for s in range(2)
    ]
    adc = F.round(
        F.element_at(F.array(*[F.lit(x) for x in lut[0]]), F.col("pq_code_a") + 1)
        + F.element_at(F.array(*[F.lit(x) for x in lut[1]]), F.col("pq_code_b") + 1),
        6,
    )

    # admit() localCheckpoints eagerly — remove the temp index tree
    # immediately so repeated oracle runs don't accumulate temp state.
    gate_dir = tempfile.mkdtemp(prefix="eadmit_gate_")
    try:
        filt = StreamingEmbeddingNearDupFilter(
            spark,
            gate_dir + "/idx",
            threshold=_ADMIT_T,
            dim=len(centers[0]),
            expected_n=emb.count(),
        )
        filt.index.append(
            emb.where(F.col("vec_id") % 2 == 0)
            .select("vec_id", "embedding")
            .withColumn("sig", lsh_ops.srp_signature_np("embedding", filt.planes))
        )
        adm = filt.admit(emb.where(F.col("vec_id") % 2 == 1)).select(
            "vec_id", F.lit(True).alias("_eadm")
        )
    finally:
        shutil.rmtree(gate_dir, ignore_errors=True)
    stream_admit = F.when(
        F.col("vec_id") % 2 == 0, F.lit(None).cast("boolean")
    ).otherwise(F.coalesce(F.col("_eadm"), F.lit(False)))

    serialized = F.concat(F.lit("["), F.array_join(F.col("embedding").cast("array<string>"), ","), F.lit("]"))
    parsed = F.from_json(serialized, "array<float>")
    return (
        emb.select(
            "vec_id",
            (parsed == F.col("embedding")).alias("roundtrip_ok"),
            V.round6(V.l2_norm("embedding")).alias("l2_norm"),
            F.size("embedding").cast("bigint").alias("dim"),
        )
        .join(asg, "vec_id")
        .join(flagged, "vec_id")
        .join(codes, "vec_id")
        .withColumn("pq_adc_sim", adc)
        .join(adm, "vec_id", "left")
        .withColumn("stream_admit", stream_admit)
        .drop("_eadm")
    )


@register(
    "event_value_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont("value", 0.5), 6) AS p50,
           ROUND(quantile_cont("value", 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """,
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (Spark `percentile` ≡ DuckDB
    quantile_cont).  At 100 TB swap for approx_percentile and accept the
    documented error bound — kept exact here so the oracle gates it."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )


# DoReMi-style domain mixture: per-language target sampling rates (%).
# Upweight en, keep others sparse — the domain-reweighting primitive every
# corpus-mixing pipeline needs (Xie 2023 "DoReMi" fixes weights exactly
# like this after optimizing them offline).
DOMAIN_RATES = {"en": 60, "es": 25, "fr": 25, "de": 25}
DEFAULT_DOMAIN_RATE = 10


@register(
    "deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang,
           CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(DOMAIN_RATES.items()))}
                ELSE {DEFAULT_DOMAIN_RATE} END AS domain_rate,
           CAST(CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
          < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(DOMAIN_RATES.items()))}
                 ELSE {DEFAULT_DOMAIN_RATE} END
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based deterministic DOMAIN-WEIGHTED sample: each language is
    kept at its ``DOMAIN_RATES`` percentage (default
    ``DEFAULT_DOMAIN_RATE``) by thresholding the same md5 hash —
    reproducible across engines and runs (unlike rand()-based sampling),
    and the mixture-reweighting primitive for corpus carving: changing a
    domain's weight re-draws ONLY that domain, and a domain's sample at
    rate r is a strict subset of its sample at r' > r (nested samples,
    so mixtures can be re-balanced without re-shuffling data).  Pure
    map-side predicate — reaches the scan as a pushed filter.

    The ``shard`` column gates :func:`sources.shards.shard_assignments`
    (seed 0, 8 shards — the trainer hand-off's membership hash) against
    the oracle's md5 spelling: sample-then-shard is exactly the corpus
    → carve → shard pipeline tail."""
    from ..operators.sampling import domain_weighted_sample
    from ..sources.shards import shard_assignments

    docs = load_table(spark, sf_dir, "documents")
    sampled = domain_weighted_sample(
        docs,
        DOMAIN_RATES,
        default_rate=DEFAULT_DOMAIN_RATE,
        rate_col="domain_rate",
    )
    return shard_assignments(sampled, 8, seed=0).select(
        "doc_id", "lang", "domain_rate", "shard"
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct, ORACLE-GATED via a tolerance boolean:
    emits the exact distinct count (oracle-reproducible) plus
    ``approx_within_5pct`` = |HLL(rsd=1%) − exact| ≤ 5%·exact.  The oracle
    computes the exact count and a literal TRUE, so the driver's value hash
    matches iff the sketch lands in tolerance — deterministic on fixed data
    (HLL++ is hash-based, no randomness).  Both aggregates ride one shuffle
    on event_type (single partial-agg pass over the scan)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("_approx"),
        )
        .withColumn(
            "approx_within_5pct",
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users"),
        )
        .drop("_approx")
    )


@register(
    "asof_join_purchase_click",
    oracle="""
    WITH purchases AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
    clicks AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, p.value, c.click_id AS click_id_asof, c.ts AS ts_asof
    FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior (or
    simultaneous) click — operators/asof union-trick spelling (one
    shuffle + window, zero joins); oracle is DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return asof_join(purchases, clicks, on="user_id", ts="ts")


@register(
    "range_join_clicks_after_signup",
    oracle="""
    WITH signups AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
    clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT s.event_id, s.user_id, s.ts,
           CAST(COUNT(c.ts) AS BIGINT) AS n_in_range
    FROM signups s LEFT JOIN clicks c
      ON s.user_id = c.user_id AND c.ts >= s.ts AND epoch_us(c.ts) < epoch_us(s.ts) + 3600000000
    GROUP BY s.event_id, s.user_id, s.ts
    """,
)
def range_join_clicks_after_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks within 1h after each signup, per user —
    operators/asof.range_join_count bucketed spelling (equi-join on
    (key, time-bucket), candidates bounded by temporal locality); the
    oracle runs the plain inequality join."""
    from ..operators.asof import range_join_count

    ev = load_table(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return range_join_count(signups, clicks, on="user_id", ts="ts", window_seconds=3600)
