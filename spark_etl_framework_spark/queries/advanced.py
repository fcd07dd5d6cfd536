"""Composite / scale-technique queries: salted aggregation, stream-batch
join, LSH-verified near-dup, top-k per group on documents."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..caching import scoped_localcheckpoint, scoped_persist

from ..catalog import load_table
from . import dsum, dsum_sql, register


@register(
    "agg_salted_two_phase",
    oracle="""
    WITH ev AS (SELECT user_id, value FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
           round(min(value), 4)     AS min_value,
           round(max(value), 4)     AS max_value
    FROM ev GROUP BY user_id
    """,
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over events.user_id — identical results
    to the direct groupBy (hash-checked), different shuffle layout: the hot
    key spreads across 16 reducers in phase 1."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("decimal(18,6)").alias("value")
    )
    out = salted_agg(
        ev,
        ["user_id"],
        {
            "n_events": ("count", "value"),
            "__sum_value": ("sum", "value"),
            "__min_value": ("min", "value"),
            "__max_value": ("max", "value"),
        },
        n_salts=16,
    )
    return out.select(
        "user_id",
        "n_events",
        F.round(F.col("__sum_value"), 2).cast("double").alias("total_value"),
        F.round(F.col("__min_value").cast("double"), 4).alias("min_value"),
        F.round(F.col("__max_value").cast("double"), 4).alias("max_value"),
    )


@register(
    "stream_batch_join",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, value FROM events)
    SELECT c_mktsegment, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)     AS total_value
    FROM ev JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def stream_batch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-to-batch dimension join — the reference's flagship streaming
    pattern (reference: pipeline_fileStreamRead-arbitraryState-
    jdbcStreamWrite.yaml:27-103: batch `users` dim joined to a stream in
    SQL): streaming events join the static customer dim, aggregate, complete
    mode, hash-matched against the batch oracle."""
    from .streaming_q import _events_stream

    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sdf = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type", "value")
        .join(cu, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), 2).alias("total_value"))
    )
    qname = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = sdf.writeStream.format("memory").queryName(qname).outputMode("complete").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(qname)


@register(
    "dedup_lsh_verified_pairs",
    oracle="""
    WITH
    t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(a) - 1),
                                        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
           FROM t WHERE len(a) >= 3),
    hx AS (SELECT doc_id, seed, md5(seed::VARCHAR || ':' || shingle) AS h
           FROM sh, generate_series(0, 7) AS s(seed)),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed, min(h) AS minhash
            FROM hx GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, CAST(seed // 2 AS INT) AS band_id,
                     md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key
              FROM sig GROUP BY doc_id, (seed // 2)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    hsh AS (SELECT DISTINCT doc_id, substr(md5(shingle), 1, 16) AS shingle_key FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM hsh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
              FROM cand c
              JOIN hsh a ON a.doc_id = c.id_a
              JOIN hsh b ON b.doc_id = c.id_b AND b.shingle_key = a.shingle_key
              GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           round(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.01
    """,
)
def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline composed: LSH candidates → exact Jaccard
    verification → threshold. At corpus scale the verification join touches
    only candidate pairs (LSH recall set), never n² — and shingle text
    never crosses an exchange: signatures aggregate the non-distinct
    stream map-side, the exact sets are hashed_shingles' row-local
    64-bit keys."""
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    raw = D.word_shingles(docs, "doc_id", "text", n=3, distinct=False)
    bands = D.lsh_bands_wide(D.minhash_wide(raw, "doc_id", k=8), "doc_id", k=8, rows_per_band=2)
    cand = D.lsh_candidate_pairs(bands, "doc_id")
    # hsh (narrow (id, 16-char key) rows — never text) has 3 consumers;
    # scoped_persist releases the blocks when the next query starts
    hsh = scoped_persist(D.hashed_shingles(docs, "doc_id", "text", n=3))
    sizes = hsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = hsh.select(F.col("doc_id").alias("id_a"), "shingle_key")
    b = hsh.select(F.col("doc_id").alias("id_b"), "shingle_key")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle_key"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.01)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "text_topk_quality_per_lang",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               regexp_split_to_array(trim(text), '\\s+')                      AS toks,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / greatest(length(text), 1)                                AS alpha_ratio
        FROM documents
    ),
    q AS (SELECT doc_id, lang,
                 round(0.4 * least(1.0, len(toks) / 100.0)
                       + 0.3 * least(1.0, (len(list_filter(toks,
                             x -> list_contains(['the','a','of','and','to','in','is','on','for','data'], x)))
                             / greatest(len(toks), 1)) * 3)
                       + 0.3 * alpha_ratio, 6) AS quality_score
          FROM t)
    SELECT lang, doc_id, quality_score,
           CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY quality_score DESC, doc_id) AS rn
          FROM q)
    WHERE rn <= 5
    """,
)
def text_topk_quality_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation shape: top-5 highest-quality documents per language
    label (quality operator + ranking window composed)."""
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    q = with_quality_score(docs).select("doc_id", "lang", "quality_score")
    w = W.partitionBy("lang").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        q.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "quality_score", "rn")
    )


@register(
    "text_ngram_frequency",
    oracle="""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a FROM documents),
    sh AS (SELECT unnest(list_transform(range(1, len(a) - 1),
                                        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
           FROM t WHERE len(a) >= 3)
    SELECT shingle, CAST(count(*) AS BIGINT) AS freq
    FROM sh GROUP BY shingle
    ORDER BY freq DESC, shingle
    LIMIT 50
    """,
)
def text_ngram_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide trigram frequency top-50 (non-distinct shingles — raw
    occurrence counts, the corpus-statistics building block)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    shingles = F.expr(
        "transform(sequence(0, size(_t) - 3), i -> concat(_t[i], ' ', _t[i + 1], ' ', _t[i + 2]))"
    )
    return (
        docs.select(toks.alias("_t"))
        .filter(F.size("_t") >= 3)
        .select(F.explode(shingles).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "shingle")
        .limit(50)
    )


@register(
    "events_funnel_ab",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
    stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END)     AS first_view,
               max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        FROM ev GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
           CAST(sum(CASE WHEN first_view IS NOT NULL AND last_purchase > first_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM stages
    """,
)
def events_funnel_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users whose first 'view' precedes a later
    'purchase' — conditional min/max per user, one shuffle, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("first_view").isNotNull(), 1).otherwise(0)).alias("n_viewed"),
        F.sum(
            F.when(
                F.col("first_view").isNotNull()
                & (F.col("last_purchase") > F.col("first_view")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


@register(
    "events_outlier_iqr",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE e.value < q1 - 1.5 * (q3 - q1)
                                    OR e.value > q3 + 1.5 * (q3 - q1))
                AS BIGINT) AS n_outliers,
           round(q1, 6) AS q1,
           round(q3, 6) AS q3
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, q1, q3
    """,
)
def events_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screening per event type — the numeric
    data-quality gate of an ingest pipeline. Exact interpolated quartiles
    per group (tiny: one row per event type) broadcast back onto the
    events; one aggregation pass each side. Spark ``percentile`` and
    DuckDB ``quantile_cont`` share linear-interpolation semantics."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(is_out).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            "n_outliers",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
        )
    )


@register(
    "events_anomaly_zscore",
    # Moments are accumulated in DECIMAL (exact, order-independent — the
    # input carries ≤2 true decimal places so value² has ≤4) and cast to
    # DOUBLE only for the final mean/variance scalar math, which is then
    # the identical IEEE sequence in both engines. stddev_pop/avg built-ins
    # would differ at the last ulp between engines (summation order).
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)        AS mean,
               CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m2
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - m.mean) / sqrt(m.m2 - m.mean * m.mean), 6) AS zscore
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE abs(round((e.value - m.mean) / sqrt(m.m2 - m.mean * m.mean), 6)) > 2
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly screening per event type (|z| > 2): the streaming-
    telemetry counterpart of the IQR gate. One aggregation produces the
    per-type moments (group-cardinality output, broadcast back); the event
    scan is never shuffled. Decimal-exact moment accumulation makes the
    cut-off engine- and partitioning-independent."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("mean"),
        (dsum(F.col("value") * F.col("value")) / F.count(F.lit(1))).alias("m2"),
    )
    z = F.round(
        (F.col("value") - F.col("mean")) / F.sqrt(F.col("m2") - F.col("mean") * F.col("mean")),
        6,
    )
    return (
        ev.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 2)
    )


@register(
    "events_retention_cohorts",
    # cohort = user's first-seen ISO week; cell (cohort, offset) counts the
    # distinct users from that cohort active offset weeks later — the
    # classic retention triangle. date_trunc('week') is Monday-based in
    # both engines; DATE subtraction yields whole days.
    oracle="""
    WITH ev AS (SELECT user_id, date_trunc('week', ts::TIMESTAMP)::DATE AS w FROM events),
    f AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id)
    SELECT CAST(f.cw AS VARCHAR)              AS cohort_week,
           CAST((ev.w - f.cw) // 7 AS INT)    AS week_offset,
           CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
    FROM ev JOIN f ON f.user_id = ev.user_id
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by first-seen week, each
    cell counting distinct cohort members active N weeks later. Two
    aggregations (first-seen per user; distinct users per cell) and one
    user-keyed join, deliberately UNHINTED — the first-seen relation is
    user-count-proportional, so AQE broadcasts it only while it fits.
    Output is |weeks|² rows — the 'tiny result from a huge fact table'
    shape event warehouses run daily."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w")
    )
    first = ev.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            F.col("cw").cast("string").alias("cohort_week"),
            F.floor(F.datediff("w", "cw") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_INCR_ADMISSION_ORACLE = """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
               FROM documents),
    corp AS (SELECT * FROM t WHERE doc_id % 10 <> 0),
    inc  AS (SELECT * FROM t WHERE doc_id % 10 = 0),
    shc AS (SELECT doc_id, unnest(list_transform(range(1, len(a) - 1),
                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
            FROM corp WHERE len(a) >= 3),
    shi AS (SELECT doc_id, unnest(list_transform(range(1, len(a) - 1),
                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
            FROM inc WHERE len(a) >= 3),
    sigc AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                    min(md5(seed::VARCHAR || ':' || shingle)) AS minhash
             FROM shc, generate_series(0, 7) AS s(seed) GROUP BY doc_id, seed),
    sigi AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                    min(md5(seed::VARCHAR || ':' || shingle)) AS minhash
             FROM shi, generate_series(0, 7) AS s(seed) GROUP BY doc_id, seed),
    bc AS (SELECT doc_id, CAST(seed // 2 AS INT) AS band_id,
                  md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key
           FROM sigc GROUP BY doc_id, (seed // 2)),
    bi AS (SELECT doc_id, CAST(seed // 2 AS INT) AS band_id,
                  md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key
           FROM sigi GROUP BY doc_id, (seed // 2)),
    cand AS (SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS old_id
             FROM bi i JOIN bc c
               ON i.band_id = c.band_id AND i.band_key = c.band_key),
    hn AS (SELECT DISTINCT doc_id, substr(md5(shingle), 1, 16) AS k FROM shi),
    ho AS (SELECT DISTINCT doc_id, substr(md5(shingle), 1, 16) AS k FROM shc),
    sn AS (SELECT doc_id, count(*) AS n_sh FROM hn GROUP BY doc_id),
    so AS (SELECT doc_id, count(*) AS n_sh FROM ho GROUP BY doc_id),
    inter AS (SELECT c.new_id, c.old_id, count(*) AS n_inter
              FROM cand c
              JOIN hn ON hn.doc_id = c.new_id
              JOIN ho ON ho.doc_id = c.old_id AND ho.k = hn.k
              GROUP BY c.new_id, c.old_id),
    scored AS (SELECT i.new_id, i.old_id,
                      i.n_inter / (sn.n_sh + so.n_sh - i.n_inter) AS jac
               FROM inter i
               JOIN sn ON sn.doc_id = i.new_id
               JOIN so ON so.doc_id = i.old_id),
    best AS (SELECT new_id, old_id, jac,
                    row_number() OVER (PARTITION BY new_id
                                       ORDER BY jac DESC, old_id) AS rn
             FROM scored)
    SELECT i.doc_id, b.old_id AS best_old_id, round(b.jac, 6) AS jaccard,
           COALESCE(b.jac >= 0.5, false) AS is_dup
    FROM inc i LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON b.new_id = i.doc_id
    """


@register("dedup_incremental_admission", oracle=_INCR_ADMISSION_ORACLE)
def dedup_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest admission: the %10==0 documents arrive as a new
    batch and probe the existing corpus's LSH band index — candidate
    volume is increment×bucket-bounded, the corpus never self-pairs, and
    exact verification touches candidates only
    (operators/dedup.py:incremental_lsh_matches)."""
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    increment = docs.filter(F.col("doc_id") % 10 == 0)
    return D.incremental_lsh_matches(corpus, increment, threshold=0.5)


#: session-scoped corpus-index table names, keyed by sf_dir — the steady
#: query builds the parquet index once per session, exactly as production
#: persists it once per corpus version. Catalog registrations live in the
#: SparkSession's in-memory catalog, so a cache hit is only valid while
#: those tables still exist — guarded below with catalog.tableExists()
#: (a recreated session re-runs the build; the overwrite is idempotent).
_CORPUS_INDEX: dict[str, dict[str, str]] = {}


@register("dedup_incremental_admission_steady", oracle=_INCR_ADMISSION_ORACLE)
def dedup_incremental_admission_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of incremental admission: the corpus LSH band
    index (buckets + hashed-shingle inverted index + sizes,
    operators/dedup.py:build_corpus_lsh_index) is written to parquet ONCE
    per corpus version and every ingest batch probes the persisted index
    (probe_corpus_lsh_index). Same result as dedup_incremental_admission
    (one oracle serves both); the difference is WHAT the steady-state
    run measures — the inline variant's bench number includes the index
    rebuild a real pipeline amortizes over every ingest, this one's
    (after its first run populates the session's index) is the per-ingest
    probe alone: increment-bands x bucket join + candidate-only exact
    verification, all scans columnar off the index files."""
    import re as _re

    from ..operators import dedup as D

    if sf_dir in _CORPUS_INDEX and not all(
        spark.catalog.tableExists(t) for t in _CORPUS_INDEX[sf_dir].values()
    ):
        # stale hit: the process-global dict survived a SparkSession
        # recreate but the in-memory catalog did not — rebuild
        del _CORPUS_INDEX[sf_dir]
    if sf_dir not in _CORPUS_INDEX:
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        buckets, shingles, sizes = D.build_corpus_lsh_index(corpus)
        # BUCKETED index tables (SCALE.md's co-partitioned probe): the
        # verification joins key on old_id, so persisting shingles/sizes
        # bucketed by old_id makes the index side of every probe join
        # exchange-free (the band join already is — the increment's band
        # relation broadcasts onto the buckets scan). band-bucket relation
        # bucketed by band_key for the same reason when AQE declines the
        # broadcast at larger increments.
        import tempfile

        tag = _re.sub(r"\W", "_", sf_dir.strip("/"))
        base = tempfile.mkdtemp(prefix="corpus_lsh_index_")
        names = {k: f"corpus_lsh_{k}_{tag}" for k in ("buckets", "shingles", "sizes")}
        # external tables (explicit path): saveAsTable's default location
        # is $PWD/spark-warehouse, and the driver harness runs from a
        # foreign, possibly read-only cwd
        buckets.write.mode("overwrite").format("parquet").bucketBy(8, "band_key").sortBy(
            "band_key"
        ).option("path", f"{base}/buckets").saveAsTable(names["buckets"])
        shingles.write.mode("overwrite").format("parquet").bucketBy(8, "old_id").sortBy(
            "old_id"
        ).option("path", f"{base}/shingles").saveAsTable(names["shingles"])
        sizes.write.mode("overwrite").format("parquet").bucketBy(8, "old_id").sortBy(
            "old_id"
        ).option("path", f"{base}/sizes").saveAsTable(names["sizes"])
        _CORPUS_INDEX[sf_dir] = names
    names = _CORPUS_INDEX[sf_dir]
    increment = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return D.probe_corpus_lsh_index(
        spark.table(names["buckets"]),
        spark.table(names["shingles"]),
        spark.table(names["sizes"]),
        increment,
        threshold=0.5,
    )


@register(
    "join_bloom_prefilter",
    # the Bloom stage is semantically transparent (false positives are
    # re-checked by the exact join; false negatives impossible), so the
    # oracle is the PLAIN join — any Bloom bug that drops or duplicates a
    # row breaks the hash.
    oracle=f"""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 5
    GROUP BY p.p_brand
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered fact-dim join (operators/joinopt.py): the
    selective part predicate becomes a ≤2^16-row occupied-position
    relation, broadcast and probed map-side (k=2 LEFT SEMI joins) so
    lineitem rows that cannot match never enter the join shuffle — the
    explicit form of Spark's runtime row-level Bloom filter, usable when
    the optimizer declines it. Result is row-identical to the plain join.
    At 100 TB: the broadcast is bounded by m (bits), not |part|, and the
    fact side's only shuffle is the final aggregation."""
    from ..operators.joinopt import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    dim = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    joined = bloom_prefilter_join(li, dim, "l_partkey", "p_partkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        dsum(rev, 2).alias("revenue"),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH o AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    c AS (SELECT prev AS prev_type, event_type AS next_type,
                 count(*) AS n
          FROM o WHERE prev IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type,
           CAST(n AS BIGINT) AS n_transitions,
           round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
    FROM c
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: adjacent
    event-type bigrams per user (lag over a deterministic ts, event_id
    order) aggregated into counts and row-normalized probabilities. One
    user-keyed window shuffle + one |types|²-bounded aggregation — the
    normalizing window runs over the tiny aggregate, never the events."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wn = W.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("n") / F.sum("n").over(wn), 6).alias("prob"),
    )


def _pagerank_oracle(iters: int, damping: float) -> str:
    """Unrolled power-iteration CTE chain — same recurrence, same literal
    arithmetic ((1.0 - d), d) as the Spark side so IEEE results agree."""
    ctes = [
        """e0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                        's' || CAST(l_suppkey AS VARCHAR) AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT a AS src, b AS dst FROM e0
          UNION SELECT b AS src, a AS dst FROM e0),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM deg),
    r0 AS (SELECT src AS node, 1.0/(SELECT cnt FROM n) AS r FROM deg)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS (
        SELECT e.dst AS node,
               (1.0 - {damping})/(SELECT cnt FROM n)
                   + {damping}*sum(r{k - 1}.r/deg.d) AS r
        FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node
               JOIN deg ON e.src = deg.src
        GROUP BY e.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, round(r, 6) AS rank FROM r{iters}"
    )


@register("graph_pagerank_bipartite", oracle=_pagerank_oracle(3, 0.85))
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier trade graph (edges = distinct
    (customer, supplier) pairs via lineitem x orders, symmetrized), 3
    unrolled power iterations (operators/graph.py). Per iteration the
    huge edge relation reuses its source-hash partitioning and only the
    |V|-row rank relation moves — the relational form of Pregel that
    survives a 100x edge-count scale-up. Rank values are unordered double
    sums rounded at 6 dp; unlike the dsum family there is no exact
    accumulator for this recurrence, so a sum landing within ~1 ulp of a
    rounding boundary could in principle flip between engines — accepted
    residual risk, same class as vector_norm_stats.

    The edge relation here is JOIN-DERIVED (lineitem x orders + the
    symmetrizing distinct — corpus-scale work), so per
    operators/graph.py's own guidance it is MATERIALIZED once before the
    iteration: ``localCheckpoint(eager)`` straight off symmetrize's
    distinct truncates the lineage exactly as connected_components does
    (operators/dedup.py), so the fact join and distinct execute once
    instead of once per power iteration. No distinct on the directed
    pairs (symmetrize's own distinct subsumes it) and no repartition
    before the checkpoint: with or without ``repartition("__src")`` the
    checkpointed scan's ``outputPartitioning`` is
    ``UnknownPartitioning(0)`` and the 3-round plan (AQE and
    auto-broadcast off) holds the same 10 ``hashpartitioning(__src)``
    exchanges, so the repartition was one extra shuffle for nothing.
    Same-session A/B at sf0.1, both orders to control for warmup,
    measured on the earlier shape (directed-pair distinct +
    repartition): un-materialized 12.7 / 6.0 s vs materialized 5.5 /
    4.1 s — >=1.5x locally, and the gap grows with SF because the part
    removed (fact join + corpus-scale distincts, re-run per round)
    scales with data while the part kept (|V|-row rank moves) does not.
    On a cluster with unreliable executors, swap for a reliable
    checkpoint dir or a parquet tmp — local checkpoint blocks die with
    their executor."""
    from ..operators.graph import pagerank, symmetrize

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
    )
    edges = scoped_localcheckpoint(symmetrize(raw, "a", "b"))
    ranks = pagerank(edges, iters=3, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


@register(
    "events_approx_quantile_calibration",
    # the oracle can't reproduce Spark's Greenwald-Khanna summary, so the
    # CONTRACT is checked (the HLL/KMV-calibration pattern): exact
    # quantiles per event type + booleans asserting the sketch landed
    # inside the exact-quantile envelope at q ± 5·(1/accuracy). The GK
    # rank-error guarantee (≤ 1/accuracy) holds for ANY summary merge
    # order, so the booleans are partition-order-stable even though the
    # approx VALUE itself may wobble between runs.
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)            AS n_events,
           round(quantile_cont(value, 0.5), 6) AS exact_p50,
           round(quantile_cont(value, 0.9), 6) AS exact_p90,
           true AS p50_in_envelope,
           true AS p90_in_envelope
    FROM events GROUP BY event_type
    """,
)
def events_approx_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch calibration: ``approx_percentile`` (the only
    affordable quantile at 100 TB — bounded-size GK summaries, map-side
    mergeable, one tiny shuffle) checked against the exact percentile in
    the same single aggregation pass. The envelope [percentile(q−ε′),
    percentile(q+ε′)] with ε′ = 5/accuracy makes the published rank-error
    contract executable; exact values are emitted so the oracle hash pins
    real numbers, not just booleans."""
    ev = load_table(spark, sf_dir, "events")
    acc = 100
    eps = 5.0 / acc  # generous envelope: guarantee is 1/acc rank error
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.9)").alias("exact_p90"),
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("_a50"),
        F.expr(f"approx_percentile(value, 0.9, {acc})").alias("_a90"),
        F.expr(f"percentile(value, {0.5 - eps})").alias("_lo50"),
        F.expr(f"percentile(value, {0.5 + eps})").alias("_hi50"),
        F.expr(f"percentile(value, {0.9 - eps})").alias("_lo90"),
        F.expr(f"percentile(value, {0.9 + eps})").alias("_hi90"),
    )
    return agg.select(
        "event_type",
        "n_events",
        F.round("exact_p50", 6).alias("exact_p50"),
        F.round("exact_p90", 6).alias("exact_p90"),
        F.col("_a50").between(F.col("_lo50"), F.col("_hi50")).alias("p50_in_envelope"),
        F.col("_a90").between(F.col("_lo90"), F.col("_hi90")).alias("p90_in_envelope"),
    )


@register(
    "events_outlier_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m,
               abs(e.value - m) AS ad
        FROM events e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, m, quantile_cont(ad, 0.5) AS mad_v
        FROM dev GROUP BY event_type, m
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE abs(d.value - mad.m) > 3.5 * 1.4826 * mad.mad_v)
                AS BIGINT) AS n_outliers,
           round(mad.m, 6)     AS median_value,
           round(mad.mad_v, 6) AS mad
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type, mad.m, mad.mad_v
    """,
)
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screening via median absolute deviation (the
    heavy-tail-safe alternative to z-scores: one wild value cannot drag
    the fence the way it drags a mean/stddev). Two exact-median passes per
    event type — each a tiny per-group aggregate — then one counting
    pass; the modified-z cut |x − med| > 3.5·1.4826·MAD is the Iglewicz-
    Hoaglin convention. Spark ``percentile`` ≡ DuckDB ``quantile_cont``."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m"))
    dev = ev.join(med, "event_type").withColumn("ad", F.abs(F.col("value") - F.col("m")))
    mad = dev.groupBy("event_type", "m").agg(F.expr("percentile(ad, 0.5)").alias("mad_v"))
    d = dev.join(mad.select("event_type", "mad_v"), "event_type")
    out_flag = F.abs(F.col("value") - F.col("m")) > 3.5 * 1.4826 * F.col("mad_v")
    return d.groupBy("event_type", "m", "mad_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(out_flag, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
    ).select(
        "event_type",
        "n_events",
        "n_outliers",
        F.round("m", 6).alias("median_value"),
        F.round("mad_v", 6).alias("mad"),
    )


@register(
    "events_funnel_timebound",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM ev e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click'
             AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM ev e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase'
             AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 24 HOUR
           GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_step1_view,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_step2_click_24h,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_step3_purchase_24h
    """,
)
def events_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded sequential funnel (the windowFunnel semantics):
    view → click within 24h of the FIRST view → purchase within 24h of
    that earliest qualifying click. Each stage is a per-user aggregate
    joined forward — the sequential dependency is three user-keyed
    shuffles that all reuse the same hash partitioning; no self-join of
    the raw events against themselves."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    day = F.expr("INTERVAL 24 HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count(F.lit(1)).cast("bigint").alias("n_step1_view"))
    c2 = s2.agg(F.count(F.lit(1)).cast("bigint").alias("n_step2_click_24h"))
    c3 = s3.agg(F.count(F.lit(1)).cast("bigint").alias("n_step3_purchase_24h"))
    return c1.crossJoin(c2).crossJoin(c3)


@register(
    "events_user_growth_curve",
    # cumulative distinct users by day WITHOUT a running count-distinct
    # (quadratic state): each user collapses to a first-seen day (one
    # aggregate), days count their news (second, day-keyed aggregate),
    # and the cumulative sum runs over the tiny per-day relation.
    oracle="""
    WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
    f AS (SELECT user_id, CAST(min(ts)::DATE AS VARCHAR) AS first_day
          FROM ev GROUP BY user_id),
    d AS (SELECT first_day, count(*) AS n_new FROM f GROUP BY first_day)
    SELECT first_day AS day,
           CAST(n_new AS BIGINT) AS n_new_users,
           CAST(sum(n_new) OVER (ORDER BY first_day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_users
    FROM d
    """,
)
def events_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user growth by day — computed as first-seen
    collapse + per-day news + running sum over the per-day relation,
    never as a running COUNT(DISTINCT) (whose state grows with the user
    universe). Two narrow aggregates; the unpartitioned window only ever
    sees #days rows."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").cast("string").alias("day")
    )
    d = f.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return d.select(
        "day",
        F.col("n_new").cast("bigint").alias("n_new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "events_ab_ztest",
    # two-proportion z-test on funnel conversion, variant = user_id
    # parity. All inputs are exact integers; the z arithmetic is a fixed
    # IEEE expression over them, rounded at 6 dp on both sides.
    oracle="""
    WITH ev AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
    s AS (SELECT user_id,
                 CAST(user_id % 2 AS INT) AS variant,
                 min(CASE WHEN event_type = 'view' THEN ts END)     AS fv,
                 max(CASE WHEN event_type = 'purchase' THEN ts END) AS lp
          FROM ev GROUP BY user_id),
    v AS (SELECT variant,
                 count(*) FILTER (WHERE fv IS NOT NULL) AS n,
                 count(*) FILTER (WHERE fv IS NOT NULL AND lp > fv) AS x
          FROM s GROUP BY variant),
    w AS (SELECT
            max(CASE WHEN variant = 0 THEN n END) AS n0,
            max(CASE WHEN variant = 0 THEN x END) AS x0,
            max(CASE WHEN variant = 1 THEN n END) AS n1,
            max(CASE WHEN variant = 1 THEN x END) AS x1
          FROM v)
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(x0 AS BIGINT) AS conv_control,
           CAST(n1 AS BIGINT) AS n_treat,   CAST(x1 AS BIGINT) AS conv_treat,
           round((x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE))
                 / sqrt((x0 + x1) / CAST(n0 + n1 AS DOUBLE)
                        * (1 - (x0 + x1) / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z_score,
           abs((x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE))
                 / sqrt((x0 + x1) / CAST(n0 + n1 AS DOUBLE)
                        * (1 - (x0 + x1) / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / n0 + 1.0 / n1))) > 1.959963984540054
               AS significant_95
    FROM w
    """,
)
def events_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion significance: the pooled two-proportion z-test over
    funnel conversion (view -> later purchase), variant = user parity.
    Two tiny aggregates then pure scalar arithmetic on a 1-row relation —
    the statistics layer every experimentation pipeline bolts onto its
    funnel counts. Exact integer inputs; fixed IEEE expression; 1.96
    critical value spelled at full double precision on both sides."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("lp"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    conv = F.col("fv").isNotNull() & (F.col("lp") > F.col("fv"))
    v = s.groupBy("variant").agg(
        F.sum(F.when(F.col("fv").isNotNull(), 1).otherwise(0)).alias("n"),
        F.sum(F.when(conv, 1).otherwise(0)).alias("x"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x1"),
    )
    p0 = F.col("x0") / F.col("n0").cast("double")
    p1 = F.col("x1") / F.col("n1").cast("double")
    pp = (F.col("x0") + F.col("x1")) / (F.col("n0") + F.col("n1")).cast("double")
    z = (p1 - p0) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return w.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("x0").cast("bigint").alias("conv_control"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("x1").cast("bigint").alias("conv_treat"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.959963984540054).alias("significant_95"),
    )


@register(
    "events_top_paths_trigram",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER w AS p2,
               lag(event_type, 2) OVER w AS p1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    c AS (SELECT p1, p2, event_type AS p3, count(*) AS n
          FROM o WHERE p1 IS NOT NULL GROUP BY 1, 2, 3)
    SELECT p1, p2, p3, CAST(n AS BIGINT) AS n_paths
    FROM c ORDER BY n DESC, p1, p2, p3 LIMIT 15
    """,
)
def events_top_paths_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavior paths (the sankey feed): two lags over one
    deterministic user-keyed window, a |types|³-bounded aggregation, and
    a 15-row top-k with full tiebreak. Extends the Markov bigram matrix
    to path shapes; the window and the aggregation reuse the same
    user-key shuffle the other events queries ride."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.lag("event_type", 2).over(w).alias("p1"),
        F.lag("event_type", 1).over(w).alias("p2"),
        F.col("event_type").alias("p3"),
    ).filter(F.col("p1").isNotNull())
    c = o.groupBy("p1", "p2", "p3").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.orderBy(F.desc("n"), "p1", "p2", "p3")
        .limit(15)
        .select("p1", "p2", "p3", F.col("n").cast("bigint").alias("n_paths"))
    )


@register(
    "events_value_concentration",
    # Gini + top-20% share of per-user value by event type, from
    # DECIMAL-exact rank-weighted sums (rank x value products stay in
    # decimal; the only doubles are the final ratios).
    oracle="""
    WITH u AS (
        SELECT event_type, user_id,
               sum(CAST(value AS DECIMAL(18,6))) AS v
        FROM events GROUP BY event_type, user_id
    ),
    r AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY v, user_id) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n,
                 sum(v) OVER (PARTITION BY event_type) AS tot
          FROM u)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_users,
           CAST(round(max(tot), 2) AS DOUBLE) AS total_value,
           round(2.0 * CAST(sum(rk * v) AS DOUBLE)
                 / (max(n) * CAST(max(tot) AS DOUBLE))
                 - (max(n) + 1.0) / max(n), 6) AS gini,
           round(CAST(sum(CASE WHEN rk > max_rk_cut THEN v ELSE 0 END)
                      AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
               AS top20_share
    FROM (SELECT *, n - CAST(ceil(n * 0.2) AS BIGINT) AS max_rk_cut FROM r)
    GROUP BY event_type
    """,
)
def events_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration profile per event type: Gini coefficient and
    the top-20% users' share — the Pareto check behind skew planning
    (a 0.9-Gini key column is tomorrow's hot-partition incident; see
    operators/skew.py). Rank-weighted sums stay in DECIMAL so the only
    floating-point steps are the final ratios; one user-keyed aggregate
    + one per-type window over the user-totals relation."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
    )
    wt = W.partitionBy("event_type")
    r = u.select(
        "event_type",
        "v",
        F.row_number().over(wt.orderBy("v", "user_id")).alias("rk"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("v").over(wt).alias("tot"),
    ).withColumn(
        "max_rk_cut", F.col("n") - F.ceil(F.col("n") * 0.2).cast("bigint")
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.round(F.max("tot"), 2).cast("double").alias("total_value"),
        F.round(
            2.0 * F.sum(F.col("rk") * F.col("v")).cast("double")
            / (F.max("n") * F.max("tot").cast("double"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
        F.round(
            F.sum(
                F.when(F.col("rk") > F.col("max_rk_cut"), F.col("v")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            ).cast("double")
            / F.max("tot").cast("double"),
            6,
        ).alias("top20_share"),
    )


@register(
    "events_kaplan_meier",
    # Kaplan-Meier survival over user activity spans (censored = still
    # active within 12 hours of corpus end). The cumulative product rides
    # exp(cumsum(round(ln(1 - d/n), 9))) with the logs in DECIMAL, so
    # the running product is engine-exact; a risk set that fully dies
    # (n = d) forces survival to 0 from that point on.
    oracle="""
    WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
    mx AS (SELECT max(ts) AS max_d FROM ev),
    u AS (SELECT user_id,
                 (epoch_ms(max(ts)) - epoch_ms(min(ts))) // 3600000 AS dur,
                 max(ts) < (SELECT max_d FROM mx) - INTERVAL 12 HOUR
                     AS observed
          FROM ev GROUP BY user_id),
    g AS (SELECT dur,
                 count(*) AS total,
                 count(*) FILTER (WHERE observed) AS d
          FROM u GROUP BY dur),
    r AS (SELECT dur, d, total,
                 sum(total) OVER () 
                   - coalesce(sum(total) OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS n_risk
          FROM g),
    s AS (SELECT dur, d, total, n_risk,
                 CASE WHEN n_risk = d THEN NULL
                      ELSE CAST(round(ln(1 - d / CAST(n_risk AS DOUBLE)), 9)
                                AS DECIMAL(18,9)) END AS lnf,
                 max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
                     OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS dead
          FROM r)
    SELECT CAST(dur AS INT)            AS duration_hours,
           CAST(n_risk AS BIGINT)      AS n_at_risk,
           CAST(d AS BIGINT)           AS n_events,
           CAST(total - d AS BIGINT)   AS n_censored,
           CASE WHEN dead = 1 THEN 0.0
                ELSE round(exp(CAST(sum(lnf) OVER (ORDER BY dur
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END
               AS survival
    FROM s
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user activity spans — the
    censoring-aware retention estimator (users still active within 12
    hours of the corpus edge are censored, not churned — the mistake
    naive retention math makes). Activity spans are hour-granularity. Risk sets come from one window over the duration
    histogram (never the users), and the running product is
    exp(cumsum(decimal ln factors)) so the curve is engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_d"))
    u = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
        .crossJoin(F.broadcast(mx))
        .select(
            ((F.unix_millis("l") - F.unix_millis("f"))
             / F.lit(3600000)).cast("long").alias("dur"),
            (F.col("l") < F.col("max_d") - F.expr("INTERVAL 12 HOURS")).alias(
                "observed"
            ),
        )
    )
    g = u.groupBy("dur").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
    )
    wall = W.partitionBy()
    w_prev = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    w_cum = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    r = g.select(
        "dur",
        "d",
        "total",
        (
            F.sum("total").over(wall)
            - F.coalesce(F.sum("total").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    lnf = F.when(F.col("n_risk") == F.col("d"), F.lit(None)).otherwise(
        F.round(F.log(1 - F.col("d") / F.col("n_risk").cast("double")), 9).cast(
            "decimal(18,9)"
        )
    )
    s = r.select(
        "dur",
        "d",
        "total",
        "n_risk",
        lnf.alias("lnf"),
        F.max(F.when(F.col("n_risk") == F.col("d"), 1).otherwise(0))
        .over(w_cum)
        .alias("dead"),
    )
    return s.select(
        F.col("dur").cast("int").alias("duration_hours"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        (F.col("total") - F.col("d")).cast("bigint").alias("n_censored"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("lnf").over(w_cum).cast("double")), 6)
        )
        .alias("survival"),
    )


@register(
    "events_rfm_segments",
    # RFM quartile segmentation: recency/frequency/monetary per user,
    # each cut into ntile(4) with full deterministic tiebreaks (metric,
    # user_id), composed into a 3-digit segment code. Monetary sums in
    # DECIMAL; recency as exact epoch seconds.
    oracle="""
    WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
    mx AS (SELECT max(ts) AS m FROM ev),
    u AS (SELECT user_id,
                 (epoch_ms((SELECT m FROM mx)) - epoch_ms(max(ts))) // 1000
                     AS recency_s,
                 count(*) AS frequency,
                 sum(CAST(value AS DECIMAL(18,6))) AS monetary
          FROM ev GROUP BY user_id),
    q AS (SELECT user_id, recency_s, frequency, monetary,
                 ntile(4) OVER (ORDER BY recency_s, user_id)       AS r_q,
                 ntile(4) OVER (ORDER BY frequency DESC, user_id)  AS f_q,
                 ntile(4) OVER (ORDER BY monetary DESC, user_id)   AS m_q
          FROM u)
    SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
           CAST(m_q AS INT) AS m_q,
           CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(round(sum(monetary), 2) AS DOUBLE) AS segment_value
    FROM q GROUP BY r_q, f_q, m_q
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (seconds since last event,
    exact epoch arithmetic), frequency, and decimal monetary total, each
    quartiled by ntile(4) with deterministic tiebreaks, then aggregated
    per segment code — the classic lifecycle grid. The ntile windows run
    over the user-totals relation (one row per user), not the events; at
    true scale swap ntile for approx-quantile boundaries and a map-side
    bucket join."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            ((F.unix_millis("m") - F.unix_millis("last_ts")) / 1000)
            .cast("long")
            .alias("recency_s"),
            "frequency",
            "monetary",
        )
    )
    q = u.select(
        "monetary",
        F.ntile(4).over(W.orderBy("recency_s", "user_id")).alias("r_q"),
        F.ntile(4).over(W.orderBy(F.desc("frequency"), "user_id")).alias("f_q"),
        F.ntile(4).over(W.orderBy(F.desc("monetary"), "user_id")).alias("m_q"),
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("monetary"), 2).cast("double").alias("segment_value"),
    ).select(
        F.col("r_q").cast("int").alias("r_q"),
        F.col("f_q").cast("int").alias("f_q"),
        F.col("m_q").cast("int").alias("m_q"),
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("segment"),
        "n_users",
        "segment_value",
    )


@register(
    "events_error_budget_burn",
    oracle="""
    WITH ev AS (SELECT ts::TIMESTAMP AS ts, event_type FROM events),
    w AS (SELECT CAST(make_timestamp((epoch_ms(ts) // 3600000) * 3600000000)
                      AS VARCHAR) AS window_start,
                 count(*) AS n,
                 count(*) FILTER (WHERE event_type = 'error') AS n_err
          FROM ev GROUP BY 1)
    SELECT window_start,
           CAST(n AS BIGINT)     AS n_events,
           CAST(n_err AS BIGINT) AS n_errors,
           round(n_err / CAST(n AS DOUBLE), 6) AS error_rate,
           round((n_err / CAST(n AS DOUBLE)) / 0.01, 4) AS burn_rate,
           (n_err / CAST(n AS DOUBLE)) > 0.01 * 14.4 AS page_alert
    FROM w
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate per hour window (the multiwindow-alert
    arithmetic from the SRE workbook): error share vs a 1% budget, with
    the 14.4x fast-burn page threshold as a boolean. One windowed
    aggregate; exact integer ratios so both engines agree without
    rounding tricks."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.groupBy(
        F.window("ts", "1 hour").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
    )
    rate = F.col("n_err") / F.col("n").cast("double")
    return w.select(
        F.col("w.start").cast("string").alias("window_start"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_err").cast("bigint").alias("n_errors"),
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / 0.01, 4).alias("burn_rate"),
        (rate > 0.01 * 14.4).alias("page_alert"),
    )


@register(
    "events_peak_detection",
    # local maxima on the per-user value sequence: strictly greater than
    # the previous value AND at least the next (deterministic ts,
    # event_id order; sequence edges can't be peaks). Pure lag/lead —
    # one window pass.
    oracle="""
    WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, value
                FROM events),
    l AS (SELECT user_id, event_id, value,
                 lag(value)  OVER w AS prev_v,
                 lead(value) OVER w AS next_v
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, round(value, 4) AS value,
           round(prev_v, 4) AS prev_v, round(next_v, 4) AS next_v
    FROM l
    WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
      AND value > prev_v AND value >= next_v
    """,
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on each user's value sequence (strict rise
    into the point, non-rise out; edges excluded) — the spike-picking
    primitive behind alerting and changepoint seeding. One lag/lead pass
    on the shared deterministic user window."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    l = ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lead("value").over(w).alias("next_v"),
    )
    return (
        l.filter(
            F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
            & (F.col("value") > F.col("prev_v"))
            & (F.col("value") >= F.col("next_v"))
        )
        .select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.round("prev_v", 4).alias("prev_v"),
            F.round("next_v", 4).alias("next_v"),
        )
    )


@register(
    "events_dau_wau_stickiness",
    # DAU/WAU per day: the rolling 7-day distinct-user count comes from a
    # range self-join of the NARROW (day, user) relation (never the
    # events), then one distinct count per anchor day.
    oracle="""
    WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
    du AS (SELECT DISTINCT ts::DATE AS d, user_id FROM ev),
    days AS (SELECT DISTINCT d FROM du),
    dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
    wau AS (SELECT days.d, count(DISTINCT du.user_id) AS wau
            FROM days JOIN du
              ON du.d BETWEEN days.d - 6 AND days.d
            GROUP BY days.d)
    SELECT CAST(dau.d AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           round(dau.dau / CAST(wau.wau AS DOUBLE), 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio every growth
    dashboard leads with. The trailing-7-day distinct-user count is a
    range self-join over the deduplicated (day, user) relation (days ×
    active users — tiny next to events), then a distinct count per
    anchor day; DAU is one aggregate of the same relation."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    d2 = du.select(F.col("d").alias("d2"), "user_id")
    wau = (
        days.join(
            d2,
            (F.col("d2") >= F.date_sub("d", 6)) & (F.col("d2") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "events_attribution_last_touch",
    # Last-touch marketing attribution: each purchase credits the user's
    # most recent prior 'click' (NULL when the purchase is organic — no
    # preceding click). Revenue then aggregates per attribution outcome.
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      ts::TIMESTAMP AS ts
               FROM events WHERE event_type IN ('click', 'purchase')),
    j AS (SELECT user_id, event_id, event_type, value, ts,
                 max(CASE WHEN event_type = 'click'
                          THEN ts END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS last_click_ts
          FROM e)
    SELECT (last_click_ts IS NOT NULL) AS attributed,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS revenue,
           round(CAST(sum(CASE WHEN last_click_ts IS NOT NULL THEN
                          epoch_us(ts) - epoch_us(last_click_ts) END)
                      AS BIGINT)
                 / 1000000.0
                 / sum(CASE WHEN last_click_ts IS NOT NULL
                       THEN 1 ELSE 0 END), 6)
               AS avg_latency_sec
    FROM j WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — the conversion-credit workhorse of every
    product-analytics stack: each purchase joins to the user's most
    recent preceding click via ONE running-max window over the
    type-filtered event stream (clicks + purchases only, so the filter
    prunes the scan before the single user-keyed shuffle); organic
    purchases (no prior click) stay NULL and report as their own
    cohort. The alternative formulations — a self-join on
    click.ts < purchase.ts (quadratic in events per user) or a lateral
    per-purchase lookup — lose to the window at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    j = ev.select(
        "event_type",
        "value",
        "ts",
        F.max(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).over(w).alias("last_click_ts"),
    ).filter(F.col("event_type") == "purchase")
    return j.groupBy(
        F.col("last_click_ts").isNotNull().alias("attributed")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        dsum(F.col("value"), 2).alias("revenue"),
        # exact integer-microsecond sum on both engines, then one double
        # division — avoids both unix_timestamp's second truncation and
        # order-dependent double accumulation
        F.round(
            F.sum(
                F.when(
                    F.col("last_click_ts").isNotNull(),
                    F.unix_micros("ts") - F.unix_micros("last_click_ts"),
                )
            ).cast("bigint")
            / 1000000.0
            / F.sum(
                F.when(F.col("last_click_ts").isNotNull(), 1).otherwise(0)
            ),
            6,
        ).alias("avg_latency_sec"),
    )


@register(
    "events_cuped_adjustment",
    # CUPED variance reduction: theta = cov(pre, post) / var(pre) over
    # users (population covariance/variance — both engines' covar_pop /
    # var_pop), adjusted post-metric = post - theta * (pre - mean_pre).
    # All moments accumulate in DECIMAL before the final double ratios.
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS variant,
               sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                        THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS pre,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                        THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS post
        FROM events GROUP BY user_id
    ),
    g AS (SELECT covar_pop(CAST(pre AS DOUBLE), CAST(post AS DOUBLE))
                     / var_pop(CAST(pre AS DOUBLE)) AS theta,
                 avg(CAST(pre AS DOUBLE)) AS mean_pre,
                 corr(CAST(pre AS DOUBLE), CAST(post AS DOUBLE)) AS rho
          FROM u)
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(CAST(post AS DOUBLE)), 6) AS mean_post,
           round(avg(CAST(post AS DOUBLE)
                     - g.theta * (CAST(pre AS DOUBLE) - g.mean_pre)), 6)
               AS mean_post_cuped,
           round(g.rho * g.rho, 6) AS variance_reduction
    FROM u, g GROUP BY variant, g.theta, g.mean_pre, g.rho
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data) — the
    standard variance-reduction adjustment every experimentation
    platform applies before the t-test: per user, a PRE-period covariate
    (value before Jan 15) and the POST-period metric; theta =
    cov(pre, post)/var(pre) fitted on the pooled population (one 2-row
    broadcast relation), and each variant reports its raw and adjusted
    post-metric means plus the theoretical variance-reduction rho^2.
    Two aggregations over the user relation + a broadcast of the fitted
    scalars — nothing beyond the user rollup ever shuffles, so the shape
    holds at any user count."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < cutoff, F.col("value").cast("decimal(18,6)"))
            .otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("pre"),
        F.sum(
            F.when(F.col("ts") >= cutoff, F.col("value").cast("decimal(18,6)"))
            .otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("post"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    pre_d = F.col("pre").cast("double")
    post_d = F.col("post").cast("double")
    g = u.agg(
        (F.covar_pop(pre_d, post_d) / F.var_pop(pre_d)).alias("theta"),
        F.avg(pre_d).alias("mean_pre"),
        F.corr(pre_d, post_d).alias("rho"),
    )
    joined = u.crossJoin(F.broadcast(g))
    return joined.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.avg(post_d), 6).alias("mean_post"),
        F.round(
            F.avg(post_d - F.col("theta") * (pre_d - F.col("mean_pre"))), 6
        ).alias("mean_post_cuped"),
        F.round(F.max("rho") * F.max("rho"), 6).alias("variance_reduction"),
    )


@register(
    "events_diff_in_diff",
    # Difference-in-differences over the natural 2x2: treatment = odd
    # users, pre/post split at Jan 15; DiD = (T_post - T_pre) -
    # (C_post - C_pre) on per-user-period mean value. Cell means come
    # from DECIMAL sums over exact integer counts, so the 2x2 and the
    # final estimate replay exactly.
    oracle="""
    WITH c AS (
        SELECT CAST(user_id % 2 AS INT)              AS treated,
               CAST(ts >= TIMESTAMP '2024-01-15' AS INT) AS post,
               sum(CAST(value AS DECIMAL(18,6)))     AS total,
               count(*)                              AS n
        FROM events GROUP BY 1, 2
    ),
    m AS (SELECT treated, post,
                 CAST(total AS DOUBLE) / n AS mean_value,
                 n FROM c)
    SELECT treated, post,
           CAST(n AS BIGINT)            AS n_events,
           round(mean_value, 6)         AS mean_value,
           round(
               (SELECT mean_value FROM m WHERE treated = 1 AND post = 1)
             - (SELECT mean_value FROM m WHERE treated = 1 AND post = 0)
             - (SELECT mean_value FROM m WHERE treated = 0 AND post = 1)
             + (SELECT mean_value FROM m WHERE treated = 0 AND post = 0),
               6) AS did_estimate
    FROM m
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference workhorse when
    randomization isn't available: the 2x2 of treated/control x pre/post
    mean outcomes, and the DiD estimate (treatment's post-pre delta
    minus the control's, which nets out the shared time trend) attached
    to every cell. One 4-row aggregation then pure scalar arithmetic on
    the broadcast cells — the estimator's cost is a single pass at any
    event count."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    m = (
        ev.groupBy(
            (F.col("user_id") % 2).cast("int").alias("treated"),
            (F.col("ts") >= cutoff).cast("int").alias("post"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "treated",
            "post",
            "n",
            (F.col("total").cast("double") / F.col("n")).alias("mean_value"),
        )
    )
    cell = lambda t, p: F.max(
        F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_value"))
    )
    did = m.agg(
        (cell(1, 1) - cell(1, 0) - cell(0, 1) + cell(0, 0)).alias("did")
    )
    return m.crossJoin(F.broadcast(did)).select(
        "treated",
        "post",
        F.col("n").cast("bigint").alias("n_events"),
        F.round("mean_value", 6).alias("mean_value"),
        F.round("did", 6).alias("did_estimate"),
    )
