"""Corpus-curation queries (decontamination, repetition, TF-IDF, packing,
mixture rebalancing) over the documents table — all oracle-checked.

The eval set for decontamination is the deterministic ``doc_id % 97 = 0``
slice of the corpus, standing in for a benchmark suite; n-gram size 5 keeps
overlap observable on the synthetic shared-token-pool corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import corpus as C
from . import register

# DuckDB word-5-gram shingle CTE (1-indexed lists; mirrors Spark's
# sequence(0, size - 5) bounds → len(a) - 4 grams). hsh mirrors
# operators/dedup.py:hashed_shingles — the fixed-width 64-bit md5-prefix
# key the Spark side joins/counts on so shingle text stays off the wire.
_SH5_CTE = """
    t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(a) - 3),
                         i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                              || a[i+3] || ' ' || a[i+4])) AS shingle
           FROM t WHERE len(a) >= 5),
    hsh AS (SELECT DISTINCT doc_id, substr(md5(shingle), 1, 16) AS shingle_key FROM sh)
"""


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH {_SH5_CTE},
    ev AS (SELECT DISTINCT shingle_key FROM hsh WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM hsh WHERE doc_id % 97 <> 0),
    per AS (SELECT tr.doc_id,
                   CAST(count(*) AS BIGINT)        AS n_shingles,
                   CAST(count(ev.shingle_key) AS BIGINT) AS n_hits
            FROM tr LEFT JOIN ev ON tr.shingle_key = ev.shingle_key
            GROUP BY tr.doc_id)
    SELECT d.doc_id,
           coalesce(n_shingles, 0) AS n_shingles,
           coalesce(n_hits, 0)     AS n_hits,
           (coalesce(n_hits, 0) > 0) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs sharing any word-5-gram with
    the eval slice (doc_id % 97 = 0) are flagged. Eval shingle KEYS
    broadcast; the train side never shuffles shingles at all (row-local
    distinct + 64-bit md5-prefix keys, operators/dedup.py:hashed_shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return C.decontaminate(train, eval_df, "doc_id", "text", n=5)


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
               FROM documents),
    g AS (SELECT doc_id, a,
                 CASE WHEN len(a) >= 3
                      THEN list_transform(range(1, len(a) - 1),
                                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
                      ELSE [] END AS gr
          FROM t WHERE len(a) > 0)
    SELECT doc_id,
           CAST(len(a) AS INT)                    AS n_tokens,
           CAST(len(gr) AS INT)                   AS n_ngrams,
           CAST(len(list_distinct(gr)) AS INT)    AS n_distinct_ngrams,
           CASE WHEN len(gr) > 0
                THEN round(1 - len(list_distinct(gr)) / len(gr), 6)
                ELSE 0.0 END                      AS dup_ngram_ratio,
           round(list_max(list_transform(list_distinct(a),
                          tk -> len(list_filter(a, x -> x = tk)))) / len(a), 6)
                                                  AS top_token_share
    FROM g
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter inputs: duplicate word-3-gram ratio
    and most-frequent-token share. Map-side only — zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return C.repetition_stats(docs, "doc_id", "text", n=3)


@register(
    "text_tfidf_topk",
    oracle="""
    WITH terms AS (SELECT doc_id,
                          unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
                   FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM terms WHERE term <> '' GROUP BY doc_id, term),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    idf AS (SELECT term, ln((nd.n + 1) / (count(DISTINCT doc_id) + 1)) + 1 AS idf
            FROM tf, nd GROUP BY term, nd.n),
    scored AS (SELECT doc_id, tf.term, round(tf.tf * idf.idf, 6) AS tfidf
               FROM tf JOIN idf ON tf.term = idf.term),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, term) AS INT) AS rn
          FROM scored)
    SELECT doc_id, term, tfidf, rn FROM r WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, deterministic term
    tiebreak). The corpus crosses the wire once as (doc, term, tf) triples;
    the idf join is unhinted — AQE broadcasts the vocabulary only when it fits."""
    docs = load_table(spark, sf_dir, "documents")
    return C.tfidf_topk(docs, "doc_id", "text", k=3)


@register(
    "text_pack_bins",
    oracle="""
    WITH t AS (SELECT doc_id, source,
                      len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM t)
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST(cb // 256 AS INT) AS bin_id,
           CAST(cb % 256 AS INT)  AS bin_offset
    FROM c
    """,
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy 256-token sequence packing per source shard: documents laid
    end-to-end in id order, a new bin every 256 tokens. One shuffle on the
    shard key; deterministic, so packing reproduces across runs."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    return C.pack_greedy_bins(sized, "doc_id", "source", "n_tokens", budget=256)


@register(
    "corpus_mixture_weights",
    oracle="""
    WITH t AS (SELECT lang,
                      len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
               FROM documents),
    a AS (SELECT lang, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens_grp
          FROM t GROUP BY lang),
    tot AS (SELECT CAST(sum(n_tokens_grp) AS BIGINT) AS tot,
                   count(*) AS ngrp FROM a)
    SELECT lang,
           CAST(n_docs AS BIGINT)      AS n_docs,
           n_tokens_grp                AS n_tokens,
           round(n_tokens_grp / tot, 6) AS observed_share,
           round(CASE WHEN lang = 'en' THEN 0.4
                      ELSE 0.6 / greatest(ngrp - 1, 1) END, 6) AS target_share,
           round((CASE WHEN lang = 'en' THEN 0.4
                       ELSE 0.6 / greatest(ngrp - 1, 1) END)
                 / (n_tokens_grp / tot), 6) AS sample_weight
    FROM a, tot
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: per-language token share vs a target
    mix (en 40 %, rest equal), and the sampling weight that achieves it.
    One aggregation; output is language-cardinality-sized."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    return C.mixture_weights(sized, "lang", "n_tokens", targets={"en": 0.4})


@register(
    "corpus_source_overlap",
    # word-5-gram shingles, 1-indexed DuckDB arrays: i = 1 .. len-4;
    # keyed on the 64-bit md5 prefix exactly like the Spark side
    oracle="""
    WITH t AS (
      SELECT source, regexp_split_to_array(trim(text), '\\s+') AS a FROM documents
    ),
    h AS (
      SELECT DISTINCT src, substr(md5(shingle), 1, 16) AS shingle_key
      FROM (
        SELECT source AS src,
               unnest(list_transform(range(1, len(a) - 3),
                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                                || a[i+3] || ' ' || a[i+4])) AS shingle
        FROM t WHERE len(a) >= 5
      )
    )
    SELECT a.src AS source_a,
           b.src AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM h a JOIN h b ON a.shingle_key = b.shingle_key AND a.src < b.src
    GROUP BY 1, 2
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate contamination matrix
    (operators/corpus.py:source_overlap): distinct (source, shingle-key)
    pairs — 64-bit md5-prefix keys, never n-gram text — grouped by key,
    counted per unordered source pair. The pre-mixing provenance report
    of a curation pipeline."""
    from ..operators.corpus import source_overlap

    return source_overlap(load_table(spark, sf_dir, "documents"), n=5)


@register(
    "corpus_split_assign",
    # same keyed-hash range logic, reconstructed in SQL: first 4 md5 hex
    # chars compare as the 16-bit integer they encode
    oracle="""
    WITH k AS (
      SELECT doc_id, SUBSTR(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS k4
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN k4 < '028f' THEN 'test'
                WHEN k4 < '051e' THEN 'val'
                ELSE 'train' END AS split
    FROM k
    """,
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment
    (operators/corpus.py:split_assign), 1%/1% holdouts: contiguous keyed-
    hash ranges so membership is stable as the corpus grows. Map-side
    only — at 100 TB this is a free column, not a job."""
    from ..operators.corpus import split_assign

    return split_assign(load_table(spark, sf_dir, "documents"), test_pct=0.01, val_pct=0.01)


@register(
    "text_bm25_topk",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    terms_f AS (SELECT * FROM terms WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms_f GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM terms_f GROUP BY 1),
    -- N = all distinct input docs (tfidf's definition); avgdl over docs
    -- with >= 1 token (standard Okapi denominator)
    stats AS (SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS n,
                     avg(dl) AS avgdl FROM dl),
    idf AS (SELECT term, ln((s.n - df + 0.5) / (df + 0.5) + 1) AS idf
            FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1), stats s),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(idf.idf * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6) AS bm25
      FROM tf JOIN dl ON dl.doc_id = tf.doc_id
      JOIN idf ON idf.term = tf.term
      CROSS JOIN stats s
    ),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                            ORDER BY bm25 DESC, term) AS INT) AS rn
          FROM scored)
    SELECT doc_id, term, bm25, rn FROM r WHERE rn <= 3
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 BM25 terms per document (operators/corpus.py:bm25_topk) —
    Okapi tf-saturation + length normalization, k1=1.2 b=0.75."""
    from ..operators.corpus import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), k=3)


@register(
    "corpus_split_leakage",
    # deterministic split (1%/1% keyed-hash ranges) then cross-split
    # 5-gram contamination: every test/val doc with any shingle shared
    # with ANY train doc. Composition of split_assign + decontaminate.
    oracle="""
    WITH k AS (
      SELECT doc_id, text,
             SUBSTR(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS k4
      FROM documents
    ),
    lab AS (SELECT doc_id, text,
                   CASE WHEN k4 < '028f' THEN 'test'
                        WHEN k4 < '051e' THEN 'val'
                        ELSE 'train' END AS split
            FROM k),
    t AS (SELECT doc_id, split, regexp_split_to_array(trim(text), '\\s+') AS a FROM lab),
    sh AS (SELECT DISTINCT doc_id, split, substr(md5(shingle), 1, 16) AS shingle_key
           FROM (SELECT doc_id, split,
                        unnest(list_transform(range(1, len(a) - 3),
                               i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                                    || a[i+3] || ' ' || a[i+4])) AS shingle
                 FROM t WHERE len(a) >= 5)),
    tr AS (SELECT DISTINCT shingle_key FROM sh WHERE split = 'train'),
    ev AS (SELECT * FROM sh WHERE split <> 'train'),
    per AS (SELECT ev.doc_id, ev.split,
                   CAST(count(*) AS BIGINT)              AS n_shingles,
                   CAST(count(tr.shingle_key) AS BIGINT) AS n_train_hits
            FROM ev LEFT JOIN tr ON ev.shingle_key = tr.shingle_key
            GROUP BY ev.doc_id, ev.split)
    SELECT l.doc_id, l.split,
           coalesce(n_shingles, 0)     AS n_shingles,
           coalesce(n_train_hits, 0)   AS n_train_hits,
           (coalesce(n_train_hits, 0) > 0) AS leaked
    FROM (SELECT doc_id, split FROM lab WHERE split <> 'train') l
    LEFT JOIN per ON per.doc_id = l.doc_id
    """,
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→holdout leakage report: deterministic split assignment
    (operators/corpus.py:split_assign) composed with shingle
    decontamination — every test/val document sharing any word-5-gram with
    the training split is flagged before the eval set is trusted. Scale
    shape: the split label rides through the shingle explode as a map-side
    keep_col (no corpus-wide join to re-attach it), per-document distinct
    is row-local, and everything downstream is keyed on the 64-bit
    md5-prefix shingle key — the train-side distinct and the
    holdout↔train join ship fixed-width keys, never n-gram text. The
    holdout never decides anything by luck: assignments are the same
    keyed-hash ranges the split operator itself uses."""
    from ..operators.corpus import split_assign
    from ..operators.dedup import hashed_shingles

    docs = load_table(spark, sf_dir, "documents")
    # keep_cols keeps the labeling a pure projection — no corpus-wide join
    # just to attach the split column
    labeled = split_assign(docs, test_pct=0.01, val_pct=0.01, keep_cols=("text",))
    sh = hashed_shingles(labeled, "doc_id", "text", n=5, keep_cols=("split",))
    train_sh = sh.filter(F.col("split") == "train").select("shingle_key").distinct()
    holdout_sh = sh.filter(F.col("split") != "train")
    per = (
        holdout_sh.join(
            train_sh.withColumn("_hit", F.lit(1)), "shingle_key", "left"
        )
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_train_hits"),
        )
    )
    base = labeled.filter(F.col("split") != "train").select("doc_id", "split")
    return base.join(per, ["doc_id", "split"], "left").select(
        "doc_id",
        "split",
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_train_hits", F.lit(0)).alias("n_train_hits"),
        (F.coalesce("n_train_hits", F.lit(0)) > 0).alias("leaked"),
    )


@register(
    "corpus_chunk_dedup",
    oracle="""
    WITH meta AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
               CAST(ceil(len(regexp_split_to_array(trim(text), '\\s+')) / 8.0) AS INT)
                   AS nc
        FROM documents
    ),
    idxs AS (SELECT doc_id, t, unnest(range(0, nc)) AS idx FROM meta),
    chunks AS (
        SELECT doc_id, CAST(idx AS INT) AS idx,
               array_to_string(t[(idx*8+1):(idx*8+8)], ' ') AS chunk
        FROM idxs
    ),
    ranked AS (
        SELECT doc_id, idx, chunk,
               row_number() OVER (PARTITION BY substring(md5(chunk), 1, 16)
                                  ORDER BY doc_id, idx) AS rn
        FROM chunks
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
               string_agg(chunk, ' ' ORDER BY idx) AS text_clean
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT m.doc_id, m.nc AS n_chunks,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.text_clean, '') AS text_clean
    FROM meta m LEFT JOIN agg a ON m.doc_id = a.doc_id
    """,
)
def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style chunk dedup with reassembly: first occurrence of every
    8-word chunk wins corpus-wide; each document is rebuilt from its
    surviving chunks. Text crosses exactly ONE exchange (the reassembly
    join) — the rank and keep-list shuffles move fixed-width hash keys
    and (id, idx) pairs only (operators/corpus.py:chunk_dedup)."""
    from ..operators.corpus import chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return chunk_dedup(docs, "doc_id", "text", chunk_words=8)


@register(
    "corpus_unigram_surprisal",
    oracle="""
    WITH terms AS (
        SELECT doc_id, lower(t) AS term
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    total AS (SELECT sum(cnt) AS n_total FROM vocab)
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           round(sum(tf.tf * (-log2(vocab.cnt / total.n_total))) / sum(tf.tf), 6)
               AS bits_per_token
    FROM tf JOIN vocab USING (term), total
    GROUP BY tf.doc_id
    """,
)
def corpus_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM self-perplexity per document (mean token surprisal in
    bits under the corpus's own MLE unigram distribution) — the LM-based
    quality axis with tfidf's shuffle economics
    (operators/corpus.py:unigram_logprob)."""
    docs = load_table(spark, sf_dir, "documents")
    return C.unigram_logprob(docs, "doc_id", "text")


@register(
    "corpus_trigram_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                          x -> lower(x)), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               t[i + 1] AS w,
               CASE WHEN i >= 1 THEN t[i] ELSE '<s> ' END AS w1,
               CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s> ' END AS w2
        FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i FROM toks)
    ),
    dtf AS (SELECT doc_id, w2, w1, w, count(*) AS tf
            FROM grams GROUP BY doc_id, w2, w1, w),
    tri AS (SELECT w2, w1, w, sum(tf) AS c3 FROM dtf GROUP BY w2, w1, w),
    ctx2 AS (SELECT w2, w1, sum(c3) AS cc2 FROM tri GROUP BY w2, w1),
    big AS (SELECT w1, w, sum(c3) AS c2 FROM tri GROUP BY w1, w),
    ctx1 AS (SELECT w1, sum(c3) AS cc1 FROM tri GROUP BY w1),
    uni AS (SELECT w, sum(c3) AS c1 FROM tri GROUP BY w),
    total AS (SELECT sum(c3) AS n_total FROM tri),
    model AS (
        SELECT tri.w2, tri.w1, tri.w,
               -log2(0.6 * (tri.c3 / ctx2.cc2) + 0.3 * (big.c2 / ctx1.cc1)
                     + 0.1 * (uni.c1 / total.n_total)) AS bits
        FROM tri
        JOIN ctx2 USING (w2, w1)
        JOIN big USING (w1, w)
        JOIN ctx1 USING (w1)
        JOIN uni USING (w), total
    )
    SELECT dtf.doc_id, CAST(sum(dtf.tf) AS BIGINT) AS n_tokens,
           round(sum(dtf.tf * model.bits) / sum(dtf.tf), 6) AS bits_per_token
    FROM dtf JOIN model USING (w2, w1, w)
    GROUP BY dtf.doc_id
    """,
)
def corpus_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram-LM self-perplexity per document (CCNet's
    quality axis, Jelinek-Mercer 0.6/0.3/0.1 over trigram/bigram/unigram
    MLE counts, BOS-padded contexts). The whole model pyramid derives
    from the distinct-trigram relation, so the exploded token stream
    crosses exactly one exchange (operators/corpus.py:trigram_logprob)."""
    docs = load_table(spark, sf_dir, "documents")
    return C.trigram_logprob(docs, "doc_id", "text")




@register(
    "corpus_trigram_scored_heldout",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                          x -> lower(x)), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               t[i + 1] AS w,
               CASE WHEN i >= 1 THEN t[i] ELSE '<s> ' END AS w1,
               CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s> ' END AS w2
        FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i FROM toks)
    ),
    tr AS (SELECT w2, w1, w, count(*) AS c3 FROM grams
           WHERE doc_id % 10 < 8 GROUP BY w2, w1, w),
    tri_p AS (
        SELECT w2, w1, w, c3 / cc2 AS p3 FROM (
            SELECT tr.w2, tr.w1, tr.w, tr.c3, s.cc2,
                   row_number() OVER (PARTITION BY tr.w2, tr.w1
                                      ORDER BY tr.c3 DESC, tr.w ASC) AS rn
            FROM tr JOIN (SELECT w2, w1, sum(c3) AS cc2 FROM tr
                          GROUP BY w2, w1) s USING (w2, w1)
        ) WHERE rn <= 4
    ),
    big AS (SELECT w1, w, sum(c3) AS c2 FROM tr GROUP BY w1, w),
    big_p AS (
        SELECT w1, w, c2 / cc1 AS p2 FROM (
            SELECT big.w1, big.w, big.c2, s.cc1,
                   row_number() OVER (PARTITION BY big.w1
                                      ORDER BY big.c2 DESC, big.w ASC) AS rn
            FROM big JOIN (SELECT w1, sum(c3) AS cc1 FROM tr GROUP BY w1) s
              USING (w1)
        ) WHERE rn <= 4
    ),
    uni AS (SELECT w, sum(c3) AS c1 FROM tr GROUP BY w),
    total AS (SELECT sum(c3) AS n_total FROM tr),
    stf AS (SELECT doc_id, w2, w1, w, count(*) AS tf FROM grams
            WHERE doc_id % 10 >= 8 GROUP BY doc_id, w2, w1, w),
    scored AS (
        SELECT stf.doc_id, stf.tf, uni.c1,
               greatest(
                   0.6 * coalesce(tri_p.p3, 0.0) + 0.3 * coalesce(big_p.p2, 0.0)
                   + 0.1 * (coalesce(uni.c1, 0) / total.n_total),
                   0.1 * (0.5 / total.n_total)) AS p
        FROM stf
        LEFT JOIN tri_p USING (w2, w1, w)
        LEFT JOIN big_p USING (w1, w)
        LEFT JOIN uni USING (w), total
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * (-log2(p))) / sum(tf), 6) AS bits_per_token,
           CAST(sum(CASE WHEN c1 IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov
    FROM scored GROUP BY doc_id
    """,
)
def corpus_trigram_scored_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned-broadcast trigram-LM serving (the CCNet deployment shape):
    the model trains on the doc_id % 10 < 8 slice, prunes to the top-4
    continuations per context (count desc, word asc — deterministic),
    broadcasts, and scores the held-out 20% map-side; pruned/unseen
    terms contribute zero mass and fully-novel tokens hit the
    deterministic floor and are counted as OOV
    (operators/corpus.py:trigram_logprob_heldout)."""
    docs = load_table(spark, sf_dir, "documents")
    return C.trigram_logprob_heldout(
        docs.filter(F.col("doc_id") % 10 < 8),
        docs.filter(F.col("doc_id") % 10 >= 8),
        topk=4,
    )


@register(
    "corpus_shuffle_order",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               md5(doc_id::VARCHAR || ':epoch0') AS shuffle_key
        FROM documents
    )
    SELECT doc_id, source, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
               AS train_order
    FROM r
    """,
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: rank documents by a keyed hash
    (salt = epoch tag) so the data order is (a) statistically shuffled,
    (b) identical on every rerun/engine, and (c) re-derivable per epoch by
    changing the salt — no RNG state to checkpoint. The global rank is a
    single range-partitioned sort of narrow (id, 32-char key) rows; at
    100 TB the sort ships no document bodies (join order back by id, or
    write bucketed by range)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0")))
    from pyspark.sql import Window as W

    w = W.orderBy("shuffle_key", "doc_id")
    return (
        docs.withColumn("shuffle_key", key)
        .withColumn("train_order", F.row_number().over(w).cast("bigint"))
    )


@register(
    "corpus_hll_calibration",
    # the oracle can't reproduce Spark's HLL++ registers, so the CONTRACT
    # is checked instead (the KMV-calibration pattern): exact distinct
    # count per source + a boolean asserting the sketch landed within 3x
    # its configured rsd. HLL register-merge is max() — commutative and
    # associative — so the estimate is partition-order-deterministic and
    # the boolean is stable run to run.
    oracle="""
    WITH t AS (
        SELECT source, doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    )
    SELECT source,
           CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct,
           true AS within_3rsd
    FROM t GROUP BY source
    """,
)
def corpus_hll_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in HLL++ sketch under a calibration gate: per-source distinct
    token count, exact vs approx_count_distinct(rsd=0.05), asserting the
    estimate lands within 3·rsd of truth. At 100 TB the sketch is the
    only affordable distinct count — registers merge map-side (max), one
    tiny shuffle — and this query keeps its error contract executable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    agg = toks.groupBy("source").agg(
        F.countDistinct("tok").cast("bigint").alias("exact_distinct"),
        F.approx_count_distinct("tok", rsd=0.05).alias("_approx"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_distinct")) / F.col("exact_distinct")
    return agg.select(
        "source", "exact_distinct", (err <= 0.15).alias("within_3rsd")
    )


@register(
    "corpus_health_report",
    # the per-source dashboard a curation run publishes: volume, token
    # mass, quality-rule pass rate, PII incidence — all map-side column
    # ops composed in ONE pass over the corpus, one aggregation shuffle.
    oracle=f"""
    WITH t AS (
        SELECT source,
               regexp_split_to_array(trim(text), '\\s+') AS toks,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / greatest(length(text), 1) AS alpha_ratio,
               concat_ws(' ', substring(text, 1, 40),
                   CASE WHEN doc_id % 3 = 0 THEN 'contact user' || doc_id
                             || '@mail-' || (doc_id % 7) || '.com' END) AS pii_text
        FROM documents
    ),
    m AS (
        SELECT source,
               len(toks) AS n_tok,
               list_sum(list_transform(toks, x -> length(x)))
                   / greatest(len(toks), 1) AS mean_len,
               alpha_ratio,
               len(regexp_extract_all(pii_text,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS n_email
        FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_tok >= 10 AND mean_len >= 2.0 AND mean_len <= 12.0
                          AND alpha_ratio >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_core_rules,
           CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_email
    FROM m GROUP BY source
    """,
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus health dashboard: volume, token mass, core
    quality-rule pass count (length/word-len/alpha), and PII incidence —
    every metric a map-side column expression, composed in one scan and
    one aggregation shuffle. The composition query: the same operators
    that run standalone (quality rules, PII counts, token stats) stacked
    into a single whole-stage-codegen pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    n_tok = F.size("toks")
    mean_len = F.aggregate(
        "toks", F.lit(0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_tok, F.lit(1))
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    d = F.col("doc_id")
    pii_text = F.concat_ws(
        " ",
        F.substring("text", 1, 40),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("contact user"), d.cast("string"),
                F.lit("@mail-"), (d % 7).cast("string"), F.lit(".com"),
            ),
        ),
    )
    from ..operators.pii import EMAIL_RE

    n_email = F.size(F.regexp_extract_all(pii_text, F.lit(EMAIL_RE), F.lit(0)))
    m = docs.withColumn("toks", toks).select(
        "source",
        n_tok.alias("n_tok"),
        mean_len.alias("mean_len"),
        alpha_ratio.alias("alpha_ratio"),
        n_email.alias("n_email"),
    )
    pass_core = (
        (F.col("n_tok") >= 10)
        & (F.col("mean_len") >= 2.0)
        & (F.col("mean_len") <= 12.0)
        & (F.col("alpha_ratio") >= 0.6)
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(pass_core.cast("int")).cast("bigint").alias("n_pass_core_rules"),
        F.sum((F.col("n_email") > 0).cast("int")).cast("bigint").alias("n_docs_with_email"),
    )


@register(
    "corpus_ngram_novelty",
    # same 3-gram md5-prefix key CTE as the dedup family (queries/dedup.py)
    # so shingle text stays off the wire on the Spark side and DuckDB
    # computes bit-identical keys.
    oracle=r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
               FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(a) - 1),
                         i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
           FROM t WHERE len(a) >= 3),
    hsh AS (SELECT DISTINCT doc_id, substr(md5(shingle), 1, 16) AS shingle_key
            FROM sh),
    fst AS (SELECT shingle_key, min(doc_id) AS fd FROM hsh GROUP BY shingle_key)
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.fd = h.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           round(sum(CASE WHEN f.fd = h.doc_id THEN 1 ELSE 0 END)
                 / count(*), 6) AS novelty_ratio
    FROM hsh h JOIN fst f USING (shingle_key)
    GROUP BY h.doc_id
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty curve (operators/corpus.py:ngram_novelty):
    fraction of each document's distinct 3-gram shingles first seen in
    that document. Two fixed-width-key shuffles + one id-keyed agg —
    shingle text never crosses an exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return C.ngram_novelty(docs, "doc_id", "text", n=3)


@register(
    "corpus_js_divergence",
    # distribution-shift monitor: JS divergence between two sources'
    # token distributions. Per-token contributions are fixed IEEE
    # expressions over exact count ratios, rounded to 9 dp and summed in
    # DECIMAL so the corpus total is engine-exact.
    oracle=r"""
    WITH t AS (
        SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    g AS (SELECT tok,
                 count(*) FILTER (WHERE source = 'src0') AS cp,
                 count(*) FILTER (WHERE source = 'src1') AS cq
          FROM t WHERE tok <> '' GROUP BY tok),
    tt AS (SELECT CAST(sum(cp) AS DOUBLE) AS tp,
                  CAST(sum(cq) AS DOUBLE) AS tq FROM g),
    c AS (SELECT tok, cp / tp AS p, cq / tq AS q,
                 (cp / tp + cq / tq) / 2 AS mm
          FROM g, tt),
    k AS (SELECT tok, p, q,
                 CAST(round(
                    0.5 * (CASE WHEN p > 0 THEN p * log2(p / mm) ELSE 0 END)
                  + 0.5 * (CASE WHEN q > 0 THEN q * log2(q / mm) ELSE 0 END),
                 9) AS DECIMAL(18,9)) AS contrib
          FROM c)
    SELECT tok,
           round(p, 6) AS p_src0,
           round(q, 6) AS q_src1,
           CAST(contrib AS DOUBLE) AS js_contribution,
           round(CAST(sum(contrib) OVER () AS DOUBLE), 6) AS js_total
    FROM k ORDER BY contrib DESC, tok LIMIT 10
    """,
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' token
    distributions — the drift monitor a training-data pipeline runs
    between crawl snapshots/sources before mixing them. One conditional
    aggregation shuffle on the token key, a broadcast 1-row totals
    relation, per-token contributions summed in DECIMAL (engine-exact
    total), top-10 shifted tokens reported with the corpus-level JS."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    g = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("cq"),
    )
    tt = g.agg(
        F.sum("cp").cast("double").alias("tp"),
        F.sum("cq").cast("double").alias("tq"),
    )
    c = g.crossJoin(F.broadcast(tt)).select(
        "tok",
        (F.col("cp") / F.col("tp")).alias("p"),
        (F.col("cq") / F.col("tq")).alias("q"),
        ((F.col("cp") / F.col("tp") + F.col("cq") / F.col("tq")) / 2).alias("mm"),
    )
    term = lambda x: F.when(
        F.col(x) > 0, F.col(x) * F.log2(F.col(x) / F.col("mm"))
    ).otherwise(F.lit(0.0))
    k = c.select(
        "tok",
        "p",
        "q",
        F.round(0.5 * term("p") + 0.5 * term("q"), 9)
        .cast("decimal(18,9)")
        .alias("contrib"),
    )
    wall = W.partitionBy()
    return (
        k.select(
            "tok",
            F.round("p", 6).alias("p_src0"),
            F.round("q", 6).alias("q_src1"),
            F.col("contrib").cast("double").alias("js_contribution"),
            F.round(F.sum("contrib").over(wall).cast("double"), 6).alias(
                "js_total"
            ),
        )
        .orderBy(F.desc("js_contribution"), F.asc("tok"))
        .limit(10)
    )


@register(
    "corpus_split_ks_test",
    # two-sample Kolmogorov-Smirnov on document length between the
    # train/val splits: D = max ECDF gap over the distinct-value
    # relation; ECDF values are exact integer ratios so each gap is the
    # identical IEEE number in both engines. Critical value expressed as
    # the same formula (sqrt(-ln(a/2)/2)) rather than a decimal literal.
    oracle="""
    WITH a AS (
        SELECT n_chars,
               CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                         < '3333' THEN 'val' ELSE 'train' END AS split
        FROM documents
    ),
    g AS (SELECT n_chars,
                 count(*) FILTER (WHERE split = 'train') AS ct,
                 count(*) FILTER (WHERE split = 'val')   AS cv
          FROM a GROUP BY n_chars),
    c AS (SELECT n_chars,
                 sum(ct) OVER (ORDER BY n_chars) AS cum_t,
                 sum(cv) OVER (ORDER BY n_chars) AS cum_v,
                 sum(ct) OVER () AS n_t, sum(cv) OVER () AS n_v
          FROM g),
    d AS (SELECT max(abs(cum_t / CAST(n_t AS DOUBLE)
                         - cum_v / CAST(n_v AS DOUBLE))) AS ks_d,
                 max(n_t) AS n_train, max(n_v) AS n_val
          FROM c)
    SELECT CAST(n_train AS BIGINT) AS n_train,
           CAST(n_val AS BIGINT)   AS n_val,
           round(ks_d, 6)          AS ks_d,
           round(sqrt(-ln(0.025) / 2)
                 * sqrt((n_train + n_val) / (CAST(n_train AS DOUBLE) * n_val)),
                 6) AS ks_crit_05,
           ks_d <= sqrt(-ln(0.025) / 2)
                   * sqrt((n_train + n_val) / (CAST(n_train AS DOUBLE) * n_val))
               AS split_uniform_ok
    FROM d
    """,
)
def corpus_split_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-quality gate: two-sample KS test on document length between
    the deterministic train/val splits (20% holdout via the shared
    keyed-hash ranges). A biased splitter (e.g. hashing something
    correlated with length) fails this before any model ever trains on
    the leak. One aggregation to the distinct-length relation, one
    ordered window over it — at 100 TB the windowed relation is
    value-histogram-sized, not corpus-sized."""
    from ..operators.corpus import split_assign

    docs = load_table(spark, sf_dir, "documents")
    a = split_assign(
        docs, test_pct=0.0, val_pct=0.2, keep_cols=("n_chars",)
    )
    g = a.groupBy("n_chars").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
    )
    w_ord = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    c = g.select(
        (F.sum("ct").over(w_ord)).alias("cum_t"),
        (F.sum("cv").over(w_ord)).alias("cum_v"),
        F.sum("ct").over(wall).alias("n_t"),
        F.sum("cv").over(wall).alias("n_v"),
    )
    d = c.agg(
        F.max(
            F.abs(
                F.col("cum_t") / F.col("n_t").cast("double")
                - F.col("cum_v") / F.col("n_v").cast("double")
            )
        ).alias("ks_d"),
        F.max("n_t").alias("n_train"),
        F.max("n_v").alias("n_val"),
    )
    crit = F.sqrt(F.lit(-1.0) * F.log(F.lit(0.025)) / 2) * F.sqrt(
        (F.col("n_train") + F.col("n_val"))
        / (F.col("n_train").cast("double") * F.col("n_val"))
    )
    return d.select(
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_val").cast("bigint").alias("n_val"),
        F.round("ks_d", 6).alias("ks_d"),
        F.round(crit, 6).alias("ks_crit_05"),
        (F.col("ks_d") <= crit).alias("split_uniform_ok"),
    )


@register(
    "corpus_template_prefixes",
    oracle="""
    WITH p AS (
        SELECT doc_id, substr(md5(substr(text, 1, 80)), 1, 16) AS pfx_key,
               substr(text, 1, 40) AS sample_prefix
        FROM documents
    ),
    g AS (SELECT pfx_key, count(*) AS n_docs,
                 min(doc_id) AS exemplar_id,
                 min(sample_prefix) AS sample_prefix
          FROM p GROUP BY pfx_key
          HAVING count(*) >= 3)
    SELECT pfx_key, CAST(n_docs AS BIGINT) AS n_docs,
           exemplar_id, sample_prefix
    FROM g
    """,
)
def corpus_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection: documents sharing an identical
    80-char prefix (hashed to a fixed-width key so no text crosses the
    exchange) grouped into template clusters of >= 3 — the cheap first
    pass that catches scraped headers, cookie banners and license
    preambles before the expensive near-dup machinery runs. One
    fixed-width-key aggregation; a 40-char sample rides along map-side
    for triage."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        F.substring(F.md5(F.substring("text", 1, 80)), 1, 16).alias("pfx_key"),
        F.substring("text", 1, 40).alias("sample_prefix"),
    )
    return (
        p.groupBy("pfx_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("exemplar_id"),
            F.min("sample_prefix").alias("sample_prefix"),
        )
        .filter(F.col("n_docs") >= 3)
    )


@register(
    "corpus_perplexity_buckets",
    # CCNet-style tertile bucketing of the unigram surprisal: head =
    # lowest-perplexity third, tail = highest. ntile runs over the
    # per-document surprisal relation (doc_id tiebreak), and the bucket
    # summary emits decimal-exact token mass per bucket.
    oracle=r"""
    WITH terms AS (
        SELECT doc_id, lower(t) AS term
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    total AS (SELECT sum(cnt) AS n_total FROM vocab),
    d AS (SELECT tf.doc_id,
                 CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                 round(sum(tf.tf * (-log2(vocab.cnt / total.n_total)))
                       / sum(tf.tf), 6) AS bpt
          FROM tf JOIN vocab USING (term), total
          GROUP BY tf.doc_id),
    b AS (SELECT doc_id, n_tokens, bpt,
                 ntile(3) OVER (ORDER BY bpt, doc_id) AS bucket
          FROM d)
    SELECT CAST(bucket AS INT) AS bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_name,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(min(bpt), 6) AS min_bpt,
           round(max(bpt), 6) AS max_bpt
    FROM b GROUP BY bucket
    """,
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: documents split into
    head/middle/tail tertiles by unigram surprisal — the standard
    recipe keeps head+middle for training and inspects the tail. The
    ntile runs over the per-document surprisal relation (one row per
    doc, deterministic tiebreak); bucket stats are one |3|-group
    aggregate. At true scale swap ntile for approx-quantile cut points
    exactly as events_rfm_segments notes."""
    from pyspark.sql import Window as _W

    docs = load_table(spark, sf_dir, "documents")
    d = C.unigram_logprob(docs, "doc_id", "text")
    b = d.select(
        "n_tokens",
        "bits_per_token",
        F.ntile(3).over(_W.orderBy("bits_per_token", "doc_id")).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.min("bits_per_token"), 6).alias("min_bpt"),
            F.round(F.max("bits_per_token"), 6).alias("max_bpt"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail")
            .alias("bucket_name"),
            "n_docs",
            "n_tokens",
            "min_bpt",
            "max_bpt",
        )
    )


@register(
    "corpus_perplexity_buckets_approx",
    # The 100 TB form of the tertile bucketing: approx_percentile cut
    # points instead of a global ntile sort. The sketch value itself is
    # not engine-reproducible, so the oracle checks the CONTRACT (the
    # events_approx_quantile_calibration pattern): exact corpus totals +
    # booleans asserting each bucket's share landed within ±5% of the
    # exact third and the cut points are ordered.
    oracle=r"""
    WITH terms AS (
        SELECT doc_id, lower(t) AS term
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    total AS (SELECT sum(cnt) AS n_total FROM vocab),
    d AS (SELECT tf.doc_id,
                 CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                 round(sum(tf.tf * (-log2(vocab.cnt / total.n_total)))
                       / sum(tf.tf), 6) AS bpt
          FROM tf JOIN vocab USING (term), total
          GROUP BY tf.doc_id)
    SELECT CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           true AS head_share_ok,
           true AS middle_share_ok,
           true AS tail_share_ok,
           true AS cuts_ordered
    FROM d
    """,
)
def corpus_perplexity_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity bucketing, scale path: tertile CUT POINTS come from one
    ``approx_percentile`` pass (bounded GK summaries, map-side mergeable
    — the only affordable quantile at 100 TB) and bucket assignment is a
    map-side comparison against the broadcast 1-row cut relation; no
    global sort, no ntile window over the corpus. The exact sibling
    (corpus_perplexity_buckets) pins the values; this one pins the
    contract — each bucket's share within ±5% of a third (GK rank error
    is ≤0.1% at accuracy 1000; the slack absorbs surprisal ties) and
    ordered cut points — so the 100 TB form is itself under test."""
    docs = load_table(spark, sf_dir, "documents")
    d = C.unigram_logprob(docs, "doc_id", "text").select(
        "n_tokens", "bits_per_token"
    )
    cuts = d.agg(
        F.expr(
            "approx_percentile(bits_per_token, array(0.3333333, 0.6666667), 1000)"
        ).alias("c")
    ).select(F.col("c")[0].alias("c1"), F.col("c")[1].alias("c2"))
    b = d.crossJoin(F.broadcast(cuts)).select(
        "n_tokens",
        F.when(F.col("bits_per_token") <= F.col("c1"), 1)
        .when(F.col("bits_per_token") <= F.col("c2"), 2)
        .otherwise(3)
        .alias("bucket"),
        "c1",
        "c2",
    )
    tol = 0.05
    share = lambda k: (
        F.sum(F.when(F.col("bucket") == k, 1).otherwise(0))
        / F.count(F.lit(1)).cast("double")
    )
    ok = lambda k: (
        (share(k) >= F.lit(1.0 / 3 - tol)) & (share(k) <= F.lit(1.0 / 3 + tol))
    )
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        ok(1).alias("head_share_ok"),
        ok(2).alias("middle_share_ok"),
        ok(3).alias("tail_share_ok"),
        (F.max("c1") <= F.max("c2")).alias("cuts_ordered"),
    )


@register(
    "corpus_decontaminate_fuzzy",
    # The admission oracle with the roles recast: the LSH index is built
    # over the EVAL suite (doc_id % 97 == 0) and every TRAIN document
    # probes it — one row per train doc with its best fuzzy eval match.
    oracle=None,  # assigned below: _INCR_ADMISSION_ORACLE with swapped splits
)
def corpus_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination — the Dolma/FineWeb recipe when eval
    contamination is paraphrased rather than verbatim: exact shingle
    membership (corpus_decontaminate) misses edited copies, so the train
    set LSH-probes an index built over the eval suite and every train
    document gets its best verified-Jaccard eval match plus a
    contamination verdict (jaccard >= 0.5). Reuses the incremental-
    admission machinery with the roles recast
    (operators/dedup.py:build_corpus_lsh_index over EVAL — the SMALL
    side, so the index is eval-suite-sized — probed by the train
    stream; candidates are train-bands x bucket bounded, never
    train x eval)."""
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    buckets, shingles, sizes = D.build_corpus_lsh_index(eval_df)
    return D.probe_corpus_lsh_index(
        buckets, shingles, sizes, train, threshold=0.5
    ).withColumnRenamed("is_dup", "contaminated").withColumnRenamed(
        "best_old_id", "best_eval_id"
    )


@register(
    "corpus_decontaminate_bloom",
    # SAME oracle as corpus_decontaminate: the Bloom stage is
    # semantically transparent, so any prefilter bug that drops or
    # duplicates a hit breaks the hash.
    oracle=f"""
    WITH {_SH5_CTE},
    ev AS (SELECT DISTINCT shingle_key FROM hsh WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM hsh WHERE doc_id % 97 <> 0),
    per AS (SELECT tr.doc_id,
                   CAST(count(*) AS BIGINT)        AS n_shingles,
                   CAST(count(ev.shingle_key) AS BIGINT) AS n_hits
            FROM tr LEFT JOIN ev ON tr.shingle_key = ev.shingle_key
            GROUP BY tr.doc_id)
    SELECT d.doc_id,
           coalesce(n_shingles, 0) AS n_shingles,
           coalesce(n_hits, 0)     AS n_hits,
           (coalesce(n_hits, 0) > 0) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination
    (operators/corpus.py:decontaminate_bloom): the eval shingle set
    compresses to a ≤2^16-row occupied-position relation probed map-side
    on the train stream, so the exact membership join touches candidates
    only — the shape for LARGE eval suites whose raw shingle broadcast
    would not fit. Row-identical to corpus_decontaminate under the same
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return C.decontaminate_bloom(train, eval_df, "doc_id", "text", n=5)


# corpus_decontaminate_fuzzy shares the admission oracle's CTE chain with
# the roles recast: index side = eval (% 97 == 0), probe side = train.
from .advanced import _INCR_ADMISSION_ORACLE as _ADM
from . import ORACLES as _ORACLES

_ORACLES["corpus_decontaminate_fuzzy"] = (
    _ADM.replace("doc_id % 10 <> 0", "doc_id % 97 = 0")
    .replace("doc_id % 10 = 0", "doc_id % 97 <> 0")
    .replace("AS best_old_id", "AS best_eval_id")
    .replace("AS is_dup", "AS contaminated")
)


@register(
    "corpus_token_budget_plan",
    # Epoch planning for a fixed training-token budget: target shares per
    # language (the mixture_weights recipe), budget = half the corpus's
    # total tokens; per group the plan emits planned tokens, the epoch
    # count (upsampling ratio — how many times the group's data repeats),
    # and a >2-epoch repetition flag (the over-repetition warning line
    # from the data-constrained-scaling literature).
    oracle=r"""
    WITH t AS (SELECT lang,
                      len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
               FROM documents),
    a AS (SELECT lang, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens_grp
          FROM t GROUP BY lang),
    tot AS (SELECT CAST(sum(n_tokens_grp) AS BIGINT) AS tot,
                   count(*) AS ngrp FROM a)
    SELECT lang,
           n_tokens_grp AS available_tokens,
           CAST(floor((CASE WHEN lang = 'en' THEN 0.4
                            ELSE 0.6 / greatest(ngrp - 1, 1) END)
                      * (tot * 0.5)) AS BIGINT) AS planned_tokens,
           round(floor((CASE WHEN lang = 'en' THEN 0.4
                             ELSE 0.6 / greatest(ngrp - 1, 1) END)
                       * (tot * 0.5)) / n_tokens_grp, 6) AS epochs,
           (floor((CASE WHEN lang = 'en' THEN 0.4
                        ELSE 0.6 / greatest(ngrp - 1, 1) END)
                  * (tot * 0.5)) / n_tokens_grp > 2.0) AS over_repeated
    FROM a, tot
    """,
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planning — the step between mixture weights and
    an actual training run: given target shares per language and a total
    budget (here 0.5x the corpus), how many tokens does each group
    contribute and how many EPOCHS of its data does that mean?
    epochs > 1 is deliberate upsampling; > 2 epochs is flagged
    (diminishing returns from repeating data — the over-repetition
    guard). One groupBy + a broadcast 1-row total: the plan relation is
    |groups|-sized regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    a = docs.select("lang", toks.alias("n_tokens")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_grp"),
    )
    tot = a.agg(
        F.sum("n_tokens_grp").cast("bigint").alias("tot"),
        F.count(F.lit(1)).alias("ngrp"),
    )
    target = F.when(F.col("lang") == "en", F.lit(0.4)).otherwise(
        F.lit(0.6) / F.greatest(F.col("ngrp") - 1, F.lit(1))
    )
    planned = F.floor(target * (F.col("tot") * 0.5))
    return (
        a.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n_tokens_grp").alias("available_tokens"),
            planned.cast("bigint").alias("planned_tokens"),
            F.round(planned / F.col("n_tokens_grp"), 6).alias("epochs"),
            (planned / F.col("n_tokens_grp") > 2.0).alias("over_repeated"),
        )
    )
