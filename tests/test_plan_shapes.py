"""Plan-shape regression tests: make SCALE.md's promises executable.

These grep physical/analyzed plans so a future edit can't silently
reintroduce a scale-killer: a cartesian product, a forced broadcast of an
SF-proportional table (customer/supplier/orders/part grow with the data;
only schema-bounded relations like nation/region may carry hints — AQE
sizes everything else at runtime), an extra shuffle in the LSH paths, or a
scan that stops pushing filters / pruning columns.

All checks run on the INITIAL plan (AdaptiveSparkPlan isFinalPlan=false):
that is the plan our code forces; whatever AQE later improves at runtime is
allowed, but nothing bad may be forced up front.
"""

from __future__ import annotations

import re

import pytest

from spark_etl_framework_spark.queries import QUERIES

#: key columns of SF-proportional tables — these must never sit under a
#: forced broadcast hint (nation/region columns are fine: 25/5 rows forever)
_SF_TABLE_COLS = re.compile(
    r"\b(c_custkey|s_suppkey|o_orderkey|l_orderkey|p_partkey|ps_partkey)\b"
)

RELATIONAL = sorted(n for n in QUERIES if re.match(r"q\d+_", n))


def _initial_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hint_subtrees(df):
    """Yield the plan-string of every ResolvedHint subtree in the analyzed
    logical plan (the hints OUR code forced — AQE's runtime choices never
    appear here)."""
    out = []

    def walk(node):
        if node.nodeName() == "ResolvedHint":
            out.append(node.toString())
            return  # nested hints inside a hinted subtree are covered
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


@pytest.mark.parametrize("name", RELATIONAL)
def test_relational_no_cartesian_product(spark, sf_dir, name):
    plan = _initial_plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name} forces a cartesian product"


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_nation_volume",
        "q9_product_profit",
        "q18_large_orders",
    ],
)
def test_no_forced_broadcast_of_sf_proportional_tables(spark, sf_dir, name):
    """Round-1 regression: these queries once force-broadcast customer/
    supplier; at 100 TB that OOMs. Any remaining hint may wrap only
    schema-bounded relations (nation/region)."""
    for subtree in _hint_subtrees(QUERIES[name](spark, sf_dir)):
        m = _SF_TABLE_COLS.search(subtree)
        assert m is None, (
            f"{name} forces a broadcast over an SF-proportional table "
            f"(saw {m.group(0)} under a ResolvedHint)"
        )


def test_lsh_pairs_exchange_budget(spark, sf_dir):
    """dedup_lsh_pairs promises: band keys are pure projection over the
    signature aggregate, so the whole plan needs exactly 3 exchanges
    (signature groupBy on doc_id, bucket groupBy on band key, final pair
    distinct) — a 4th means banding started shuffling on its own."""
    plan = _initial_plan(QUERIES["dedup_lsh_pairs"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 3, f"extra shuffle crept in:\n" + "\n".join(exchanges)


def test_simhash_pairs_exchange_budget(spark, sf_dir):
    plan = _initial_plan(QUERIES["dedup_simhash_pairs"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 5, f"extra shuffle crept in:\n" + "\n".join(exchanges)


@pytest.mark.parametrize(
    "name", ["dedup_exact", "dedup_minhash_signatures", "dedup_lsh_pairs", "dedup_simhash_pairs"]
)
def test_dedup_never_shuffles_document_bodies(spark, sf_dir, name):
    """The 100 TB contract of every dedup operator: shuffles carry digests,
    tokens, band keys — never the raw text column."""
    plan = _initial_plan(QUERIES[name](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\btext#\d+", line), (
                f"{name} shuffles the raw document body:\n{line.strip()}"
            )


def test_q6_scan_pushdown_and_pruning(spark, sf_dir):
    """Filters must reach the parquet scan and the scan must read only the
    four columns the query touches — a scan reading all of lineitem for a
    4-column aggregate is wrong at any scale."""
    plan = _initial_plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, "no parquet scan in q6 plan?"
    scan = scans[0]
    assert "PushedFilters: [" in scan and "l_shipdate" in scan.split("PushedFilters:")[1], (
        f"shipdate filter not pushed to scan:\n{scan}"
    )
    read_schema = scan.split("ReadSchema:")[1]
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in read_schema
    for col in ("l_orderkey", "l_partkey", "l_returnflag"):
        assert col not in read_schema, f"q6 scan reads unneeded column {col}"


def test_vector_topk_no_global_sort(spark, sf_dir):
    """Per-probe cosine top-k must group-limit BEFORE the shuffle
    (WindowGroupLimit Partial → exchange on probe_id → Final), never
    range-partition/global-sort the scored corpus."""
    plan = _initial_plan(QUERIES["vector_cosine_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, "per-partition group limit missing"
    assert "Exchange rangepartitioning" not in plan, "global sort of scores"


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    """The co-located join path SCALE.md prescribes for repeated big-big
    joins: both sides bucketed (and sorted) on the join key at write time →
    SortMergeJoin with ZERO exchanges. On a 100 TB warehouse this is the
    difference between shuffling the fact table on every query and never
    shuffling it at all."""
    from spark_etl_framework_spark.catalog import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable("_ps_li_bucketed")
        od.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable("_ps_od_bucketed")
        import pyspark.sql.functions as F

        j = spark.table("_ps_li_bucketed").join(
            spark.table("_ps_od_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _initial_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS _ps_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS _ps_od_bucketed")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout (partitionBy at write) must turn an equality
    filter on the partition column into PartitionFilters at the scan — the
    scan lists ONE directory instead of the whole dataset. At 100 TB,
    partition pruning on date/source/lang is the first and biggest I/O
    lever."""
    from spark_etl_framework_spark.catalog import load_table

    out = str(tmp_path / "docs_by_lang")
    load_table(spark, sf_dir, "documents").write.partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter("lang = 'en'").select("doc_id", "n_chars")
    plan = _initial_plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters:" in scan and "PushedFilters:" in scan, (
        f"scan line format changed, cannot audit pruning:\n{scan}"
    )
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "lang" in pf, f"partition filter not pushed:\n{scan}"
    # the row filter must NOT degrade to a post-scan Filter on lang
    assert "PushedFilters: []" in scan or "lang" not in scan.split("PushedFilters:")[1]


def test_source_overlap_single_shuffle_no_text(spark, sf_dir):
    """source_overlap's one-shuffle promise: distinct + the shingle groupBy
    + the tiny pair aggregation — and no exchange ever carries raw text."""
    plan = _initial_plan(QUERIES["corpus_source_overlap"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 3, "extra shuffle crept in:\n" + "\n".join(exchanges)
    for line in exchanges:
        assert not re.search(r"\btext#\d+", line), f"raw text shuffled:\n{line.strip()}"


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_signatures",
        "dedup_lsh_pairs",
        "dedup_lsh_verified_pairs",
        "dedup_minhash_estimate_error",
        "dedup_containment_pairs",
        "dedup_ngram_jaccard_topk",
        "corpus_decontaminate",
        "corpus_source_overlap",
        "corpus_split_leakage",
        "corpus_ngram_novelty",
    ],
)
def test_no_shingle_text_crosses_exchange(spark, sf_dir, name):
    """The round-4 dedup-family contract: raw shingle STRINGS (n words of
    text — several× corpus bytes at 100 TB) never cross an exchange. The
    MinHash path aggregates the non-distinct stream map-side (MIN is
    duplicate-insensitive); every set-arithmetic leg keys on
    hashed_shingles' fixed-width md5 prefix (column shingle_key — allowed;
    the regex matches the text column `shingle` only)."""
    plan = _initial_plan(QUERIES[name](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange" in line:
            m = re.search(r"\b(shingle|text)#\d+", line)
            assert m is None, (
                f"{name} shuffles raw shingle/document text:\n{line.strip()}"
            )


def test_minhash_signature_single_exchange(spark, sf_dir):
    """Deleting the shingle DISTINCT must leave the signature path exactly
    one hash exchange: the partially-aggregated k-min groupBy on doc_id
    (k × 32-byte digests per doc-partition). A 2nd exchange means the
    corpus-wide shingle distinct crept back in."""
    plan = _initial_plan(QUERIES["dedup_minhash_signatures"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, "signature path regained a shuffle:\n" + "\n".join(exchanges)


def test_bm25_idf_relation_never_force_broadcast(spark, sf_dir):
    """bm25_topk mirrors tfidf's Heaps'-law rationale: the vocabulary (idf)
    relation grows unboundedly with corpus size, so OUR code may hint only
    the 1-row aggregates (N, avgdl) — the idf join must stay unhinted for
    AQE to size at runtime. Every ResolvedHint must therefore wrap a
    GLOBAL (grouping-free → 1-row) Aggregate; a hint whose root is grouped
    or is the raw idf relation is a forced vocabulary broadcast."""
    for subtree in _hint_subtrees(QUERIES["text_bm25_topk"](spark, sf_dir)):
        root = subtree.splitlines()[1].strip().lstrip("+- ")
        # global aggregate prints ONE bracket group: `Aggregate [avg(..) AS _avgdl#..]`;
        # a grouped aggregate prints two: `Aggregate [term#..], [..]`
        assert re.fullmatch(r"Aggregate \[[^\[\]]*\]", root), (
            "bm25 forces a broadcast of a non-1-row relation:\n" + subtree[:400]
        )


def test_kmv_tournament_two_stage_window(spark, sf_dir):
    """kmv_distinct's exact k-min must stay a two-stage tournament: an
    inner row_number window partitioned by (grp, bucket) — many bounded
    tasks — then the outer merge window on grp over ≤ 32k candidate rows.
    A single window over the unbucketed group would sort a whole group's
    distinct-hash set in one task (the skew cliff at 100 TB)."""
    plan = _initial_plan(QUERIES["text_kmv_distinct"](spark, sf_dir))
    windows = [
        l for l in plan.splitlines()
        if "row_number() windowspecdefinition" in l
    ]
    assert len(windows) == 2, f"expected 2 window stages, saw {len(windows)}"
    assert any(re.search(r"windowspecdefinition\(grp#\d+, b#\d+", l) for l in windows), (
        "inner tournament stage lost its bucket key — single-task group sort:\n"
        + "\n".join(w.strip()[:150] for w in windows)
    )


def test_retention_cohorts_unhinted_join(spark, sf_dir):
    """events_retention_cohorts' first-seen relation is user-count-
    proportional; the user join must carry NO forced hint so AQE broadcasts
    it only while it fits. (Any broadcast visible in the initial physical
    plan here comes from size estimation, which AQE re-checks at runtime —
    a ResolvedHint would pin it forever.)"""
    hints = _hint_subtrees(QUERIES["events_retention_cohorts"](spark, sf_dir))
    assert hints == [], (
        "retention join gained a forced hint:\n" + "\n".join(h[:200] for h in hints)
    )


def test_split_leakage_exchange_budget(spark, sf_dir):
    """corpus_split_leakage after the hashed-shingle rework: split labels
    ride the explode map-side (no corpus-wide label join), so the plan
    needs at most the train-key distinct, the holdout↔train key join
    sides, the per-doc count, and the final report join — and (per
    test_no_shingle_text_crosses_exchange) none of them carries text."""
    plan = _initial_plan(QUERIES["corpus_split_leakage"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 5, "extra shuffle crept in:\n" + "\n".join(
        e.strip()[:150] for e in exchanges
    )


def test_kmeans_exchange_inventory(spark, sf_dir):
    """kmeans_cells (k=4, iters=2): centroids reach the corpus via
    BroadcastExchange (never a shuffle of the k-times-expanded scored
    relation), and the per-round shuffles are exactly the argmin partial
    agg on vid (one partially-aggregated row per vector) and the centroid
    update on (cell, dim)/(cell) — 6 exchanges total, 2 of them
    broadcasts. A 7th hash exchange means scoring started shuffling."""
    plan = _initial_plan(QUERIES["vector_kmeans_cells"](spark, sf_dir))
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    bcast = [l for l in plan.splitlines() if "BroadcastExchange" in l]
    assert len(bcast) >= 2, "centroids not broadcast per round"
    assert len(hash_ex) <= 4, "scoring shuffle crept in:\n" + "\n".join(hash_ex)
    for line in hash_ex:
        # the argmin shuffle partitions on vid, the update on cell[, dim] —
        # never on a distance/score column of the k-times-expanded relation
        assert re.search(r"hashpartitioning\((vid|cell)#", line), line.strip()


# ---------------------------------------------------------------------------
# round-4 operators
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,budget",
    [("etl_scd2_merge", 2), ("etl_snapshot_cdc", 2)],
)
def test_warehouse_merge_single_join(spark, sf_dir, name, budget):
    """SCD2 merge and snapshot CDC are each ONE full-outer join: two hash
    exchanges (one per side), nothing else. The SCD2 close+reopen fan-out
    must stay map-side (an explode after the join), never a second
    shuffle; CDC's unchanged-row drop likewise."""
    plan = _initial_plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= budget, f"{name} gained a shuffle:\n" + "\n".join(
        e.strip()[:150] for e in exchanges
    )


def test_profile_columns_single_scan(spark, sf_dir):
    """The profiler's promise is ONE pass over the table: every metric for
    every column computes in a single EXPAND + aggregate, not one scan per
    column (the naive UNION ALL shape — which is exactly what the DuckDB
    oracle does, 5 scans; the engine must not)."""
    plan = _initial_plan(QUERIES["etl_profile_columns"](spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, "profiler re-scans the table:\n" + "\n".join(
        s.strip()[:150] for s in scans
    )
    assert "Expand" in plan, "multi-column distinct lost its single-pass EXPAND shape"


def test_chunk_dedup_text_never_shuffled(spark, sf_dir):
    """corpus_chunk_dedup ranks on a 16-hex-char chunk key and ships
    (id, idx) keep-lists; document text crosses at most the reassembly
    join — and never a hash exchange carrying the raw `text` column
    alongside the chunk rank key __h."""
    plan = _initial_plan(QUERIES["corpus_chunk_dedup"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 4
    for line in exchanges:
        if "__h#" in line:
            assert re.search(r"\btext#\d+", line) is None, (
                "chunk TEXT crosses the rank exchange:\n" + line.strip()
            )


def test_pii_redact_is_pure_map(spark, sf_dir):
    """PII detection/redaction is a scan-speed map stage: ZERO exchanges,
    whole plan in one codegen span over the parquet scan."""
    plan = _initial_plan(QUERIES["text_pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan, "PII scrub gained a shuffle:\n" + plan


def test_ewma_single_exchange(spark, sf_dir):
    """The EWMA recurrence shuffles ONCE (groupBy user for the
    applyInPandas scan); a second exchange would mean the per-key sort
    escaped the group stage."""
    plan = _initial_plan(QUERIES["ts_ewma_user_value"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, "\n".join(e.strip()[:150] for e in exchanges)
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan


def test_semantic_dedup_no_forced_broadcast(spark, sf_dir):
    """SemDeDup's cell-blocked self-join must stay unhinted: embeddings is
    SF-proportional, so a forced broadcast would OOM at 100 TB. (AQE may
    still choose broadcast at tiny SF — that's runtime sizing, allowed.)"""
    df = QUERIES["vector_semantic_dedup"](spark, sf_dir)
    assert _hint_subtrees(df) == []
    assert "CartesianProduct" not in _initial_plan(df)


def test_rolling_features_single_exchange(spark, sf_dir):
    """All four trailing-window aggregates share ONE user_id window spec:
    one exchange, one sort, never per-aggregate re-shuffles."""
    plan = _initial_plan(QUERIES["ts_rolling_features"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, "\n".join(e.strip()[:150] for e in exchanges)


def test_incremental_admission_no_corpus_self_pair(spark, sf_dir):
    """The incremental path must never pair the corpus against itself: no
    cartesian products, no text column on any exchange (signatures
    aggregate the non-distinct shingle stream map-side; exact legs ride
    the 64-bit hashed-shingle key), and no forced broadcast (both sides
    are SF-proportional)."""
    df = QUERIES["dedup_incremental_admission"](spark, sf_dir)
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan
    assert _hint_subtrees(df) == []
    for line in plan.splitlines():
        if "Exchange" in line:
            assert re.search(r"\b(shingle|text)#\d+", line) is None, (
                "incremental dedup shuffles raw text:\n" + line.strip()
            )


def test_quality_rules_is_pure_map(spark, sf_dir):
    """The rule-set filter is row-local array/length expressions: ZERO
    exchanges, like the PII scrub."""
    plan = _initial_plan(QUERIES["text_quality_rules"](spark, sf_dir))
    assert "Exchange" not in plan, "quality rules gained a shuffle:\n" + plan


def test_unigram_surprisal_shuffle_inventory(spark, sf_dir):
    """tfidf economics: tf agg, vocab agg, term join, final doc agg — and
    the vocabulary relation stays UNHINTED (Zipf-bounded but corpus-
    derived; AQE sizes the join)."""
    df = QUERIES["corpus_unigram_surprisal"](spark, sf_dir)
    assert _hint_subtrees(df) == []
    plan = _initial_plan(df)
    # the persisted tf relation's exchange reprints inside every
    # InMemoryRelation occurrence — count DISTINCT exchanges by plan id
    exchanges = {
        re.search(r"plan_id=(\d+)", l).group(1): l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "plan_id=" in l
    }
    assert len(exchanges) <= 3, "\n".join(
        e.strip()[:150] for e in exchanges.values()
    )


def test_countmin_sketch_broadcast_and_bounded_state(spark, sf_dir):
    """Count-Min contract: the sketch relation (≤ depth×16^width rows by
    construction) is the ONLY side carrying an explicit broadcast hint,
    and the full query's exchange inventory is the sketch agg, the exact
    top-k agg, and the final probe agg/sort — no vocabulary-sized
    relation crosses the wire more than once."""
    df = QUERIES["text_countmin_freq"](spark, sf_dir)
    hints = _hint_subtrees(df)
    assert len(hints) == 1, f"expected exactly the sketch broadcast, got {len(hints)}"
    assert not _SF_TABLE_COLS.search(hints[0])
    assert "tok" not in hints[0].splitlines()[0]  # hinted subtree aggregates, not raw tokens
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan
    n_hash = len(
        {
            re.search(r"plan_id=(\d+)", l).group(1)
            for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "plan_id=" in l
        }
    )
    # sketch groupBy + exact vocabulary groupBy + probe groupBy
    assert n_hash <= 3, plan


def test_zorder_layout_bounds_broadcast_only(spark, sf_dir):
    """Z-order audit: the only forced broadcast is the 1-row global
    bounds aggregate (value-bounded, like BM25's avgdl); the Morton key
    is plain codegen arithmetic (no UDF, no extra exchange) — inventory
    is the bounds agg + the 16-group layout agg + the output sort."""
    df = QUERIES["etl_zorder_layout"](spark, sf_dir)
    hints = _hint_subtrees(df)
    assert len(hints) == 1
    assert "Aggregate" in hints[0].splitlines()[1], "broadcast must wrap the 1-row bounds agg"
    plan = _initial_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    n_hash = len(
        {
            re.search(r"plan_id=(\d+)", l).group(1)
            for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "plan_id=" in l
        }
    )
    assert n_hash <= 1, plan


def test_asof_enrich_equi_join_no_nested_loop(spark, sf_dir):
    """The temporal predicate must RIDE the business-key equi-join, not
    degrade it: no cartesian/broadcast-nested-loop (which would mean the
    equality failed to extract), no forced broadcast of the
    SF-proportional history, and exactly one join in the plan."""
    df = QUERIES["etl_scd2_asof_enrich"](spark, sf_dir)
    assert _hint_subtrees(df) == []
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_collocations_pmi_vocab_joins_unhinted(spark, sf_dir):
    """PMI: the vocabulary relation is corpus-derived, so the two
    unigram joins stay UNHINTED (AQE sizes them — tfidf rationale); the
    only forced broadcast is the 1-row totals; no cartesian beyond it."""
    df = QUERIES["text_collocations_pmi"](spark, sf_dir)
    hints = _hint_subtrees(df)
    assert len(hints) == 1 and "Aggregate" in hints[0]
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan


def test_weighted_sample_no_shuffle_no_window(spark, sf_dir):
    """A-Res weighted sampling must stay a narrow map into
    TakeOrderedAndProject: no Exchange hashpartitioning (a window/groupBy
    crept in) and no global Sort node beyond the top-k operator."""
    plan = _initial_plan(QUERIES["text_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan


def test_bloom_prefilter_probes_broadcast_fact_unshuffled(spark, sf_dir):
    """join_bloom_prefilter: both Bloom probes must be broadcast LEFT SEMI
    joins (the positions relation is ≤ m rows by construction — the ONE
    hint this plan may carry wraps that bounded aggregate), the fact side
    must not be force-broadcast, and no shuffle may occur below the final
    aggregation other than the positions-distinct itself."""
    df = QUERIES["join_bloom_prefilter"](spark, sf_dir)
    hints = _hint_subtrees(df)
    # one hinted subtree (the positions relation), reused for both probes
    assert all("Aggregate" in h or "Distinct" in h or "__pos" in h for h in hints)
    plan = _initial_plan(df)
    semis = [
        l
        for l in plan.splitlines()
        if "BroadcastHashJoin" in l and "LeftSemi" in l
    ]
    assert len(semis) >= 2, plan  # k=2 probes, both map-side
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_recount_behind_broadcast_join(spark, sf_dir):
    """text_heavyhitters_mg: the exact recount must sit behind a broadcast
    candidate prefilter (the inner join that also carries total_tokens) —
    a plain groupBy over the full token explode (the thing the sketch
    exists to avoid) would show as a hash exchange with no broadcast join
    above the scan."""
    plan = _initial_plan(QUERIES["text_heavyhitters_mg"](spark, sf_dir))
    assert any("BroadcastHashJoin" in l for l in plan.splitlines()), plan
    assert "CartesianProduct" not in plan


def test_pagerank_edges_never_force_broadcast(spark, sf_dir):
    """graph_pagerank_bipartite: the only forced BROADCAST is the 1-row
    vertex-count relation — the edge/degree/rank relations must never be
    broadcast-hinted (at 100 TB they shuffle). The deg/rank join sides
    carry a SHUFFLE_HASH strategy hint instead (round 15): the iteration
    joins build per-partition maps from the |V|-row side and stream the
    edge relation UNSORTED — the initial plan must show zero sort-merge
    joins (each would sort the edge relation once per iteration). No
    cartesian products."""
    df = QUERIES["graph_pagerank_bipartite"](spark, sf_dir)
    for h in _hint_subtrees(df):
        if "strategy=broadcast" in h:
            assert "count(1)" in h or "__n" in h, h
        else:
            assert "strategy=shuffle_hash" in h, h
    plan = _initial_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_pc1_corpus_never_shuffles(spark, sf_dir):
    """vector_pc1_power_iteration: every exchange in the plan must be the
    tiny per-round (dim, val) aggregation or a 1-row broadcast — a hash
    exchange carrying the embedding array would mean the corpus itself
    shuffles."""
    plan = _initial_plan(QUERIES["vector_pc1_power_iteration"](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\b(embedding|x)#\d+", line), line
    assert "CartesianProduct" not in plan


def test_jl_projection_zero_shuffle(spark, sf_dir):
    """vector_jl_project is a pure narrow map: the plan may contain NO
    exchange of any kind — the matrix is plan-time literals."""
    plan = _initial_plan(QUERIES["vector_jl_project"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_pq_codes_single_plan_no_embedding_shuffle(spark, sf_dir):
    """vector_pq_codes trains all 8 subspaces in one plan: the only
    forced broadcasts are the k-seed id list and the m*k centroid
    relations; no exchange carries the raw embedding array column."""
    df = QUERIES["vector_pq_codes"](spark, sf_dir)
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\bembedding#\d+", line), line


def test_image_neardup_band_equi_join_no_nested_loop(spark, sf_dir):
    """multimodal_image_neardup_pairs: the candidate stage must be the
    exploded band EQUI-join — an OR-of-substrings theta join would plan
    as a nested-loop product over all image pairs."""
    plan = _initial_plan(QUERIES["multimodal_image_neardup_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_pagerank_fact_join_runs_once(spark, sf_dir):
    """graph_pagerank_bipartite materializes the join-derived edge
    relation (repartition by __src + localCheckpoint) BEFORE iterating:
    the final plan must read the checkpointed blocks (Scan ExistingRDD),
    and the lineitem x orders derivation must appear zero times — it ran
    once, eagerly, at checkpoint time, not once per power iteration."""
    plan = _initial_plan(QUERIES["graph_pagerank_bipartite"](spark, sf_dir))
    assert "ExistingRDD" in plan, plan
    assert "lineitem" not in plan and "orders" not in plan, (
        "fact-join lineage leaked past the checkpoint — the corpus-scale "
        "join would re-execute every power iteration"
    )


def test_bpe_training_no_corpus_in_round_lineage(spark, sf_dir):
    """text_bpe_train_merges: the corpus collapses ONCE to the vocab-sized
    word-frequency table, which is checkpointed — so the final merge-table
    plan reads checkpointed rounds (Scan ExistingRDD) and contains NO scan
    of the documents table and no exchange carrying the raw text column.
    Without the per-round truncation the lineage (and the corpus scan
    count) doubles per round — measured 7 documents scans for 3 rounds."""
    plan = _initial_plan(QUERIES["text_bpe_train_merges"](spark, sf_dir))
    assert "ExistingRDD" in plan, plan
    assert "documents" not in plan, (
        "corpus lineage leaked past the round checkpoints"
    )
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\btext#\d+", line), line


def test_pq_adc_scores_codes_only_tables_broadcast(spark, sf_dir):
    """vector_pq_ann_adc: after training (whose centroids are checkpointed
    per Lloyd round), the embeddings table is scanned exactly twice — the
    code assignment and the query probes; every distance-table join is a
    broadcast; no exchange carries the raw embedding array."""
    plan = _initial_plan(QUERIES["vector_pq_ann_adc"](spark, sf_dir))
    assert plan.count("embeddings.parquet") == 2, plan.count("embeddings.parquet")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\bembedding#\d+", line), line


@pytest.mark.parametrize(
    "name",
    ["events_kaplan_meier", "corpus_split_ks_test", "events_value_concentration"],
)
def test_statistics_windows_only_over_aggregates(spark, sf_dir, name):
    """Statistics layer (Kaplan-Meier, KS test, Gini/Pareto): every window
    function runs over a relation that was AGGREGATED first — a Window
    whose subtree reaches a table scan with no aggregate in between would
    rank/cumsum the raw fact table, which is the 100 TB scale-killer the
    family's design doc rules out."""
    df = QUERIES[name](spark, sf_dir)

    def walk(node):
        if "Window" in node.nodeName():
            assert "Aggregate" in node.toString(), (
                f"{name}: window over un-aggregated input:\n{node.toString()[:500]}"
            )
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """etl_bucketed_colocated_join: both sides are bucketed+sorted by the
    join key, so the SortMergeJoin must read bucket-aligned scans with NO
    exchange beneath it — the only exchange allowed in the whole plan is
    the final priority aggregation. An exchange feeding the join means
    the bucketed layout was ignored (bucketing disabled, bucket-count
    mismatch, or a lost hint) and the biggest shuffle at scale is back."""
    plan = _initial_plan(QUERIES["etl_bucketed_colocated_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    join_at = plan.index("SortMergeJoin")
    assert "Exchange" not in plan[join_at:], (
        "exchange under the bucketed join:\n" + plan[join_at:][:600]
    )


def test_partitioned_scan_prunes_partitions(spark, sf_dir):
    """etl_partitioned_layout_pruned_scan: the event_type predicate must
    land in the scan's PartitionFilters (pruned at planning time — other
    partitions' files never open), not just as a post-scan Filter."""
    plan = _initial_plan(
        QUERIES["etl_partitioned_layout_pruned_scan"](spark, sf_dir)
    )
    m = re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]*purchase[^\]]*\]", plan)
    assert m, "event_type=purchase not in PartitionFilters:\n" + plan[:800]


def test_ivfpq_query_time_broadcasts_and_no_embedding_shuffle(spark, sf_dir):
    """vector_ann_ivfpq: the routing relation (probe, cell) and the ADC
    distance tables ride broadcasts; no exchange carries the raw
    embedding array (embeddings are touched only under the training
    checkpoints and the bounded centroid/probe subtrees)."""
    plan = _initial_plan(QUERIES["vector_ann_ivfpq"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\bembedding#\d+", line), line


def test_ivfpq_steady_query_never_touches_raw_embeddings(spark, sf_dir):
    """vector_ann_ivfpq_steady: query time reads ONLY the persisted index
    artifacts plus the probe rows — the corpus embedding column must not
    appear in any scan's ReadSchema except the bounded probe scan
    (vec_id < 3 pushed down). A corpus-wide embedding read at query time
    means the trained index is being ignored."""
    plan = _initial_plan(QUERIES["vector_ann_ivfpq_steady"](spark, sf_dir))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    emb_scans = [l for l in scans if "embedding:" in l]
    # probes only: every embedding-reading scan must carry the vec_id
    # pushdown that bounds it to the probe set
    for l in emb_scans:
        assert "LessThan(vec_id" in l or "vec_id), LessThan" in l, l
    # and the code relation is scanned WITHOUT the embedding column
    assert any("code:" in l and "embedding:" not in l for l in scans), plan


def test_versioned_merge_one_anti_join_key_only_shuffle(spark, tmp_path):
    """tablelog.merge_plan: the MERGE is ONE left-anti join + union —
    no full-outer join, no cartesian, and every hash exchange keys on
    the merge key alone, so the snapshot never shuffles on anything
    wider than the key (the claim in operators/tablelog.py)."""
    from pyspark.sql import functions as F

    from spark_etl_framework_spark.operators import tablelog as TL

    t = str(tmp_path / "vt")
    cur = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TL.write_version(cur, t)
    updates = spark.range(1500, 2500).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    df = TL.merge_plan(TL.read_version(spark, t), updates, "k")
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan
    assert "FullOuter" not in plan
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert re.search(r"hashpartitioning\(k#\d+L?(,| )", line), line


def test_compaction_rewrite_reads_only_its_group(spark, sf_dir, tmp_path):
    """etl_compaction_execute's per-group rewrite job: the group's bucket
    predicate must land in the scan's PartitionFilters (other groups'
    files never open) and the coalesce(1) must not introduce an exchange
    — the OPTIMIZE loop's unit of work is one bounded read+write, driven
    by the |files|-sized plan relation, never a table-wide shuffle."""
    from pyspark.sql import functions as F

    from spark_etl_framework_spark.catalog import load_table

    frag = str(tmp_path / "frag")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "bucket", (F.col("doc_id") % 16).cast("int")
    )
    docs.repartition("bucket").write.partitionBy("bucket").parquet(frag)
    rewrite = (
        spark.read.parquet(frag).filter(F.col("bucket").isin([1, 5])).coalesce(1)
    )
    plan = _initial_plan(rewrite)
    assert re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*\]", plan), plan[:800]
    assert "Exchange" not in plan, plan


def test_join_view_refresh_scans_fact_once(spark, sf_dir):
    """etl_incremental_join_maintenance: the refresh plan reads the fact
    table exactly once — the DELTA slice — plus the stored partials
    parquet; a second lineitem scan means the base facts are being
    re-aggregated and the O(delta) refresh promise is broken."""
    plan = _initial_plan(
        QUERIES["etl_incremental_join_maintenance"](spark, sf_dir)
    )
    fact_scans = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "l_extendedprice" in l
    ]
    assert len(fact_scans) == 1, plan[:1200]
    # and the stored-partials relation is present (the parquet view)
    assert any(
        "ReadSchema" in l and "n_items" in l and "revenue" in l
        for l in plan.splitlines()
    ), plan[:1200]


def test_steady_admission_probe_uses_bucketed_index(spark, sf_dir):
    """dedup_incremental_admission_steady: the persisted LSH index is
    bucketed by its join keys (band_key / old_id), so the probe engages
    the bucketed layout (≥3 Bucketed:true scans) and the band join
    never shuffles on band_key — the index side of the probe is
    exchange-free (SCALE.md's co-partitioned probe; round-6 A/B:
    bucketed 0.94 s vs plain parquet 1.16 s at sf0.1)."""
    plan = _initial_plan(QUERIES["dedup_incremental_admission_steady"](spark, sf_dir))
    assert plan.count("Bucketed: true") >= 3, plan[:800]
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "band_key" not in line, line


@pytest.mark.parametrize("name", ["events_cuped_adjustment", "events_diff_in_diff"])
def test_causal_estimators_single_pass_broadcast_scalars(spark, sf_dir, name):
    """CUPED / diff-in-diff: the estimator aggregates the fact table to a
    bounded relation (per-user rollup / the 2x2 cells), fits scalars on
    it, and broadcasts them back — so every hash exchange keys on the
    rollup keys (user_id / treated,post), never on raw event columns,
    and the only nested-loop join is against the broadcast 1-row
    scalar relation."""
    df = QUERIES[name](spark, sf_dir)
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan
    # the scalar attach: broadcast nested-loop against a 1-row aggregate
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert not re.search(r"\b(value|ts|event_type)#\d+", line), (
                f"{name}: raw event column crosses an exchange:\n{line}"
            )


def test_pq_adc_steady_query_never_touches_raw_embeddings(spark, sf_dir):
    """vector_pq_ann_adc_steady: exhaustive ADC at query time reads ONLY
    the persisted code relation + codebook plus the probe rows — the
    corpus embedding column must not appear in any scan's ReadSchema
    except the bounded probe scan (vec_id < 3 pushed down), and the code
    scan must prune to the three code columns (no label — routing is the
    IVF variant's business)."""
    plan = _initial_plan(QUERIES["vector_pq_ann_adc_steady"](spark, sf_dir))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    emb_scans = [l for l in scans if "embedding:" in l]
    for l in emb_scans:
        assert "LessThan(vec_id" in l or "vec_id), LessThan" in l, l
    assert any(
        "code:" in l and "embedding:" not in l and "label" not in l for l in scans
    ), plan


@pytest.mark.parametrize(
    "name",
    [
        "multimodal_decode_bmp_rle",
        "multimodal_decode_gif_lzw",
        "multimodal_decode_png",
        "multimodal_decode_jpeg",
    ],
)
def test_compressed_codec_decode_no_exchange(spark, sf_dir, name):
    """Compressed-codec queries (RLE8 BMP, LZW GIF, DEFLATE PNG): wire
    build -> mapInPandas decode -> hex projection is a pure narrow pipeline — no
    exchange of any kind, so the decode scales with input splits alone
    (the multimodal codec contract: per-document work, embarrassingly
    parallel at 100 TB)."""
    plan = _initial_plan(QUERIES[name](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_jl_project_zero_shuffle(spark, sf_dir):
    """vector_jl_project: the JL matrix is plan-time literal and the
    registered posexploded projection is still a pure narrow map — the
    round-6 reshape (array -> one row per (vec, dim)) must not have
    introduced an exchange."""
    plan = _initial_plan(QUERIES["vector_jl_project"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_duplicate_spans_no_text_crosses_exchange(spark, sf_dir):
    """dedup_duplicate_spans (the suffix-array method re-derived
    relationally): every exchange carries only 8-byte hashes and
    integer positions — document/token TEXT never shuffles (the token
    dies at the scan projection), so corpus bytes never amplify across
    the wire at 100 TB."""
    plan = _initial_plan(QUERIES["dedup_duplicate_spans"](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange" in line:
            m = re.search(r"\b(text|gram|toks|tok)#\d+", line)
            assert m is None, (
                f"duplicate_spans shuffles raw text:\n{line.strip()}"
            )


def test_iceberg_mor_read_no_fact_shuffle(spark, tmp_path):
    """Iceberg v2 merge-on-read: applying position deletes must not
    shuffle the fact scan — the delete set joins as a BroadcastExchange
    anti-join and the partition/seq file map as another broadcast; zero
    hash exchanges touch the data rows (SCALE.md round-8: deletes are
    dwarfed by data; a pathological delete set degrades via AQE, never
    by a forced shuffle)."""
    from spark_etl_framework_spark.sources import iceberg as ice

    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(60)], "id int, name string, grp int"
    )
    ice.write_iceberg(df.coalesce(2), loc, mode="overwrite", partition_by=["grp"])
    ice.delete_where(spark, loc, "id < 10")
    out = ice.read_iceberg(spark, loc)
    plan = _initial_plan(out)
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert not hash_ex, "MoR read forced a shuffle:\n" + plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 50


def test_delta_dv_read_no_fact_shuffle(spark, tmp_path):
    """Delta deletion-vector reads: subtracting DV positions must not
    shuffle the fact scan — the executor-decoded position set joins as a
    BroadcastExchange anti-join (plus the broadcast partition map); zero
    hash exchanges touch data rows."""
    from spark_etl_framework_spark.sources import deltalog as dl

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(60)], "id int, name string, grp int"
    )
    dl.write_delta(df.coalesce(2), tbl, mode="overwrite", partition_by=["grp"])
    dl.delete_where(spark, tbl, "id < 10", use_dvs=True)
    out = dl.read_delta(spark, tbl)
    plan = _initial_plan(out)
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert not hash_ex, "DV read forced a shuffle:\n" + plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 50


def test_delta_plain_read_is_a_bare_scan(spark, tmp_path):
    """An unpartitioned Delta table without deletion vectors or column
    defaults reads as a bare parquet scan: no file map, no join."""
    from spark_etl_framework_spark.sources import deltalog as dl

    tbl = str(tmp_path / "t")
    dl.write_delta(spark.range(20).selectExpr("id", "id * 2 as v"), tbl)
    plan = _initial_plan(dl.read_delta(spark, tbl))
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_delta_file_map_is_one_broadcast(spark, tmp_path):
    """Partition literals, absent-default lists and row-tracking bases
    ride ONE broadcast file map: a partitioned Delta scan with a column
    default (and, on the row-level path, row tracking) plans a single
    BroadcastExchange, not one per per-file field."""
    from spark_etl_framework_spark.sources import deltalog as dl

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(30)], "id int, name string, grp int"
    )
    dl.write_delta(df.coalesce(2), tbl, mode="overwrite", partition_by=["grp"])
    dl.enable_row_tracking(spark, tbl)
    dl.add_column(tbl, "flag", "int", default=7)
    out = dl.read_delta(spark, tbl)
    assert _initial_plan(out).count("BroadcastExchange") == 1
    assert {r.flag for r in out.collect()} == {7}
    out = dl.read_delta_with_row_ids(spark, tbl)
    assert _initial_plan(out).count("BroadcastExchange") == 1
    rows = out.collect()
    assert {r.flag for r in rows} == {7}
    assert sorted(r["_row_id"] for r in rows) == list(range(30))
