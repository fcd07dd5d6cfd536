"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the whole point of these operators is the 100 TB case):

- **Exact** dedup shuffles an md5 fingerprint (16 bytes), never the document
  body.
- **MinHash** signatures are min-aggregations over shingle hashes — partial
  (map-side) aggregation compresses each document's shingle set to k values
  before any shuffle. The "hash" is md5 of (seed || shingle): md5 is a uniform
  permutation proxy, and taking the lexicographic MIN of hex digests per seed
  is a valid MinHash (any total order under a random hash works). Everything
  stays a built-in JVM expression — no Python in the hot path.
- **LSH banding** turns O(n²) pair comparison into an equi-join on
  (band_id, band_key): only documents sharing a band bucket are compared.
- **SimHash** is integer bit arithmetic on a 16-bit token hash — one explode,
  one groupBy.
- **n-gram Jaccard** joins on shingle (inverted-index join), so cost is
  Σ bucket² over shingles, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import persisted, scoped_localcheckpoint, scoped_persist

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.

    Returns (id, fingerprint, group_size, is_kept) for every input row.
    Equivalent to ``dropDuplicates`` but with full provenance — a training
    pipeline needs to know *what* was dropped.
    """
    from .text import with_fingerprint

    fp = with_fingerprint(df.select(id_col, text_col), text_col).select(id_col, "fingerprint")
    grouped = fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("_keep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return fp.join(grouped, "fingerprint").select(
        F.col(id_col),
        "fingerprint",
        "group_size",
        (F.col(id_col) == F.col("_keep_id")).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# Shingling + MinHash + LSH
# --------------------------------------------------------------------------


def _shingle_array_expr(n: int):
    """Array of word n-gram strings over the pre-split token column ``_t``."""
    return F.expr(
        f"transform(sequence(0, size(_t) - {n}), i -> concat(_t[i]"
        + "".join(f", ' ', _t[i + {j}]" for j in range(1, n))
        + "))"
    )


def word_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle) — raw TEXT form.

    ``distinct=True`` (default) globally dedups (id, shingle); that shuffle
    carries the n-word shingle STRING, so reserve it for consumers that
    need the raw text downstream. The two scale paths avoid it entirely:

    - duplicate-insensitive consumers (MinHash's MIN) pass
      ``distinct=False`` and get the raw exploded stream — a pure narrow
      map, zero shuffles; the downstream groupBy's partial aggregation is
      the only exchange.
    - set-arithmetic consumers (Jaccard / containment / overlap / leakage)
      use :func:`hashed_shingles` — per-row distinct + a fixed-width key,
      so shingle text never crosses an exchange at all.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    out = (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") >= n)
        .select(id_col, F.explode(_shingle_array_expr(n)).alias("shingle"))
    )
    return out.distinct() if distinct else out


def hashed_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    prefix_len: int = 16,
    row_unique: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct fixed-width shingle keys per document: (id, shingle_key)
    with ``shingle_key = substr(md5(shingle), 1, prefix_len)``.

    The scale form of :func:`word_shingles` for set arithmetic: an n-word
    shingle string is ~40-60 bytes of natural text, the 16-hex-char key is
    a fixed 64 bits — at 100 TB that is the difference between shuffling
    several× corpus bytes and shuffling a narrow key column. ``md5`` +
    ``substr`` exist in DuckDB with identical semantics, so every paired
    oracle mirrors the key exactly (even a collision would match
    bit-for-bit on both engines; 64 bits makes one astronomically rare
    within a document set anyway).

    With ``row_unique=True`` (``id_col`` is unique per row — the documents
    primary key), the per-document distinct happens ROW-LOCALLY:
    ``array_distinct`` over the in-row shingle array before the explode
    (re-applied after hashing so even an in-row key collision cannot
    double-count). All of a document's shingles live in its own row, so
    the relation needs ZERO shuffles — the corpus-wide DISTINCT the text
    form pays simply disappears. With ``row_unique=False`` (grouping keys
    that repeat across rows, e.g. source_overlap's source column), a
    global distinct on the narrow (id, key) pair remains.

    ``keep_cols`` carries extra per-row columns through the explode
    (map-side projection, no join needed to re-attach labels).

    CONTRACT: with the default ``row_unique=True`` the caller promises
    ``id_col`` appears on at most one input row. A duplicated id row
    re-emits its keys (sizes double, intersections quadruple), which the
    old corpus-wide text DISTINCT would have absorbed — if ids can
    repeat, pass ``row_unique=False`` (global distinct on the narrow
    key pair) or pre-dedup with ``dropDuplicates([id_col])``.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    keys = F.array_distinct(
        F.transform(
            F.array_distinct(_shingle_array_expr(n)),
            lambda s: F.substring(F.md5(s), 1, prefix_len),
        )
    )
    out = (
        df.select(F.col(id_col), *[F.col(c) for c in keep_cols], toks.alias("_t"))
        .filter(F.size("_t") >= n)
        .select(id_col, *keep_cols, F.explode(keys).alias("shingle_key"))
    )
    return out if row_unique else out.distinct()


def minhash_wide(shingles: DataFrame, id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """One row per document with k MinHash columns ``mh_0..mh_{k-1}``.

    minhash(seed) = MIN over shingles of md5(seed || ':' || shingle) — k min
    aggregates in a SINGLE groupBy: no k× row explosion, one shuffle whose
    rows are exactly one per (doc × partition) thanks to partial aggregation.
    The hashes are computed inline during the map phase (JVM codegen).

    MIN is duplicate-insensitive, so feed the NON-distinct shingle stream
    (``word_shingles(..., distinct=False)``): the signature values are
    identical, and the corpus-wide (id, shingle-text) DISTINCT shuffle —
    the widest exchange in the whole dedup family at 100 TB — disappears.
    The only exchange left in the signature path is this groupBy's partial
    min output: k × 32-byte digests per (doc × partition).
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """k MinHash values per document in long form: (id, seed, minhash).
    Computed via the wide aggregation + stack unpivot (no seed explode)."""
    wide = minhash_wide(shingles, id_col, k)
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(k))
    return wide.select(
        id_col, F.expr(f"stack({k}, {stack_args}) AS (seed, minhash)")
    )


def lsh_bands(
    signatures: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """Fold long-form signatures into LSH band keys: (id, band_id, band_key).

    band_key = md5 of the band's minhash values in seed order; two documents
    collide on a band iff that band's signature rows all match.
    """
    banded = signatures.withColumn(
        "band_id", (F.col("seed") / rows_per_band).cast("int")
    )
    return banded.groupBy(id_col, "band_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"],
                ),
                ",",
            )
        ).alias("band_key")
    )


def lsh_bands_wide(
    wide: DataFrame, id_col: str = "doc_id", k: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Band keys straight from the wide signature form — zero extra shuffles
    (band hashing is a pure projection)."""
    n_bands = k // rows_per_band
    pairs = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)]
        pairs.extend([F.lit(b), F.md5(F.concat_ws(",", *cols))])
    stack_expr = F.expr(
        f"stack({n_bands}, "
        + ", ".join(f"__b{i}, __k{i}" for i in range(n_bands))
        + ") AS (band_id, band_key)"
    )
    named = wide.select(
        id_col,
        *[
            c.alias(f"__{'b' if i % 2 == 0 else 'k'}{i // 2}")
            for i, c in enumerate(pairs)
        ],
    )
    return named.select(id_col, stack_expr)


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket: int | None = 10_000
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket.

    Instead of a bucket self-join (which would recompute the minhash lineage
    for both sides and shuffle twice), group each bucket's members into a
    sorted list and emit its pairwise combinations with array built-ins — one
    aggregation shuffle total. ``max_bucket`` guards the quadratic blow-up of
    a degenerate bucket (boilerplate-heavy corpora): oversized buckets are
    dropped, which only loses candidates that cheaper exact passes catch.
    """
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


# --------------------------------------------------------------------------
# n-gram Jaccard
# --------------------------------------------------------------------------


def ngram_jaccard_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """Top-k most similar document pairs by word-n-gram Jaccard.

    Inverted-index join on shingle → per-pair intersection counts → Jaccard
    via |A|+|B|-|A∩B|. The shingle join bounds cost to Σ(docs-per-shingle)²,
    which for natural text is ≪ n². Deterministic: similarity is a ratio of
    integers, ordering tiebreaks on the pair ids.

    ``max_df`` is the scale guard (same idea as ``max_bucket`` in
    :func:`lsh_candidate_pairs`): shingles appearing in more than ``max_df``
    documents are dropped from the index. Without it one boilerplate shingle
    shared by millions of documents makes a single posting list quadratic.
    Trade-off: Jaccard becomes Jaccard-of-capped-shingle-sets (sizes and
    intersections both computed on the filtered index, so the ratio stays
    internally consistent); pairs that only matched via stopword boilerplate
    lose recall, which exact-hash and LSH passes catch. At 100 TB set
    ``max_df`` to a few thousand; ``None`` disables the cap (exact).

    Physical shape: the index is :func:`hashed_shingles` — per-document
    distinct happens row-locally and only a fixed-width 64-bit key ever
    shuffles, never the n-word string. The document-frequency cap is a
    window count over ``shingle_key`` (one shuffle, whose hash
    partitioning the self-join can then reuse) — measured faster than
    aggregating a hot-shingle list and anti-joining it back (two extra
    stages of fixed overhead). The capped relation is persisted, so the
    tokenize/explode lineage runs once and every consumer — both
    self-join sides and the per-doc sizes — reads the cache. The
    intersection itself is a Tungsten hash self-join on the key
    (whole-stage codegen); a bucket-grouped array expansion (as in
    :func:`lsh_candidate_pairs`) was measured 1.5-2x SLOWER here because
    Σdf² struct allocations and per-element array slices beat the codegen'd
    join only when buckets are tiny, which LSH bands are and shingle
    postings are not.

    Precondition (inherited from :func:`hashed_shingles` row-local
    distinct): ``id_col`` is unique per input row.
    """
    from pyspark.sql import Window as W

    sh = hashed_shingles(df, id_col, text_col, n)
    if max_df is not None:
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("shingle_key")))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sh = scoped_persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle_key")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle_key")
    inter = (
        a.join(b, "shingle_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    sim = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )
    return sim.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(k)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per document over its distinct-token set.

    Token hash = first 16 bits of md5 (hex-digit arithmetic keeps everything
    in integer built-ins, identical across engines). Per bit position j, sum
    (2·bit−1) over tokens; the sign gives output bit j. Integer math
    end-to-end — exactly reproducible anywhere.
    """
    toks = (
        df.select(
            F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
        )
        .distinct()
    )
    h4 = F.substring(F.md5(F.col("tok")), 1, 4)
    val = sum(
        (F.instr(F.lit(_HEX), F.substring(h4, i + 1, 1)) - 1) * (16 ** (3 - i))
        for i in range(4)
    )
    with_bits = toks.select(
        id_col,
        val.cast("int").alias("hv"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"),
    ).select(
        id_col,
        "j",
        (
            F.floor(F.col("hv") / F.pow(F.lit(2.0), F.col("j"))).cast("int") % 2
        ).alias("bit"),
    )
    bit_sums = with_bits.groupBy(id_col, "j").agg(
        F.sum(F.col("bit") * 2 - 1).alias("s")
    )
    return bit_sums.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("j")).cast("int")).otherwise(0)
        )
        .cast("int")
        .alias("simhash")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Cluster the near-duplicate pair graph into connected components:
    (node, cluster_id) where cluster_id = min node id reachable — the step
    that turns pairwise dedup candidates into keep-one-per-cluster groups.

    Iterative min-label propagation (the Pregel/hash-min pattern): each
    round, every node takes the min of its own label and its neighbors'
    labels; converged when no label changes — at most graph-diameter
    rounds, and near-dup graphs are shallow (dup clusters are cliques or
    short chains, so typically 2-4 rounds). Each round is one join + one
    aggregation on (node, label) int pairs, materialized with
    ``localCheckpoint`` — that TRUNCATES the logical plan each round
    (each round's plan embeds the previous round's twice, so without
    truncation Catalyst re-analysis grows 2^rounds and stalls past ~6
    rounds; GraphFrames' connectedComponents checkpoints for exactly this
    reason), and caches the O(|V|) label set so nothing re-executes.
    Superseded rounds' blocks are released by Spark's ContextCleaner when
    the old DataFrame is garbage-collected. The driver-side loop is
    control flow only (one count() per round to test convergence) — the
    data never leaves the cluster. On a cluster with unreliable executors
    (dynamic allocation / spot), swap ``localCheckpoint`` for a reliable
    ``checkpoint`` dir: local checkpoint blocks die with their executor.

    If the loop hits ``max_iter`` while labels are still changing (a
    component with diameter > max_iter — a long chain, not a dup clique),
    the labels are WRONG, so by default this raises; pass
    ``on_nonconverged="warn"`` to get the partial labels with a warning.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be 'raise' or 'warn': {on_nonconverged!r}")
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    with persisted(edges) as edges:
        labels = scoped_localcheckpoint(
            edges.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("lbl", F.col("node")),
            eager=True,
        )
        converged = False
        # max_iter + 1 rounds: convergence is only OBSERVABLE as a round with
        # zero changes, so a graph whose diameter is exactly max_iter needs one
        # extra (no-op) round to prove it converged rather than raise falsely
        for _ in range(max_iter + 1):
            nbr_min = (
                edges.join(labels, edges.b == labels.node)
                .groupBy("a")
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            # eager localCheckpoint: materializes AND truncates lineage, so the
            # per-round plan stays O(1) instead of doubling every round
            new_labels = (
                labels.join(nbr_min, labels.node == nbr_min.a, "left")
                .select(
                    "node",
                    F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                )
            )
            new_labels = scoped_localcheckpoint(new_labels, eager=True)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.lbl") != F.col("o.lbl"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (a component's diameter exceeds max_iter); labels are stale"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def simhash_hamming_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banding makes this an equi-join instead of an all-pairs scan: the
    16-bit hash splits into ``n_bands`` nibble groups, and by pigeonhole
    any pair within Hamming distance ``max_hamming`` < ``n_bands`` leaves
    at least one band untouched — so joining on (band_id, band_value)
    finds EVERY qualifying pair (the banding is pure optimization, no
    recall loss; the oracle checks this by comparing against an unbanded
    all-pairs filter). The exact distance check
    ``bit_count(xor)`` then drops band-collision false positives.

    Scale shape: one stack projection (4 rows/doc — integers, not text),
    one aggregation shuffle into bucket lists, pairwise expansion within
    buckets (``max_bucket`` guards degenerate buckets exactly like
    :func:`lsh_candidate_pairs`), then a distinct + an integer filter.
    At 100 TB nothing but (int, int) pairs ever shuffles.
    """
    band_bits = 16 // n_bands
    stack_args = ", ".join(
        f"{b}, (({hash_col} div {1 << (b * band_bits)}) % {1 << band_bits})"
        for b in range(n_bands)
    )
    bands = hashes.select(
        id_col,
        hash_col,
        F.expr(f"stack({n_bands}, {stack_args}) AS (band_id, band_val)"),
    )
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct(id_col, hash_col))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ms, (x, i) -> "
                "transform(slice(ms, i + 2, size(ms) - i - 1), "
                f"y -> struct(x.{id_col} AS id_a, y.{id_col} AS id_b, "
                f"x.{hash_col} AS h_a, y.{hash_col} AS h_b))))"
            )
        ).alias("p")
    ).select("p.*").distinct()
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def build_corpus_lsh_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = 10_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus side of incremental admission as a PERSISTABLE index:
    ``(buckets, shingles, sizes)``.

    - ``buckets``: (band_id, band_key, old_ids sorted array) — corpus LSH
      band buckets with the same ``max_bucket`` degenerate-bucket guard as
      :func:`lsh_candidate_pairs`;
    - ``shingles``: (old_id, shingle_key) — the fixed-width hashed-shingle
      inverted index for exact verification (text never in the index);
    - ``sizes``: (old_id, n_old) — per-document distinct-shingle counts.

    In production these three relations are written once (bucketed by
    band_key / shingle_key) and every ingest batch probes them via
    :func:`probe_corpus_lsh_index`; rebuilding them per ingest would make
    every batch pay a corpus-scale scan. :func:`incremental_lsh_matches`
    composes build+probe inline for the self-contained form."""
    cb = lsh_bands_wide(
        minhash_wide(word_shingles(corpus, id_col, text_col, n, distinct=False), id_col, k),
        id_col,
        k,
        rows_per_band,
    )
    buckets = cb.groupBy("band_id", "band_key").agg(
        F.sort_array(F.collect_list(id_col)).alias("old_ids")
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("old_ids") <= max_bucket)
    shingles = hashed_shingles(corpus, id_col, text_col, n).select(
        F.col(id_col).alias("old_id"), "shingle_key"
    )
    sizes = shingles.groupBy("old_id").agg(F.count(F.lit(1)).alias("n_old"))
    return buckets, shingles, sizes


def probe_corpus_lsh_index(
    buckets: DataFrame,
    shingles: DataFrame,
    sizes: DataFrame | None,
    increment: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a prebuilt corpus index (:func:`build_corpus_lsh_index`) with
    an ingest batch. All corpus-scale work happened at index-build time;
    the probe's cost is increment-bands x bucket joins plus candidate-only
    exact verification — the steady-state per-ingest cost at 100 TB.

    ``sizes=None`` derives the per-document counts from the
    candidate-restricted shingle relation instead (identical values: the
    restriction is a semi-join on old_id, so a surviving document keeps
    every one of its shingle rows). Pass the prebuilt relation when it is
    a persisted index table (a tiny columnar scan beats re-aggregating
    the shingle index); pass None when ``shingles`` is a derived lineage
    (the inline composition), where the separate sizes consumer would
    re-run the corpus-scale tokenize+hash pass a third time (guide §2.4:
    one fewer full pass, zero result change).

    Returns ONE row per increment document: its best corpus match
    (highest verified Jaccard, smallest old id on ties; nulls when LSH
    surfaced no candidate) and the admission decision
    ``is_dup = jaccard >= threshold``."""
    from pyspark.sql import Window as W

    ib = lsh_bands_wide(
        minhash_wide(word_shingles(increment, id_col, text_col, n, distinct=False), id_col, k),
        id_col,
        k,
        rows_per_band,
    )
    # cand/hs_new are multiply consumed but deliberately NOT persisted:
    # A/Bs at sf0.1 (round 15, re-run round 16 under the cached-plan-AQE
    # conf) measured the cache barrier SLOWER than recomputing the narrow
    # tokenize/minhash lineage (round 16: min 3.4 s -> 6.2 s with both
    # persisted) — fused codegen beats the cache for cheap narrow
    # subtrees, same finding as operators/graph.py's pagerank note.
    cand = (
        ib.select(F.col(id_col).alias("new_id"), "band_id", "band_key")
        .join(buckets, ["band_id", "band_key"])
        .select("new_id", F.explode("old_ids").alias("old_id"))
        .distinct()
    )

    # Only candidate old_ids matter downstream, so pre-restrict the two
    # corpus-sized index relations with an UNHINTED semi-join on the
    # candidate id set (bounded by increment x bucket): AQE broadcasts the
    # small id set at runtime and the full index never crosses an exchange
    # — without this the verification join shuffles the whole corpus
    # shingle index per ingest batch (measured 1.2 s -> 0.6 s at sf0.1).
    old_ids = cand.select("old_id").distinct()
    shingles = shingles.join(old_ids, "old_id", "left_semi")
    if sizes is None:
        # the semi-join keeps ALL shingle rows of every candidate doc,
        # so counting the restricted relation gives the same n_old —
        # and the restricted relation is candidate-bounded, so persist
        # it for its two consumers (sizes + the intersection join)
        # instead of running the corpus-scale shingle lineage twice
        shingles = scoped_persist(shingles)
        sizes = shingles.groupBy("old_id").agg(
            F.count(F.lit(1)).alias("n_old")
        )
    else:
        sizes = sizes.join(old_ids, "old_id", "left_semi")

    hs_new = hashed_shingles(increment, id_col, text_col, n).select(
        F.col(id_col).alias("new_id"), "shingle_key"
    )
    sizes_new = hs_new.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_new"))
    inter = (
        cand.join(hs_new, "new_id")
        .join(shingles, ["old_id", "shingle_key"])
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_new") + F.col("n_old") - F.col("n_inter"))
    scored = (
        inter.join(sizes_new, "new_id")
        .join(sizes, "old_id")
        .select("new_id", "old_id", jac.alias("_jac"))
    )
    w = W.partitionBy("new_id").orderBy(F.desc("_jac"), "old_id")
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "new_id",
            F.col("old_id").alias("best_old_id"),
            F.round("_jac", 6).alias("jaccard"),
            (F.col("_jac") >= F.lit(threshold)).alias("is_dup"),
        )
    )
    return (
        increment.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            "best_old_id",
            "jaccard",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def incremental_lsh_matches(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Incremental near-dup admission: match an INCOMING batch against an
    EXISTING corpus without ever pairing the corpus against itself.

    At 100 TB you do not re-dedup the corpus per ingest — the corpus's
    band keys are a precomputed index (here rebuilt inline so the query
    stays self-contained; in production they persist bucketed by
    band_key — :func:`build_corpus_lsh_index` /
    :func:`probe_corpus_lsh_index` are exactly that split), and each
    ingest batch probes it. Corpus buckets aggregate to sorted id-lists
    with the same ``max_bucket`` degenerate-bucket guard as
    :func:`lsh_candidate_pairs`; increment bands join those buckets on
    the 32-char band key and explode to (new, old) candidate pairs — so
    candidate volume is bounded by increment x bucket, never corpus^2.
    Exact Jaccard verification then touches candidates only, on
    fixed-width hashed-shingle keys (text never crosses an exchange).

    Returns ONE row per increment document — see
    :func:`probe_corpus_lsh_index`."""
    buckets, shingles, _sizes = build_corpus_lsh_index(
        corpus, id_col, text_col, n, k, rows_per_band, max_bucket
    )
    # Inline composition economics differ from the steady probe (where
    # every index relation is a cheap columnar re-scan): here buckets'
    # lineage is the full corpus minhash+banding, and the probe consumes
    # it from three lineage positions (candidate pairs feed the old-id
    # restriction AND the intersection join) — measured 22 parquet scans
    # of the documents table in one plan without reuse. Persist the
    # narrow (band, sorted-id-list) relation so the corpus signature
    # pass runs once (guide §5); sizes=None derives counts from the
    # candidate-restricted shingles instead of a third corpus pass.
    buckets = scoped_persist(buckets)
    return probe_corpus_lsh_index(
        buckets, shingles, None, increment, id_col, text_col, n, k,
        rows_per_band, threshold,
    )


# --------------------------------------------------------------------------
# Exact duplicated-span detection (cross-document substring dedup)
# --------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Find maximal token spans (length >= ``k``) duplicated across
    documents — the exact-substring training-data dedup of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" (public:
    arXiv 2107.06499), whose reference implementation builds a corpus
    suffix array. A suffix array is the wrong shape for a shuffle
    engine; the SAME spans fall out relationally:

    1. every token becomes an 8-byte xxhash64 at the SCAN (the text
       dies inside the scan task — only hashes + positions ever move);
    2. each k-token window's hash combines the k token hashes with
       ``lead()`` over one id-partitioned window — O(1) per token, and
       the work lands AFTER the exchange, so it parallelizes across the
       cluster instead of being trapped in however few input splits the
       corpus file layout gives the scan;
    3. a window is a duplicate seed iff its hash occurs in >=
       ``min_docs`` DISTINCT documents (one groupBy with map-side
       partial aggregation, carrying hash+id pairs only);
    4. per document, consecutive seed positions merge into maximal
       spans by gaps-and-islands (``pos - row_number()`` over an
       id-partitioned window): a run of seeds at positions p..q is
       exactly the duplicated span [p, q + k - 1].

    Returns (id, span_start, span_end, span_tokens) with token indices
    0-based inclusive. 100 TB: cost is O(tokens) map-side + one
    id-keyed token-hash shuffle + one gram-hash shuffle; no all-pairs
    stage and no suffix array to build."""
    from pyspark.sql import Window

    tok_rows = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).select("id", "pos", F.xxhash64("tok").alias("th"))
    wseq = Window.partitionBy("id").orderBy("pos")
    gram_cols = [F.col("th")] + [
        F.lead("th", i).over(wseq) for i in range(1, k)
    ]
    grams = (
        tok_rows.select("id", "pos", F.xxhash64(*gram_cols).alias("h"),
                        F.lead("th", k - 1).over(wseq).alias("__last"))
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )
    seeds = (
        grams.groupBy("h")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    dup = grams.join(seeds, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    islands = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .drop("grp")
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a duplicated-span report (:func:`duplicate_spans` output) to
    the corpus: remove every reported token span from every document —
    the hard-cut policy of exact-substring training-data dedup. Returns
    every input document as (id, text_deduped, n_tokens, n_tokens_removed).

    Shape: spans aggregate to one small array per document (they are
    duplicate REGIONS, orders of magnitude fewer than tokens), join back
    on id, and the splice is a pure JVM expression — ``filter`` over the
    indexed token array with an ``exists`` probe against the span array.
    The document text moves across exactly one id-keyed exchange (the
    join), once — there is no way to edit a document without routing it
    to its spans."""
    per_doc = spans.groupBy(F.col("id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.col(text_col), " ")
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.col("__spans"),
            lambda s: x["i"].between(s["span_start"], s["span_end"]),
        ),
    )
    out = (
        df.join(per_doc, df[id_col] == per_doc["id"], "left")
        .withColumn("__spans", F.coalesce(F.col("__spans"), F.array()))
        .select(
            F.col(id_col).alias("id"),
            F.concat_ws(" ", F.transform(kept, lambda x: x["t"])).alias(
                "text_deduped"
            ),
            F.size(toks).alias("n_tokens"),
            (F.size(toks) - F.size(kept)).alias("n_tokens_removed"),
        )
    )
    return out
