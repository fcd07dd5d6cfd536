"""Corpus-curation actors: dedup policies as first-class pipeline steps.

The reference's pipeline model treats every transformation as a pluggable
actor resolved by alias or dotted class path (reference:
etl/pipeline/builder/JsonPipelineBuilder.scala:265 — reflective actor
instantiation; the alias table is this engine's
plans/registry.py). These actors package the LLM-data dedup operators
(operators/dedup.py) behind that contract so a YAML pipeline can run a
containment-aware dedup write-back without leaving the framework.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist

from ..plans.context import JobContext
from .base import Actor


class ContainmentDedupTransformer(Actor):
    """Containment-aware near-duplicate removal over an input view.

    Finds LSH candidate pairs (MinHash bands over word n-gram shingles),
    computes asymmetric shingle containment C(A,B) = |A∩B| / |A| per pair,
    and drops documents by the subset-dup policy:

    - both sides contained (>= ``threshold``): near-identical pair — keep
      the smaller id (deterministic canonical choice);
    - one side contained: that document is quoted/embedded inside the
      other — drop the CONTAINED doc, keep the container, regardless of
      which id is smaller. This is the case symmetric Jaccard dedup
      misses: a short doc pasted into a long one scores low Jaccard but
      containment ~1 on the short side.

    A document flagged as contained in ANY pair is dropped (single-pass
    policy; containment chains collapse to their maximal container in one
    sweep for clique-shaped duplication, which is what boilerplate
    reuse produces).

    Scale shape is the dedup family's: signatures aggregate the
    non-distinct shingle stream map-side, the exact legs join on
    hashed_shingles' row-local fixed-width keys, candidates are
    band-bucketed (never all-pairs) — shingle text never crosses an
    exchange. The anti-join back to the corpus ships only dropped ids.

    Precondition (inherited from hashed_shingles' row-local distinct):
    ``idField`` is unique per row of the input view.
    """

    view: str | None = None
    idField: str = "doc_id"
    textField: str = "text"
    n: int = 3
    k: int = 8
    rowsPerBand: int = 2
    threshold: float = 0.8

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        if not self.view:
            raise ValueError("ContainmentDedupTransformer: input view required")
        if not (0.0 < float(self.threshold) <= 1.0):
            raise ValueError(
                f"ContainmentDedupTransformer: threshold must be in (0, 1], "
                f"got {self.threshold}"
            )
        ctx.reference(self.view, reads=2)  # both shingle branches and the anti-join read it
        df = spark.table(self.view)
        drops = containment_drop_ids(
            df,
            id_col=self.idField,
            text_col=self.textField,
            n=int(self.n),
            k=int(self.k),
            rows_per_band=int(self.rowsPerBand),
            threshold=float(self.threshold),
        )
        return df.join(
            drops, df[self.idField] == drops["drop_id"], "left_anti"
        )


def containment_drop_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """The drop set of the containment policy: one ``drop_id`` row per
    document to remove (see :class:`ContainmentDedupTransformer` for the
    policy). Split out so the policy itself is unit-testable on crafted
    pair shapes without the pipeline machinery."""
    from . import dedup as D

    raw = D.word_shingles(df, id_col, text_col, n, distinct=False)
    bands = D.lsh_bands_wide(
        D.minhash_wide(raw, id_col, k=k), id_col, k=k, rows_per_band=rows_per_band
    )
    # narrow-relation persists (pairs and keys, never text): cand feeds
    # the intersection AND the final policy join, hsh feeds sizes and both
    # inverted-index sides; scoped_persist bounds the lifecycle (released
    # on the next registered-query invocation, caching.py)
    cand = scoped_persist(D.lsh_candidate_pairs(bands, id_col))
    hsh = scoped_persist(D.hashed_shingles(df, id_col, text_col, n))
    sizes = hsh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = hsh.select(F.col(id_col).alias("id_a"), "shingle_key")
    # The a side is restricted implicitly (the intersection join's first
    # leg is an inner join with the candidate pairs), but the b side was
    # the FULL corpus shingle index exchanged on (id_b, shingle_key) —
    # pre-restrict it with an UNHINTED semi-join on the candidate id_b
    # set before that exchange (guide §3.2, the same restriction the
    # incremental-admission probe measured 2x on): AQE broadcasts the
    # small id set at runtime, so the widest exchange under the
    # intersection carries candidate docs only instead of the whole
    # corpus index. Ratios are unchanged — the restriction is
    # per-document, so a surviving document keeps every shingle row.
    b = hsh.join(
        cand.select(F.col("id_b").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("id_b"), "shingle_key")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle_key"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    ni = F.coalesce("n_inter", F.lit(0))
    ca, cb = ni / F.col("n_a"), ni / F.col("n_b")
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            # mutual containment: near-identical, keep min id (id_a < id_b
            # by construction, so id_b drops). One-sided: drop the
            # contained side whichever id it carries.
            F.when((ca >= threshold) & (cb >= threshold), F.col("id_b"))
            .when(ca >= threshold, F.col("id_a"))
            .when(cb >= threshold, F.col("id_b"))
            .alias("drop_id")
        )
        .filter(F.col("drop_id").isNotNull())
        .distinct()
    )


class PiiScrubTransformer(Actor):
    """PII scrub as a first-class pipeline step over an input view.

    ``mode='redact'`` (default) replaces ``textField`` with the redacted
    text (emails/IPv4/phones → typed tags, operators/pii.py order);
    ``mode='drop'`` removes any document containing PII instead. Both
    emit ``n_pii`` (total matches found) so downstream actors can audit
    the scrub. Pure map stage — zero shuffles, stacks under whole-stage
    codegen with whatever scan feeds the view.
    """

    view: str | None = None
    textField: str = "text"
    mode: str = "redact"

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        if not self.view:
            raise ValueError("PiiScrubTransformer: input view required")
        if self.mode not in ("redact", "drop"):
            raise ValueError(
                f"PiiScrubTransformer: mode must be redact|drop, got {self.mode!r}"
            )
        from .pii import with_pii_flags

        ctx.reference(self.view)
        df = spark.table(self.view)
        flagged = with_pii_flags(df, self.textField)
        n_pii = (
            F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")
        ).cast("int")
        out_cols = [
            (
                F.col("redacted").alias(self.textField)
                if c == self.textField and self.mode == "redact"
                else F.col(c)
            )
            for c in df.columns
        ]
        out = flagged.select(*out_cols, n_pii.alias("n_pii"))
        if self.mode == "drop":
            out = out.filter(F.col("n_pii") == 0)
        return out


class Scd2MergeTransformer(Actor):
    """SCD2 dimension-history maintenance as a pipeline step: merge an
    updates view into a history view (operators/etl.py:scd2_merge — one
    full-outer join, map-side close+reopen fan-out). ``attrs`` is the
    comma-separated list of tracked attribute columns; ``effDate`` the
    effective date (yyyy-MM-dd) stamped on closed/opened rows. The
    reference's upsert surface is the JdbcWriter ``merge`` write mode
    (JdbcWriter.scala:49,68-76); this actor is the dimension-history
    policy built on that primitive, framework-resident so a YAML pipeline
    can maintain an SCD2 dim without leaving the runner.
    """

    historyView: str | None = None
    updatesView: str | None = None
    keyField: str | None = None
    attrs: str | None = None
    effDate: str | None = None

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        missing = [
            n
            for n in ("historyView", "updatesView", "keyField", "attrs", "effDate")
            if not getattr(self, n)
        ]
        if missing:
            raise ValueError(f"Scd2MergeTransformer: missing {', '.join(missing)}")
        from .etl import scd2_merge

        ctx.reference(self.historyView)
        ctx.reference(self.updatesView)
        attrs = [a.strip() for a in self.attrs.split(",") if a.strip()]
        return scd2_merge(
            spark.table(self.historyView),
            spark.table(self.updatesView),
            self.keyField,
            attrs,
            self.effDate,
        )


class BpeTrainTransformer(Actor):
    """BPE tokenizer-merge training as a pipeline step: learns the merge
    table (operators/text.py:bpe_train_merges — vocab-sized training
    relation, fixed unrolled rounds) over an input view's text column,
    so a YAML curation pipeline can publish the tokenizer artifact next
    to the corpus it was trained on. Output = (round, left, right,
    pair_count)."""

    view: str | None = None
    textField: str = "text"
    rounds: int = 3

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        if not self.view:
            raise ValueError("BpeTrainTransformer: input view required")
        r = int(self.rounds)
        if r < 1:
            raise ValueError(
                f"BpeTrainTransformer: rounds must be >= 1, got {self.rounds!r}"
            )
        from .text import bpe_train_merges

        ctx.reference(self.view)
        return bpe_train_merges(spark.table(self.view), self.textField, rounds=r)
