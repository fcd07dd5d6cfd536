"""Format-neutral lakehouse machinery shared by the Delta
(:mod:`.deltalog`) and Iceberg (:mod:`.iceberg`) table formats.

Both formats are jar-free and both need the same storage-layer moves:
an exclusive create for the commit file (optimistic concurrency on a
filesystem), a distributed parquet staging write whose files land under
the table root with fresh names, the concurrent DML staging that
unlinks a successful thunk's files when its sibling fails, footer
min/max/null harvesting for data skipping, and the persisted
range/Z-order layout rewrite behind OPTIMIZE / ``rewrite_data_files``.
The read half is shared too: one broadcast per-file map joined on the
scan's ``__file_name``, the one per-file column resolution (which
files hold which column, under which name, by field id; pooled footer
probes where the log cannot tell), the column-default substitution,
and the subtraction of deleted row positions.
The change feeds share one unit of work (:class:`ChangeUnit`, the rows
of one file a commit changed), one stream-reader base that paces and
commits offsets, one executor-side Arrow reader of a unit, and the
net-changes fold. Everything here takes plain arguments and returns
plain records; each format keeps only its own encoding (Delta
``add``/``cdc`` actions, stats JSON and deletion-vector descriptors;
Iceberg manifest entries, Appendix-D bound bytes, Puffin blobs and
sequence numbers) and its change planning (log versions vs snapshots).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, NamedTuple
from urllib.parse import unquote

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

from ..caching import persisted
from ..localrel import local_relation

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def unlink_quietly(paths) -> None:
    """Best-effort unlink: a file already gone is not an error."""
    for p in paths:
        try:
            os.unlink(p)
        except OSError:
            pass


def run_concurrently(*thunks, cleanup: Callable | None = None) -> list:
    """Run independent zero-arg Spark actions from driver threads and
    return their results in thunk order; one thunk runs inline.

    A DML commit stages several independent relations (change-data
    files, rewritten data files, delete coordinates). Submitted from
    several threads, FIFO scheduling lets the second job's tasks
    back-fill executors freed by the first job's stragglers.

    Pool threads run with the caller's local properties (job group,
    description, scheduler pool) and job tags, so staging jobs count
    and cancel with the action that started them.

    Every thunk finishes before anything is raised, so no job outlives
    the caller's persist lifecycle. If any thunk raised, ``cleanup`` is
    called with the result of each thunk that SUCCEEDED — its staged
    files will never be committed — and then the first error is
    re-raised. Cleanup errors are swallowed: the original failure is the
    story."""
    if len(thunks) == 1:
        return [thunks[0]()]
    session = SparkSession.getActiveSession()
    if session is not None:
        inherit = inheritable_thread_target(session)
        # outside pinned-thread mode it returns the session, not a wrapper
        if inherit is not session:
            thunks = tuple(inherit(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if not errors:
        return [f.result() for f in futures]
    if cleanup is not None:
        for f in futures:
            if f.exception() is None:
                try:
                    cleanup(f.result())
                except Exception:  # noqa: BLE001 - best-effort
                    pass
    raise errors[0]


def publish_exclusive(
    final_path: str,
    write_fn: Callable,
    conflict_exc: Exception,
    staged=(),
) -> None:
    """Create ``final_path`` exclusively: ``write_fn(fh)`` fills a tmp
    file beside it, ``os.link`` publishes it (the link fails if the name
    exists, so of two writers racing one name exactly one wins), and the
    tmp file is always unlinked. A lost race raises ``conflict_exc``.

    ``staged``: files written for this commit only. When the publish
    does not land, for any reason, they are unreferenced garbage — they
    are unlinked and the original exception re-raised."""
    d = os.path.dirname(final_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{uuid.uuid4().hex}.json.tmp")
    try:
        try:
            with open(tmp, "w", encoding="utf-8") as fh:
                write_fn(fh)
            os.link(tmp, final_path)
        except FileExistsError as e:
            raise conflict_exc from e
        finally:
            unlink_quietly([tmp])
    except BaseException:
        unlink_quietly(staged)
        raise


class StagedFile(NamedTuple):
    dst: str  # absolute path under the table root
    rel: str  # ``dst`` relative to the table root
    partition_values: dict  # hive dir values (None for the null dir)
    row_count: int
    footer: object  # pyarrow FileMetaData, None when unreadable locally


def read_footer(path: str):
    """The parquet footer, or None when the local pyarrow cannot parse
    it (the VARIANT logical type postdates its thrift definitions)."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata
    except OSError:
        return None


def parse_hive_dirs(relpath: str) -> dict:
    """``col=value`` directory segments of ``relpath`` (file name
    excluded), URL-unquoted; the hive null directory parses to None."""
    vals = {}
    for seg in relpath.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            vals[k] = None if v == HIVE_NULL else unquote(v)
    return vals


def stage_parquet(
    df: DataFrame,
    root: str,
    subdir: str,
    name_fn: Callable[[], str],
    partition_by: list[str] | None = None,
) -> list[StagedFile]:
    """ONE distributed parquet write of ``df`` to a temp directory, then
    move every non-empty part under ``root/subdir`` (keeping the hive
    partition dirs) with the name ``name_fn()``. Each footer is read
    once. A footer the local pyarrow cannot parse (VARIANT) costs one
    tiny Spark count to tell empty from non-empty; its record carries
    ``footer=None`` (skipping bounds lost, reads stay correct). If the
    walk fails, the files it already moved are unlinked."""
    staging = tempfile.mkdtemp(prefix="lakestage_")
    out: list[StagedFile] = []
    try:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        for here, _dirs, names in os.walk(staging):
            rel_dir = os.path.relpath(here, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(here, name)
                md = read_footer(src)
                n = (
                    md.num_rows
                    if md is not None
                    else df.sparkSession.read.parquet(src).count()
                )
                if n == 0:
                    continue
                part_rel = os.path.join(rel_dir, name_fn())
                rel = os.path.join(subdir, part_rel)
                dst = os.path.join(root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
                out.append(
                    StagedFile(dst, rel, parse_hive_dirs(part_rel), n, md)
                )
    except BaseException:
        unlink_quietly(s.dst for s in out)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def footer_ranges(md, cols=None) -> tuple[dict, dict, dict]:
    """Fold a parquet footer's row-group statistics into per-column
    ``(mins, maxs, null_counts)`` of raw pyarrow values. Top-level
    columns only (nested leaves are skipped), restricted to ``cols``
    when given. A column whose min/max pyarrow cannot decode (e.g.
    fixed-len-byte-array decimals) or reports as None contributes no
    range — absent ranges never prune, so skipping degrades, reads
    stay correct."""
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(md.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or (cols is not None and name not in cols):
                continue
            st = col.statistics
            if st is None:
                continue
            nulls[name] = nulls.get(name, 0) + (st.null_count or 0)
            if not st.has_min_max:
                continue
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:
                continue
            if lo is None or hi is None:
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    return mins, maxs, nulls


_SKIP_RE = re.compile(
    r"^\s*`?(\w+)`?\s*(<=|>=|==|=|<|>)\s*"
    r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$"
)


def parse_skippable(predicate: str):
    """Parse a predicate into [(col, op, literal)] conjuncts usable for
    file skipping, or None when any part is not a simple
    ``col <op> literal`` AND-chain (OR / NOT / parens / functions make
    skipping unsafe — the caller keeps every file, which is always
    correct, and row-level filtering still applies)."""
    low = predicate.lower()
    if (
        "(" in predicate
        or " or " in f" {low} "
        or low.startswith("not ")
        or " not " in f" {low} "
    ):
        return None
    out = []
    for part in re.split(r"(?i)\s+and\s+", predicate):
        m = _SKIP_RE.match(part)
        if not m:
            return None
        col, op, lit = m.group(1), m.group(2), m.group(3)
        if lit.startswith("'"):
            val: object = lit[1:-1].replace("''", "'")
        elif "." in lit:
            val = float(lit)
        else:
            val = int(lit)
        out.append((col, "=" if op == "==" else op, val))
    return out


def partition_types(
    who: str, partition_by: list[str], partition_schema: str | None
) -> dict:
    """Types of the hive partition columns of an in-place conversion.
    Hive dir values are untyped strings, so a partitioned conversion
    needs ``partition_schema`` DDL naming every ``partition_by`` column
    (``who`` names the caller in the error)."""
    if not partition_by:
        return {}
    if not partition_schema:
        raise ValueError(
            f"{who}: partitioned conversion needs "
            "partition_schema DDL (hive dir values are untyped)"
        )
    pstruct = T.StructType.fromDDL(partition_schema)
    ptypes = {f.name: f.dataType for f in pstruct.fields}
    missing = [c for c in partition_by if c not in ptypes]
    if missing:
        raise ValueError(f"partition_schema lacks columns {missing}")
    return ptypes


def takeover_files(root: str, skip_dir: str) -> list[str]:
    """The parquet files under ``root`` (outside any ``skip_dir``
    directory, hidden files excluded) for an in-place conversion, in
    sorted order with unique basenames and uniform footers.

    Spark's partitionBy reuses basenames ACROSS partition dirs
    (grp=0/part-00000-x, grp=1/part-00000-x) while both table formats
    identify files by unique basename (the broadcast file-map pattern).
    Conversion is a TAKEOVER: colliding files get a unique suffix via
    os.rename — an O(files) filesystem metadata op, still zero bytes of
    data moved or rewritten (the table owns the layout from here on,
    exactly like the jars' CONVERT / migrate own the directory)."""
    files = []
    for here, _dirs, names in os.walk(root):
        if skip_dir in os.path.relpath(here, root).split(os.sep):
            continue
        files += [
            os.path.join(here, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(".")
        ]
    if not files:
        raise ValueError(f"no parquet files under {root}")
    seen: set[str] = set()
    out: list[str] = []
    for src in sorted(files):
        base = os.path.basename(src)
        if base in seen:
            stem, ext = os.path.splitext(base)
            dst = os.path.join(
                os.path.dirname(src), f"{stem}-{uuid.uuid4().hex[:8]}{ext}"
            )
            os.rename(src, dst)
            src, base = dst, os.path.basename(dst)
        seen.add(base)
        out.append(src)
    assert_uniform_footers(out)
    return out


def assert_uniform_footers(files: list[str]) -> None:
    """CONVERT safety: every parquet footer must agree on name → arrow
    type. Conversion infers the table schema from ONE footer, so a
    directory with heterogeneous footers (columns added over time) would
    silently lose the extra columns behind the forced read schema — fail
    loudly instead. Footer-only reads (``pq.read_schema``), O(files)
    metadata at any data size."""
    import pyarrow.parquet as pq

    ref_file = files[0]
    ref = {f.name: f.type for f in pq.read_schema(ref_file)}
    for p in files[1:]:
        got = {f.name: f.type for f in pq.read_schema(p)}
        if got != ref:
            extra = sorted(set(got) - set(ref))
            missing = sorted(set(ref) - set(got))
            changed = sorted(n for n in set(ref) & set(got) if ref[n] != got[n])
            raise ValueError(
                f"convert: heterogeneous parquet footers — {p} vs {ref_file}: "
                + (f"extra columns {extra} " if extra else "")
                + (f"missing columns {missing} " if missing else "")
                + (f"type-changed columns {changed} " if changed else "")
                + "— unify the files (or convert a uniform subset) first"
            )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 4):
    """Multi-column Morton/z-order key as a pure Column expression.

    Each column is quantized to ``2^bits`` QUANTILE buckets (driver-side
    ``approxQuantile`` boundaries — one bounded extra pass; equal-depth,
    so skew cannot collapse the key space the way equal-width would),
    then the bucket bits are interleaved round-robin across columns.
    Sorting by the key makes consecutive rows cover small axis-aligned
    hyper-rectangles in the column space, so every written file's
    min/max footer spans ~2^-bits of EVERY dimension — multi-dimensional
    data skipping, the thing a lexicographic sort gives only the leading
    column. Bucketization is a driver-constant when-chain over ≤ 2^bits
    boundaries and the interleave is shift/mask arithmetic — all inside
    whole-stage codegen, no UDF, no extra shuffle."""
    ncols = len(cols)
    types = {f.name: f.dataType for f in df.schema.fields}
    nums = []
    for c in cols:
        dt = types[c]
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            nums.append(F.col(c).cast("timestamp").cast("double"))
        elif isinstance(dt, T.NumericType):
            nums.append(F.col(c).cast("double"))
        else:
            raise ValueError(
                f"zorder_by column {c!r} has type {dt.simpleString()} — "
                "only numeric / date / timestamp columns are supported "
                "(quantile quantization needs an orderable numeric axis)"
            )
    n_b = (1 << bits) - 1
    # ONE quantile job computes every column's boundaries (the sketch is
    # built per column either way, so the boundaries are identical to
    # k separate calls) — k-1 fewer full passes over the table
    qdf = df.select(
        *[num.alias(f"__zq_{c}") for c, num in zip(cols, nums)]
    )
    all_bounds = qdf.approxQuantile(
        [f"__zq_{c}" for c in cols],
        [i / (n_b + 1) for i in range(1, n_b + 1)],
        0.01,
    )
    buckets = []
    for num, bounds in zip(nums, all_bounds):
        # count of boundaries <= value == equal-depth bucket id in
        # [0, 2^bits); NULLs sort first (bucket 0)
        b = F.lit(0)
        for t in bounds:
            b = b + F.when(num >= F.lit(t), 1).otherwise(0)
        buckets.append(b)
    z = F.lit(0)
    for bit in range(bits):
        for i, b in enumerate(buckets):
            pos = bit * ncols + i
            z = z + F.shiftright(b, bit).bitwiseAND(F.lit(1)) * F.lit(1 << pos)
    return z


@contextmanager
def layout_rewrite(
    df: DataFrame,
    cols: list[str],
    zorder: bool,
    prefix_cols: list[str],
    n_out: int,
):
    """Yield ``df`` laid out in ``n_out`` range partitions, each sorted
    by ``prefix_cols`` then by the Z-order key of ``cols`` (``zorder``)
    or by ``cols`` themselves. A layout rewrite consumes its input THREE
    times — the quantile boundary job (zorder only), the range-bounds
    SAMPLING pass of ``repartitionByRange``, and the caller's staging
    write — so the working set is persisted for the duration of the
    ``with`` block: the selected files are read once and the extra
    passes hit cached blocks. Unpersisted on exit."""
    with persisted(df) as held:
        laid = held
        key = [*prefix_cols, *cols]
        if zorder:
            laid = laid.withColumn("__z", zorder_key(held, cols))
            key = [*prefix_cols, "__z"]
        laid = laid.repartitionByRange(n_out, *key).sortWithinPartitions(*key)
        yield laid.drop("__z") if zorder else laid


# ---------------------------------------------------------------------------
# read half
# ---------------------------------------------------------------------------

#: positions above which a dead-position relation stops being broadcast —
#: ~64 bytes/row estimated (file-name string + long + hash overhead)
#: puts 1M positions around 64 MB, the edge of sane broadcast territory
DV_BROADCAST_MAX_POSITIONS = 1_000_000

#: the per-file map column listing which defaulted columns a file lacks
_ABSENT_COLS = "__absent_cols"


def with_lineage(df: DataFrame, pos: bool = False) -> DataFrame:
    """Attach ``__file_name`` (the basename of ``_metadata.file_path``,
    the key every per-file relation joins on) and, with ``pos``, the
    row's position in its file as ``__pos``."""
    df = df.withColumn(
        "__file_name",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    )
    return df.withColumn("__pos", F.col("_metadata.row_index")) if pos else df


def join_file_map(
    df: DataFrame,
    names: list[str],
    columns: list[tuple[T.StructField, list]],
) -> DataFrame:
    """Left-join ONE driver-small per-file relation onto ``df``'s
    ``__file_name``: row ``i`` is ``names[i]`` plus the ``i``-th value of
    every ``(field, values)`` column (partition literals, sequence
    numbers, row-id bases, absence lists). The map is broadcast, so the
    fact scan stays exchange-free. No columns: ``df`` unchanged, no
    join planned."""
    if not columns:
        return df
    fields = [f for f, _ in columns]
    fmap = local_relation(
        df.sparkSession,
        list(zip(names, *[vals for _, vals in columns])),
        T.StructType(
            [T.StructField("__file_name", T.StringType(), False), *fields]
        ),
    )
    return df.join(F.broadcast(fmap), "__file_name", "left")


def absent_column(
    names: list[str], absent: dict[str, list[str]]
) -> tuple[T.StructField, list]:
    """The ``__absent_cols`` file-map column: per file basename, the
    defaulted columns the file physically lacks (null when none)."""
    return (
        T.StructField(_ABSENT_COLS, T.ArrayType(T.StringType()), True),
        [absent.get(n) for n in names],
    )


def fill_absent_defaults(
    df: DataFrame, defaults: dict, absent: dict[str, list[str]]
) -> DataFrame:
    """Substitute ``defaults[name]`` (a Column) wherever the joined
    ``__absent_cols`` names the column — a pure column expression on
    the scan, no extra pass or exchange — for every column some file
    lacks, then drop ``__absent_cols``."""
    lacking = {n for cols in absent.values() for n in cols}
    for name, value in defaults.items():
        if name in lacking:
            df = df.withColumn(
                name,
                F.when(
                    F.array_contains(F.col(_ABSENT_COLS), name), value
                ).otherwise(F.col(name)),
            )
    return df.drop(_ABSENT_COLS)


class FooterColumns(frozenset):
    """The top-level column names of one parquet footer; ``ids`` maps
    each stamped parquet field id to its column's name."""

    def __new__(cls, names, ids: dict[int, str]):
        self = super().__new__(cls, names)
        self.ids = ids
        return self


def footer_columns(paths: list[str]) -> dict[str, FooterColumns]:
    """Top-level column names and field ids of each parquet file, one
    footer read per path, through a bounded thread pool. A footer the
    local pyarrow cannot parse (VARIANT) is answered by the JVM footer
    reader."""
    import concurrent.futures as cf

    from pyspark.sql import SparkSession

    if not paths:
        return {}
    # resolved HERE: the active session is thread-local, a fresh pool
    # thread may not see it
    spark = SparkSession.getActiveSession()

    def probe(path):
        md = read_footer(path)
        if md is not None:
            fields = [
                (f.name, (f.metadata or {}).get(b"PARQUET:field_id"))
                for f in md.schema.to_arrow_schema()
            ]
        else:
            fields = [
                (f.name, f.metadata.get("parquet.field.id"))
                for f in spark.read.parquet(path).schema.fields
            ]
        return FooterColumns(
            [n for n, _ in fields],
            {int(i): n for n, i in fields if i is not None},
        )

    with cf.ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        return dict(zip(paths, pool.map(probe, paths)))


#: a format log's verdict on whether one file holds one column
ABSENT, PRESENT, UNDATED = "absent", "present", "undated"


class WantedColumn(NamedTuple):
    """A column whose per-file presence a scan needs decided: files
    lacking it read its default, or a masked/renamed physical column.

    ``stored_as``: every physical name it may be stored under (one,
    unless it was renamed). ``field_id``: set where footers carry field
    ids the column is matched by (Iceberg); the format's stats are then
    keyed by it, else by the one physical name. ``shared``: those of
    ``stored_as`` another field also carried (drop + re-add, rename)."""

    name: str
    stored_as: tuple[str, ...]
    field_id: int | None = None
    shared: frozenset = frozenset()

    @property
    def stat_key(self):
        return self.stored_as[0] if self.field_id is None else self.field_id


class FileEvidence(NamedTuple):
    """What a format's log says about one data file: ``proven`` holds
    the stat keys of the columns its per-column stats (count, null-count
    and size maps, min/max bounds) prove stored; ``verdicts`` maps a
    column name to ABSENT/PRESENT/UNDATED from the log's dating (a
    missing name is UNDATED)."""

    path: str
    proven: frozenset
    verdicts: dict


def resolve_file_columns(
    files: list[FileEvidence], columns: list[WantedColumn]
) -> dict[str, dict[str, str | None]]:
    """THE per-file column decision of both table formats: per file
    path, per wanted column, the physical name the file stores it under,
    or None when the file lacks it.

    Stats prove presence first (positive evidence only: engines cap or
    suppress per-column stats), then the log's verdict; a present column
    with one possible name needs nothing else. Every other case — an
    undated file, a renamed column — is settled by the file's footer,
    each read at most once, all through :func:`footer_columns`'s pool:
    by field id when the footer carries ids, else by the one candidate
    name it holds. A name the table's history gave to more than one
    field cannot be told apart without ids and refuses."""
    out: dict[str, dict[str, str | None]] = {}
    pending: list[str] = []
    for ev in files:
        got: dict[str, str | None] = {}
        for c in columns:
            verdict = ev.verdicts.get(c.name, UNDATED)
            if c.stat_key in ev.proven or verdict == PRESENT:
                if len(c.stored_as) == 1:
                    got[c.name] = c.stored_as[0]
            elif verdict == ABSENT:
                got[c.name] = None
        out[ev.path] = got
        if len(got) < len(columns):
            pending.append(ev.path)
    for path, footer in footer_columns(pending).items():
        got = out[path]
        for c in columns:
            if c.name not in got:
                got[c.name] = _footer_name(path, c, footer)
    return out


def _footer_name(path: str, c: WantedColumn, footer: FooterColumns):
    """The name ``footer`` stores column ``c`` under, or None."""
    if c.field_id is not None and footer.ids:
        return footer.ids.get(c.field_id)
    held = [n for n in c.stored_as if n in footer]
    if len(held) > 1 or c.shared.intersection(held):
        raise ValueError(
            f"cannot resolve column {c.name!r} (field id {c.field_id}) in "
            f"{os.path.basename(path)}: the file has no parquet field ids "
            f"and the candidate names {held} are ambiguous across the "
            "table's schema history (rename, or drop and re-add); rewrite "
            "the file (rewrite_data_files) to disambiguate"
        )
    return held[0] if held else None


def absent_by_file(
    resolved: dict[str, dict[str, str | None]], names
) -> dict[str, list[str]]:
    """Per file basename, which of ``names`` a :func:`resolve_file_columns`
    answer finds the file lacking (files lacking none are left out)."""
    out = {}
    for path, cols in resolved.items():
        absent = [n for n, phys in cols.items() if phys is None and n in names]
        if absent:
            out[os.path.basename(path)] = absent
    return out


def dead_positions(
    spark, descriptors: list[tuple], decode: Callable
) -> DataFrame:
    """``(__file_name, __pos, __del_seq)`` rows for deleted positions.
    ``descriptors`` are driver-small ``(file basename, payload,
    del_seq)`` tuples, one per deletion vector, with a JSON-encodable
    payload; ``decode(payload)`` returns the positions and runs on the
    EXECUTORS in Arrow batches — a vector can carry millions of
    positions, they never materialize on the driver."""
    import json

    spec = local_relation(
        spark,
        [(n, json.dumps(p), s) for n, p, s in descriptors],
        "`__file_name` string, `__dv` string, `__del_seq` long",
    )

    def gen(batches):
        import json as _json

        import pandas as pd

        for pdf in batches:
            names: list[str] = []
            poss: list[int] = []
            seqs: list[int] = []
            for name, dv, seq in zip(
                pdf["__file_name"], pdf["__dv"], pdf["__del_seq"]
            ):
                ps = sorted(decode(_json.loads(dv)))
                names += [name] * len(ps)
                poss += ps
                seqs += [seq] * len(ps)
            yield pd.DataFrame(
                {"__file_name": names, "__pos": poss, "__del_seq": seqs}
            )

    return spec.mapInPandas(
        gen, "`__file_name` string, `__pos` long, `__del_seq` long"
    )


def subtract_positions(
    df: DataFrame, dead: DataFrame, cardinality: int, by_seq: bool = False
) -> DataFrame:
    """Anti-join ``dead`` (``__file_name``, ``__pos``[, ``__del_seq``])
    out of a scan carrying ``__file_name`` + ``__pos`` (+ ``__seq``):
    with ``by_seq`` a position dies only where ``__del_seq >= __seq``.

    Join strategy is SIZE-GUARDED on ``cardinality``, the positions the
    descriptors claim (driver-side metadata, no decode needed): up to
    ``DV_BROADCAST_MAX_POSITIONS`` the relation broadcasts and the fact
    scan stays exchange-free. Above it an explicit broadcast would
    bypass AQE's size check and ship a multi-GB position relation to
    every executor, so the positions are spread across the cluster
    instead and the join is pinned to a shuffle hash join — left alone,
    the planner would auto-broadcast a decoded relation whose
    descriptor-sized stats underestimate it."""
    if cardinality <= DV_BROADCAST_MAX_POSITIONS:
        dead = F.broadcast(dead)
    else:
        dead = dead.repartition("__file_name", "__pos").hint("shuffle_hash")
    on = [
        df["__file_name"] == dead["__file_name"],
        df["__pos"] == dead["__pos"],
    ]
    if by_seq:
        on.append(dead["__del_seq"] >= df["__seq"])
    return df.join(dead, on=on, how="left_anti")


# ---------------------------------------------------------------------------
# change feeds
# ---------------------------------------------------------------------------


def net_changes(
    df: DataFrame, data_cols: list[str], ordinal_col: str, tie_col: str
) -> DataFrame:
    """Net-changes fold of a raw change feed (Iceberg's
    removeNetCarryovers; Delta's CDF normalizes its update pre/post
    images to delete/insert first): across the WHOLE range,
    bit-identical delete+insert pairs cancel — a row inserted then
    deleted inside the range vanishes; a row deleted then re-inserted
    identically vanishes — and each surviving change keeps its LATEST
    commit (``ordinal_col``, then ``tie_col``). One window pass hashing
    on the full row content over O(change) rows."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*data_cols)
    wt = W.partitionBy(*data_cols, "_change_type").orderBy(
        F.col(ordinal_col).desc(), F.col(tie_col).desc()
    )
    is_del = F.when(F.col("_change_type") == "delete", 1).otherwise(0)
    is_ins = F.when(F.col("_change_type") == "insert", 1).otherwise(0)
    n_mine = F.when(
        F.col("_change_type") == "delete", F.col("__n_del")
    ).otherwise(F.col("__n_ins"))
    return (
        df.withColumn("__n_del", F.sum(is_del).over(w))
        .withColumn("__n_ins", F.sum(is_ins).over(w))
        .withColumn("__rn", F.row_number().over(wt))
        .where(F.col("__rn") <= n_mine - F.least("__n_del", "__n_ins"))
        .drop("__n_del", "__n_ins", "__rn")
    )


class ChangeUnit(InputPartition):
    """The rows of ONE parquet file that one commit changed — the unit
    a change planner emits and a stream ships as one partition.

    Rows are selected by position and by key. A position source is a
    ``(fn, args)`` pair whose ``fn(*args)`` returns row positions (a
    deletion vector, or :func:`file_positions` of a position-delete
    file); it runs where the unit is read. The unit's rows are those in
    the union of ``keep`` (every row when ``keep`` is None) minus the
    union of ``drop``, restricted by ``keep_keys`` — ``(delete file,
    key columns)``: only rows whose key the file holds — and by
    ``drop_keys``, a list of such pairs naming rows already dead.

    ``tags`` are constant output columns (change type, commit version
    or snapshot, timestamp), ``constants`` the typed identity partition
    values, ``renames`` the per-file {logical name: physical name, or
    None where :func:`resolve_file_columns` found the file lacks it}."""

    def __init__(
        self,
        path: str,
        tags: dict | None = None,
        constants: dict | None = None,
        renames: dict | None = None,
        keep: list | None = None,
        drop: list | None = None,
        keep_keys: tuple | None = None,
        drop_keys: list | None = None,
    ):
        self.path = path
        self.tags = tags or {}
        self.constants = constants or {}
        self.renames = renames or {}
        self.keep = keep
        self.drop = drop or []
        self.keep_keys = keep_keys
        self.drop_keys = drop_keys or []


def file_positions(delete_path: str, data_name: str) -> list[int]:
    """Positions a position-delete parquet file (``file_path``, ``pos``)
    names for the data file whose basename is ``data_name``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(delete_path, columns=["file_path", "pos"])
    paths = t.column("file_path")
    hit = pc.or_(
        pc.ends_with(paths, "/" + data_name), pc.equal(paths, data_name)
    )
    return t.column("pos").filter(hit).to_pylist()


def _position_mask(sources, n: int):
    """Boolean mask over ``n`` rows: the positions any source names."""
    import numpy as np

    hit = np.zeros(n, dtype=bool)
    for fn, args in sources:
        got = fn(*args)
        pos = np.fromiter(got, dtype=np.int64, count=len(got))
        hit[pos[pos < n]] = True
    return hit


def _key_strings(tbl, keys: list[str]):
    """One null-safe string per row encoding its ``keys`` values, so a
    multi-column key probe is one ``is_in``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = [
        pc.fill_null(pc.cast(tbl.column(k), pa.string()), "\x00")
        for k in keys
    ]
    return pc.binary_join_element_wise(*parts, "\x01")


def read_change_unit(unit: ChangeUnit, schema: T.StructType, defaults: dict):
    """Executor side: yield the rows of ``unit`` as ``pyarrow.RecordBatch``es
    in ``schema``'s column order and Arrow types. Each output column is
    a tag, an identity partition constant, the file's column (under its
    physical name), the column's default where ``unit.renames`` marks
    it absent (``defaults``: logical name → value), or null."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    tbl = pq.read_table(unit.path)
    n = tbl.num_rows
    mask = np.ones(n, dtype=bool)
    if unit.keep is not None:
        mask = _position_mask(unit.keep, n)
    if unit.drop:
        mask &= ~_position_mask(unit.drop, n)
    probes = [(k, False) for k in unit.drop_keys]
    if unit.keep_keys:
        probes.append((unit.keep_keys, True))
    for (del_path, keys), wanted in probes:
        held = _key_strings(pq.read_table(del_path, columns=keys), keys)
        hit = pc.is_in(_key_strings(tbl, keys), value_set=held)
        mask &= hit.to_numpy(zero_copy_only=False) == wanted
    if not mask.all():
        tbl = tbl.filter(pa.array(mask))
        n = tbl.num_rows
    if n == 0:
        return
    arrow = to_arrow_schema(schema)
    cols = []
    for f in arrow:
        name = f.name
        if name in unit.tags or name in unit.constants:
            value = unit.tags.get(name, unit.constants.get(name))
            cols.append(pa.repeat(pa.scalar(value, f.type), n))
            continue
        phys = unit.renames.get(name, name)
        if phys is not None and phys in tbl.column_names:
            cols.append(tbl.column(phys).cast(f.type))
        else:
            value = defaults.get(name) if phys is None else None
            cols.append(pa.repeat(pa.scalar(value, f.type), n))
    yield from pa.Table.from_arrays(cols, schema=arrow).to_batches()


class ChangeStreamReader(DataSourceStreamReader):
    """Micro-batch source over a change planner. Offsets are
    ``{offset_key: int}``; ``partitions`` (the format's) returns
    :class:`ChangeUnit`s and ``read`` turns each into Arrow batches
    under ``self._schema`` with ``self._defaults``.

    With ``max_per_trigger=N`` each micro-batch advances at most N
    offsets past the last offset THIS reader handed out, re-synced to
    the durably committed offset in ``commit()``, so a failed batch
    never skips any. Without it the head returns directly. The point
    at scale: a stream started at offset 0 on a 100k-commit table
    otherwise plans its ENTIRE history as one first micro-batch.

    CAVEAT (Python DataSourceStreamReader API): there is no admission
    control (reportLatestOffset), so availableNow / processAllAvailable
    may return between paced batches — for one-shot drains use
    :func:`spark_etl_framework_spark.streaming.drain_until_current`."""

    offset_key = "version"

    def __init__(self, schema: T.StructType, defaults: dict, max_per_trigger: int):
        self._schema = schema
        self._defaults = defaults
        self._max_per_trigger = max_per_trigger
        self._paced_pos = None

    def head(self) -> int:
        raise NotImplementedError

    def latestOffset(self):
        head = self.head()
        m = self._max_per_trigger
        if not m:
            return {self.offset_key: head}
        base = self._paced_pos
        if base is None:
            base = int(self.initialOffset()[self.offset_key])
        self._paced_pos = min(head, base + m)
        return {self.offset_key: self._paced_pos}

    def commit(self, end) -> None:
        self._paced_pos = int(end[self.offset_key])

    def read(self, partition):
        return read_change_unit(partition, self._schema, self._defaults)


def stream_option(options, name: str, default=None):
    """A stream option under its camelCase ``name`` or lower-cased (the
    data-source API lower-cases option keys)."""
    return options.get(name.lower(), options.get(name, default))
