"""The four benchmark workloads.

Each op is one pipeline built with ``plans.builder.build_pipeline`` and
run with ``plans.runner.PipelineRunner`` — the way users drive the
engine. Ops follow a fixed cycle of kinds per workload; the seed picks
each op's inputs and parameters. Write ops commit data (files or table
versions); read ops query committed data through the engine's readers
and collect the answer.

Outputs are checked after the timed window (:mod:`oracle`), so checking
never slows the closed loop.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import gen

SINK_PACKAGE = "spark_etl_framework_spark.sinks"
#: row-count scale of the etl_star warm-up inputs
WARM_SCALE = 0.1


@dataclass
class Op:
    index: int
    kind: str  # "read" | "write"
    name: str
    defn: dict | None = None
    #: global temp view whose rows are the op's answer (collected in-op)
    result_view: str | None = None
    input_rows: int = 0
    params: dict = field(default_factory=dict)
    out: Path | None = None
    rows: list | None = None
    #: bytes of user rows this op committed (write amplification base)
    user_bytes: int = 0
    error: str | None = None


def act(name: str, type_: str, props: dict, inputs=None, out=None, global_=False) -> dict:
    a = {"name": name, "actor": {"type": type_, "properties": props}}
    if inputs:
        a["input-views"] = inputs
    if out:
        a["output-view"] = {"name": out, "global": str(global_).lower()}
    return a


def pipeline(name: str, actions: list[dict], variables: dict | None = None) -> dict:
    return {
        "version": "1.0.0",
        "name": name,
        "variables": [{"name": k, "value": str(v)} for k, v in (variables or {}).items()],
        "jobs": [{"name": "main", "actions": actions}],
    }


def reader(name: str, uri, out: str) -> dict:
    return act(name, "file-reader", {"format": "parquet", "fileUri": str(uri)}, out=out)


def writer(name: str, view: str, uri) -> dict:
    return act(
        name, "file-writer", {"format": "parquet", "mode": "overwrite", "fileUri": str(uri)},
        inputs=[view],
    )


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in sorted(Path(path).rglob("*.parquet")))


def arrow_bytes(path: Path) -> int:
    files = sorted(Path(path).rglob("*.parquet"))
    return sum(pq.read_table(p).nbytes for p in files)


def parquet_bytes(*roots: Path) -> int:
    return sum(p.stat().st_size for r in roots for p in Path(r).rglob("*.parquet"))


class Workload:
    name = ""
    #: op kinds in order; the cycle repeats until the window closes
    cycle: tuple[str, ...] = ()
    #: whether setup builds persisted state worth repeating
    has_state = False
    #: fewest whole cycles the timed window runs; the end-to-end times are
    #: per-position medians over them
    timed_cycles = 2

    def __init__(self, seed: int, work: Path) -> None:
        self.seed = seed
        self.work = work
        self.inputs = work / "in"
        self.out = work / "out"
        self.out.mkdir(parents=True, exist_ok=True)
        self.input_stats: dict = {}

    # -- lifecycle ----------------------------------------------------------
    def generate(self) -> None:
        """Write the run's shared inputs (before the session starts)."""

    def setup(self, spark, rep: int) -> None:
        """Build the persisted state ops need; called several times, the
        last call's state is the one ops use."""

    def make_op(self, i: int) -> Op:
        raise NotImplementedError

    def execute(self, spark, op: Op, tracer) -> None:
        from spark_etl_framework_spark.plans.builder import build_pipeline
        from spark_etl_framework_spark.plans.runner import PipelineRunner

        with tracer.span("plans.build", "plans"):
            p = build_pipeline(op.defn, spark=spark)
        if tracer.enabled:
            for job in p.jobs:
                for a in job.actions:
                    layer = (
                        "sinks" if type(a.actor).__module__.startswith(SINK_PACKAGE) else "operators"
                    )
                    a.actor.run = tracer.wrap(a.actor.run, f"actor.{a.name}", layer)
        with tracer.span("plans.run", "plans"):
            PipelineRunner(spark).run(p)
        if op.result_view:
            with tracer.span("collect", "driver"):
                op.rows = [r.asDict() for r in spark.table(f"global_temp.{op.result_view}").collect()]

    def after_op(self, spark, op: Op) -> None:
        """Bookkeeping outside the op's timing (user bytes, versions)."""
        if op.kind == "write" and op.out is not None and op.out.exists():
            op.user_bytes = arrow_bytes(op.out)

    def cleanup_op(self, spark, op: Op) -> None:
        if op.result_view:
            spark.catalog.dropGlobalTempView(op.result_view)

    def roots(self) -> list[Path]:
        return [self.out]

    def live_bytes(self, spark) -> int:
        return parquet_bytes(*self.roots())

    def final_check(self, spark) -> bool:
        return True


# -- etl_star -----------------------------------------------------------------


class EtlStar(Workload):
    name = "etl_star"
    #: each write op is followed by a downstream report over its output
    #: (seeded cut-off)
    cycle = ("revenue", "revenue_report", "delay", "delay_report")

    def generate(self) -> None:
        self.input_stats = gen.star_schema(self.seed, self.inputs)
        self.warm_inputs = self.work / "in_warm"
        self.warm_stats = gen.star_schema(self.seed, self.warm_inputs, WARM_SCALE)

    def make_op(self, i: int) -> Op:
        kind = self.cycle[i % len(self.cycle)]
        # the warm-up cycle runs the same pipelines on a smaller copy of the
        # star schema: the JIT and code generation warm up at a tenth of the cost
        warm = i < len(self.cycle)
        src, stats = (self.warm_inputs, self.warm_stats) if warm else (self.inputs, self.input_stats)
        p = {**gen.star_params(self.seed, i), "inputs": str(src)}
        out = self.out / f"op{i:04d}"
        if kind == "revenue":
            sql = """
            setrun n_days = select datediff(max(o_orderdate), min(o_orderdate)) from e_orders
                where o_orderdate >= date '${lo}' and o_orderdate < date '${hi}';
            with rev as (
                select c_custkey, c_nationkey, c_mktsegment,
                       cast(round(sum(cast(l_extendedprice as decimal(18,2))
                                      * (1 - cast(l_discount as decimal(4,2)))), 2) as double) as revenue,
                       count(distinct o_orderkey) as n_orders
                from e_customer join e_orders on c_custkey = o_custkey
                     join e_lineitem on l_orderkey = o_orderkey
                where o_orderdate >= date '${lo}' and o_orderdate < date '${hi}'
                  and l_discount between ${disc_lo} and ${disc_hi}
                group by c_custkey, c_nationkey, c_mktsegment)
            select c_custkey, c_nationkey, c_mktsegment, revenue, n_orders, ${n_days} as n_days,
                   revenue / avg(revenue) over () as rev_share,
                   cast(rank() over (partition by c_nationkey
                                     order by revenue desc, c_custkey) as int) as rnk
            from rev
            """
            actions = [
                reader("load-customer", src / "customer", "e_customer"),
                reader("load-orders", src / "orders", "e_orders"),
                reader("load-lineitem", src / "lineitem", "e_lineitem"),
                act("transform", "sql-transformer", {"sqlString": sql},
                    ["e_customer", "e_orders", "e_lineitem"], "e_rev"),
                act("validate", "sql-data-validator",
                    {"validWhere": "rev_share >= ${min_share}", "action": "ignore"}, ["e_rev"], "e_valid"),
                writer("write", "e_valid", out),
            ]
            rows = sum(stats[t]["rows"] for t in ("customer", "orders", "lineitem"))
            return Op(i, "write", kind, pipeline("etl-revenue", actions, p), None, rows, p, out)
        if kind == "delay":
            sql = """
            setrun n_open = select count(*) from d_orders where o_orderstatus = 'O'
                and o_orderdate >= date '${lo}' and o_orderdate < date '${hi}';
            select o_orderpriority, l_suppkey, count(*) as n_lines,
                   cast(sum(datediff(l_shipdate, o_orderdate)) as bigint) as total_delay,
                   cast(sum(cast(l_quantity as bigint)) as bigint) as qty,
                   ${n_open} as n_open,
                   cast(row_number() over (partition by o_orderpriority
                                           order by count(*) desc, l_suppkey) as int) as rn
            from d_orders join d_lineitem on l_orderkey = o_orderkey
            where o_orderdate >= date '${lo}' and o_orderdate < date '${hi}'
              and l_quantity between ${qmin} and ${qmax}
            group by o_orderpriority, l_suppkey
            """
            actions = [
                reader("load-orders", src / "orders", "d_orders"),
                reader("load-lineitem", src / "lineitem", "d_lineitem"),
                act("transform", "sql-transformer", {"sqlString": sql},
                    ["d_orders", "d_lineitem"], "d_delay"),
                act("validate", "sql-data-validator",
                    {"validWhere": "total_delay <= ${max_delay} * n_lines", "action": "ignore"},
                    ["d_delay"], "d_valid"),
                writer("write", "d_valid", out),
            ]
            rows = sum(stats[t]["rows"] for t in ("orders", "lineitem"))
            return Op(i, "write", kind, pipeline("etl-delay", actions, p), None, rows, p, out)
        # a downstream consumer of the latest write op's output
        writer_op = i - i % len(self.cycle) + self.cycle.index(kind.removesuffix("_report"))
        last = self.out / f"op{writer_op:04d}"
        if kind == "revenue_report":
            sql = """
            select c_mktsegment, cast(count(*) as bigint) as n,
                   cast(round(sum(cast(revenue as decimal(18,2))), 2) as double) as rev,
                   cast(min(rnk) as int) as best
            from r_in where rnk <= ${top} group by c_mktsegment
            """
        else:
            sql = """
            select o_orderpriority, cast(count(*) as bigint) as n,
                   cast(sum(n_lines) as bigint) as n_lines,
                   cast(sum(total_delay) as bigint) as total_delay, max(n_open) as n_open
            from r_in where rn <= ${top} group by o_orderpriority
            """
        actions = [
            reader("load-output", last, "r_in"),
            act("report", "sql-transformer", {"sqlString": sql}, ["r_in"], "r_report", True),
        ]
        return Op(i, "read", kind, pipeline("etl-report", actions, p), "r_report",
                  parquet_rows(last), {**p, "src": str(last)})


# -- corpus_ingest ------------------------------------------------------------


class CorpusIngest(Workload):
    name = "corpus_ingest"
    cycle = ("ingest", "ingest", "read")
    has_state = True
    timed_cycles = 1

    def generate(self) -> None:
        self.input_stats = {"corpus": gen.corpus(self.seed, self.inputs / "corpus")}
        self.prefix = ""

    def setup(self, spark, rep: int) -> None:
        from spark_etl_framework_spark.plans.builder import build_pipeline
        from spark_etl_framework_spark.plans.runner import PipelineRunner

        self.index = self.work / f"index{rep}"
        self.prefix = f"pb_lsh{rep}"
        defn = pipeline("corpus-index", [
            reader("load-corpus", self.inputs / "corpus", "c_corpus"),
            act("build-index", "lsh-index-builder",
                {"path": str(self.index), "tablePrefix": self.prefix, "numBuckets": "4"},
                ["c_corpus"], "c_build"),
        ])
        PipelineRunner(spark).run(build_pipeline(defn, spark=spark))

    def batch_dir(self, i: int) -> Path:
        return self.inputs / f"batch{i:04d}"

    def make_op(self, i: int) -> Op:
        kind = self.cycle[i % len(self.cycle)]
        if kind == "ingest":
            batch = self.batch_dir(i)
            stats = gen.corpus_batch(self.seed, i, batch)
            out = self.out / f"op{i:04d}"
            keep = """
            select d.doc_id, d.text, d.lang, d.source
            from i_batch d join i_probe p on d.doc_id = p.doc_id
            where not p.is_dup
            """
            actions = [
                reader("load-batch", batch, "i_batch"),
                act("probe-index", "lsh-index-probe",
                    {"tablePrefix": self.prefix, "threshold": "0.5"}, ["i_batch"], "i_probe"),
                act("admit", "sql-transformer", {"sqlString": keep},
                    ["i_batch", "i_probe"], "i_admitted"),
                act("containment-dedup", "containment-dedup-transformer",
                    {"threshold": "0.8"}, ["i_admitted"], "i_curated"),
                writer("write", "i_curated", out),
            ]
            return Op(i, "write", kind, pipeline("corpus-ingest", actions), None,
                      stats["rows"], {"batch": str(batch)}, out)
        srcs = [self.out / f"op{j:04d}" for j in (i - 2, i - 1)]
        sql = """
        select lang, source, cast(count(*) as bigint) as n,
               cast(sum(length(text)) as bigint) as chars
        from r_admitted group by lang, source
        """
        actions = [
            act("load-admitted", "file-reader",
                {"format": "parquet", "fileUri": ",".join(str(s) for s in srcs)}, out="r_admitted"),
            act("report", "sql-transformer", {"sqlString": sql}, ["r_admitted"], "r_report", True),
        ]
        return Op(i, "read", kind, pipeline("corpus-report", actions), "r_report",
                  sum(parquet_rows(s) for s in srcs), {"srcs": [str(s) for s in srcs]})

    def roots(self) -> list[Path]:
        return [self.index, self.out]


# -- lakehouse_upsert -----------------------------------------------------------

#: (op, format) cycle: 6 commits and 3 reads
LAKE_CYCLE = (
    ("merge", "delta"), ("merge", "iceberg"), ("read", "delta"),
    ("delete_dv", "delta"), ("delete", "iceberg"), ("read", "iceberg"),
    ("delete_cow", "delta"), ("optimize", "delta"), ("travel", "iceberg"),
)


class LakehouseUpsert(Workload):
    name = "lakehouse_upsert"
    cycle = tuple(f"{op}:{fmt}" for op, fmt in LAKE_CYCLE)
    has_state = True

    def generate(self) -> None:
        self.input_stats = {"initial": gen.lake_initial(self.seed, self.inputs / "initial")}

    def setup(self, spark, rep: int) -> None:
        from spark_etl_framework_spark.plans.builder import build_pipeline
        from spark_etl_framework_spark.plans.runner import PipelineRunner

        import oracle

        base = self.work / f"tables{rep}"
        self.paths = {"delta": base / "delta", "iceberg": base / "iceberg"}
        defn = pipeline("lake-create", [
            reader("load-initial", self.inputs / "initial", "l_initial"),
            act("create-delta", "delta-writer",
                {"path": str(self.paths["delta"]), "mode": "append"}, ["l_initial"]),
            act("create-iceberg", "iceberg-writer",
                {"table": str(self.paths["iceberg"]), "mode": "append"}, ["l_initial"]),
        ])
        PipelineRunner(spark).run(build_pipeline(defn, spark=spark))
        self.models = {
            fmt: oracle.TableModel.from_parquet(self.inputs / "initial", self.version(fmt))
            for fmt in self.paths
        }

    def version(self, fmt: str) -> int:
        if fmt == "delta":
            from spark_etl_framework_spark.sources.deltalog import latest_version

            return latest_version(str(self.paths["delta"]))
        from spark_etl_framework_spark.sources.iceberg import load_metadata

        return int(load_metadata(str(self.paths["iceberg"]))["current-snapshot-id"])

    def make_op(self, i: int) -> Op:
        kind, fmt = LAKE_CYCLE[i % len(LAKE_CYCLE)]
        model = self.models[fmt]
        p = {**gen.lake_params(self.seed, i, model.max_key), "fmt": fmt, "op": kind}
        path = str(self.paths[fmt])
        dml = "delta-dml" if fmt == "delta" else "iceberg-dml"
        target = {"path": path} if fmt == "delta" else {"table": path}
        if kind == "merge":
            batch = self.inputs / f"batch{i:04d}"
            stats = gen.lake_merge_batch(self.seed, i, model.max_key, batch)
            actions = [
                reader("load-batch", batch, "m_batch"),
                act("merge", dml, {**target, "op": "merge", "sourceView": "m_batch", "keys": "id"}),
            ]
            p["batch"] = str(batch)
            return Op(i, "write", f"merge:{fmt}", pipeline("lake-merge", actions), None,
                      stats["rows"], p)
        if kind.startswith("delete"):
            pred = f"id >= {p['lo']} AND id < {p['hi']} AND grp <> {p['grp']}"
            props = {**target, "op": "delete", "predicate": pred}
            if fmt == "delta":
                props["useDVs"] = str(kind == "delete_dv").lower()
            p["pred"] = (p["lo"], p["hi"], p["grp"])
            return Op(i, "write", f"{kind}:{fmt}", pipeline("lake-delete", [act("delete", dml, props)]),
                      None, model.count_deleted(*p["pred"]), p)
        if kind == "optimize":
            props = {**target, "op": "optimize"}
            if fmt == "iceberg":
                props["strategy"] = "binpack"
            return Op(i, "write", f"optimize:{fmt}", pipeline("lake-optimize", [act("optimize", dml, props)]),
                      None, len(model.rows), p)
        read_type = "delta-reader" if fmt == "delta" else "iceberg-reader"
        if kind == "read":
            p["want"] = model.rows_in(p["lo"], p["hi"])
            props = {**target, "filter": f"id >= {p['lo']} AND id < {p['hi']}"}
            actions = [act("read", read_type, props, out="t_rows", global_=True)]
            return Op(i, "read", f"read:{fmt}", pipeline("lake-read", actions), "t_rows",
                      len(p["want"]), p)
        # time travel: aggregate the table as of an earlier version
        version, snap = model.history[max(0, len(model.history) - 1 - gen.TRAVEL_BACK)]
        p["want"] = model.summary(snap)
        opt = "versionAsOf" if fmt == "delta" else "snapshotId"
        sql = """
        select grp, cast(count(*) as bigint) as n, cast(sum(ver) as bigint) as sv,
               cast(round(sum(cast(amount as decimal(18,2))), 2) as double) as amt
        from t_old group by grp
        """
        actions = [
            act("read-old", read_type, {**target, f"options.{opt}": str(version)}, out="t_old"),
            act("summarize", "sql-transformer", {"sqlString": sql}, ["t_old"], "t_summary", True),
        ]
        return Op(i, "read", f"travel:{fmt}", pipeline("lake-travel", actions), "t_summary",
                  len(snap), p)

    def after_op(self, spark, op: Op) -> None:
        """Advance the table model with the op's committed effect."""
        if op.kind != "write" or op.error:
            return
        p = op.params
        model = self.models[p["fmt"]]
        if p["op"] == "merge":
            op.user_bytes = arrow_bytes(Path(p["batch"]))
            model.merge(pq.read_table(p["batch"]))
        elif p["op"].startswith("delete"):
            model.delete(*p["pred"])
        model.commit(self.version(p["fmt"]))

    def roots(self) -> list[Path]:
        return list(self.paths.values())

    def live_bytes(self, spark) -> int:
        from spark_etl_framework_spark.sources import deltalog, iceberg

        delta = sum(f.size for f in deltalog.snapshot(str(self.paths["delta"])).files)
        files = iceberg.read_meta(spark, str(self.paths["iceberg"]), "files")
        ice = files.agg({"file_size_in_bytes": "sum"}).collect()[0][0]
        return delta + int(ice)

    def final_check(self, spark) -> bool:
        from spark_etl_framework_spark.sources.deltalog import read_delta
        from spark_etl_framework_spark.sources.iceberg import read_iceberg

        ok = True
        for fmt, read in (("delta", read_delta), ("iceberg", read_iceberg)):
            df = read(spark, str(self.paths[fmt])).select("id", "grp", "amount", "ver")
            ok &= self.models[fmt].matches([r.asDict() for r in df.collect()], self.models[fmt].rows)
        return ok


# -- iterative_index ----------------------------------------------------------


class IterativeIndex(Workload):
    name = "iterative_index"
    cycle = ("index", "index", "read")
    timed_cycles = 1

    def make_op(self, i: int) -> Op:
        kind = self.cycle[i % len(self.cycle)]
        if kind == "index":
            emb = self.inputs / f"emb{i:04d}"
            graph = self.inputs / f"graph{i:04d}"
            stats = gen.embeddings(self.seed, i, emb)
            g = gen.trade_graph(self.seed, i, graph)
            out = self.out / f"op{i:04d}"
            probes = "select vec_id as probe_id, cast(embedding as array<double>) as pe " \
                     "from a_emb where vec_id < 3"
            actions = [
                reader("load-embeddings", emb, "a_emb"),
                act("build-index", "ann-index-builder",
                    {"path": str(out / "index"), "m": "2", "sub": "8", "k": "4", "iters": "2"},
                    ["a_emb"], "a_build"),
                act("probe-view", "sql-transformer", {"sqlString": probes}, ["a_emb"], "a_probes"),
                act("probe-index", "ann-index-probe",
                    {"path": str(out / "index"), "mode": "ivf", "m": "2", "sub": "8", "nprobe": "2",
                     "topK": "10"},
                    ["a_probes"], "a_result"),
                writer("write", "a_result", out / "result"),
            ]
            return Op(i, "write", kind, pipeline("ann-index", actions), None,
                      stats["rows"] + g["rows"], {"emb": str(emb), "graph": str(graph)}, out)
        src = self.out / f"op{i - 1:04d}" / "result"
        sql = """
        select probe_id, cast(count(*) as bigint) as n, min(adc_dist) as best,
               cast(max(rn) as int) as k
        from r_ann group by probe_id
        """
        actions = [
            reader("load-neighbours", src, "r_ann"),
            act("report", "sql-transformer", {"sqlString": sql}, ["r_ann"], "r_report", True),
        ]
        return Op(i, "read", kind, pipeline("ann-report", actions), "r_report",
                  parquet_rows(src), {"src": str(src)})

    def execute(self, spark, op: Op, tracer) -> None:
        super().execute(spark, op, tracer)
        if op.kind != "write":
            return
        from pyspark.sql import functions as F

        from spark_etl_framework_spark.operators.graph import pagerank, symmetrize

        graph = Path(op.params["graph"])
        with tracer.span("graph.pagerank", "operators"):
            li = spark.read.parquet(str(graph / "lineitem"))
            orders = spark.read.parquet(str(graph / "orders"))
            raw = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
            ).distinct()
            ranks = pagerank(symmetrize(raw, "a", "b"), iters=3, damping=0.85)
            op.rows = [
                r.asDict() for r in ranks.select("node", F.round("rank", 6).alias("rank")).collect()
            ]


WORKLOADS = {w.name: w for w in (EtlStar, CorpusIngest, LakehouseUpsert, IterativeIndex)}
