"""Seeded input generator for the pipeline benchmark.

Every table is synthesized with NumPy from ``(seed, workload, op index)``,
so the same seed always yields byte-identical parquet files and the
program under test only ever sees the generated files. Sizes are fixed
per workload; the seed moves values (keys, windows, text, vectors), never
row counts, so run-to-run figures compare like with like.

Large tables are written as several files with several row groups each,
so a local[4] scan can run one task per core.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: (files, row groups per file) for tables big enough to scan in parallel
MULTI_FILE = (4, 2)

EPOCH = dt.date(1994, 1, 1)
N_DAYS = 4 * 365

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es"]
VOCAB = [f"w{i:03d}" for i in range(400)]

#: etl_star sizes (rows): the TPC-H sf0.1 row counts the repo's other
#: benchmarks and fixtures use
N_CUSTOMER = 15_000
N_ORDERS = 150_000
LINES_PER_ORDER = 4
#: ship delay of a line is 1..(30 + 20 * priority index) days, so a
#: priority's mean delay is 15.5, 25.5, ... 55.5 days
DELAY_BASE, DELAY_STEP = 30, 20
#: order-date window of an op (days)
WINDOW_DAYS = 270
#: corpus_ingest sizes
N_CORPUS = 1_500
BATCH_DOCS = 120
NEAR_DUP_SHARE = 0.25
CONTAINED_SHARE = 0.10
#: lakehouse_upsert sizes
N_TABLE = 20_000
N_GROUPS = 16
MERGE_ROWS = 600
RECENT_SHARE = 0.7
#: width of the key range a selective read or DELETE covers
KEY_RANGE = 250
#: versions back from the latest that a time-travel read asks for
TRAVEL_BACK = 2
#: iterative_index sizes
N_VECTORS = 400
#: m=2 PQ subspaces of 8 dimensions
DIM = 16
N_LABELS = 8
N_GRAPH_CUST = 240
N_GRAPH_SUPP = 60
N_GRAPH_EDGES = 1_200


def rng_for(seed: int, *key: int) -> np.random.Generator:
    """Independent stream per (seed, key...) — op inputs never depend on
    how many ops ran before them."""
    return np.random.default_rng([seed, *key])


def write_table(table: pa.Table, path: Path, files: int = 1, row_groups: int = 1) -> dict:
    """Write ``table`` under directory ``path`` as ``files`` parquet files of
    ``row_groups`` row groups each; returns ``{"rows", "bytes"}``."""
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    per_file = -(-n // files)
    for i in range(files):
        part = table.slice(i * per_file, per_file)
        rg = max(1, -(-part.num_rows // row_groups))
        pq.write_table(part, path / f"part-{i:03d}.parquet", row_group_size=rg)
    return {"rows": n, "bytes": dir_bytes(path)}


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(EPOCH, "D") + days.astype("timedelta64[D]"), type=pa.date32())


# -- etl_star ---------------------------------------------------------------


def star_schema(seed: int, root: Path, scale: float = 1.0) -> dict:
    """customer / orders / lineitem with TPC-H-like columns, at ``scale``
    times the sf0.1 row counts. Money has two decimals and discounts are
    whole percents, so decimal sums are exact in every engine."""
    r = rng_for(seed, 1)
    n_cust, n_ord = int(N_CUSTOMER * scale), int(N_ORDERS * scale)
    cust = pa.table(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": r.integers(-99_999, 999_999, n_cust) / 100.0,
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    odate = r.integers(0, N_DAYS, n_ord)
    prio = r.integers(0, 5, n_ord)
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype="int64"),
            "o_custkey": r.integers(1, n_cust + 1, n_ord).astype("int64"),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": r.integers(100_00, 50_000_00, n_ord) / 100.0,
            "o_orderdate": _dates(odate),
            "o_orderpriority": np.array(PRIORITIES)[prio],
        }
    )
    n_li = n_ord * LINES_PER_ORDER
    okey = np.repeat(np.arange(1, n_ord + 1, dtype="int64"), LINES_PER_ORDER)
    qty = r.integers(1, 51, n_li)
    max_delay = np.repeat(DELAY_BASE + DELAY_STEP * prio, LINES_PER_ORDER)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": r.integers(1, 20_001, n_li).astype("int64"),
            "l_suppkey": r.integers(1, 1_001, n_li).astype("int64"),
            "l_linenumber": np.tile(np.arange(1, LINES_PER_ORDER + 1), n_ord).astype("int32"),
            "l_quantity": qty.astype("float64"),
            "l_extendedprice": qty * r.integers(900, 10_000_00, n_li) / 100.0,
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _dates(np.repeat(odate, LINES_PER_ORDER) + r.integers(1, max_delay + 1)),
        }
    )
    files, rgs = MULTI_FILE
    return {
        "customer": write_table(cust, root / "customer", files, 1),
        "orders": write_table(orders, root / "orders", files, rgs),
        "lineitem": write_table(lineitem, root / "lineitem", 2 * files, rgs),
    }


def star_params(seed: int, op: int) -> dict:
    """Per-op date window and thresholds. The seed moves each band, not its
    width, so every op scans, joins and writes about the same number of
    rows. ``min_share`` (of the average customer revenue) and ``max_delay``
    (mean days per line of a supplier) each fail a share of the output
    rows, so the validators always drop some."""
    r = rng_for(seed, 2, op)
    lo = int(r.integers(0, N_DAYS - WINDOW_DAYS))
    disc = int(r.integers(0, 6))
    qmin = int(r.integers(1, 22))
    return {
        "lo": str(EPOCH + dt.timedelta(days=lo)),
        "hi": str(EPOCH + dt.timedelta(days=lo + WINDOW_DAYS)),
        # 6 of the 11 discount values, 30 of the 50 quantities
        "disc_lo": f"{disc / 100:.2f}",
        "disc_hi": f"{(disc + 5) / 100:.2f}",
        "qmin": str(qmin),
        "qmax": str(qmin + 29),
        "min_share": f"{int(r.integers(70, 91)) / 100:.2f}",
        "max_delay": str(int(r.integers(33, 39))),
        "top": str(int(r.integers(20, 200))),
    }


# -- corpus_ingest ----------------------------------------------------------


def _doc(r: np.random.Generator, lo: int = 30, hi: int = 60) -> list[str]:
    return list(np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(lo, hi)))])


def _docs_table(ids: list[int], texts: list[str], r: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in r.integers(0, 8, n)],
        }
    )


def corpus_ids() -> list[int]:
    """Corpus doc ids avoid multiples of 10; batch ids are multiples of 10 —
    the split the admission oracle keys on."""
    return [i for i in range(1, N_CORPUS * 10 // 9 + 10) if i % 10][:N_CORPUS]


def corpus_texts(seed: int) -> list[str]:
    r = rng_for(seed, 3)
    return [" ".join(_doc(r)) for _ in range(N_CORPUS)]


def corpus(seed: int, root: Path) -> dict:
    r = rng_for(seed, 4)
    t = _docs_table(corpus_ids(), corpus_texts(seed), r)
    return write_table(t, root, *MULTI_FILE)


def corpus_batch(seed: int, op: int, root: Path) -> dict:
    """One ingest batch: fresh docs, near-duplicates of corpus docs (one or
    two words changed) and docs contained in a longer batch doc."""
    r = rng_for(seed, 5, op)
    base = corpus_texts(seed)
    n_near = int(BATCH_DOCS * NEAR_DUP_SHARE)
    n_cont = int(BATCH_DOCS * CONTAINED_SHARE)
    texts: list[str] = []
    for _ in range(n_near):
        words = base[int(r.integers(0, N_CORPUS))].split()
        for _ in range(int(r.integers(1, 3))):
            words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    while len(texts) < BATCH_DOCS - 2 * n_cont:
        texts.append(" ".join(_doc(r)))
    for _ in range(n_cont):
        inner = _doc(r, 20, 30)
        texts.append(" ".join(inner))
        texts.append(" ".join(_doc(r, 5, 15) + inner + _doc(r, 5, 15)))
    order = r.permutation(len(texts))
    first = 10 * (N_CORPUS + op * BATCH_DOCS)
    ids = [first + 10 * j for j in range(len(texts))]
    t = _docs_table(ids, [texts[k] for k in order], r)
    return write_table(t, root)


# -- lakehouse_upsert -------------------------------------------------------


def lake_initial(seed: int, root: Path) -> dict:
    r = rng_for(seed, 6)
    ids = np.arange(N_TABLE, dtype="int64")
    t = pa.table(
        {
            "id": ids,
            "grp": (ids % N_GROUPS).astype("int32"),
            "amount": r.integers(0, 1_000_000, N_TABLE) / 100.0,
            "ver": np.zeros(N_TABLE, dtype="int64"),
        }
    )
    return write_table(t, root, *MULTI_FILE)


def lake_merge_batch(seed: int, op: int, max_key: int, root: Path) -> dict:
    """MERGE source: unique keys, ``RECENT_SHARE`` of them updates skewed
    toward the most recent keys (exponential distance from ``max_key``),
    the rest inserts of new keys above it."""
    r = rng_for(seed, 7, op)
    n_upd = int(MERGE_ROWS * RECENT_SHARE)
    dist = np.floor(r.exponential(N_TABLE / 8, 4 * n_upd)).astype("int64")
    drawn = np.clip(max_key - dist, 0, max_key)
    _, first = np.unique(drawn, return_index=True)
    upd = drawn[np.sort(first)][:n_upd]
    new = np.arange(max_key + 1, max_key + 1 + MERGE_ROWS - len(upd), dtype="int64")
    keys = np.concatenate([upd, new])
    t = pa.table(
        {
            "id": keys,
            "grp": (keys % N_GROUPS).astype("int32"),
            "amount": r.integers(0, 1_000_000, len(keys)) / 100.0,
            "ver": np.full(len(keys), op + 1, dtype="int64"),
        }
    )
    return write_table(t, root)


def lake_params(seed: int, op: int, max_key: int) -> dict:
    """Key range of a selective read or DELETE: the seed moves it, its
    width is fixed."""
    r = rng_for(seed, 8, op)
    lo = int(r.integers(0, max(1, max_key - KEY_RANGE)))
    return {
        "grp": int(r.integers(0, N_GROUPS)),
        "lo": lo,
        "hi": lo + KEY_RANGE,
    }


# -- iterative_index --------------------------------------------------------


def embeddings(seed: int, op: int, root: Path) -> dict:
    """Clustered vectors: ``N_LABELS`` centres plus noise; label = centre."""
    r = rng_for(seed, 9, op)
    centres = r.normal(0.0, 1.0, (N_LABELS, DIM))
    label = r.integers(0, N_LABELS, N_VECTORS)
    vec = (centres[label] + r.normal(0.0, 0.35, (N_VECTORS, DIM))).astype("float32")
    t = pa.table(
        {
            "vec_id": np.arange(N_VECTORS, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": label.astype("int32"),
        }
    )
    return write_table(t, root)


def trade_graph(seed: int, op: int, root: Path) -> dict:
    """A bipartite customer-supplier graph shaped as orders + lineitem
    (one line per order), the shape the engine's PageRank query reads."""
    r = rng_for(seed, 10, op)
    cust = r.integers(1, N_GRAPH_CUST + 1, N_GRAPH_EDGES).astype("int64")
    supp = r.integers(1, N_GRAPH_SUPP + 1, N_GRAPH_EDGES).astype("int64")
    okey = np.arange(1, N_GRAPH_EDGES + 1, dtype="int64")
    o = write_table(pa.table({"o_orderkey": okey, "o_custkey": cust}), root / "orders")
    li = write_table(pa.table({"l_orderkey": okey, "l_suppkey": supp}), root / "lineitem")
    return {"rows": o["rows"] + li["rows"], "bytes": o["bytes"] + li["bytes"]}
