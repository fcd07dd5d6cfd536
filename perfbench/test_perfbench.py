"""Unit tests of the benchmark's own arithmetic and generator.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib

import pytest

import gen
from compare import pairs_won
from run import cycle_metrics
from spans import Span, layer_time, self_time, union_length
from stats import percentile, quartiles, spread, tail, tail_percentile


def _digest(root):
    h = hashlib.sha256()
    for p in sorted(root.rglob("*.parquet")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _generate(seed, root):
    gen.star_schema(seed, root / "star")
    gen.corpus(seed, root / "corpus")
    gen.corpus_batch(seed, 3, root / "batch")
    gen.lake_initial(seed, root / "lake")
    gen.lake_merge_batch(seed, 5, gen.N_TABLE - 1, root / "merge")
    gen.embeddings(seed, 2, root / "emb")
    gen.trade_graph(seed, 2, root / "graph")
    return _digest(root)


def test_same_seed_same_inputs(tmp_path):
    assert _generate(7, tmp_path / "a") == _generate(7, tmp_path / "b")
    assert gen.star_params(7, 4) == gen.star_params(7, 4)


def test_other_seed_other_inputs(tmp_path):
    assert _generate(7, tmp_path / "a") != _generate(8, tmp_path / "b")


def test_large_tables_split_for_parallel_scans(tmp_path):
    import pyarrow.parquet as pq

    gen.star_schema(1, tmp_path)
    files = sorted((tmp_path / "lineitem").glob("*.parquet"))
    assert len(files) >= 4
    assert all(pq.ParquetFile(f).metadata.num_row_groups >= 2 for f in files)


def test_etl_validators_drop_some_rows_on_every_op(tmp_path):
    import duckdb

    gen.star_schema(5, tmp_path)
    db = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path / t}/*.parquet')")
    for op in range(12):
        p = gen.star_params(5, op)
        win = f"o_orderdate >= DATE '{p['lo']}' AND o_orderdate < DATE '{p['hi']}'"
        shares = [r[0] for r in db.execute(f"""
            SELECT rev / avg(rev) OVER () FROM (
                SELECT sum(l_extendedprice * (1 - l_discount)) AS rev
                FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
                WHERE {win} AND l_discount BETWEEN {p['disc_lo']} AND {p['disc_hi']}
                GROUP BY c_custkey)""").fetchall()]
        kept = sum(s >= float(p["min_share"]) for s in shares)
        assert 0 < kept < len(shares)
        delays = [r[0] for r in db.execute(f"""
            SELECT avg(datediff('day', o_orderdate, l_shipdate))
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE {win} AND l_quantity BETWEEN {p['qmin']} AND {p['qmax']}
            GROUP BY o_orderpriority, l_suppkey""").fetchall()]
        kept = sum(d <= int(p["max_delay"]) for d in delays)
        assert 0 < kept < len(delays)


def test_merge_batch_keys_unique_and_skewed_recent(tmp_path):
    import pyarrow.parquet as pq

    max_key = gen.N_TABLE - 1
    gen.lake_merge_batch(3, 0, max_key, tmp_path)
    keys = pq.read_table(tmp_path).column("id").to_pylist()
    assert len(keys) == len(set(keys)) == gen.MERGE_ROWS
    updates = [k for k in keys if k <= max_key]
    assert len(updates) >= 0.5 * gen.MERGE_ROWS
    # recent keys dominate: most updates fall in the newest quarter of the key space
    assert sum(k > 0.75 * max_key for k in updates) > 0.6 * len(updates)


def test_corpus_batch_ids_are_the_increment_split(tmp_path):
    import pyarrow.parquet as pq

    gen.corpus_batch(2, 1, tmp_path)
    ids = pq.read_table(tmp_path).column("doc_id").to_pylist()
    assert len(ids) == gen.BATCH_DOCS and all(i % 10 == 0 for i in ids)
    assert all(i % 10 for i in gen.corpus_ids())


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_reports_value_at_rule_percentile():
    values = [float(i) for i in range(1, 41)]
    pct, v = tail(values)
    assert pct == 75.0
    assert v == pytest.approx(percentile(values, 75.0))
    assert tail(values[:19]) is None


def test_percentile_and_quartiles():
    xs = [4.0, 1.0, 3.0, 2.0, 5.0]
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0 and percentile(xs, 25) == 2.0
    q1, med, q3 = quartiles([1.0, 2.0, 3.0, 4.0])
    assert med == 2.5 and q1 < med < q3
    assert spread([2.0, 2.0, 2.0]) == 0.0


def test_cycle_metrics_sum_per_position_medians():
    from workloads import Op

    # two-op cycle (write, read) timed three times; times as (wall, cpu)
    times = {2: (4.0, 8.0), 3: (1.0, 1.5), 4: (6.0, 9.0), 5: (1.2, 2.0), 6: (5.0, 7.0), 7: (0.8, 1.0)}
    good = [(Op(i, "write" if i % 2 == 0 else "read", "x", input_rows=100 * (1 + i % 2)), w, c)
            for i, (w, c) in times.items()]
    m = cycle_metrics(good, 2)
    assert m["write_s"] == 5.0 and m["read_s"] == 1.0 and m["cycle_s"] == 6.0
    assert m["cycle_cpu_s"] == 8.0 + 1.5
    assert m["rows_per_s"] == pytest.approx(300 / 6.0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (2.5, 4)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def _span(i, parent, start, end, layer="x", name="s"):
    return Span(i, 0, parent, name, layer, start, end)


def test_self_time_subtracts_covered_part_once():
    parent = _span(0, None, 0.0, 10.0)
    kids = [_span(1, 0, 1.0, 3.0), _span(2, 0, 2.0, 4.0), _span(3, 0, 6.0, 7.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_time_clips_children_to_parent():
    parent = _span(0, None, 0.0, 5.0)
    kids = [_span(1, 0, -1.0, 1.0), _span(2, 0, 4.0, 9.0), _span(3, 0, 6.0, 7.0)]
    assert self_time(parent, kids) == pytest.approx(5.0 - 1.0 - 1.0)


def test_layer_time_counts_nested_same_layer_once():
    spans = [
        _span(0, None, 0.0, 4.0, "commit"),
        _span(1, 0, 1.0, 2.0, "commit"),
        _span(2, None, 5.0, 6.0, "commit"),
        _span(3, None, 0.0, 9.0, "other"),
    ]
    assert layer_time(spans, "commit") == pytest.approx(5.0)


def test_pairs_won_ignores_ties_and_unmatched_seeds():
    base = {1: 2.0, 2: 2.0, 3: 2.0, 4: 9.0}
    cand = {1: 1.0, 2: 2.0, 3: 3.0, 5: 0.1}
    assert pairs_won(base, cand, higher=False) == (1, 3)
    assert pairs_won(base, cand, higher=True) == (1, 3)
