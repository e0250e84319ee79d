"""Self-tests of the benchmark's own code (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Span, covered, self_time  # noqa: E402


def test_generators_are_seeded():
    assert gen.events_table(3, 0.001).equals(gen.events_table(3, 0.001))
    assert not gen.events_table(3, 0.001).equals(gen.events_table(4, 0.001))
    assert gen.documents_table(3, 0.01).equals(gen.documents_table(3, 0.01))


def test_events_shape():
    ev = gen.events_table(5, 0.001)
    assert ev.num_rows == 1000
    assert ev.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert pc.max(ev["user_id"]).as_py() < 15
    assert set(ev["event_type"].to_pylist()) <= set(gen.EVENT_TYPES)


def test_replicas_are_disjoint_conversations():
    ev = gen.events_table(5, 0.001)
    rep = gen.replicate_events(ev, 3)
    assert rep.num_rows == 3 * ev.num_rows
    assert len(set(rep["event_id"].to_pylist())) == rep.num_rows
    users = np.array(rep["user_id"].to_pylist()).reshape(3, -1)
    assert not set(users[0]) & set(users[1]) and not set(users[1]) & set(users[2])
    assert rep["event_type"].to_pylist() == ev["event_type"].to_pylist() * 3


def test_documents_near_duplicates():
    docs = gen.documents_table(2, 0.01).to_pandas()
    assert len(docs) == 500
    dups = docs[docs.text.str.endswith(" dup")]
    assert 0 < len(dups) < 0.1 * len(docs)
    assert dups.text.str[:-4].isin(set(docs.text)).all()
    assert (docs.n_chars == docs.text.str.len()).all()


def test_shards_partition_conversations_with_hot_users():
    shards = [gen.event_shard(9, i, 1000, 20, 2, 0.4) for i in range(4)]
    assert shards[0].equals(gen.event_shard(9, 0, 1000, 20, 2, 0.4))
    owners: dict[int, int] = {}
    ids = []
    for i, t in enumerate(shards):
        assert t.num_rows == 1000
        ids += t["event_id"].to_pylist()
        counts = pd.Series(t["user_id"].to_pylist()).value_counts()
        for u in counts.index:
            assert owners.setdefault(u, i) == i  # a conversation lives in one shard
        hot = counts[counts.index < i * 20 + 2].sum()
        assert hot >= 400  # the hot users' share, plus their part of the rest
        assert counts.iloc[0] > 5 * counts.iloc[-1]
    assert len(set(ids)) == len(ids)


def _routes_by_pandas(events) -> dict[str, int]:
    role_route = {
        "click": "user_sink",
        "view": "user_sink",
        "purchase": "assistant_sink",
        "signup": "assistant_sink",
        "error": "ops_sink",
    }
    return pd.Series(events["event_type"].to_pylist()).map(role_route).value_counts().to_dict()


def test_route_mirror_on_sf0_001(tmp_path):
    ev = gen.events_table(11, 0.001)
    path = gen.write_parquet(ev, str(tmp_path / "events.parquet"))
    con = oracle.connect({"events": path})
    got = oracle.route_counts(con, path)
    assert got == _routes_by_pandas(ev)
    # ... and equal to the per-route totals of the pipeline oracle.
    import __spark_entry__ as entry

    agg = con.execute(entry.oracle_sql()["pipeline_e2e"]).fetchdf()
    assert agg.groupby("route").n_turns.sum().to_dict() == got


def test_route_mirror_on_a_skewed_shard(tmp_path):
    shard = gen.event_shard(4, 0, turns_per_shard=2000)
    path = gen.write_parquet(shard, str(tmp_path / "part-0.parquet"))
    assert oracle.route_counts(oracle.connect({}), path) == _routes_by_pandas(shard)


def test_fanout_read_back(tmp_path):
    ev = gen.events_table(12, 0.001).to_pandas()
    for route, n in (("user_sink", 3), ("ops_sink", 5)):
        d = tmp_path / f"route={route}"
        d.mkdir()
        gen.write_parquet(pa.Table.from_pandas(ev.head(n)), str(d / "part-0.parquet"))
    gen.write_parquet(pa.Table.from_pandas(ev.head(2)), str(tmp_path / "route=ops_sink" / "p1.parquet"))
    got = oracle.fanout_counts(oracle.connect({}), str(tmp_path))
    assert got == {"user_sink": 3, "ops_sink": 7}


def test_normalised_comparison():
    want = oracle.normalise(pd.DataFrame({"b": [1.0, None], "a": ["x", "y"]}))
    assert oracle.same(pd.DataFrame({"a": ["y", "x"], "b": [float("nan"), 1.0]}), want)
    assert not oracle.same(pd.DataFrame({"a": ["y", "x"], "b": [2.0, 1.0]}), want)
    assert not oracle.same(pd.DataFrame({"a": ["x"], "b": [1.0]}), want)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, "run", start, end)


def test_covered_merges_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(4, 4), (6, 5)]) == 0


def test_self_time_subtracts_children_only():
    root = _span(0, 0.0, 10.0)
    a = _span(1, 1.0, 4.0, parent=0)
    b = _span(2, 3.0, 6.0, parent=0)  # overlaps a
    grandchild = _span(3, 1.5, 2.0, parent=1)
    spans = [root, a, b, grandchild]
    assert self_time(root, spans) == pytest.approx(5.0)
    assert self_time(a, spans) == pytest.approx(2.5)
    assert self_time(grandchild, spans) == pytest.approx(0.5)


def test_printed_metric_names_match_benchmark_json():
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert len(bench["per_layer"]) <= 128
