"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import reqgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_same_seed_same_requests_and_twins():
    a = reqgen.generate(5, 12)
    b = reqgen.generate(5, 12)
    assert a == b
    assert [r.sql for s in a for r in s] == [r.sql for s in b for r in s]
    assert a != reqgen.generate(6, 12)


def test_every_session_follows_the_example_flow():
    for s in reqgen.generate(9, 40):
        assert [r.kind for r in s] == (
            ["offset"] + ["keyset"] * reqgen.KEYSET_PAGES + ["json"]
        )
        assert s[0].params["page_index"] == 1
        assert [r.rid for r in s] == list(range(s[0].rid, s[0].rid + len(s)))
        request = {k: v for k, v in s[0].params.items()
                   if k not in ("page_index", "page_size")}
        for r in s[1:-1]:
            assert {k: v for k, v in r.params.items() if k != "take"} == request
            assert "after_key" not in r.params


def test_keyset_twin_is_the_offset_page_at_the_same_depth():
    for s in reqgen.generate(3, 40):
        for page, r in enumerate(s[:-1], start=1):
            assert r.sql.endswith(f"LIMIT {reqgen.PAGE} OFFSET {(page - 1) * reqgen.PAGE}")
            assert r.sql.split(" LIMIT ")[0] == s[0].sql.split(" LIMIT ")[0]


def test_cursor_reads_every_effective_key_from_the_rendered_row():
    for s in reqgen.generate(4, 60):
        p = s[1].params
        keys = [k for k, _ in reqgen.effective_keys(p["orders"])]
        assert "key" in keys
        if "select" in p:
            assert {reqgen.CURSOR_SOURCE[k] for k in keys} <= set(p["select"])
        row = {"key": 7, "total": 12.5, "balance": -3.25, "customer": "c"}
        assert sorted(reqgen.cursor(p, row)) == sorted(keys)
    assert reqgen.cursor({"orders": ["balance", "key"]},
                         {"key": 3, "balance": 1.5}) == {"raw_balance": 1.5, "key": 3}


def test_twin_follows_the_spec_semantics():
    # redirect to the hidden key, declaration order, default direction
    assert reqgen.effective_keys([("total", True), "balance", "key", "customer"]) == [
        ("raw_balance", True), ("key", False), ("total", True),
    ]
    p = {"filters": {"segment": {"like": "%X%"}, "raw_balance": {"like": "1%"},
                     "total": {"gt": 1}, "nope": {"eq": 2}},
         "orders": ["key"], "select": ["customer", "nope"]}
    sql = reqgen._params_sql(p, 3)
    assert '"segment" LIKE' in sql
    assert '"raw_balance" LIKE' not in sql and '"total" >' not in sql
    assert sql.startswith('SELECT "customer" FROM')
    assert sql.endswith('ORDER BY "key" ASC NULLS LAST LIMIT 15 OFFSET 30')


def test_made_current_counts_new_stores_and_rewrites():
    before = {"a": (1, 100), "b": (2, 50)}
    after = {"a": (1, 100), "b": (3, 50), "c": (1, 7)}
    assert run.made_current(before, after) == 57
    assert run.made_current(after, after) == 0


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(99) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(39) is None


def _declared(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_printed_metrics_match_the_declared_ones():
    e2e = run._e2e_metrics(3.0, 2.0, [10.0, 20.0], 100.0)
    layer = run._layer_metrics([], [], [], 1.0, 1.0, 0.0, 0, 0, 1.0)
    for got, section in ((e2e, "end_to_end"), (layer, "per_layer")):
        declared = _declared(section)
        assert {n: u for n, (_, u) in got.items()} == declared
        line = json.loads(stats.result_line(True, 3, 0, got, declared))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert all(stats.NAME_RE.fullmatch(n) for n in line["metrics"])


def test_result_line_refuses_undeclared_or_missing_metrics():
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": (1.0, "s")}, {"y": "s"})
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"bad name": (1.0, "s")}, {"bad name": "s"})


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.NAME_RE.fullmatch(n) for n in names)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 2 <= len(BENCH["workloads"]) <= 8
    import workloads

    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)


def test_every_layer_metric_names_what_it_should_move():
    with open(os.path.join(HERE, "layers.json")) as f:
        mapping = json.load(f)["metrics"]
    assert set(mapping) == set(_declared("per_layer"))
    e2e = set(_declared("end_to_end"))
    assert all(set(m["moves"]) <= e2e for m in mapping.values())
