"""The benchmark's workloads: what one op is, how it is timed and traced,
and how its output is checked.

- ``report_service``: seeded report sessions (``reqgen``) against
  ``build_spec()`` of ``examples/report_service.py`` over orders ⋈
  customer.  An op is one request: ``apply_params`` or
  ``compile_json_query``, then ``to_view``.  A pass is one session;
  its keyset pages take their cursor from the previous page's rendered
  rows.  Each page is checked in order against the request's DuckDB SQL
  twin.
- ``store_lifecycle``: the persisted versioned-store lifecycles.  An op
  is one registry query: ``REGISTRY[name].fn`` (which writes, merges or
  appends its store, then returns the probe) and the collect of the
  probe's rows, the answer a caller of the probe receives.  The op order
  is a seeded shuffle per pass.  After the run every op's own rows are
  checked against its registry DuckDB ``oracle`` with the normalisation
  of ``tools/check_correctness.py``.

Untraced ops are timed as one wall interval.  Traced ops record a span
per layer call (build, ``plan`` and ``execute`` or ``render``).
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
import time
from dataclasses import dataclass
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import functions as F

import reqgen
import tracing
from examples.report_service import build_spec
from tools.check_correctness import decimal_columns, norm_cell, norm_rows, pdf_rows
from ubw_spark import QueryParams, apply_params
from ubw_spark.core.jsonquery import compile_json_query
from ubw_spark.core.spec import ColumnSpec, QuerySpec
from ubw_spark.queries import REGISTRY
from ubw_spark.queries.registry import table
from ubw_spark.render import to_view

#: Registry queries of store_lifecycle: a merge-updated sketch store
#: (HLL), the Bloom-filter store of the dedup family and the term index
#: fed by a Structured Streaming query.  An odd number of kinds puts the
#: median op inside one kind's latencies, not between two kinds.  The
#: other five persisted lifecycles of the registry are left out so that
#: two warm-up passes and the timed passes fit a run's time budget (see
#: perfbench/README.md).
STORE_QUERIES = [
    "sketch_hll_store_probe",
    "dedup_bloom_store_probe",
    "stream_term_index_ingest",
]
#: Warm-up passes of store_lifecycle: the second call of a lifecycle was
#: up to 85% slower than the third and later ones.
STORE_WARMUP_PASSES = 2
#: Seed and length of the report_service warm-up (fixed, not the run seed).
WARMUP_SEED = 7
WARMUP_SESSIONS = 2


@dataclass
class Op:
    id: int
    name: str
    wall: float = 0.0
    error: str | None = None
    check: str | None = None  # oracle mismatch, filled in by the check
    traced: bool = False
    output: Any = None

    @property
    def failed(self) -> bool:
        return self.error is not None or self.check is not None


class _Workload:
    name: str
    writes_stores = False

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed

    def prepare(self, spark) -> None:
        """Per-session state built during set-up."""

    def passes(self) -> Iterator[list]:
        raise NotImplementedError

    def warmup_items(self) -> list:
        raise NotImplementedError

    def run(self, spark, item, op: Op, tracer: tracing.Tracer | None) -> None:
        raise NotImplementedError

    def check(self, ops: list[Op], duck) -> None:
        raise NotImplementedError


def _timed(fn, tracer, op: Op, layer: str):
    if tracer is None:
        return fn()
    with tracer.span(op.id, layer):
        return fn()


class ReportService(_Workload):
    name = "report_service"

    def __init__(self, data_dir: str, seed: int):
        super().__init__(data_dir, seed)
        self.last_page: list[dict] = []  # rendered rows of the previous page

    def prepare(self, spark) -> None:
        self.table = lambda name: table(spark, self.data_dir, name)
        orders, customer = self.table("orders"), self.table("customer")
        self.base = orders.join(
            F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"]
        )
        self.spec = build_spec()

    def passes(self) -> Iterator[list]:
        return reqgen.sessions(self.seed)

    def warmup_items(self) -> list:
        return [r for s in reqgen.generate(WARMUP_SEED, WARMUP_SESSIONS) for r in s]

    def run(self, spark, req: reqgen.Request, op: Op, tracer) -> None:
        if req.kind == "json":
            def build():
                df = compile_json_query(spark, req.json, self.table)
                return df, QuerySpec([ColumnSpec(c) for c in df.columns])

            df, spec = _timed(build, tracer, op, "jsonquery")
        else:
            spec, params = self.spec, req.params
            if req.kind == "keyset":
                if not self.last_page:
                    raise RuntimeError("keyset page without a previous page to follow")
                params = {**params, "after_key": reqgen.cursor(params, self.last_page[-1])}
            self.last_page = []
            df = _timed(
                lambda: apply_params(self.base, spec, QueryParams(**params)),
                tracer, op, "params",
            )
        if tracer is not None:
            with tracer.span(op.id, "plan") as s:
                s.plan_phases = tracing.plan_phases(df)
        view = _timed(lambda: to_view(df, spec), tracer, op, "render")
        op.output = (req, view["data"])
        if req.kind != "json":
            self.last_page = view["data"]

    def check(self, ops: list[Op], duck) -> None:
        for op in ops:
            if op.error is not None:
                continue
            req, data = op.output
            op.output = None
            expect = duck.execute(req.sql).fetchdf()
            names = list(data[0]) if data else list(expect.columns)
            if names != list(expect.columns):
                op.check = f"columns {names} != twin {list(expect.columns)}"
                continue
            got = [tuple(norm_cell(row[c]) for c in names) for row in data]
            want = [
                tuple(norm_cell(v) for v in r)
                for r in expect.itertuples(index=False, name=None)
            ]
            if got != want:
                diff = next((g, w) for g, w in itertools.zip_longest(got, want) if g != w)
                op.check = f"rows differ from the twin ({len(got)} vs {len(want)}): {diff}"


def _oracle(duck, sql: str, data_dir: str):
    """The oracle's result, computed once per input data set: the inputs
    are fixed, so the expected rows are cached beside them, keyed by the
    SQL and the data set's manifest."""
    with open(os.path.join(data_dir, "MANIFEST.json"), "rb") as f:
        key = hashlib.sha256(sql.encode() + f.read()).hexdigest()[:20]
    cache = os.path.join(data_dir + ".oracle", key + ".pkl")
    if os.path.exists(cache):
        return pd.read_pickle(cache)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    df = duck.execute(sql).fetchdf()
    df.to_pickle(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return df


class StoreLifecycle(_Workload):
    name = "store_lifecycle"
    queries = STORE_QUERIES
    writes_stores = True

    def passes(self) -> Iterator[list]:
        rng = random.Random(self.seed)
        while True:
            order = list(self.queries)
            rng.shuffle(order)
            yield order

    def warmup_items(self) -> list:
        return list(self.queries) * STORE_WARMUP_PASSES

    def run(self, spark, name: str, op: Op, tracer) -> None:
        df = _timed(lambda: REGISTRY[name].fn(spark, self.data_dir), tracer, op, "queries")
        if tracer is not None:
            with tracer.span(op.id, "plan") as s:
                s.plan_phases = tracing.plan_phases(df)
        op.output = _timed(df.toPandas, tracer, op, "execute")

    def check(self, ops: list[Op], duck) -> None:
        oracles: dict[str, Any] = {}
        for op in ops:
            if op.error is not None:
                continue
            sp, op.output = op.output, None
            if op.name not in oracles:
                oracles[op.name] = _oracle(duck, REGISTRY[op.name].oracle, self.data_dir)
            du = oracles[op.name]
            sp_cols, du_cols = list(sp.columns), list(du.columns)
            if sorted(sp_cols) != sorted(du_cols):
                op.check = f"schema {sorted(sp_cols)} != {sorted(du_cols)}"
            elif len(sp) != len(du):
                op.check = f"rowcount {len(sp)} != {len(du)}"
            else:
                exact = frozenset(decimal_columns(sp) & decimal_columns(du))
                if norm_rows(sp_cols, pdf_rows(sp), exact) != norm_rows(
                    du_cols, pdf_rows(du), exact
                ):
                    op.check = "values differ"


WORKLOADS = {w.name: w for w in (ReportService, StoreLifecycle)}


def run_ops(workload: _Workload, spark, seconds: float,
            tracer: tracing.Tracer | None = None,
            before_op=lambda op: None, after_op=lambda op: None) -> list[Op]:
    """Closed loop, one client: run whole passes until the ops' wall
    times add up to ``seconds``.  With a ``tracer``, every second pass is
    traced, so traced and untraced ops interleave; ``before_op`` and
    ``after_op`` run around each traced op, outside its wall time."""
    ops: list[Op] = []
    busy = 0.0
    for i, batch in enumerate(workload.passes()):
        if busy >= seconds:
            break
        traced = tracer if i % 2 else None
        for item in batch:
            op = Op(len(ops), getattr(item, "kind", item), traced=traced is not None)
            if traced is not None:
                before_op(op)
            run_one(workload, spark, item, op, traced)
            if traced is not None:
                after_op(op)
            busy += op.wall
            ops.append(op)
    return ops


def run_one(workload: _Workload, spark, item, op: Op, tracer) -> None:
    t0 = time.perf_counter()
    try:
        if tracer is None:
            workload.run(spark, item, op, None)
        else:
            with tracer.span(op.id, "op", parent=None):
                workload.run(spark, item, op, tracer)
    except Exception as e:  # an op that raises counts as failed, the run goes on
        op.error = f"{type(e).__name__}: {e}"[:500]
    op.wall = time.perf_counter() - t0
