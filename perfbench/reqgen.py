"""Seeded report sessions and the DuckDB SQL twin of every request.

The report service is ``examples/report_service.py``: orders joined to
customer, declared once by ``build_spec()``.  A session follows that
example's request flow.  One client request (filters, orders, a
projection) is served as offset page 1, then as keyset pages whose
cursor is the previous page's last row.  Each session also sends one
JSON query for ``compile_json_query``.

Every request carries a SQL twin that states, independently of the
engine, what the page must contain: the spec's semantics are written
out below (declaration order, the ``balance`` → ``raw_balance`` order
redirect, which columns accept filters and LIKE, silently ignored
names).  A keyset page's cursor comes from the engine's previous page
at run time, so its twin is the OFFSET page at the same depth: with a
unique tiebreak key, the keyset walk is row-for-row the OFFSET walk (the
example asserts this).

The generator is pure Python: the same seed yields the same requests
and the same SQL, with no Spark session involved.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field
from typing import Any, Iterator

PAGE = 15

#: build_spec()'s columns in declaration order, as the twin sees them:
#: (name, SQL expression, visible, orderable-or-redirect target,
#:  default_desc, filterable, likeable).
SPEC = [
    ("raw_balance", "c_acctbal", False, "raw_balance", True, True, False),
    ("key", "o_orderkey", True, "key", False, False, False),
    ("customer", "c_name", True, None, True, False, False),
    ("segment", "c_mktsegment", True, None, True, True, True),
    ("total", "CAST(round(o_totalprice, 2) AS DOUBLE)", True, "total", True, False, False),
    ("balance", "CAST(round(c_acctbal, 2) AS DOUBLE)", True, "raw_balance", True, False, False),
]
_COL = {c[0]: c for c in SPEC}
VISIBLE = [c[0] for c in SPEC if c[2]]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
#: Where a keyset cursor takes each effective sort key from, in the
#: previous page's rendered row.  ``raw_balance`` is hidden; the visible
#: ``balance`` shows the same two-decimal value.
CURSOR_SOURCE = {"raw_balance": "balance", "key": "key", "total": "total"}
#: Keyset pages per session after offset page 1.  An assumption: the
#: example walks to the end of the result, and nothing in the repository
#: says how deep a client reads.
KEYSET_PAGES = 3
BASE_SQL = (
    "SELECT " + ", ".join(f'{expr} AS "{name}"' for name, expr, *_ in SPEC)
    + " FROM orders JOIN customer ON o_custkey = c_custkey"
)


@dataclass
class Request:
    """One report request: ``params`` (QueryParams keyword arguments; a
    keyset page's lack its ``after_key``) or ``json`` (a
    compile_json_query spec), and its SQL twin."""

    rid: int
    kind: str  # "offset" | "keyset" | "json"
    sql: str
    params: dict[str, Any] = field(default_factory=dict)
    json: dict[str, Any] | None = None


def _lit(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _filter_sql(name: str, op: str, v: Any) -> str:
    col = f'"{name}"'
    if op == "like":
        return f"{col} LIKE {_lit(v)}"
    if op == "in":
        return f"{col} IN ({', '.join(_lit(x) for x in v)})"
    if op == "between":
        return f"{col} BETWEEN {_lit(v[0])} AND {_lit(v[1])}"
    sym = {"eq": "=", "gt": ">", "ge": ">=", "lt": "<", "le": "<="}[op]
    return f"{col} {sym} {_lit(v)}"


def effective_keys(orders: list) -> list[tuple[str, bool]]:
    """Requested orders → (target column, is_desc) in declaration order:
    redirects applied, non-orderable and unknown names dropped, the
    first request for a target wins, and a bare name takes the target's
    default direction."""
    chosen: dict[str, bool] = {}
    for o in orders:
        name, desc = (o, None) if isinstance(o, str) else o
        col = _COL.get(name)
        if col is None or col[3] is None:
            continue
        target = col[3]
        chosen.setdefault(target, _COL[target][4] if desc is None else bool(desc))
    return [(c[0], chosen[c[0]]) for c in SPEC if c[0] in chosen]


def _random_filters(rng: random.Random) -> dict[str, dict[str, Any]]:
    """Filters of one session.  The probabilities are assumptions; the
    ranges keep at least about a thousand matching rows at sf0.1, so
    every page of a session is full."""
    f: dict[str, dict[str, Any]] = {}
    r = rng.random()
    if r < 0.3:
        f["segment"] = {"like": rng.choice(["%BUILD%", "%MACH%", "AUTO%", "%OLD"])}
    elif r < 0.55:
        f["segment"] = {"in": rng.sample(SEGMENTS, rng.randint(1, 3))}
    elif r < 0.65:
        f["segment"] = {"eq": rng.choice(SEGMENTS)}
    r = rng.random()
    if r < 0.35:
        f["raw_balance"] = {"gt": round(rng.uniform(-500, 9000), 2)}
    elif r < 0.65:
        lo = round(rng.uniform(-999, 8000), 2)
        f["raw_balance"] = {"between": [lo, round(lo + rng.uniform(500, 3000), 2)]}
    # names and operators the spec does not allow: silently ignored
    if rng.random() < 0.2:
        f[rng.choice(["total", "not_a_column", "customer"])] = {"gt": 1}
    if rng.random() < 0.1:
        f.setdefault("raw_balance", {})["like"] = "%1%"
    return f


def _random_orders(rng: random.Random) -> list:
    """Orders of one session (probabilities are assumptions), always
    with the unique tiebreak ``key``."""
    orders: list = []
    for name in rng.sample(["total", "balance", "raw_balance", "customer"], rng.randint(0, 2)):
        orders.append(name if rng.random() < 0.3 else (name, rng.random() < 0.5))
    # a unique tiebreak ("key") makes every page deterministic
    key = "key" if rng.random() < 0.3 else ("key", rng.random() < 0.5)
    orders.insert(rng.randint(0, len(orders)), key)
    return orders


def _params_sql(p: dict[str, Any], page: int) -> str:
    """The twin of page ``page`` (from 1) of the request ``p``."""
    where = [
        _filter_sql(name, op, v)
        for name, ops in p.get("filters", {}).items()
        if name in _COL and _COL[name][5]
        for op, v in ops.items()
        if op != "like" or _COL[name][6]
    ]
    keys = effective_keys(p.get("orders", []))
    select = p.get("select")
    cols = [c for c in VISIBLE if select is None or c in select]
    sql = f"SELECT {', '.join(f'{chr(34)}{c}{chr(34)}' for c in cols)} FROM ({BASE_SQL}) t"
    if where:
        sql += " WHERE " + " AND ".join(where)
    sql += " ORDER BY " + ", ".join(
        f'"{k}" {"DESC" if d else "ASC"} NULLS LAST' for k, d in keys
    )
    return sql + f" LIMIT {PAGE} OFFSET {(page - 1) * PAGE}"


_JSON_DIMS = {
    "segment": ({"expr": "c_mktsegment"}, "c_mktsegment"),
    "status": ({"expr": "o_orderstatus"}, "o_orderstatus"),
    "priority": ({"expr": "o_orderpriority"}, "o_orderpriority"),
    "yr": ({"fn": "year", "args": [{"expr": "o_orderdate"}]}, "year(o_orderdate)"),
}


def _json_request(rng: random.Random) -> tuple[dict[str, Any], str]:
    dims = rng.sample(sorted(_JSON_DIMS), rng.randint(1, 3))
    spec: dict[str, Any] = {
        "from": "orders",
        "joins": [{"table": "customer", "on": [["o_custkey", "c_custkey"]],
                   "broadcast": True}],
        "columns": [{"name": d, **_JSON_DIMS[d][0]} for d in dims]
        + [{"name": "price", "fn": "cast_decimal", "args": [{"expr": "o_totalprice"}]}],
        "group_by": dims,
        "aggs": [
            {"name": "revenue", "fn": "sum", "arg": "price", "post": ["round2", "cast_double"]},
            {"name": "n", "fn": "count"},
        ],
    }
    filters: dict[str, dict[str, Any]] = {}
    if "yr" in dims and rng.random() < 0.5:
        lo = rng.randint(1995, 2000)
        filters["yr"] = {"between": [lo, lo + rng.randint(0, 3)]}
    if "segment" in dims and rng.random() < 0.5:
        filters["segment"] = {"in": rng.sample(SEGMENTS, 2)}
    if rng.random() < 0.3:
        filters["n"] = {"gt": rng.randint(10, 3000)}
    if filters:
        spec["filters"] = filters
    orders = [[d, rng.random() < 0.5] for d in dims]
    if rng.random() < 0.5:
        orders.insert(0, ["revenue", True])
    spec["orders"] = orders
    spec["take"] = rng.choice([10, 20, 50])

    agg = (
        "SELECT " + ", ".join(f'{_JSON_DIMS[d][1]} AS "{d}"' for d in dims)
        + ", CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE)"
        + ' AS "revenue", count(*) AS "n"'
        + " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY "
        + ", ".join(str(i + 1) for i in range(len(dims)))
    )
    sql = f"SELECT * FROM ({agg}) t"
    if filters:
        sql += " WHERE " + " AND ".join(
            _filter_sql(n, op, v) for n, ops in filters.items() for op, v in ops.items()
        )
    # the JSON layer orders like apply_params: keys in output-column order
    position = {c: i for i, c in enumerate(dims + ["revenue", "n"])}
    sql += " ORDER BY " + ", ".join(
        f'"{n}" {"DESC" if d else "ASC"} NULLS LAST'
        for n, d in sorted(orders, key=lambda o: position[o[0]])
    )
    return spec, sql + f" LIMIT {spec['take']}"


def session(rng: random.Random, first_rid: int) -> list[Request]:
    """One session: offset page 1, ``KEYSET_PAGES`` keyset pages of the
    same request, then one JSON query (its share, one op in
    ``KEYSET_PAGES + 2``, is an assumption)."""
    p: dict[str, Any] = {"filters": _random_filters(rng), "orders": _random_orders(rng)}
    if rng.random() < 0.5:
        # a projection keeps the columns the cursor is read from
        p["select"] = rng.sample(VISIBLE + ["nope"], rng.randint(1, 4))
        for k, _ in effective_keys(p["orders"]):
            if CURSOR_SOURCE[k] not in p["select"]:
                p["select"].append(CURSOR_SOURCE[k])
    pages = [Request(first_rid, "offset", _params_sql(p, 1),
                     params={**p, "page_index": 1, "page_size": PAGE})]
    for i in range(1, KEYSET_PAGES + 1):
        # after_key is filled in at run time from the previous page
        pages.append(Request(first_rid + i, "keyset", _params_sql(p, i + 1),
                             params={**p, "take": PAGE}))
    spec, sql = _json_request(rng)
    return pages + [Request(first_rid + len(pages), "json", sql, json=spec)]


def cursor(params: dict[str, Any], last_row: dict[str, Any]) -> dict[str, Any]:
    """The keyset cursor after ``last_row``, a rendered row of the
    previous page: each effective sort key's value."""
    return {k: last_row[CURSOR_SOURCE[k]] for k, _ in effective_keys(params["orders"])}


def sessions(seed: int) -> Iterator[list[Request]]:
    """Endless sessions from ``seed``."""
    rng = random.Random(seed)
    rid = 0
    while True:
        s = session(rng, rid)
        rid += len(s)
        yield s


def generate(seed: int, count: int) -> list[list[Request]]:
    """The first ``count`` sessions of ``sessions(seed)``."""
    return list(itertools.islice(sessions(seed), count))
