"""The one versioned-store write cycle (``versioned.StoreWriter``) and
its one-resolve reader (``versioned.read_store``).

- loads and compactions resolve the ``_CURRENT`` manifest once;
- two writers that read the same version cannot both commit — the
  loser raises and the winner's update stays live;
- a crash after the data landed but before the flip leaves the
  previous version live and intact, for every store family;
- in-place appends refuse a batch whose schema drifted from the pin;
- no module but ``versioned.py`` runs a step of the cycle itself.
"""

import ast
import json
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators import versioned

REPO = pathlib.Path(__file__).resolve().parent.parent

EMB_CENTS = [[0.0, 1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 0.0]]
PQ_BOOKS = [[[0.0, 1.0], [2.0, 3.0]], [[4.0, 5.0], [6.0, 0.0]]]


def _docs(spark, lo=0, hi=24):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta token"),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )


def _emb(spark, lo=0, hi=20):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") + i) % 7).cast("double") for i in range(4)]
        ).alias("embedding"),
    )


def _items(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").cast("string").alias("w"))


def _drops(spark, col, ids):
    return spark.createDataFrame([(i,) for i in ids], f"{col} bigint")


# ------------------------------------------------------------ one resolve


def _count_resolves(monkeypatch):
    calls = []
    real = versioned.current_version

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(versioned, "current_version", counting)
    return calls


def _resolve_cases():
    from ubw_spark.operators import bloom, ivf, lsh_index, pq, retrieval

    return {
        "load_bloom": (
            lambda s, p: bloom.write_bloom_store(_docs(s, 0, 8), "text", p),
            lambda s, p: bloom.load_bloom(s, p),
        ),
        "append_bloom_store": (
            lambda s, p: bloom.write_bloom_store(_docs(s, 0, 8), "text", p),
            lambda s, p: bloom.append_bloom_store(
                s, _docs(s, 8, 12), "text", p
            ),
        ),
        "compact_minhash_index": (
            lambda s, p: lsh_index.write_minhash_index(
                _docs(s), "doc_id", "text", p
            ),
            lambda s, p: lsh_index.compact_minhash_index(
                s, p, _drops(s, "corpus_id", [0, 1])
            ),
        ),
        "compact_ivf_index": (
            lambda s, p: ivf.write_ivf_index(_emb(s), EMB_CENTS, p),
            lambda s, p: ivf.compact_ivf_index(
                s, p, _drops(s, "vec_id", [0])
            ),
        ),
        "compact_ivfpq_index": (
            lambda s, p: pq.write_ivfpq_index(_emb(s), EMB_CENTS, PQ_BOOKS, p),
            lambda s, p: pq.compact_ivfpq_index(
                s, p, _drops(s, "vec_id", [0])
            ),
        ),
        "compact_term_index": (
            lambda s, p: retrieval.write_term_index(
                _docs(s), "doc_id", "text", p, buckets=8
            ),
            lambda s, p: retrieval.compact_term_index(
                s, p, _drops(s, "doc_id", [0, 1])
            ),
        ),
    }


@pytest.mark.parametrize(
    "case",
    [
        "load_bloom",
        "append_bloom_store",
        "compact_minhash_index",
        "compact_ivf_index",
        "compact_ivfpq_index",
        "compact_term_index",
    ],
)
def test_load_and_compaction_resolve_the_manifest_once(
    spark, tmp_path, monkeypatch, case
):
    """Params and rows come from ONE resolve of ``_CURRENT``: a second
    resolve could straddle a concurrent flip and pair one version's
    params with another's rows.  (The commit's compare-before-flip is
    a check of the pointer, not a resolve, and is not counted.)"""
    setup, op = _resolve_cases()[case]
    path = str(tmp_path / case)
    setup(spark, path)
    calls = _count_resolves(monkeypatch)
    op(spark, path)
    assert calls == [path], f"{case} resolved the manifest {len(calls)}x"


# ------------------------------------------------------------ two writers


def _hll_race(spark, path):
    from ubw_spark.operators import hll

    hll.write_hll_store(hll.hll_build(_items(spark, 0, 40), "w", p=6), path)
    return (
        hll,
        "hll_merge",
        lambda: hll.append_hll_batch(
            spark, _items(spark, 200, 240), "w", path
        ),
        lambda: hll.append_hll_batch(
            spark, _items(spark, 100, 140), "w", path
        ),
        lambda: hll.load_hll(spark, path)[0],
        lambda: hll.hll_build(
            _items(spark, 0, 40).unionByName(_items(spark, 200, 240)),
            "w",
            p=6,
        ),
    )


def _cms_race(spark, path):
    from ubw_spark.operators import sketches

    def build(df):
        return sketches.cms_build(df, "w", width=64, depth=3)

    sketches.write_cms_store(build(_items(spark, 0, 40)), path)
    return (
        sketches,
        "cms_merge",
        lambda: sketches.append_cms_batch(
            spark, _items(spark, 200, 240), "w", path, batch_id=1
        ),
        lambda: sketches.append_cms_batch(
            spark, _items(spark, 100, 140), "w", path, batch_id=1
        ),
        lambda: sketches.load_cms(spark, path)[0],
        lambda: build(
            _items(spark, 0, 40).unionByName(_items(spark, 200, 240))
        ),
    )


@pytest.mark.parametrize("family", ["hll", "cms"])
def test_two_writers_on_one_version_cannot_lose_an_update(
    spark, tmp_path, monkeypatch, family
):
    """Writers A and B both read version 0.  B commits while A is
    between its read and its write; A must then RAISE (naming the
    store) instead of flipping to a version built from the stale
    read, which would silently drop B's batch."""
    path = str(tmp_path / family)
    race = {"hll": _hll_race, "cms": _cms_race}[family]
    module, merge_name, append_b, append_a, live, sequential = race(
        spark, path
    )
    real_merge = getattr(module, merge_name)
    raced = []

    def merge_while_b_commits(old, new):
        if not raced:  # A has read v0; B now runs its whole cycle
            raced.append(True)
            append_b()
        return real_merge(old, new)

    monkeypatch.setattr(module, merge_name, merge_while_b_commits)
    with pytest.raises(RuntimeError) as err:
        append_a()
    assert type(err.value).__name__ == "StoreConflictError"
    assert path in str(err.value)
    monkeypatch.undo()
    assert versioned.current_version(path) == 1  # B's version
    got = sorted(map(tuple, live().collect()))
    want = sorted(map(tuple, sequential().collect()))
    assert got == want, "the live store must be exactly base + B"


# ------------------------------------------------------------ crash matrix


def _family_ops():
    """family -> (sidecar, subs, base write, {op name: op})."""
    from ubw_spark.operators import (
        bloom,
        hll,
        incremental,
        ivf,
        lsh_index,
        pca,
        pq,
        qsketch,
        retrieval,
        sketches,
    )

    def agg_state(s, lo, hi):
        return incremental.grouped_agg(
            s.range(lo, hi).select((F.col("id") % 3).alias("k")),
            ["k"],
            {"n": F.lit(1)},
        )

    def pca_emb(s, lo, hi):
        return s.range(lo, hi).select(
            F.array(
                *[((F.col("id") + i) % 5).cast("double") for i in range(3)]
            ).alias("v")
        )

    return {
        "hll": (
            hll.PARAMS_FILE, (None,),
            lambda s, p: hll.write_hll_store(
                hll.hll_build(_items(s, 0, 30), "w", p=6), p
            ),
            {
                "write": lambda s, p: hll.write_hll_store(
                    hll.hll_build(_items(s, 0, 50), "w", p=6), p
                ),
                "append": lambda s, p: hll.append_hll_batch(
                    s, _items(s, 30, 60), "w", p
                ),
            },
        ),
        "cms": (
            sketches.PARAMS_FILE, (None,),
            lambda s, p: sketches.write_cms_store(
                sketches.cms_build(_items(s, 0, 30), "w", width=32, depth=3),
                p,
            ),
            {
                "write": lambda s, p: sketches.write_cms_store(
                    sketches.cms_build(
                        _items(s, 0, 50), "w", width=32, depth=3
                    ),
                    p,
                ),
                "append": lambda s, p: sketches.append_cms_batch(
                    s, _items(s, 30, 60), "w", p, batch_id=7
                ),
            },
        ),
        "qh": (
            qsketch.PARAMS_FILE, (None,),
            lambda s, p: qsketch.write_hist_store(
                qsketch.hist_build(
                    s.range(30).select(F.col("id").alias("v")),
                    "v", lo=0, hi=60, nbins=8,
                ),
                p,
            ),
            {
                "write": lambda s, p: qsketch.write_hist_store(
                    qsketch.hist_build(
                        s.range(50).select(F.col("id").alias("v")),
                        "v", lo=0, hi=60, nbins=8,
                    ),
                    p,
                ),
                "append": lambda s, p: qsketch.append_hist_batch(
                    s, s.range(30, 60).select(F.col("id").alias("v")),
                    "v", p, batch_id=7,
                ),
            },
        ),
        "agg": (
            incremental.AGG_PARAMS_FILE, (None,),
            lambda s, p: incremental.write_agg_store(agg_state(s, 0, 30), p),
            {
                "write": lambda s, p: incremental.write_agg_store(
                    agg_state(s, 0, 50), p
                ),
                "fold": lambda s, p: incremental.fold_batch_into_agg_store(
                    s,
                    s.range(30, 60).select(
                        (F.col("id") % 3).alias("k"), F.lit(1).alias("op")
                    ),
                    ["k"],
                    {"n": F.lit(1)},
                    p,
                    count_col="n",
                    batch_id=7,
                ),
            },
        ),
        "pca": (
            pca.MOMENTS_PARAMS, (None,),
            lambda s, p: pca.write_moments_store(pca_emb(s, 0, 12), "v", p),
            {
                "write": lambda s, p: pca.write_moments_store(
                    pca_emb(s, 0, 20), "v", p
                ),
                "append": lambda s, p: pca.append_moments_batch(
                    pca_emb(s, 12, 20), "v", p, batch_id=7
                ),
            },
        ),
        "bloom": (
            bloom.PARAMS_FILE, (None,),
            lambda s, p: bloom.write_bloom_store(
                _docs(s, 0, 8), "text", p, m=1 << 12
            ),
            {
                "write": lambda s, p: bloom.write_bloom_store(
                    _docs(s, 0, 12), "text", p, m=1 << 12
                ),
                "append": lambda s, p: bloom.append_bloom_store(
                    s, _docs(s, 8, 12), "text", p
                ),
            },
        ),
        "term": (
            retrieval.STATS_FILE, (None,),
            lambda s, p: retrieval.write_term_index(
                _docs(s, 0, 16), "doc_id", "text", p, buckets=8
            ),
            {
                "write": lambda s, p: retrieval.write_term_index(
                    _docs(s, 0, 24), "doc_id", "text", p, buckets=8
                ),
                "append": lambda s, p: retrieval.append_term_batch(
                    _docs(s, 16, 24), "doc_id", "text", p, batch_id=7
                ),
                "compact": lambda s, p: retrieval.compact_term_index(
                    s, p, _drops(s, "doc_id", [0, 1])
                ),
            },
        ),
        "ivf": (
            ivf.IVF_PARAMS_FILE, (None,),
            lambda s, p: ivf.write_ivf_index(_emb(s), EMB_CENTS, p),
            {
                "write": lambda s, p: ivf.write_ivf_index(
                    _emb(s, 0, 30), EMB_CENTS, p
                ),
                "compact": lambda s, p: ivf.compact_ivf_index(
                    s, p, _drops(s, "vec_id", [0, 1])
                ),
            },
        ),
        "ivfpq": (
            pq.PQ_PARAMS_FILE, (None,),
            lambda s, p: pq.write_ivfpq_index(_emb(s), EMB_CENTS, PQ_BOOKS, p),
            {
                "write": lambda s, p: pq.write_ivfpq_index(
                    _emb(s, 0, 30), EMB_CENTS, PQ_BOOKS, p
                ),
                "compact": lambda s, p: pq.compact_ivfpq_index(
                    s, p, _drops(s, "vec_id", [0, 1])
                ),
            },
        ),
        "lsh": (
            lsh_index.PARAMS_FILE, ("bands", "docs", "sigs"),
            lambda s, p: lsh_index.write_minhash_index(
                _docs(s), "doc_id", "text", p
            ),
            {
                "write": lambda s, p: lsh_index.write_minhash_index(
                    _docs(s, 0, 30), "doc_id", "text", p
                ),
                "compact": lambda s, p: lsh_index.compact_minhash_index(
                    s, p, _drops(s, "corpus_id", [0, 1])
                ),
            },
        ),
    }


CRASH_CASES = [
    ("hll", "write"), ("hll", "append"),
    ("cms", "write"), ("cms", "append"),
    ("qh", "write"), ("qh", "append"),
    ("agg", "write"), ("agg", "fold"),
    ("pca", "write"), ("pca", "append"),
    ("bloom", "write"), ("bloom", "append"),
    ("term", "write"), ("term", "append"), ("term", "compact"),
    ("ivf", "write"), ("ivf", "compact"),
    ("ivfpq", "write"), ("ivfpq", "compact"),
    ("lsh", "write"), ("lsh", "compact"),
]


def _snapshot(spark, path, sidecar, subs):
    root = versioned.resolve_root(path)
    with open(os.path.join(root, sidecar)) as f:
        params = json.load(f)
    rows = {}
    for sub in subs:
        d = root if sub is None else os.path.join(root, sub)
        rows[sub] = sorted(
            repr(tuple(r))
            for r in versioned.read_pinned_parquet(spark, d).collect()
        )
    return params, rows


@pytest.mark.parametrize("family,op", CRASH_CASES)
def test_crash_before_flip_leaves_previous_version_live(
    spark, tmp_path, monkeypatch, family, op
):
    """The sidecar write raises after the new version's data landed:
    ``_CURRENT`` must not move, the previous version must read back
    row- and params-identical, and the next attempt must commit on the
    next FREE version (the torn dir is stepped over, never reused)."""
    if family == "pca":
        pytest.importorskip("numpy")
    sidecar, subs, base, ops = _family_ops()[family]
    path = str(tmp_path / f"{family}_{op}")
    base(spark, path)
    v0 = versioned.current_version(path)
    before = _snapshot(spark, path, sidecar, subs)

    def crash(*_a, **_k):
        raise OSError("simulated crash before the params sidecar landed")

    monkeypatch.setattr(versioned, "write_sidecar", crash)
    with pytest.raises(OSError, match="simulated crash"):
        ops[op](spark, path)
    monkeypatch.undo()

    torn = versioned.version_dir(path, v0 + 1)
    assert any(
        f.endswith(".parquet") for _r, _d, fs in os.walk(torn) for f in fs
    ), "the crash must come after the data landed"
    assert versioned.current_version(path) == v0
    assert _snapshot(spark, path, sidecar, subs) == before

    ops[op](spark, path)
    assert versioned.current_version(path) == v0 + 2


# ------------------------------------------------------------ schema drift


def test_append_ivf_batch_rejects_schema_drift(spark, tmp_path):
    from ubw_spark.operators.ivf import append_ivf_batch, write_ivf_index

    path = str(tmp_path / "ivf")
    write_ivf_index(_emb(spark), EMB_CENTS, path)
    root = versioned.resolve_root(path)
    files = sorted(str(p) for p in pathlib.Path(root).rglob("*.parquet"))
    drifted = _emb(spark, 100, 104).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    with pytest.raises(ValueError, match="schema drift"):
        append_ivf_batch(drifted, EMB_CENTS, path)
    after = sorted(str(p) for p in pathlib.Path(root).rglob("*.parquet"))
    assert after == files, "no file may land before the drift check"
    append_ivf_batch(_emb(spark, 100, 104), EMB_CENTS, path)  # undrifted


def test_append_minhash_batch_rejects_schema_drift(spark, tmp_path):
    from ubw_spark.operators.lsh_index import (
        append_minhash_batch,
        write_minhash_index,
    )

    path = str(tmp_path / "lsh")
    write_minhash_index(_docs(spark), "doc_id", "text", path)
    drifted = _docs(spark, 100, 104).withColumn(
        "doc_id", F.col("doc_id").cast("int")
    )
    with pytest.raises(ValueError, match="schema drift"):
        append_minhash_batch(drifted, "doc_id", "text", path)


# ------------------------------------------------------------ lint

#: Steps of the write cycle only versioned.py may run.
CYCLE_CALLS = {
    "write_manifest",
    "gc_versions",
    "version_dir",
    "pin_schema",
    "write_sidecar",
    "link_carryover",
    "begin_rewrite",
    "commit_rewrite",
}


#: A store sidecar or manifest, by constant name (``PARAMS_FILE``,
#: ``MOMENTS_PARAMS``, ``STATS_FILE``, ``MANIFEST``) or file name
#: (``"_HLL_PARAMS"``, ``"_TERM_STATS"``, ``"_CURRENT"``).
SIDECAR_NAME = re.compile(r"^_?[A-Z_]*(PARAMS|STATS|SCHEMA|CURRENT|MANIFEST)")


def _names_sidecar(node) -> bool:
    return any(
        SIDECAR_NAME.match(
            n.id if isinstance(n, ast.Name)
            else n.attr if isinstance(n, ast.Attribute)
            else n.value if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            else ""
        )
        for n in ast.walk(node)
    )


def _violations(path: pathlib.Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out += [
                f"{path}:{node.lineno} imports {a.name}"
                for a in node.names
                if a.name in CYCLE_CALLS
            ]
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in CYCLE_CALLS:
            out.append(f"{path}:{node.lineno} calls {name}")
        # open(<sidecar>, "w"/"a"/"x") or os.replace/rename onto one
        modes = [
            a.value
            for a in node.args[1:] + [k.value for k in node.keywords]
            if isinstance(a, ast.Constant) and isinstance(a.value, str)
        ]
        target = (
            node.args[0] if name == "open" and node.args
            else node.args[-1] if name in ("replace", "rename") and node.args
            else None
        )
        writes = name != "open" or any(set(m) & set("wax") for m in modes)
        if target is not None and writes and _names_sidecar(target):
            out.append(f"{path}:{node.lineno} writes a store sidecar")
    return out


def test_only_versioned_runs_the_store_write_cycle():
    """One owner for the cycle: no other module allocates versions,
    pins schemas, writes sidecars or flips/GCs the manifest."""
    own = REPO / "ubw_spark" / "operators" / "versioned.py"
    files = [
        p
        for d in ("ubw_spark", "examples")
        for p in sorted((REPO / d).rglob("*.py"))
        if p != own
    ]
    assert len(files) > 50
    bad = [v for p in files for v in _violations(p)]
    assert not bad, "\n".join(bad)
    assert not hasattr(versioned, "begin_rewrite")
    assert not hasattr(versioned, "commit_rewrite")


def test_lint_catches_a_hand_rolled_cycle(tmp_path):
    """Positive control: the scanner flags each forbidden shape."""
    src = tmp_path / "rogue.py"
    src.write_text(
        "from ubw_spark.operators.versioned import pin_schema\n"
        "def f(root, path, v):\n"
        "    pin_schema(root, None)\n"
        "    versioned.write_manifest(path, v)\n"
        "    with open(os.path.join(root, PARAMS_FILE), 'w') as fh:\n"
        "        fh.write('{}')\n"
        "    os.replace(tmp, posixpath.join(path, MANIFEST))\n"
    )
    got = _violations(src)
    assert len(got) == 5, got


def test_concurrent_writers_never_lose_an_increment(tmp_path):
    """Stress the commit race for real: more writer threads than
    cores, each a read-modify-write increment of a sidecar counter
    that retries when it loses.  Every increment lands exactly once —
    a lost update would leave the counter short."""
    import sys
    import threading
    import time

    path = str(tmp_path / "counter")
    with versioned.StoreWriter(path, "_N", params={"n": 0}):
        pass
    per, n_threads = 10, 2 * (os.cpu_count() or 4)
    deadline = time.monotonic() + 60

    def worker():
        done = 0
        while done < per and time.monotonic() < deadline:
            params, v = versioned.read_params(
                path, "_N", "counter", required=False
            )
            if "n" not in params:
                continue  # the read version was collected under us
            try:
                with versioned.StoreWriter(
                    path, "_N", v, params={"n": params["n"] + 1}
                ):
                    pass
                done += 1
            except versioned.StoreConflictError:
                pass  # lost the race: re-read and retry

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=worker, daemon=True)
            for _ in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=90)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    params, v = versioned.read_params(path, "_N", "counter")
    assert params["n"] == per * n_threads
    assert v == versioned.current_version(path)
