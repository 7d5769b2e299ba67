"""The repository benchmark: one process, one client, ``local[nproc]``.

    python3 perfbench/run.py --workload report_service --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  Inputs are generated from a fixed
table seed into ``.perfbench/data`` (once, verified by SHA-256 on every
run) and the run's scratch is ``.perfbench/work``; nothing is written
outside the checkout.  ``--seed`` drives the request stream and the op
order.

A run sets up once (interpreter and JVM start, the session and a warm-up
pass) and reports that as ``setup_s``.  It then runs whole passes of ops, closed loop, until
``--seconds`` have passed, and checks every op's output against DuckDB
outside the timed region.  With ``--trace 0`` it prints the end-to-end
metrics; with ``--trace 1`` every second pass is traced and it prints
the per-layer metrics.  The last stdout line is the JSON result; the
lines before it print every metric with its unit and the check summary.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1024 * 1024


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _hwm_kb(pid: str | int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm() -> None:
    """Restart this process's peak-RSS count (after input generation)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _declared(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _duck(data_dir: str):
    import duckdb

    from tools.check_correctness import TABLES

    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _store_versions(stores_dir: str) -> dict[str, tuple[int, int]]:
    """(current version, its bytes) of every versioned store."""
    from ubw_spark.operators.versioned import MANIFEST, store_stats

    out = {}
    for root, _dirs, files in os.walk(stores_dir):
        if MANIFEST in files:
            st = store_stats(root)
            out[root] = (st["current"],
                         st["versions"].get(st["current"], {}).get("bytes", 0))
    return out


def made_current(before: dict[str, tuple[int, int]],
                 after: dict[str, tuple[int, int]]) -> int:
    """Bytes of the store versions that became current between two
    ``_store_versions`` snapshots: a new store, or a new current version
    of an existing one (a rewrite of the same size included)."""
    return sum(b for p, (v, b) in after.items() if before.get(p, (None,))[0] != v)


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at end of input
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import workloads
        from ubw_spark.session import get_session
    except ImportError as e:
        _fail(f"the program under test is missing: {e}")

    import gen
    import isolate
    import stats
    import tracing

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    declared = _declared(bool(args.trace))
    paths = isolate.prepare(ROOT)
    n = isolate.nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    t_gen = time.perf_counter()
    data_dir = gen.ensure(os.path.join(ROOT, ".perfbench", "data"), 1)
    gen_s = time.perf_counter() - t_gen
    _reset_hwm()
    redirected = isolate.redirect_store_root(paths["stores"])
    workload = workloads.WORKLOADS[args.workload](data_dir, args.seed)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(paths["cwd"], "spark-warehouse"),
    }
    if args.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + paths["events"]
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"

    # -- set-up: session start + warm-up pass ----------------------------
    # measured from process start, less the input generation
    spark = get_session(f"perfbench-{workload.name}", master=f"local[{n}]",
                        shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - T_PROCESS - gen_s
    t_warm = time.perf_counter()
    workload.prepare(spark)
    warm_errors = []
    for item in workload.warmup_items():
        op = workloads.Op(-1, str(item))
        workloads.run_one(workload, spark, item, op, None)
        if op.error:
            warm_errors.append(op.error)
    warm_s = time.perf_counter() - t_warm

    # -- timed phase (with --trace 1, every second pass is traced) -------
    tracer = tracing.Tracer(spark) if args.trace else None
    useful_b = orphans = 0
    live: dict[str, tuple[int, int]] = {}

    def store_before(op) -> None:
        nonlocal live
        live = _store_versions(paths["stores"])

    def store_after(op) -> None:
        nonlocal useful_b
        useful_b += made_current(live, _store_versions(paths["stores"]))

    if tracer is not None:
        listener, batches = tracing.stream_listener(spark)
    ops = workloads.run_ops(workload, spark, args.seconds, tracer,
                            store_before, store_after)
    elapsed = sum(op.wall for op in ops)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024
    if tracer is not None:
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(listener)
        orphans = tracing.attribute(tracer.spans, paths["events"],
                                    spark.sparkContext.applicationId)
        tracer.write(os.path.join(paths["trace"], "spans.jsonl"))

    # -- checks, outside the timed region --------------------------------
    t_check = time.perf_counter()
    duck = _duck(data_dir)
    workload.check(ops, duck)
    duck.close()
    with open(os.path.join(paths["trace"], "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps({"op": op.id, "name": op.name, "wall_s": op.wall,
                                "traced": op.traced, "error": op.error,
                                "check": op.check}) + "\n")
    stores = _store_versions(paths["stores"])
    store_mb = sum(b for _v, b in stores.values()) / MB
    # the stores must have landed in the run's scratch, not under /tmp
    isolated = redirected > 0 and (bool(stores) or not workload.writes_stores)
    _stop(spark)
    check_s = time.perf_counter() - t_check

    failed = [op for op in ops if op.failed]
    plain = [op for op in ops if not op.traced]
    traced = [op for op in ops if op.traced]
    walls = [op.wall * 1000 for op in plain]
    ops_per_s = len(plain) / sum(op.wall for op in plain)
    if tracer is None:
        metrics = _e2e_metrics(start_s + warm_s, ops_per_s, walls, peak_rss_mb)
    else:
        traced_per_s = len(traced) / sum(op.wall for op in traced)
        metrics = _layer_metrics(tracer.spans, traced, batches, start_s, warm_s,
                                 store_mb, useful_b, orphans, ops_per_s / traced_per_s)

    # -- report -------------------------------------------------------------
    print(f"workload {workload.name} seed {args.seed} nproc {n} "
          f"input generation {gen_s:.1f}s store constants redirected {redirected}")
    print(f"set-up {start_s:.2f}s session + {warm_s:.2f}s warm-up; check and stop "
          f"{check_s:.1f}s; run so far {time.perf_counter() - T_PROCESS:.1f}s")
    print(f"ops {len(ops)} in {elapsed:.2f}s of op wall time, {len(traced)} of them traced")
    kinds: dict[str, list[float]] = {}
    for op in plain:
        kinds.setdefault(op.name, []).append(op.wall * 1000)
    print("p50 by op: " + ", ".join(
        f"{k} {stats.median(v):.0f} ms ({len(v)})" for k, v in sorted(kinds.items())))
    tail = stats.tail_percentile(len(walls))
    if tail is not None:
        print(f"latency_p{tail}_ms {stats.percentile(walls, tail):.3f} ms "
              f"({len(walls)} samples)")
    print(f"store_mb {store_mb:.3f} MB in {len(stores)} stores (live versions after "
          f"the run){'' if isolated else '; NOT ISOLATED: stores missing from the scratch'}")
    if tracer is not None:
        cover = metrics["trace.coverage_min"][0]
        print(f"trace check: layer spans cover at least {cover:.4f} of every traced "
              f"op's wall ({'within' if cover >= 0.95 else 'NOT within'} 5%)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    ratio = len(failed) / len(ops) if ops else 1.0
    print(f"check: {len(ops) - len(failed)}/{len(ops)} ops match DuckDB, "
          f"failed_ratio {ratio:.4f}, warm-up errors {len(warm_errors)}")
    for op in failed[:5]:
        print(f"  FAIL op {op.id} {op.name}: {op.error or op.check}")
    print(stats.result_line(
        correct=not failed and not warm_errors and bool(ops) and isolated,
        attempted=max(1, len(ops)), failed=len(failed) if ops else 1,
        metrics=metrics, declared=declared,
    ))
    return 0


def _e2e_metrics(setup_s, ops_per_s, walls_ms, peak_rss_mb) -> dict[str, tuple[float, str]]:
    import stats

    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s, "op/s"),
        "latency_p50_ms": (stats.median(walls_ms), "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _layer_metrics(spans, ops, batches, start_s, warm_s, store_mb, useful_b,
                   orphans, overhead) -> dict[str, tuple[float, str]]:
    import stats

    n = max(1, len(ops))
    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    def total(layers, attr):
        return sum(getattr(s, attr) for layer in layers for s in by_layer.get(layer, []))

    def per_op(layers, attr, scale=1.0):
        return total(layers, attr) / scale / n

    run_layers = ("execute", "render")
    build_b = total(["queries"], "output_b")
    phases = [s.plan_phases for s in by_layer.get("plan", [])]
    root = {s.op: s for s in by_layer.get("op", [])}
    cover = {}
    for s in spans:
        if s.parent is not None:
            cover[s.op] = cover.get(s.op, 0.0) + s.seconds
    coverage = [cover.get(op, 0.0) / r.seconds for op, r in root.items() if r.seconds]
    streamed = [
        d for t, d in batches if any(r.start <= t <= r.end for r in root.values())
    ]
    return {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warm_s, "s"),
        "queries.build_s": (per_op(["queries"], "seconds"), "s"),
        "queries.build_jobs": (per_op(["queries"], "jobs"), "count"),
        "queries.build_tasks": (per_op(["queries"], "tasks"), "count"),
        "params.apply_s": (per_op(["params"], "seconds"), "s"),
        "jsonquery.compile_s": (per_op(["jsonquery"], "seconds"), "s"),
        "plan.s": (per_op(["plan"], "seconds"), "s"),
        "plan.analysis_s": (sum(p.get("analysis", 0) for p in phases) / n, "s"),
        "plan.optimization_s": (sum(p.get("optimization", 0) for p in phases) / n, "s"),
        "plan.planning_s": (sum(p.get("planning", 0) for p in phases) / n, "s"),
        "execute.s": ((total(["execute"], "seconds") + total(["render"], "job_s")) / n, "s"),
        "execute.jobs": (per_op(run_layers, "jobs"), "count"),
        "execute.stages": (per_op(run_layers, "stages"), "count"),
        "execute.tasks": (per_op(run_layers, "tasks"), "count"),
        "execute.task_run_s": (per_op(run_layers, "task_run_s"), "s"),
        "execute.task_cpu_s": (per_op(run_layers, "task_cpu_s"), "s"),
        "execute.sched_delay_s": (per_op(run_layers, "sched_delay_s"), "s"),
        "execute.input_mb": (per_op(run_layers, "input_b", MB), "MB"),
        "execute.shuffle_read_mb": (per_op(run_layers, "shuffle_read_b", MB), "MB"),
        "execute.shuffle_write_mb": (per_op(run_layers, "shuffle_write_b", MB), "MB"),
        "execute.spill_mb": (per_op(run_layers, "spill_b", MB), "MB"),
        "execute.failed_tasks": (per_op(run_layers, "failed_tasks"), "count"),
        "render.to_view_s": (per_op(["render"], "seconds"), "s"),
        "versioned.output_mb": (build_b / MB / n, "MB"),
        "versioned.store_mb": (store_mb, "MB"),
        "versioned.write_amp": (build_b / useful_b if useful_b else 0.0, "ratio"),
        "streaming.batches": (len(streamed) / n, "count"),
        "streaming.batch_p50_ms": (stats.median(streamed), "ms"),
        "trace.overhead_ratio": (overhead, "ratio"),
        "trace.coverage_min": (min(coverage) if coverage else 0.0, "ratio"),
        "trace.orphan_jobs": (float(orphans), "count"),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
