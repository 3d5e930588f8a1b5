#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {query_mix|refresh} --seed N \
        --seconds S --trace {0|1}

Run from the repository root. One Spark session per run (the engine's
``get_spark`` with its default confs on ``local[<cores>]``); one client
thread in a closed loop: each operation starts when the previous one
returned, never two at once.

* ``query_mix`` — the read-only testdata at scale 0.01 (the tables the
  oracle-parity tests read); an untimed warm pass collects every
  frozen-bench HEADLINE query's output as Arrow and checks it against
  the query's DuckDB oracle; then timed passes run the 18 queries in a
  seed-permuted order, each constructed fresh (``__wrapped__``,
  bypassing the plan memo) and materialized in full with
  ``write.format("noop")``, until ``--seconds`` have elapsed (at least
  one pass).
* ``refresh`` — a seeded landing zone; a timed ``create`` through the
  CLI entry point, then timed ``update`` ticks, each after a seeded
  delta was appended to the landing tables, until ``--seconds`` have
  elapsed (at least one tick). Every ``prd_*`` table is checked against
  a one-shot DuckDB last-wins after the ``create`` and after the last
  tick.

``--trace 0`` prints the end-to-end metrics (set-up wall time, and the
engine's CPU seconds per round and per operation: this process plus the
gateway JVM's threads other than its JIT compilers and garbage
collector; wall times go to stderr); ``--trace 1`` runs the
named workload and then one round of the other one with spans around
the engine's layer functions and Spark work read per job group, and
prints the per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every output check passed.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the engine must import from the checkout: without it, fail here,
# before anything is written or printed
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from bench import HEADLINE  # noqa: E402
from tests.conftest import SF_ORACLE  # noqa: E402

WORKLOADS = ("query_mix", "refresh")
QUERY_DATA = SF_ORACLE  # the read-only testdata the oracle-parity tests read
RANGE_START = gen.day_str(gen.START)
RANGE_END = gen.last_day(400)  # far past any tick a run reaches
PRD_LAYERS = ("src", "stg", "prd")
# HotSpot's own threads (JIT compilers, garbage collector, VM thread) by
# their kernel names, which are cut to 15 characters. They burned ~60% of
# the JVM's CPU in a tick and set its run-to-run spread.
JVM_OWN_THREADS = re.compile(r"C\d CompilerThre|GC Thread|G1 |VM Thread|VM Periodic|Sweeper thread")

END_TO_END = (
    ("setup_s", "s"),
    ("round_cpu_s", "s"),
    ("op_cpu_s", "s"),
)


def layer_metric_specs() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run prints."""
    out = []
    for kind, unit in (("construct_s", "s"), ("exec_s", "s"), ("task_s", "s"),
                       ("shuffle_mb", "MB"), ("jobs", "count")):
        out += [(f"query_mix.{kind}.{q}", unit) for q in HEADLINE]
    out += [("query_mix.spill_mb", "MB"), ("query_mix.persisted_rdds_leaked", "count"),
            ("query_mix.traced_pass_s", "s"), ("query_mix.traced_pass_cpu_s", "s")]
    out += [(f"refresh.create.write_overwrite_s.{lay}", "s") for lay in PRD_LAYERS]
    out += [(f"refresh.create.files.{lay}", "count") for lay in PRD_LAYERS]
    out += [("refresh.create.construct_s", "s"), ("refresh.create.other_s", "s"),
            ("refresh.create.jobs", "count"), ("refresh.create.task_s", "s"),
            ("refresh.create.shuffle_mb", "MB"), ("refresh.create.space_amp", "ratio"),
            ("refresh.create.traced_s", "s"), ("refresh.create.traced_cpu_s", "s")]
    out += [("refresh.tick.probe_s", "s"), ("refresh.tick.construct_s", "s"),
            ("refresh.tick.append_s", "s"), ("refresh.tick.compact_s", "s"),
            ("refresh.tick.other_s", "s"), ("refresh.tick.jobs", "count"),
            ("refresh.tick.task_s", "s"), ("refresh.tick.shuffle_mb", "MB"),
            ("refresh.tick.touched_partitions", "count"),
            ("refresh.tick.write_amp", "ratio"),
            ("refresh.tick.rows_rewritten_per_delta_row", "ratio"),
            ("refresh.tick.traced_s", "s"), ("refresh.tick.traced_cpu_s", "s"),
            ("refresh.files.prd", "count")]
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail_percentile(samples: list[float]) -> tuple[int | None, float]:
    """The highest whole percentile with at least ten samples above it,
    and its value (nearest rank); (None, max) with fewer than 11."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None, xs[-1]
    p = (100 * (n - 10)) // n
    return p, xs[max(0, -(-p * n // 100) - 1)]


class Ctx:
    """Per-run state: the session, the work directory, the tallies."""

    def __init__(self, spark, work: str, traced: bool, run_id: str) -> None:
        from checks import connect
        from tracing import JobGroups, Tracer

        self.spark, self.work = spark, work
        self.tracer = Tracer(run_id) if traced else None
        self.groups = JobGroups(spark) if traced else None
        self.con = connect(os.path.join(work, "tmp"))
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.t_first_op: float | None = None
        self.layers: dict[str, float] = {}
        self._jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid() if spark else None

    def _engine_threads(self) -> dict[str, int]:
        """Nanoseconds on CPU so far of each live JVM thread that runs
        the engine's work (every thread but the JVM's own)."""
        out = {}
        tasks = f"/proc/{self._jvm_pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm") as fh:
                    if JVM_OWN_THREADS.match(fh.read()):
                        continue
                with open(f"{tasks}/{tid}/schedstat") as fh:
                    out[tid] = int(fh.read().split()[0])
            except OSError:  # the thread ended meanwhile
                continue
        return out

    def cpu_mark(self) -> tuple[dict[str, int], float]:
        return self._engine_threads(), time.process_time()

    def cpu_since(self, mark: tuple[dict[str, int], float]) -> float:
        """Engine CPU seconds since ``mark``: this process plus the JVM's
        engine threads (a thread started since counts in full; one that
        ended since is lost)."""
        py = time.process_time()
        threads, (before, py0) = self._engine_threads(), mark
        return sum(ns - before.get(t, 0) for t, ns in threads.items()) / 1e9 + py - py0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {why}")
        log(f"FAILED {what}: {why}")

    def first_op(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()


# ------------------------------------------------------------- query_mix
def check_queries(ctx: Ctx, em, data: str, outs: dict) -> None:
    """Each query's output (name → Arrow table) against its oracle."""
    from checks import check_query, oracle_sql, query_views

    query_views(ctx.con, data)
    for q, table in outs.items():
        ctx.attempted += 1
        ctx.con.register("spark_out", table)
        why = check_query(ctx.con, "spark_out", oracle_sql(em, q))
        ctx.con.unregister("spark_out")
        if why:
            ctx.fail(f"query {q} output", why)


def run_query_mix(ctx: Ctx, seed: int, seconds: float) -> dict:
    import __spark_entry__ as em

    spark, data = ctx.spark, QUERY_DATA
    ctors = {q: getattr(em, f"q_{q}") for q in HEADLINE}
    ctors = {q: getattr(fn, "__wrapped__", fn) for q, fn in ctors.items()}

    # untimed warm pass: every output collected as Arrow, then checked
    outs = {}
    t0 = time.perf_counter()
    for q in HEADLINE:
        ctx.attempted += 1
        try:
            outs[q] = ctors[q](spark, data).toArrow()
        except Exception as exc:  # noqa: BLE001 — one query's failure is a result
            ctx.fail(f"query {q} (warm pass)", repr(exc)[:300])
    t1 = time.perf_counter()
    check_queries(ctx, em, data, outs)
    del outs
    log(f"query_mix: warm pass {t1 - t0:.3f}s, output checks {time.perf_counter() - t1:.3f}s")

    rng = random.Random(seed)
    lat: list[float] = []
    passes: list[float] = []
    op_cpu: list[float] = []
    pass_cpu: list[float] = []
    per_q: dict[str, list[dict]] = {q: [] for q in HEADLINE}
    leaked = 0
    tr, groups = ctx.tracer, ctx.groups
    ctx.first_op()
    t_start = time.perf_counter()
    while True:
        order = list(HEADLINE)
        rng.shuffle(order)
        pass_mark = ctx.cpu_mark()
        p0 = time.perf_counter()
        for q in order:
            ctx.attempted += 1
            rec: dict = {}
            if groups:
                groups.start(f"q:{q}:{len(passes)}")
            mark = ctx.cpu_mark()
            t0 = time.perf_counter()
            try:
                if tr:
                    with tr.span(f"construct:{q}") as i:
                        df = ctors[q](spark, data)
                    rec["construct_s"] = tr.spans[i].dur
                    with tr.span(f"exec:{q}") as i:
                        df.write.format("noop").mode("overwrite").save()
                    rec["exec_s"] = tr.spans[i].dur
                else:
                    ctors[q](spark, data).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                ctx.fail(f"query {q}", repr(exc)[:300])
                continue
            lat.append(time.perf_counter() - t0)
            op_cpu.append(ctx.cpu_since(mark))
            if groups:
                rec.update(groups.stats(f"q:{q}:{len(passes)}"))
                leaked = max(leaked, groups.persisted_rdds())
                per_q[q].append(rec)
        passes.append(time.perf_counter() - p0)
        pass_cpu.append(ctx.cpu_since(pass_mark))
        if time.perf_counter() - t_start >= seconds:
            break
    p, tail = tail_percentile(lat)
    log(f"query_mix: {len(passes)} passes {[round(x, 3) for x in passes]}, "
        f"{len(lat)} query latencies, p50 {statistics.median(lat):.3f}s, "
        f"tail p{p} {tail:.3f}s (n={len(lat)})")
    if groups:
        med = lambda q, k: statistics.median(r[k] for r in per_q[q])  # noqa: E731
        for q in HEADLINE:
            for k in ("construct_s", "exec_s", "task_s", "shuffle_mb", "jobs"):
                ctx.layers[f"query_mix.{k}.{q}"] = med(q, k)
        ctx.layers["query_mix.spill_mb"] = sum(
            r["spill_mb"] for q in HEADLINE for r in per_q[q]) / len(passes)
        ctx.layers["query_mix.persisted_rdds_leaked"] = leaked
    return {"round_s": statistics.median(passes), "op_s": statistics.geometric_mean(lat),
            "round_cpu_s": statistics.median(pass_cpu), "op_cpu_s": statistics.geometric_mean(op_cpu)}


# --------------------------------------------------------------- refresh
def _data_files(root: str, prefix: str = "") -> dict[str, tuple[int, int]]:
    """path → (inode, bytes) of every data file under ``root``'s tables
    whose name starts with ``prefix``."""
    out = {}
    if not os.path.isdir(root):
        return out
    for table in os.listdir(root):
        if not table.startswith(prefix):
            continue
        for dirpath, _, files in os.walk(os.path.join(root, table)):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size)
    return out


def _cli(ctx: Ctx, cmd: str, wh: str, landing: str) -> None:
    """One CLI invocation in-process; every table result and the exit
    code are operations that can fail."""
    from web_api_postgres_etl_spark.__main__ import main

    argv = [cmd, "--warehouse", wh, "--landing", landing,
            "--range-start", RANGE_START, "--range-end", RANGE_END]
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = main(argv, spark=ctx.spark)
    except Exception as exc:  # noqa: BLE001 — a crashed command is a result
        ctx.attempted += 1
        ctx.fail(f"{cmd}", repr(exc)[:300])
        return
    errors = 0
    for line in buf.getvalue().splitlines():
        rec = json.loads(line)
        if "table" not in rec or "error" not in rec:
            continue
        ctx.attempted += 1
        if rec["error"]:
            errors += 1
            ctx.fail(f"{cmd} {rec['table']}", rec["error"][:300])
    if rc != 0 and not errors:
        ctx.attempted += 1
        ctx.fail(f"{cmd}", f"exit code {rc}")


def check_prd_tables(ctx: Ctx, landing: str, wh: str, when: str) -> None:
    from checks import check_prd

    for table, why in check_prd(ctx.con, landing, wh, RANGE_START, RANGE_END).items():
        ctx.attempted += 1
        if why:
            ctx.fail(f"{table} after {when}", why)


def run_refresh(ctx: Ctx, seed: int, seconds: float) -> dict:
    landing = os.path.join(ctx.work, "landing")
    state = gen.write_landing(landing, seed)
    wh = os.path.join(ctx.work, "warehouse")
    tr, groups = ctx.tracer, ctx.groups
    L = ctx.layers

    ctx.first_op()
    if groups:
        groups.start("create")
    mark = ctx.cpu_mark()
    t0 = time.perf_counter()
    if tr:
        with tr.span("create") as create_idx:
            _cli(ctx, "create", wh, landing)
    else:
        _cli(ctx, "create", wh, landing)
    create_s = time.perf_counter() - t0
    create_cpu = ctx.cpu_since(mark)
    if groups:
        for k, v in groups.stats("create").items():
            if k != "spill_mb":
                L[f"refresh.create.{k}"] = v
        spans = tr.children(create_idx)
        for lay in PRD_LAYERS:
            L[f"refresh.create.write_overwrite_s.{lay}"] = sum(
                s.dur for s in spans if s.name == f"write_overwrite.{lay}")
            L[f"refresh.create.files.{lay}"] = len(_data_files(wh, f"{lay}_"))
        L["refresh.create.construct_s"] = sum(
            s.dur for s in spans if s.name.startswith(("stage_", "produce_")))
        L["refresh.create.other_s"] = create_s - sum(s.dur for s in spans)
        L["refresh.create.space_amp"] = gen.tree_bytes(wh) / gen.tree_bytes(landing)
    check_prd_tables(ctx, landing, wh, "create")

    # untimed warm-up tick: the first update of a JVM compiles its code
    # paths, which made single-tick timings bimodal
    gen.write_delta(landing, seed, state, 0)
    if groups:
        groups.start("tick:warm-up")
    _cli(ctx, "update", wh, landing)

    elapsed, ticks, tick_layers, tick_cpu = create_s, [], [], []
    while True:
        k = len(ticks) + 1
        delta_rows = gen.write_delta(landing, seed, state, k)
        if groups:
            before = _data_files(wh)
            groups.start(f"tick:{k}")
        mark = ctx.cpu_mark()
        t0 = time.perf_counter()
        if tr:
            with tr.span(f"tick:{k}") as tick_idx:
                _cli(ctx, "update", wh, landing)
        else:
            _cli(ctx, "update", wh, landing)
        ticks.append(time.perf_counter() - t0)
        tick_cpu.append(ctx.cpu_since(mark))
        elapsed += ticks[-1]
        if groups:
            tick_layers.append(_tick_layers(ctx, tick_idx, k, wh, landing,
                                            before, delta_rows, ticks[-1]))
        if elapsed >= seconds:
            break
    check_prd_tables(ctx, landing, wh, f"tick {k}")
    log(f"refresh: create {create_s:.3f}s ({create_cpu:.3f} CPU s); {len(ticks)} timed ticks "
        f"{[round(x, 3) for x in ticks]} ({[round(x, 3) for x in tick_cpu]} CPU s); "
        f"landing rows {sum(state['rows'].values())}")
    if groups:
        for key in tick_layers[0]:
            L[f"refresh.tick.{key}"] = statistics.median(t[key] for t in tick_layers)
        L["refresh.files.prd"] = len(_data_files(wh, "prd_"))
    return {"round_s": create_s, "op_s": statistics.geometric_mean(ticks),
            "round_cpu_s": create_cpu, "op_cpu_s": statistics.geometric_mean(tick_cpu)}


def _tick_layers(ctx: Ctx, idx: int, k: int, wh: str, landing: str,
                 before: dict, delta_rows: int, wall: float) -> dict:
    import pyarrow.parquet as pq

    spans = ctx.tracer.children(idx)
    stats = ctx.groups.stats(f"tick:{k}")
    after = _data_files(wh)
    new = {p: v for p, v in after.items() if before.get(p) != v}
    new_prd = [p for p in new if os.path.basename(os.path.dirname(os.path.dirname(p))).startswith("prd_")]
    part = "part-%05d.parquet" % (k + 1)
    delta_bytes = sum(
        os.path.getsize(os.path.join(landing, t, part))
        for t in os.listdir(landing) if os.path.exists(os.path.join(landing, t, part))
    )
    named = lambda n: sum(s.dur for s in spans if s.name == n)  # noqa: E731
    construct = sum(s.dur for s in spans if s.name.startswith(("stage_", "produce_")))
    return {
        "probe_s": named("probe"),
        "construct_s": construct,
        "append_s": named("write_append"),
        "compact_s": named("compact_partitioned"),
        "other_s": wall - sum(s.dur for s in spans),
        "jobs": stats["jobs"],
        "task_s": stats["task_s"],
        "shuffle_mb": stats["shuffle_mb"],
        "touched_partitions": len({os.path.dirname(p) for p in new_prd}),
        "write_amp": sum(v[1] for v in new.values()) / delta_bytes,
        "rows_rewritten_per_delta_row": sum(
            pq.ParquetFile(p).metadata.num_rows for p in new_prd) / delta_rows,
    }


def _instrument_pipeline(tracer) -> None:
    from web_api_postgres_etl_spark.plans import pipeline
    from web_api_postgres_etl_spark.plans.watermark import WatermarkManager

    layer = lambda df, path, *a, **kw: (  # noqa: E731
        "write_overwrite." + os.path.basename(path).split("_", 1)[0])
    tracer.wrap(pipeline, "write_overwrite", name_fn=layer)
    tracer.wrap(pipeline, "write_append")
    for m in ("stage_trades", "stage_news", "stage_assets", "produce_trades",
              "compact_partitioned"):
        tracer.wrap(pipeline.MedallionPipeline, m)
    tracer.wrap(WatermarkManager, "probe")


# ------------------------------------------------------------------ main
def _stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from web_api_postgres_etl_spark.session import get_spark

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every byte the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(work)  # Spark's stray files (spark-warehouse, derby.log)

    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        try:
            ctx = Ctx(spark, work, bool(args.trace), run_id)
            flows = {"query_mix": run_query_mix, "refresh": run_refresh}
            if ctx.tracer:
                _instrument_pipeline(ctx.tracer)
            rounds = {args.workload: flows[args.workload](ctx, args.seed, args.seconds)}
            setup_s = ctx.t_first_op - T_PROC
            if ctx.tracer:
                other = [w for w in WORKLOADS if w != args.workload][0]
                rounds[other] = flows[other](ctx, args.seed, 0)
                ctx.tracer.restore()
                ctx.tracer.dump(os.path.join(base, "traces", f"{run_id}.jsonl"))
                q, r = rounds["query_mix"], rounds["refresh"]
                ctx.layers.update({
                    "query_mix.traced_pass_s": q["round_s"],
                    "query_mix.traced_pass_cpu_s": q["round_cpu_s"],
                    "refresh.create.traced_s": r["round_s"],
                    "refresh.create.traced_cpu_s": r["round_cpu_s"],
                    "refresh.tick.traced_s": r["op_s"],
                    "refresh.tick.traced_cpu_s": r["op_cpu_s"],
                })
        finally:
            _stop_jvm(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
          + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss)
    if args.trace:
        specs = layer_metric_specs()
        values = ctx.layers
    else:
        specs = list(END_TO_END)
        values = {**rounds[args.workload], "setup_s": setup_s}
    missing = [n for n, _ in specs if n not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in specs}
    correct = ctx.failed == 0
    log(f"{args.workload}: wall round {rounds[args.workload]['round_s']:.3f}s, "
        f"wall op geomean {rounds[args.workload]['op_s']:.3f}s, "
        f"peak RSS (driver + JVM) {kb / 1024.0:.0f} MB")
    log(f"attempted {ctx.attempted}, failed {ctx.failed} "
        f"(failed_ratio {ctx.failed / max(ctx.attempted, 1):.4f})")
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
