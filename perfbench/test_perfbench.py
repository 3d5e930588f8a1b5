"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

def _landing(tmp_path, seed, ticks=0):
    d = str(tmp_path / f"landing-{seed}")
    state = gen.write_landing(d, seed)
    for k in range(ticks):
        gen.write_delta(d, seed, state, k)
    return d


def test_generator_is_deterministic(tmp_path):
    a, b, c = (_landing(tmp_path / n, s, ticks=3) for n, s in (("a", 5), ("b", 5), ("c", 6)))
    assert gen.tree_digest(a) == gen.tree_digest(b)
    assert gen.tree_digest(a) != gen.tree_digest(c)


def test_landing_properties(tmp_path):
    d = _landing(tmp_path, 1)
    con = duckdb.connect()
    share = con.execute(
        f"SELECT count(*) FROM read_parquet('{d}/trades_share.parquet/*.parquet')").fetchone()[0]
    assert share == gen.INSTRUMENTS * gen.DAYS
    months = con.execute(
        f"SELECT count(DISTINCT substr(date_time, 1, 6)) FROM "
        f"read_parquet('{d}/trades_*.parquet/*.parquet')").fetchone()[0]
    assert months >= 3


def _ctx(tmp_path):
    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "tmp"))
    return run.Ctx(None, work, False, "test")


def test_planted_wrong_query_result_counts_as_failed(tmp_path):
    import __spark_entry__ as em

    data = run.QUERY_DATA
    ctx = _ctx(tmp_path)
    checks.query_views(ctx.con, data)
    good, bad = "agg_rollup", "q3_topk_join_agg"
    outs = {q: ctx.con.execute(checks.oracle_sql(em, q)).arrow() for q in (good, bad)}
    # plant one wrong row: the first row's first numeric column + 1
    rows = outs[bad].to_pylist()
    num = next(k for k, v in rows[0].items() if isinstance(v, (int, float)))
    rows[0][num] += 1
    outs[bad] = pa.Table.from_pylist(rows, schema=outs[bad].schema)
    run.check_queries(ctx, em, data, {good: outs[good]})
    assert (ctx.attempted, ctx.failed) == (1, 0)
    run.check_queries(ctx, em, data, {bad: outs[bad]})
    assert (ctx.attempted, ctx.failed) == (2, 1)
    assert "q3_topk_join_agg output" in ctx.problems[0]


def _publish(con, landing, wh, lo, hi):
    """Write what a correct pipeline would leave: each prd table as the
    oracle's rows, partitioned by Jalali month."""
    month = "substr(j_date, 1, 4) || '-' || substr(j_date, 6, 2)"
    for table, sql in checks.prd_oracles(landing, lo, hi).items():
        for (m,) in con.execute(f"SELECT DISTINCT {month} FROM ({sql})").fetchall():
            os.makedirs(f"{wh}/{table}/j_month={m}")
            con.execute(
                f"COPY (SELECT * FROM ({sql}) WHERE {month} = '{m}') "
                f"TO '{wh}/{table}/j_month={m}/part-0.parquet' (FORMAT PARQUET)"
            )


def test_planted_failing_table_counts_as_failed(tmp_path, monkeypatch):
    landing = _landing(tmp_path, 4, ticks=2)
    wh = str(tmp_path / "wh")
    lo, hi = gen.day_str(gen.START), gen.last_day(50)
    ctx = _ctx(tmp_path)
    _publish(ctx.con, landing, wh, lo, hi)
    monkeypatch.setattr(run, "RANGE_START", lo)
    monkeypatch.setattr(run, "RANGE_END", hi)
    n_tables = 2  # prd_trades_share, prd_news
    run.check_prd_tables(ctx, landing, wh, "create")
    assert ctx.failed == 0 and ctx.attempted == n_tables
    # last-wins must have collapsed the re-delivered and corrected rows
    n_land = ctx.con.execute(
        f"SELECT count(*) FROM read_parquet('{landing}/trades_share.parquet/*.parquet')").fetchone()[0]
    n_prd = ctx.con.execute(
        f"SELECT count(*) FROM read_parquet('{wh}/prd_trades_share/*/*.parquet')").fetchone()[0]
    assert n_prd < n_land
    # plant: one month of prd_news loses a row
    month = sorted(os.listdir(f"{wh}/prd_news"))[0]
    f = os.path.join(wh, "prd_news", month, os.listdir(f"{wh}/prd_news/{month}")[0])
    ctx.con.execute(
        f"COPY (SELECT * FROM read_parquet('{f}') OFFSET 1) TO '{f}.new' (FORMAT PARQUET)")
    os.replace(f + ".new", f)
    run.check_prd_tables(ctx, landing, wh, "tick 0")
    assert ctx.failed == 1 and ctx.attempted == 2 * n_tables
    assert ctx.problems[0].startswith("prd_news after tick 0")


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.layer_metric_specs()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_every_headline_query_has_an_oracle():
    import __spark_entry__ as em

    for q in run.HEADLINE:
        assert checks.oracle_sql(em, q)


def test_tail_percentile():
    assert run.tail_percentile([1.0, 3.0, 2.0]) == (None, 3.0)
    p, v = run.tail_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90, 90.0)  # ten samples (91..100) lie above it


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
