"""Output checks, run outside the timed window, all against DuckDB.

* ``check_query`` — one contract query's output (collected as Arrow by
  the untimed warm pass) against its DuckDB oracle, compared the way
  ``tests/test_oracle_parity.py`` compares: same column names, same row
  count, same multiset of canonicalized rows (floats by ``repr``).
* ``check_prd`` — every ``prd_*`` table of a warehouse against a
  one-shot DuckDB last-wins over every landing row delivered so far
  (stage → star join → range → newest ``meta.version`` per natural
  key), the way ``SQL_PIPELINE_E2E`` states the pipeline's contract.
"""

from __future__ import annotations

import math
import os

import duckdb

QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def oracle_sql(entrymod, name: str) -> str:
    """A contract query's DuckDB oracle: ``oracle_sql()[name]`` for live
    entries, else the ``SQL_*`` constant that
    ``tests/test_oracle_parity.py::RETIRED`` names for it."""
    live = entrymod.oracle_sql()
    if name in live:
        return live[name]
    from tests.test_oracle_parity import RETIRED

    return getattr(entrymod, dict(RETIRED)[name])


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def query_views(con, data_dir: str) -> None:
    for t in QUERY_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )


def _canon(val):
    if val is None:
        return ("<null>",)
    if isinstance(val, float):
        if math.isnan(val):
            return ("<nan>",)
        return ("f", repr(val))
    return (type(val).__name__, str(val))


def _rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _read_output(con, rel: str):
    # timestamps come back as the oracle returns them: naive UTC
    desc = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    sel = ", ".join(
        f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if t == "TIMESTAMP WITH TIME ZONE"
        else f'"{c}"'
        for c, t, *_ in desc
    )
    res = con.execute(f"SELECT {sel} FROM {rel}")
    return [d[0] for d in res.description], res.fetchall()


def check_query(con, rel: str, sql: str) -> str | None:
    """None when the relation ``rel`` (a registered Arrow table or a
    ``read_parquet(...)`` call) equals the oracle's result, else a
    one-line reason."""
    s_cols, s_rows = _read_output(con, rel)
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != oracle {len(d_rows)}"
    bad = sum(
        a != b for a, b in zip(_rows_canon(s_cols, s_rows), _rows_canon(d_cols, d_rows))
    )
    return f"{bad} differing rows" if bad else None


# ------------------------------------------------------------ prd tables
def _landing(landing: str, table: str) -> str:
    return f"read_parquet('{landing}/{table}.parquet/*.parquet')"


def _j_date(col: str = "date_time") -> str:
    return (
        f"substr({col}, 1, 4) || '/' || substr({col}, 5, 2) || '/' || "
        f"substr({col}, 7, 2)"
    )


def _not_null(cols: list[str], doubles: set[str]) -> str:
    conds = []
    for c in cols:
        conds.append(f'"{c}" IS NOT NULL')
        if c in doubles:
            conds.append(f'NOT isnan("{c}")')
    return " AND ".join(conds)


_TRADE_DOUBLES = {
    "open_price", "high_price", "low_price", "close_price", "close_price_change", "value",
}
_TRADE_REQUIRED = [
    "date_time", "open_price", "high_price", "low_price", "close_price",
    "close_price_change", "trade_count", "volume", "value", "instrument.id",
]


def trades_oracle(landing: str, lo: str, hi: str) -> str:
    return f"""
WITH stg AS (
  SELECT id, date_time, {_j_date()} AS j_date, open_price, high_price,
         low_price, close_price, close_price_change,
         close_price_change / nullif(close_price - close_price_change, 0)
           AS close_price_change_percent,
         trade_count, volume, value, "instrument.id" AS instrument_id,
         "meta.version" AS version
  FROM {_landing(landing, "trades_share")}
  WHERE {_not_null(_TRADE_REQUIRED, _TRADE_DOUBLES)}
)
SELECT s.id, s.j_date, s.date_time, i.code, i.isin, i.name,
       i."stock.company.id" AS "company.id", c.short_name AS category,
       e.title AS market, s.open_price, s.high_price, s.low_price,
       s.close_price, s.close_price_change, s.close_price_change_percent,
       s.trade_count, s.volume, s.value, s.version AS "meta.version"
FROM stg s
JOIN {_landing(landing, "instruments")} i ON s.instrument_id = i.id
JOIN {_landing(landing, "assets")} a ON i."asset.id" = a.id
JOIN {_landing(landing, "categories")} c ON a."category.id" = c.id
JOIN {_landing(landing, "exchanges")} e ON i."exchange.id" = e.id
WHERE s.j_date BETWEEN '{lo}' AND '{hi}'
QUALIFY row_number() OVER (
  PARTITION BY s.j_date, i.name ORDER BY s.version DESC, s.id DESC) = 1
"""


def news_oracle(landing: str) -> str:
    return f"""
SELECT id, date_time, {_j_date()} AS j_date, title, text, "meta.version"
FROM {_landing(landing, "news")}
WHERE {_not_null(["date_time", "title", "text"], set())}
QUALIFY row_number() OVER (
  PARTITION BY j_date, title ORDER BY "meta.version" DESC, id DESC) = 1
"""


def prd_oracles(landing: str, lo: str, hi: str) -> dict[str, str]:
    """Oracle SQL of every prd table the landing zone feeds."""
    return {
        "prd_trades_share": trades_oracle(landing, lo, hi),
        "prd_news": news_oracle(landing),
    }


def check_table(con, table_dir: str, sql: str) -> str | None:
    """None when the month-partitioned table at ``table_dir`` holds
    exactly the oracle's rows (as a multiset, partition column aside)."""
    if not os.path.isdir(table_dir):
        return "table missing"
    prd = f"read_parquet('{table_dir}/*/*.parquet', hive_partitioning = false)"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {prd}").fetchall()]
    o_cols = [r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()]
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)} != oracle {sorted(o_cols)}"
    sel = ", ".join(f'"{c}"' for c in sorted(cols))
    n_prd, n_ora, extra, missing = con.execute(f"""
        WITH p AS (SELECT {sel} FROM {prd}), o AS (SELECT {sel} FROM ({sql}))
        SELECT (SELECT count(*) FROM p), (SELECT count(*) FROM o),
               (SELECT count(*) FROM (SELECT * FROM p EXCEPT ALL SELECT * FROM o)),
               (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM p))
    """).fetchone()
    if extra or missing or n_prd != n_ora:
        return f"{n_prd} rows vs oracle {n_ora}: {extra} unexpected, {missing} missing"
    return None


def check_prd(con, landing: str, warehouse: str, lo: str, hi: str) -> dict[str, str | None]:
    return {
        table: check_table(con, os.path.join(warehouse, table), sql)
        for table, sql in prd_oracles(landing, lo, hi).items()
    }
