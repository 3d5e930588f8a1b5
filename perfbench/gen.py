"""Seeded landing-zone generator for the ``refresh`` workload.

``write_landing`` / ``write_delta`` write a landing zone in the
reference's wire format (flattened dotted column names, Jalali 14-digit
``date_time``, monotone ``meta.version``): ``trades_share``, ``news``
and the five dimensions; plus the per-tick deltas an ``update``
consumes. They are written with pyarrow, so the engine never sees the
generator, only the parquet files it leaves behind.

Every landing table is a directory of parquet part files, so a tick
appends a delta by adding one part file. The same seed gives
byte-identical files (``tree_digest`` checks it).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shape of the landing zone and of each tick's delta.
START = (1400, 1, 1)
DAYS = 150  # consecutive Jalali days of history
INSTRUMENTS = 200  # share instruments, one trade row per day each
INDEXES = 40  # rows of the indexes dimension
NEWS_PER_DAY = 20
NULL_RATE = 0.005  # rows with a NULL in one required column
TICKS_PER_DAY = 4  # ticks that re-deliver the same "today"
LATE_SHARE = 0.02  # delta rows that correct an older month
WORDS = (
    "market index share bond trade price close open volume value rise fall "
    "report board company dividend profit loss exchange rate oil gold "
    "currency crypto energy future contract annual quarter record"
).split()


def _month_len(m: int) -> int:
    return 31 if m <= 6 else (30 if m <= 11 else 29)


def jalali_days(start: tuple[int, int, int], n: int) -> list[tuple[int, int, int]]:
    """``n`` consecutive Jalali calendar days from ``start`` (Esfand
    always 29 days, so every generated date is valid in every year)."""
    y, m, d = start
    out = []
    for _ in range(n):
        out.append((y, m, d))
        d += 1
        if d > _month_len(m):
            d, m = 1, m + 1
            if m > 12:
                m, y = 1, y + 1
    return out


def day_str(day: tuple[int, int, int]) -> str:
    return "%04d/%02d/%02d" % day


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


def _trades(rng, inst: np.ndarray, days, first_id: int, first_version: int,
            null_rate: float) -> pa.Table:
    """One trade row per (day, instrument); versions ascend in row order."""
    n = len(days) * len(inst)
    day_idx = np.repeat(np.arange(len(days)), len(inst))
    inst_col = np.tile(inst, len(days))
    secs = rng.integers(9 * 3600, 12 * 3600 + 30 * 60, n)
    compact = [
        "%04d%02d%02d" % days[i] + "%02d%02d%02d" % (s // 3600, s // 60 % 60, s % 60)
        for i, s in zip(day_idx.tolist(), secs.tolist())
    ]
    open_p = np.round(rng.lognormal(8.0, 1.0, n), 2)
    close = np.round(open_p * rng.uniform(0.95, 1.05, n), 2)
    change = np.round(close - open_p * rng.uniform(0.97, 1.03, n), 2)
    # a few rows whose change equals the close: zero pct denominator
    trap = rng.random(n) < 0.001
    change[trap] = close[trap]
    high = np.round(np.maximum(open_p, close) * rng.uniform(1.0, 1.02, n), 2)
    low = np.round(np.minimum(open_p, close) * rng.uniform(0.98, 1.0, n), 2)
    count = rng.integers(1, 5000, n)
    volume = count * rng.integers(10, 2000, n)
    # ~null_rate of rows carry one NULL, in date_time or open_price
    nulls = rng.random(n) < null_rate
    which = rng.random(n) < 0.5
    return pa.table({
        "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "date_time": pa.array(compact, pa.string(), mask=nulls & which),
        "open_price": pa.array(open_p, pa.float64(), mask=nulls & ~which),
        "high_price": pa.array(high, pa.float64()),
        "low_price": pa.array(low, pa.float64()),
        "close_price": pa.array(close, pa.float64()),
        "close_price_change": pa.array(change, pa.float64()),
        "trade_count": pa.array(count, pa.int64()),
        "volume": pa.array(volume, pa.int64()),
        "value": pa.array(np.round(volume * close, 2), pa.float64()),
        "instrument.id": pa.array([f"I{i}" for i in inst_col.tolist()], pa.string()),
        "meta.version": pa.array(
            np.arange(first_version, first_version + n), pa.int64()
        ),
    })


def _news(rng, days, per_day: int, first_id: int, first_version: int) -> pa.Table:
    n = len(days) * per_day
    day_idx = np.repeat(np.arange(len(days)), per_day)
    slot = np.tile(np.arange(per_day), len(days))
    lens = rng.integers(20, 120, n)
    vocab = np.array(WORDS)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    texts, pos = [], 0
    for k in lens.tolist():
        texts.append(" ".join(vocab[words[pos:pos + k]].tolist()))
        pos += k
    return pa.table({
        "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "date_time": pa.array(
            ["%04d%02d%02d" % days[i] + "080000" for i in day_idx.tolist()],
            pa.string(),
        ),
        "title": pa.array([f"headline {s}" for s in slot.tolist()], pa.string()),
        "text": pa.array(texts, pa.string()),
        "meta.version": pa.array(
            np.arange(first_version, first_version + n), pa.int64()
        ),
    })


def _dims() -> dict[str, pa.Table]:
    n = INSTRUMENTS
    ids = np.arange(n)
    n_assets, n_cats, n_exch = max(4, n // 4), 12, 4
    return {
        "instruments": pa.table({
            "id": [f"I{i}" for i in ids.tolist()],
            "code": [f"C{i:05d}" for i in ids.tolist()],
            "isin": [f"IRO1{i:08d}" for i in ids.tolist()],
            "name": [f"inst_{i}" for i in ids.tolist()],
            "stock.company.id": [f"CO{i // 2}" for i in ids.tolist()],
            "asset.id": [f"A{i % n_assets}" for i in ids.tolist()],
            "exchange.id": [f"E{i % n_exch}" for i in ids.tolist()],
        }),
        "assets": pa.table({
            "id": [f"A{i}" for i in range(n_assets)],
            "category.id": [f"K{i % n_cats}" for i in range(n_assets)],
        }),
        "categories": pa.table({
            "id": [f"K{i}" for i in range(n_cats)],
            "short_name": [f"category_{i}" for i in range(n_cats)],
        }),
        "exchanges": pa.table({
            "id": [f"E{i}" for i in range(n_exch)],
            "title": ["TSE", "IFB", "IME", "IRENEX"][:n_exch],
        }),
        "indexes": pa.table({
            "id": [f"X{i}" for i in range(INDEXES)],
            "name": [f"index_{i}" for i in range(INDEXES)],
        }),
    }


def _part(landing: str, table: str, part: str) -> str:
    return os.path.join(landing, f"{table}.parquet", f"part-{part}.parquet")


def write_landing(landing: str, seed: int) -> dict:
    """Write the history: every table's ``part-00000`` file. Returns
    the row counts and the highest id/version per fact table (the state
    ``write_delta`` continues from)."""
    rng = np.random.default_rng([seed, 0])
    days = jalali_days(START, DAYS)
    state: dict = {"rows": {}, "next": {}}
    for name, tbl in _dims().items():
        _write(tbl, _part(landing, name, "00000"))
        state["rows"][name] = tbl.num_rows
    for name, tbl in (
        ("trades_share", _trades(rng, np.arange(INSTRUMENTS), days, 1, 1, NULL_RATE)),
        ("news", _news(rng, days, NEWS_PER_DAY, 1, 1)),
    ):
        _write(tbl, _part(landing, name, "00000"))
        state["rows"][name] = tbl.num_rows
        state["next"][name] = (1 + tbl.num_rows, 1 + tbl.num_rows)
    return state


def tick_day(tick: int) -> tuple[int, int, int]:
    """The "today" a tick delivers: the last day of the history (whose
    first delivery the ``create`` loaded), advancing one day every
    ``TICKS_PER_DAY`` ticks, so the current month grows."""
    return jalali_days(START, DAYS + tick // TICKS_PER_DAY)[-1]


def last_day(ticks: int) -> str:
    return day_str(tick_day(max(ticks - 1, 0)))


def write_delta(landing: str, seed: int, state: dict, tick: int) -> int:
    """Append tick ``tick``'s delta as one new part file per fact table:
    today's rows for every instrument re-delivered at a higher version
    (so last-wins collapses them), ``LATE_SHARE`` late corrections of
    days in the month before today's, and today's headlines so far plus
    one more. Returns delta rows written."""
    rng = np.random.default_rng([seed, 1, tick])
    today = tick_day(tick)
    # late rows correct days of the month before today's: a late
    # correction touches one older partition, not the whole history
    history = jalali_days(START, DAYS)
    older = [d for d in history if d[:2] < today[:2]]
    older = [d for d in older if d[:2] == older[-1][:2]]
    part = "%05d" % (tick + 1)
    inst = np.arange(INSTRUMENTS)
    first_id, first_v = state["next"]["trades_share"]
    n_late = max(1, int(round(INSTRUMENTS * LATE_SHARE)))
    late_inst = rng.choice(inst, n_late, replace=False)
    late_days = [older[i] for i in rng.integers(0, len(older), n_late).tolist()]
    fresh = _trades(rng, inst, [today], first_id, first_v, NULL_RATE)
    late = pa.concat_tables([
        _trades(rng, np.array([i]), [d], first_id + INSTRUMENTS + k,
                first_v + INSTRUMENTS + k, 0.0)
        for k, (i, d) in enumerate(zip(late_inst.tolist(), late_days))
    ])
    first_news = state["next"]["news"]
    # each tick re-delivers the day's headlines seen so far plus one new
    news = _news(rng, [today], 1 + tick % TICKS_PER_DAY, *first_news)
    written = 0
    for name, tbl in (("trades_share", pa.concat_tables([fresh, late])), ("news", news)):
        _write(tbl, _part(landing, name, part))
        first_id, first_v = state["next"][name]
        state["next"][name] = (first_id + tbl.num_rows, first_v + tbl.num_rows)
        written += tbl.num_rows
    return written


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
