"""Output checks that read the written parquet with pyarrow, not the engine.

Each check compares against the generator's expectations (``gen.py``) and
returns a list of mismatch descriptions; an empty list means the output is
correct.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REL_TOL = 1e-6  # float32-narrowed inputs summed in another order


def _close(got: float, want: float, n: int) -> bool:
    return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=REL_TOL * max(n, 1))


def _ts_us(col: pa.ChunkedArray) -> pa.ChunkedArray:
    return col.cast(pa.timestamp("us")).cast(pa.int64())


def check_columns(table: pa.Table, columns: dict, not_null: dict) -> list[str]:
    """Per-column non-null count (exact) and sum (to ``REL_TOL``)."""
    errs = []
    names = set(table.column_names)
    for name, (n, s) in columns.items():
        if name not in names:
            errs.append(f"missing column {name}")
            continue
        col = table[name]
        got_n = len(col) - col.null_count
        got_s = pc.sum(col.cast(pa.float64())).as_py() or 0.0
        if got_n != n or not _close(got_s, s, n):
            errs.append(f"{name}: (count, sum) {got_n}, {got_s!r} != {n}, {s!r}")
    for name, n in not_null.items():
        if name not in names:
            errs.append(f"missing column {name}")
        elif len(table[name]) - table[name].null_count != n:
            errs.append(f"{name}: non-null {len(table[name]) - table[name].null_count}"
                        f" != {n}")
    return errs


def check_grid(table: pa.Table, exp: dict) -> list[str]:
    """The unified table: one row per grid instant, every column's cells."""
    errs = []
    if table.num_rows != exp["grid_rows"]:
        errs.append(f"rows {table.num_rows} != grid {exp['grid_rows']}")
    ts = _ts_us(table["timestamp"])
    if table.num_rows:
        lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py()
        if (lo, hi) != (exp["grid_lo_us"], exp["grid_hi_us"]):
            errs.append(f"grid bounds {(lo, hi)} != "
                        f"{(exp['grid_lo_us'], exp['grid_hi_us'])}")
        if pc.count_distinct(ts).as_py() != table.num_rows:
            errs.append("duplicate grid timestamps")
    return errs + check_columns(table, exp["columns"], exp["not_null"])


def check_signals(table: pa.Table, exp: dict) -> list[str]:
    """The streamed long table: every decoded signal row, per-key sums, and
    the forward fill (decoded values are never null, so it is the value)."""
    errs = []
    if table.num_rows != exp["signal_rows"]:
        errs.append(f"rows {table.num_rows} != signals {exp['signal_rows']}")
    got = table.group_by(["module_name", "topic_name", "byte_name"]).aggregate(
        [("value", "sum"), ("value", "count"), ("filled", "sum")]
    ).to_pylist()
    sums = {f"{r['module_name']}|{r['topic_name']}|{r['byte_name']}": r for r in got}
    for key, want in exp["signal_sums"].items():
        r = sums.get(key)
        if r is None:
            errs.append(f"missing signal {key}")
        elif not (_close(r["value_sum"], want, r["value_count"])
                  and _close(r["filled_sum"], want, r["value_count"])):
            errs.append(f"{key}: value/filled sums {r['value_sum']!r}/"
                        f"{r['filled_sum']!r} != {want!r}")
    extra = set(sums) - set(exp["signal_sums"])
    if extra:
        errs.append(f"unexpected signals {sorted(extra)[:3]}")
    return errs


def read(path: str, columns: list[str] | None = None) -> pa.Table:
    return pq.read_table(path, columns=columns)
