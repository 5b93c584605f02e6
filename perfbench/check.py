"""Output checks, run once per run outside the timed region.

Queries: each result that the harness wrote is compared with the
query's `SparkEntry.oracleSql` run in DuckDB over the same generated
tables. The comparison follows graft's DuckDB-oracle gate: columns
sorted by name, rows sorted by every column (non-float first), exact
equality for non-floats, and a float/non-float dtype split allowed only
when the non-float side round-trips float64 exactly. Oracle results
come through Arrow, so decimals stay exact.

Lake: the final table is compared with the relation the seeded
operation sequence must leave, computed here from the same inputs, and
the row counts of the read operations with what each must return.
"""
import glob
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

MAX_EXACT = float(2 ** 53)


def _roundtrips_float64(series):
    vals = series.dropna()
    try:
        return all(abs(float(v)) < MAX_EXACT and
                   (int(v) == int(float(v)) if isinstance(v, (int, np.integer))
                    else Decimal(str(v)) == Decimal(repr(float(v))))
                   for v in vals)
    except (TypeError, ValueError, ArithmeticError):
        return False


def compare(mine, ref):
    """None when the frames hold the same relation, else the reason."""
    mine = mine.reindex(sorted(mine.columns), axis=1)
    ref = ref.reindex(sorted(ref.columns), axis=1)
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} vs {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"rows {len(mine)} vs {len(ref)}"
    # non-float columns sort first, so a last-ulp float difference
    # cannot reorder rows
    keys = sorted(mine.columns, key=lambda c: pd.api.types.is_float_dtype(mine[c]))
    if keys:
        mine = mine.sort_values(keys, ignore_index=True)
        ref = ref.sort_values(keys, ignore_index=True)
    bad = []
    for c in mine.columns:
        a, b = mine[c], ref[c]
        a_f, b_f = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
        if a_f or b_f:
            if a_f != b_f and not _roundtrips_float64(b if a_f else a):
                bad.append(f"{c}: non-float side does not round-trip float64")
                continue
            if not np.array_equal(a.astype(float).to_numpy(), b.astype(float).to_numpy(),
                                  equal_nan=True):
                bad.append(f"{c}: float mismatch")
        elif not (a.equals(b) or (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all()):
            i = next(j for j in range(len(a)) if str(a.iloc[j]) != str(b.iloc[j]))
            bad.append(f"{c}: row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return "; ".join(bad) or None


def queries(data_dir, out_dir, check_records):
    """{op: reason} for every query whose output is missing or differs."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    failures = {}
    for op, rec in check_records.items():
        if not rec.get("ok"):
            failures[op] = rec.get("error") or "no output"
            continue
        if not rec.get("oracle"):
            failures[op] = "no oracle SQL"
            continue
        try:
            mine = pd.read_parquet(os.path.join(out_dir, "results", op))
            ref = con.sql(rec["oracle"]).arrow().to_pandas()
        except Exception as e:  # a broken oracle or output is a failed check
            failures[op] = f"{type(e).__name__}: {e}"
            continue
        reason = compare(mine, ref)
        if reason:
            failures[op] = reason
    return failures


WRITES = ["commit", "append", "delete_where", "merge_into", "vacuum"]


def lake_expected(data_dir, props):
    """The final table and the read operations' row counts."""
    slices = [pq.read_table(os.path.join(data_dir, f"slice{i}.parquet")).to_pandas()
              for i in range(2)]
    t = pd.concat(slices, ignore_index=True)
    t = t[~t["o_orderkey"].between(props["delete_lo"], props["delete_hi"])]
    merge = pq.read_table(os.path.join(data_dir, "merge.parquet")).to_pandas()
    t = pd.concat([t[~t["o_orderkey"].isin(merge["o_orderkey"])], merge], ignore_index=True)
    rows = {
        "read_pinned": sum(len(s) for s in slices),
        "read_pruned": int(t["o_orderkey"].between(props["prune_lo"], props["prune_hi"]).sum()),
        "appends_between": sum(len(s) for s in slices[1:]),
        "consume_appends": len(t),
    }
    return t, rows


def lake(data_dir, out_dir, props, check_records, consumed_rows):
    """{op: reason} for every lake operation whose result is wrong."""
    final, rows = lake_expected(data_dir, props)
    failures = {}
    for op, rec in check_records.items():
        if not rec.get("ok"):
            failures[op] = rec.get("error") or "failed"
    got = dict((op, rec.get("rows")) for op, rec in check_records.items())
    got["consume_appends"] = consumed_rows
    for op, n in rows.items():
        if op not in failures and got.get(op) != n:
            failures[op] = f"rows {got.get(op)} vs {n}"
    try:
        reason = compare(pd.read_parquet(os.path.join(out_dir, "results", "lake_final")), final)
    except Exception as e:
        reason = f"{type(e).__name__}: {e}"
    if reason:
        for op in WRITES:
            failures.setdefault(op, f"final table: {reason}")
    return failures
