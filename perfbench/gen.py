"""Seeded inputs for the benchmark's workloads.

The source is graft's read-only sf0.01 fixture. Every table is a seeded
row permutation of its source table: schemas, key relations and value
distributions are unchanged, and each table stays one parquet file
with one row group (scan parallelism depends on that layout).

The `lake` workload gets the permuted `orders` table cut into two
contiguous key ranges (the commit and the append), a merge batch of
changed and new orders, and the key ranges its delete and pruned read
use. The seed picks the cut point and the ranges.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _write(table, path, compression):
    pq.write_table(table, path, compression=compression,
                   row_group_size=max(table.num_rows, 1))


def _read(name):
    path = os.path.join(SOURCE, f"{name}.parquet")
    meta = pq.ParquetFile(path).metadata
    codec = meta.row_group(0).column(0).compression.lower()
    return pq.read_table(path), codec


def layout(path):
    """Rows, bytes, files and row groups of one generated parquet file."""
    meta = pq.ParquetFile(path).metadata
    return {"rows": meta.num_rows, "bytes": os.path.getsize(path),
            "files": 1, "row_groups": meta.num_row_groups}


def tables(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    result = {}
    for name in TABLES:
        t, codec = _read(name)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = os.path.join(out, f"{name}.parquet")
        _write(t, path, codec)
        result[name] = layout(path)
    return result


def lake(seed, out):
    """Orders slices, merge batch and the lake.properties key ranges."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    orders, codec = _read("orders")
    orders = orders.take(pa.array(rng.permutation(orders.num_rows)))
    keys = orders["o_orderkey"].to_numpy()
    lo, hi = int(keys.min()), int(keys.max())
    span = hi - lo + 1
    # one cut point, each slice holding at least a fifth of the keys
    cut = int(rng.integers(lo + span // 5, hi - span // 5))
    bounds = [lo, cut, hi + 1]
    result = {}
    for i in range(2):
        mask = pc.and_(pc.greater_equal(orders["o_orderkey"], bounds[i]),
                       pc.less(orders["o_orderkey"], bounds[i + 1]))
        path = os.path.join(out, f"slice{i}.parquet")
        _write(orders.filter(mask), path, codec)
        result[f"slice{i}"] = layout(path)

    def key_range(frac):
        width = max(1, int(span * frac))
        start = int(rng.integers(lo, hi - width + 1))
        return start, start + width - 1

    delete = key_range(0.05)
    prune = key_range(0.10)
    # merge batch: changed copies of existing orders plus new orders
    n_changed, n_new = 200, 100
    changed = orders.take(pa.array(rng.choice(orders.num_rows, n_changed, replace=False)))
    changed = changed.set_column(
        changed.schema.get_field_index("o_totalprice"), "o_totalprice",
        pc.add(changed["o_totalprice"], 1.25))
    changed = changed.set_column(
        changed.schema.get_field_index("o_orderstatus"), "o_orderstatus",
        pa.array(["M"] * n_changed, orders.schema.field("o_orderstatus").type))
    new = orders.take(pa.array(rng.choice(orders.num_rows, n_new, replace=False)))
    new = new.set_column(
        new.schema.get_field_index("o_orderkey"), "o_orderkey",
        pa.array(np.arange(hi + 1, hi + 1 + n_new), orders.schema.field("o_orderkey").type))
    path = os.path.join(out, "merge.parquet")
    _write(pa.concat_tables([changed, new]), path, codec)
    result["merge"] = layout(path)
    props = {"delete_lo": delete[0], "delete_hi": delete[1],
             "prune_lo": prune[0], "prune_hi": prune[1]}
    with open(os.path.join(out, "lake.properties"), "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")
    return result, props


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return their layout."""
    if workload == "lake":
        files, props = lake(seed, out)
        return {"files": files, "lake": props}
    return {"files": tables(seed, out)}


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
