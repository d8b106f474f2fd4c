#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a reference fixture.

Prints, per table and column, the facts the program's plans depend on:
file and row-group bytes (graft.Catalog re-splits a table whose row groups
average more than 4 MB), parquet physical and logical types (Catalog
normalizes nanosecond and local timestamps differently), row and distinct
counts, value ranges and means, string lengths, key fan-out, and the
document corpus's token counts and duplicate structure. A fact is flagged
when it differs by more than 2%: of the column's range for a minimum,
maximum or mean, and by at least 4 KB as well for byte counts (the
reference files carry pandas schema metadata that Spark ignores). Types,
shapes and flags are flagged on any difference. Sampling noise moves
extremes and duplicate counts by a few percent; read flags with that in
mind.

Usage: python3 perfbench/calibrate.py <reference_dir> <generated_dir>
(generate with: python3 perfbench/gen_data.py <generated_dir>)
"""
import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
# Key columns whose fan-out (rows per key) drives join and aggregation shapes.
FANOUT = {"orders": "o_custkey", "lineitem": "l_orderkey", "events": "user_id"}


def facts(d, table):
    path = os.path.join(d, f"{table}.parquet")
    f = pq.ParquetFile(path)
    md, t = f.metadata, f.read()
    out = {"file_bytes": os.path.getsize(path), "rows": md.num_rows, "row_groups": md.num_row_groups,
           "bytes_per_row_group": os.path.getsize(path) / max(md.num_row_groups, 1)}
    for i in range(len(f.schema)):
        c = f.schema.column(i)
        out[f"{c.path}.type"] = f"{c.physical_type}/{c.logical_type}"
    for name in t.column_names:
        col = t[name]
        if col.type.num_fields:  # list column: element statistics only
            col = pc.list_flatten(col)
        out[f"{name}.nulls"] = col.null_count
        if not col.type.equals("float"):
            out[f"{name}.distinct"] = pc.count_distinct(col).as_py()
        if col.type.equals("string"):
            length = pc.utf8_length(col)
            out[f"{name}.len_mean"] = pc.mean(length).as_py()
            out[f"{name}.len_max"] = pc.max(length).as_py()
            shares = pc.value_counts(col).field("counts").to_numpy() / len(col)
            if len(shares) <= 10:
                out[f"{name}.top_share"] = shares.max()
        elif not col.type.equals("timestamp[us]"):
            out[f"{name}.min"], out[f"{name}.max"] = pc.min_max(col).as_py().values()
            out[f"{name}.mean"] = pc.mean(col).as_py()
        else:
            us = col.cast("int64").to_numpy()
            out[f"{name}.span_days"] = (us.max() - us.min()) / 86400e6
            out[f"{name}.sorted"] = bool(np.all(np.diff(us) >= 0))
    if table in FANOUT:
        counts = pc.value_counts(t[FANOUT[table]]).field("counts").to_numpy()
        out["fanout.max"], out["fanout.median"] = counts.max(), float(np.median(counts))
    if table == "documents":
        texts = t["text"].to_pylist()
        tokens = [x.split() for x in texts]
        out["tokens.mean"] = np.mean([len(x) for x in tokens])
        out["vocabulary"] = len({w for x in tokens for w in x})
        out["exact_duplicates"] = len(texts) - len(set(texts))
        out["shared_prefix_10_tokens"] = shared_prefixes(tokens, 10)
    return out


def shared_prefixes(tokens, k):
    """Documents whose first k tokens equal another document's."""
    heads = {}
    for x in tokens:
        if len(x) >= k:
            heads[tuple(x[:k])] = heads.get(tuple(x[:k]), 0) + 1
    return sum(n for n in heads.values() if n > 1)


def differs(key, a, b, ref):
    if not isinstance(a, (int, float, np.number)) or isinstance(a, bool) or b is None:
        return a != b
    column, _, stat = key.rpartition(".")
    if stat in ("min", "max", "mean") and f"{column}.min" in ref:
        scale = ref[f"{column}.max"] - ref[f"{column}.min"]
    else:
        scale = max(abs(a), abs(b))
    if "bytes" in key and abs(a - b) < 4096:
        return False
    return abs(a - b) > 0.02 * max(scale, 1e-9)


def main(ref, gen):
    flagged = 0
    for table in TABLES:
        a, b = facts(ref, table), facts(gen, table)
        print(f"== {table}")
        for key in sorted(set(a) | set(b)):
            va, vb = a.get(key), b.get(key)
            mark = "  <-- differs" if differs(key, va, vb, a) else ""
            flagged += bool(mark)
            print(f"  {key:34s} {str(va)[:40]:>40s} {str(vb)[:40]:>40s}{mark}")
    print(f"{flagged} facts differ")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: calibrate.py <reference_dir> <generated_dir>")
    main(sys.argv[1], sys.argv[2])
