"""Seeded input generator: copies a base scale factor with seed-derived key
bijections, keeping every row count, row order and column type.

- o_orderkey / l_orderkey: an affine map k -> (a*k + b) mod p for a prime
  p >= N, cycle-walked back into [0, N), so keys stay in range.
- supplier (l_suppkey), part (p_partkey with l_partkey), vec_id, doc_id:
  seeded permutations of their ranges.

Bijections keep (l_linenumber, l_suppkey, l_partkey) unique per order and
every foreign key pointing at the same (renamed) row, so each query sees a
relabelled copy of the same workload.

Usage: python3 gen.py BASE_DIR OUT_DIR SEED
"""
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# key family -> (table, column) pairs that carry it; a base holds only the
# tables its workloads read
FAMILIES = {
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "supp": [("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "vec": [("embeddings", "vec_id")],
    "doc": [("documents", "doc_id")],
}


def next_prime(n):
    def prime(m):
        return m > 1 and all(m % d for d in range(2, int(m ** 0.5) + 1))
    while not prime(n):
        n += 1
    return n


def affine_bijection(n, rnd):
    """Table of a cycle-walked affine permutation of [0, n)."""
    p = next_prime(max(n, 2))
    a, b = rnd.randrange(1, p), rnd.randrange(0, p)
    k = np.arange(n, dtype=np.int64)
    out = (a * k + b) % p
    while (out >= n).any():
        hi = out >= n
        out[hi] = (a * out[hi] + b) % p
    return out


def bijections(tables, seed):
    rnd = random.Random(seed)
    rng = np.random.default_rng(seed)
    maps = {}
    for fam, cols in FAMILIES.items():
        present = [tables[t][c] for t, c in cols if t in tables]
        if present:
            n = 1 + max(int(pc.max(col).as_py()) for col in present)
            maps[fam] = affine_bijection(n, rnd) if fam == "order" else rng.permutation(n)
    return maps


def generate(base, out, seed):
    tables = {f[:-len(".parquet")]: pq.read_table(os.path.join(base, f))
              for f in sorted(os.listdir(base)) if f.endswith(".parquet")}
    maps = bijections(tables, seed)
    os.makedirs(out, exist_ok=True)
    for t, tb in tables.items():
        for fam, cols in FAMILIES.items():
            for tt, c in cols:
                if tt != t or fam not in maps:
                    continue
                i = tb.schema.get_field_index(c)
                col = tb.column(c)
                mapped = maps[fam][col.to_numpy()]
                tb = tb.set_column(i, tb.schema.field(i), pa.array(mapped, type=col.type))
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"),
                       row_group_size=max(tb.num_rows, 1), compression="snappy")


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
