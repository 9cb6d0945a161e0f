"""Seeded numeric benchmark inputs, made without engine code.

  python3 inputs.py skew OUT_DIR SEED HOT_ROWS
      The as-of input with one hot entity (build/, probes/) and its uniform
      twin (ubuild/, uprobes/), see skew_side().
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN = 1_000_000
ENTITIES = 32


def skew_counts(rng, hot_rows, uniform):
    """Rows per entity: one hot entity with hot_rows, 31 cold entities with
    hot_rows/200 on average. The seed picks the hot entity and splits the
    cold total unevenly; the total is fixed, so run time does not drift
    with the seed. The uniform twin spreads the same total evenly."""
    cold_total = (ENTITIES - 1) * (hot_rows // 200)
    total = hot_rows + cold_total
    if uniform:
        return [total // ENTITIES + (1 if i < total % ENTITIES else 0) for i in range(ENTITIES)]
    hot = int(rng.integers(ENTITIES))
    w = rng.uniform(0.5, 1.5, ENTITIES - 1)
    cold = np.floor(w / w.sum() * cold_total).astype(np.int64)
    cold[0] += cold_total - cold.sum()
    return list(cold[:hot]) + [hot_rows] + list(cold[hot:])


def skew_side(rng, counts):
    """entity, ts over a shared span, payload v, and pv0: v on every 50th ts
    (the sparse column the window stage fills forward)."""
    ent, ts, v = [], [], []
    for i, n in enumerate(counts):
        ent += [f"s{i:02d}"] * int(n)
        ts.append(np.arange(n, dtype=np.int64) * SPAN // n + rng.integers(0, 17, n))
        v.append(np.round(rng.uniform(0, 1000, n), 2))
    ts, v = np.concatenate(ts), np.concatenate(v)
    pv0 = pa.array(v, mask=(ts % 50 != 0))
    return pa.table({"entity": ent, "ts": ts, "v": v, "pv0": pv0})


def skew(out_dir, seed, hot_rows):
    rng = np.random.default_rng(seed)
    counts = {u: skew_counts(rng, hot_rows, u) for u in (False, True)}
    for kind in ("build", "probes", "ubuild", "uprobes"):
        d = os.path.join(out_dir, kind)
        os.makedirs(d, exist_ok=True)
        table = skew_side(rng, counts[kind.startswith("u")])
        pq.write_table(table, os.path.join(d, "part-0.parquet"))


def main():
    cmd, out_dir = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    if cmd == "skew":
        skew(out_dir, int(sys.argv[3]), int(sys.argv[4]))
    else:
        sys.exit(f"unknown input kind {cmd}")
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
