"""Seeded benchmark inputs: K-fold replicas of the committed base tables.

The replication rules are those of graft.tools.ScaleGen, so each
replica keeps the base data's own per-key structure:
  - region/nation stay fixed;
  - every other key table shifts its keys by i * (max primary key + 1),
    which keeps referential integrity and per-key fan-out; entity names
    that carry the key are rebuilt from the shifted key;
  - documents pass through a seeded alphabet permutation per replica
    (a bijection, so near-duplicate structure inside a replica is kept
    and replicas do not collide);
  - embeddings get a seeded coordinate permutation per replica
    (orthogonal, so distances inside a replica are kept).
Beyond ScaleGen, the seed also thins each replica: a seeded 1 in 20 of
the orders (with their lineitems) and of the events is left out, so
every seed yields different relational results at a fixed size.
The same (seed, k, k_docs) gives the same bytes. `k_docs` scales
documents/embeddings apart from the relational tables (`k`), since the
base has as many documents as sf0.01.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# primary key of each shifted column (foreign keys shift by their
# primary table's span)
PRIMARY = {"o_custkey": "c_custkey", "l_orderkey": "o_orderkey",
           "l_partkey": "p_partkey", "l_suppkey": "s_suppkey"}
SHIFTED = {"customer": ["c_custkey"], "supplier": ["s_suppkey"],
           "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
           "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
           "events": ["event_id", "user_id"]}
NAMED = {"customer": ("c_name", "Customer#", "c_custkey"),
         "supplier": ("s_name", "Supplier#", "s_suppkey")}
# files per table once a replica count reaches 10 (ScaleGen's layout),
# so scans of the larger inputs split across cores
FILES = {"customer": 4, "part": 4, "orders": 8, "lineitem": 16,
         "events": 8, "documents": 8, "embeddings": 4}
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _read(t):
    return pq.read_table(os.path.join(BASE, f"{t}.parquet"))


def _spans(base):
    def span(t, c):
        return int(pc.max(base[t][c]).as_py()) + 1
    s = {c: span(t, c) for t, cols in SHIFTED.items() for c in cols
         if c not in PRIMARY}
    for fk, pk in PRIMARY.items():
        s[fk] = s[pk]
    return s


def _shift(tbl, cols, offsets):
    for c in cols:
        i = tbl.schema.get_field_index(c)
        typ = tbl.schema.field(c).type
        tbl = tbl.set_column(i, c, pc.add(tbl[c], pa.scalar(offsets[c], typ)))
    return tbl


def _write(tbl, dst, t, k):
    n = FILES.get(t, 1) if k >= 10 else 1
    if n == 1:
        pq.write_table(tbl, os.path.join(dst, f"{t}.parquet"))
        return
    d = os.path.join(dst, f"{t}.parquet")
    os.makedirs(d)
    step = -(-tbl.num_rows // n)
    for j in range(n):
        pq.write_table(tbl.slice(j * step, step),
                       os.path.join(d, f"part-{j:05d}.parquet"))


def _thin(base, seed, i):
    """Replica i's base tables minus a seeded 1 in 20 orders and events."""
    out = dict(base)
    for t, key in (("orders", "o_orderkey"), ("events", "event_id")):
        ids = base[t][key].to_numpy()
        rng = np.random.default_rng([int(seed) & 0xFFFFFFFF, i, 20])
        drop = ids[rng.permutation(len(ids))[:len(ids) // 20]]
        out[t] = base[t].filter(pc.invert(pc.is_in(base[t][key], pa.array(drop))))
        if t == "orders":
            out["lineitem"] = base["lineitem"].filter(
                pc.invert(pc.is_in(base["lineitem"]["l_orderkey"], pa.array(drop))))
    return out


def generate(dst, seed, k, k_docs):
    """Write the ten tables for (seed, k, k_docs) under dst."""
    os.makedirs(dst, exist_ok=True)
    base = {t: _read(t) for t in TABLES}
    spans = _spans(base)
    thinned = [_thin(base, seed, i) for i in range(k)]
    for t in TABLES:
        tbl = base[t]
        if t in ("region", "nation"):
            _write(tbl, dst, t, 1)
            continue
        if t in SHIFTED:
            reps = []
            for i in range(k):
                r = _shift(thinned[i][t], SHIFTED[t], {c: i * spans[c] for c in SHIFTED[t]})
                if t in NAMED:
                    name, prefix, key = NAMED[t]
                    names = [f"{prefix}{v:09d}" for v in r[key].to_pylist()]
                    r = r.set_column(r.schema.get_field_index(name), name,
                                     pa.array(names, pa.string()))
                reps.append(r)
            _write(pa.concat_tables(reps), dst, t, k)
        elif t == "documents":
            n = int(pc.max(tbl["doc_id"]).as_py()) + 1
            texts = tbl["text"].to_pylist()
            reps = []
            for i in range(k_docs):
                perm = list(LETTERS)
                random.Random(f"text:{seed}:{i}").shuffle(perm)
                p = "".join(perm)
                table = str.maketrans(LETTERS + LETTERS.upper(), p + p.upper())
                tx = [None if s is None else s.translate(table) for s in texts]
                r = tbl.set_column(tbl.schema.get_field_index("text"), "text",
                                   pa.array(tx, pa.string()))
                reps.append(_shift(r, ["doc_id"], {"doc_id": i * n}))
            _write(pa.concat_tables(reps), dst, t, k_docs)
        elif t == "embeddings":
            n = int(pc.max(tbl["vec_id"]).as_py()) + 1
            vecs = tbl["embedding"]
            flat = pc.list_flatten(vecs).to_numpy(zero_copy_only=False)
            dim = len(flat) // tbl.num_rows
            mat = flat.reshape(tbl.num_rows, dim)
            reps = []
            for i in range(k_docs):
                rng = np.random.default_rng([int(seed) & 0xFFFFFFFF, i, 9001])
                m = mat[:, rng.permutation(dim)]
                arr = pa.ListArray.from_arrays(
                    pa.array(np.arange(0, tbl.num_rows * dim + 1, dim,
                                       dtype=np.int32)),
                    pa.array(np.ascontiguousarray(m).reshape(-1),
                             pa.float32()))
                r = tbl.set_column(tbl.schema.get_field_index("embedding"),
                                   tbl.schema.field("embedding"),
                                   arr.cast(tbl.schema.field("embedding").type))
                reps.append(_shift(r, ["vec_id"], {"vec_id": i * n}))
            _write(pa.concat_tables(reps), dst, t, k_docs)
