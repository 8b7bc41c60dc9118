"""Build an Nx perturbed-replica scale-up of a testdata SF dir (default 10x).

Measurement tooling only (guide §1: optimizations must hold beyond the
600k-row bench tables; the driver's round-end measurement runs at a larger,
driver-generated SF).  The replica preserves each table's workload shape so
per-query walls are comparable to a driver-generated SF at the same scale:

- ``events``: replica r offsets event_id by r*N_EV and user_id by r*N_USERS
  (user ids stay within the original customer key range, so the
  semi_join_lookup match rate is preserved while group count scales 10x).
  That holds only while ``factor * N_USERS <= c_custkey`` span (max + 1):
  exactly 10 × 1500 = 15000 at sf0.1.  A larger factor exits with an error.
- ``customer``/``orders``/``lineitem``/``part``/``supplier``: key-consistent
  offsets (custkey, orderkey, partkey, suppkey) so every join keeps exactly
  its per-replica structure; value columns untouched.
- ``documents``: replica r>0 suffixes every word with ``r<r>`` — each
  replica keeps the original's shingle/near-dup structure with ZERO
  cross-replica shingle collisions, so LSH pair volume scales linearly
  (a plain copy would collide every shingle 10 ways and go quadratic,
  which no freshly generated corpus would do).
- ``embeddings``: replica r>0 draws fresh seeded unit-norm isotropic
  vectors (the same distribution the driver's corpus has: flat
  gram-eigenspectrum, mean pairwise cosine 0), so bucket occupancy and
  candidate volume scale the way a real 10x corpus does.
- ``region``/``nation``: tiny fixed dimensions, copied as-is.

Row groups are written with pyarrow defaults (one ~1M-row group per chunk),
matching the driver's observed sf1.0 layout (events = 1 row group,
lineitem = 6).

Usage: python scripts/make_scale_replica.py [--src /root/testdata/sf0.1]
           [--dst /dev/shm/sf0.1x10] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _offsets(tbl: pa.Table, cols: dict[str, int], r: int) -> pa.Table:
    for name, span in cols.items():
        i = tbl.schema.get_field_index(name)
        col = pc.add(tbl.column(name), pa.scalar(r * span, tbl.schema.field(name).type))
        tbl = tbl.set_column(i, tbl.schema.field(name), col)
    return tbl


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/dev/shm/sf0.1x10")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)

    tables: dict[str, pa.Table] = {}

    def load(name: str) -> pa.Table:
        # each source table is read once: the span loop's reads are reused
        if name not in tables:
            tables[name] = pq.read_table(os.path.join(args.src, f"{name}.parquet"))
        return tables[name]

    def dump(name: str, tbl: pa.Table) -> None:
        pq.write_table(tbl, os.path.join(args.dst, f"{name}.parquet"))
        print(f"{name}: {tbl.num_rows} rows")

    F = args.factor

    # key spans derived from the data (max+1), not hard-coded
    spans = {}
    for name, key in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                      ("part", "p_partkey"), ("supplier", "s_suppkey"),
                      ("events", "event_id"), ("documents", "doc_id"),
                      ("embeddings", "vec_id")):
        spans[key] = pc.max(load(name)[key]).as_py() + 1
    ev = load("events")
    n_users = pc.max(ev["user_id"]).as_py() + 1
    if F * n_users > spans["c_custkey"]:
        raise SystemExit(
            f"--factor {F}: replicated user ids reach {F * n_users - 1}, past "
            f"the customer key range 0..{spans['c_custkey'] - 1}; the largest "
            f"factor for {args.src} is {spans['c_custkey'] // n_users}"
        )

    for name in ("region", "nation"):
        dump(name, load(name))

    plans = {
        "customer": {"c_custkey": spans["c_custkey"]},
        "supplier": {"s_suppkey": spans["s_suppkey"]},
        "part": {"p_partkey": spans["p_partkey"]},
        "orders": {"o_orderkey": spans["o_orderkey"], "o_custkey": spans["c_custkey"]},
        "lineitem": {"l_orderkey": spans["o_orderkey"], "l_partkey": spans["p_partkey"],
                     "l_suppkey": spans["s_suppkey"]},
    }
    for name, cols in plans.items():
        base = load(name)
        dump(name, pa.concat_tables([_offsets(base, cols, r) for r in range(F)]))

    # events: user_id cycles within the ORIGINAL customer key range
    reps = []
    for r in range(F):
        t = _offsets(ev, {"event_id": spans["event_id"]}, r)
        uid = pc.add(t["user_id"], pa.scalar(r * n_users, pa.int64()))
        t = t.set_column(t.schema.get_field_index("user_id"),
                         t.schema.field("user_id"), uid)
        reps.append(t)
    dump("events", pa.concat_tables(reps))

    # documents: word-suffix tagging kills cross-replica shingle collisions
    docs = load("documents")
    texts = docs["text"].to_pylist()
    reps = [docs]
    for r in range(1, F):
        tagged = pa.array([re.sub(r"(\S+)", rf"\1r{r}", t) for t in texts],
                          pa.string())
        t = _offsets(docs, {"doc_id": spans["doc_id"]}, r)
        reps.append(t.set_column(t.schema.get_field_index("text"),
                                 t.schema.field("text"), tagged))
    dump("documents", pa.concat_tables(reps))

    # embeddings: fresh seeded isotropic unit vectors per replica
    emb = load("embeddings")
    n, dim = emb.num_rows, len(emb["embedding"][0])
    reps = [emb]
    for r in range(1, F):
        rng = np.random.default_rng(1_000_003 * r + 7)
        v = rng.standard_normal((n, dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        vecs = pa.FixedSizeListArray.from_arrays(
            pa.array(v.astype(np.float32).ravel()), dim).cast(
            emb.schema.field("embedding").type)
        t = _offsets(emb, {"vec_id": spans["vec_id"]}, r)
        reps.append(t.set_column(t.schema.get_field_index("embedding"),
                                 t.schema.field("embedding"), vecs))
    dump("embeddings", pa.concat_tables(reps))
    print(f"wrote {args.dst} at {F}x {args.src}")


if __name__ == "__main__":
    main()
