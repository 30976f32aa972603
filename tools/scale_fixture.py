"""K× scale fixture for the r13 scale bench (VERDICT #5).

The driver's bench SF (0.1, ~600 k lineitem rows) cannot see scale
behavior: the r12 verdict's own 8-vs-32-core sweep showed every
headline query at ratio ≈ 1 — fixed-overhead-bound, so shuffle/join
optimizations are measured at their constant-factor floor. This tool
manufactures a larger fixture by DETERMINISTIC key-space tiling of
sf0.1 so that an 8c/32c pair at real volume can show data-parallel
scaling (`tools/bench_scale.py` → `BENCH_SCALE.json`).

Tiling (replica r = 0..K-1, pyarrow-only, physical types preserved):

- every primary key and the fact FKs that reference it shift by
  r × stride (stride = max key + 1 per key space: custkey, suppkey,
  partkey, orderkey, event_id, doc_id, vec_id) — referential shape is
  EXACTLY preserved, and the supplier↔part co-supply graph grows K× in
  both nodes and edges (a plain row-clone would keep the graph constant
  while only the scan grew);
- order/lineitem timestamps are NOT shifted — TPC-H semantics: a higher
  SF densifies the same date window, so date-derived horizons stay
  realistic while per-key densities scale;
- events.ts shifts by r × (span + 1 day) so the generator's
  id-monotonic-in-ts contract survives tiling;
- nation/region (and the c_nationkey/s_nationkey lookup FKs) are
  copied untouched — bounded lookup dimensions do not scale;
- document texts / embedding vectors are kept per replica,
  deliberately creating K-way exact duplicates — the shape real corpus
  growth gives the dedup/ANN tiers.

This fixture is for TIMING only (it is not oracle-checked by the
driver); `tools/verify_bare.py <out_dir>` still passes on it because
every query's oracle replays the same parquet inputs.

Usage:
    python tools/scale_fixture.py K out_dir [src_dir]
    # e.g. python tools/scale_fixture.py 10 /tmp/sgraft_sf1  → ~sf1
"""

from __future__ import annotations

import os
import sys
from datetime import timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DAY_US = 86_400 * 10**6


def _stride(*cols) -> int:
    return max(pc.max(c).as_py() for c in cols) + 1


def _shift(t: pa.Table, col: str, amount) -> pa.Table:
    i = t.schema.get_field_index(col)
    return t.set_column(i, t.schema.field(i), pc.add(t[col], amount))


def build(k: int, out_dir: str, src: str = None) -> None:
    src = src or SRC
    os.makedirs(out_dir, exist_ok=True)
    for name in ("nation", "region"):
        pq.write_table(
            pq.read_table(f"{src}/{name}.parquet"),
            f"{out_dir}/{name}.parquet",
        )

    cust = pq.read_table(f"{src}/customer.parquet")
    supp = pq.read_table(f"{src}/supplier.parquet")
    part = pq.read_table(f"{src}/part.parquet")
    orders = pq.read_table(f"{src}/orders.parquet")
    li = pq.read_table(f"{src}/lineitem.parquet")
    ev = pq.read_table(f"{src}/events.parquet")
    docs = pq.read_table(f"{src}/documents.parquet")
    emb = pq.read_table(f"{src}/embeddings.parquet")

    s_cust = _stride(cust["c_custkey"], orders["o_custkey"])
    s_supp = _stride(supp["s_suppkey"], li["l_suppkey"])
    s_part = _stride(part["p_partkey"], li["l_partkey"])
    s_ord = _stride(orders["o_orderkey"], li["l_orderkey"])
    s_evt = _stride(ev["event_id"])
    s_user = _stride(ev["user_id"])
    s_doc = _stride(docs["doc_id"])
    s_vec = _stride(emb["vec_id"])
    ev_span = (
        pc.max(ev["ts"]).as_py() - pc.min(ev["ts"]).as_py()
    ) // timedelta(microseconds=1)

    def tiles(t: pa.Table, shifts: dict, ts_shift: tuple = None):
        out = [t]
        for r in range(1, k):
            c = t
            for col, stride in shifts.items():
                c = _shift(c, col, r * stride)
            if ts_shift is not None:
                col, per = ts_shift
                c = _shift(
                    c, col, pa.scalar(r * per, pa.duration("us"))
                )
            out.append(c)
        return pa.concat_tables(out)

    writes = [
        ("customer", tiles(cust, {"c_custkey": s_cust})),
        ("supplier", tiles(supp, {"s_suppkey": s_supp})),
        ("part", tiles(part, {"p_partkey": s_part})),
        (
            "orders",
            tiles(orders, {"o_orderkey": s_ord, "o_custkey": s_cust}),
        ),
        (
            "lineitem",
            tiles(
                li,
                {
                    "l_orderkey": s_ord,
                    "l_partkey": s_part,
                    "l_suppkey": s_supp,
                },
            ),
        ),
        (
            "events",
            tiles(
                ev,
                {"event_id": s_evt, "user_id": s_user},
                ts_shift=("ts", ev_span + DAY_US),
            ),
        ),
        ("documents", tiles(docs, {"doc_id": s_doc})),
        ("embeddings", tiles(emb, {"vec_id": s_vec})),
    ]
    for name, t in writes:
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        print(f"{name}: {t.num_rows} rows")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    build(int(sys.argv[1]), sys.argv[2],
          sys.argv[3] if len(sys.argv) > 3 else None)
