#!/usr/bin/env python
"""Materialize an sf1-equivalent testdata dir by replicating the sf0.1
parquet tables 10x with shifted keys (VERDICT r9 item 4: a second
bench scale point for the 17 headline queries).

Keys shift by the same 100M stride as tests/test_plan_guards._replicate,
so the derived views scale the way real growth would:
  * lineitem.l_orderkey / orders.o_orderkey shift per replica — the
    derived samples/lead/sec channels keep their identity and rate
    but span 10x the time range (10x rows per channel);
  * events shift ts by a whole span per replica (+ event_id/user_id
    strides) — 10x events over 10x wall-time, constant density;
  * documents get a per-replica token prefix (near-dup-rich corpus,
    exercising the banded LSH join AND the hot-bucket cap, not 10
    exact copies) plus a doc_id stride;
  * embeddings keep vectors under strided vec_ids (top-k queries scan
    a 10x corpus);
  * dimension tables copy through unchanged.

Run: python tools/make_sf1.py [OUT_DIR]      (default /tmp/sf1)
Then: SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
ID_STRIDE = 100_000_000


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW reps AS SELECT unnest(range({FACTOR})) AS rep")

    def copy(table: str, sql: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        print(table, con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0])

    li = f"read_parquet('{SRC}/lineitem.parquet')"
    copy(
        "lineitem",
        f"SELECT l_orderkey + rep * {ID_STRIDE} AS l_orderkey, "
        "l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, "
        f"l_linestatus, l_shipdate FROM {li}, reps",
    )
    od = f"read_parquet('{SRC}/orders.parquet')"
    copy(
        "orders",
        f"SELECT o_orderkey + rep * {ID_STRIDE} AS o_orderkey, "
        "o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        f"o_orderpriority FROM {od}, reps",
    )
    ev = f"read_parquet('{SRC}/events.parquet')"
    span = con.execute(
        "SELECT epoch_us(max(ts)) - epoch_us(min(ts)) + 1000000 "
        f"FROM {ev}"
    ).fetchone()[0]
    copy(
        "events",
        f"SELECT event_id + rep * {ID_STRIDE} AS event_id, "
        f"ts + to_microseconds(rep * {span}) AS ts, "
        f"user_id + rep * {ID_STRIDE} AS user_id, "
        f"event_type, value, props FROM {ev}, reps",
    )
    dc = f"read_parquet('{SRC}/documents.parquet')"
    copy(
        "documents",
        f"SELECT doc_id + rep * {ID_STRIDE} AS doc_id, "
        "'r' || CAST(rep AS VARCHAR) || ' ' || text AS text, "
        f"lang, source, n_chars FROM {dc}, reps",
    )
    em = f"read_parquet('{SRC}/embeddings.parquet')"
    copy(
        "embeddings",
        f"SELECT vec_id + rep * {ID_STRIDE} AS vec_id, embedding, "
        f"label FROM {em}, reps",
    )
    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
        print(t, "(copied)")


if __name__ == "__main__":
    main()
