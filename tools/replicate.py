#!/usr/bin/env python3
"""Build k-times replicated copies of the sf0.1 test tables for local
scale-up measurement (dev tool only — the engine never depends on this).

    python3 tools/replicate.py 2 4        # builds /tmp/sfrep2, /tmp/sfrep4

Facts (lineitem/orders) replicate with shifted keys so join fan-out stays
realistic; documents replicate with a per-copy salt token appended so
text operators see near-dup (not identical) copies; dims/events/embeddings
are symlinked. Used for the measured 1x/2x/4x scale-up table in
ARCHITECTURE.md:

    SPARK_GRAFT_CPUS=8 sbt "runMain graft.Run profile /tmp/sfrep4 3 <query>"
"""
import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def build(k: int) -> None:
    out = f"/tmp/sfrep{k}"
    os.makedirs(out, exist_ok=True)
    c = duckdb.connect()
    li = " UNION ALL ".join(
        f"SELECT l_orderkey + CAST({i} AS BIGINT)*1000000000 AS l_orderkey, "
        "l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate "
        f"FROM '{SRC}/lineitem.parquet'" for i in range(k))
    c.execute(f"COPY ({li}) TO '{out}/lineitem.parquet' (FORMAT PARQUET)")
    o = " UNION ALL ".join(
        f"SELECT o_orderkey + CAST({i} AS BIGINT)*1000000000 AS o_orderkey, "
        "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
        f"FROM '{SRC}/orders.parquet'" for i in range(k))
    c.execute(f"COPY ({o}) TO '{out}/orders.parquet' (FORMAT PARQUET)")
    d = " UNION ALL ".join(
        f"SELECT doc_id + CAST({i} AS BIGINT)*10000000 AS doc_id, "
        f"text || ' salt{i}' AS text, lang, source, n_chars "
        f"FROM '{SRC}/documents.parquet'" for i in range(k))
    c.execute(f"COPY ({d}) TO '{out}/documents.parquet' (FORMAT PARQUET)")
    # events replicate along the USER axis (shifted user_id, same time
    # range) — the realistic growth direction for the layout/session
    # operators: more tenants on the same calendar, not a longer calendar
    e = " UNION ALL ".join(
        f"SELECT event_id + CAST({i} AS BIGINT)*1000000000 AS event_id, "
        f"ts, user_id + CAST({i} AS BIGINT)*2000 AS user_id, "
        "event_type, value, props "
        f"FROM '{SRC}/events.parquet'" for i in range(k))
    c.execute(f"COPY ({e}) TO '{out}/events.parquet' (FORMAT PARQUET)")
    # embeddings replicate with shifted vec_ids and deterministic
    # per-component jitter (hash-derived, ±5e-3) — copies are near-dup
    # vectors, not bit-identical ones, so sign-LSH buckets stay realistic
    # for the alignment/ANN scale-up instead of collapsing to exact
    # duplicates
    # copy 0 is the SOURCE rows verbatim (bit-identical baseline); only
    # copies i>=1 jitter. The hash input reads src_vec_id (the renamed
    # source column) so it can never bind to the output alias `vec_id`
    # defined in the same SELECT — that binding is version-fragile.
    emb = " UNION ALL ".join(
        f"SELECT * FROM '{SRC}/embeddings.parquet'" if i == 0 else
        f"SELECT src_vec_id + CAST({i} AS BIGINT)*100000 AS vec_id, "
        f"list_transform(embedding, (x, j) -> CAST(x + "
        f"(CAST(hash(src_vec_id * 100 + j + {i}) % 100 AS BIGINT) - 50) * 1e-4 AS FLOAT)) AS embedding, "
        "label "
        f"FROM (SELECT vec_id AS src_vec_id, embedding, label "
        f"FROM '{SRC}/embeddings.parquet')" for i in range(k))
    c.execute(f"COPY ({emb}) TO '{out}/embeddings.parquet' (FORMAT PARQUET)")
    for t in ("region", "nation", "customer", "supplier", "part"):
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    print(out, "done")


if __name__ == "__main__":
    for arg in sys.argv[1:] or ["2", "4"]:
        build(int(arg))
