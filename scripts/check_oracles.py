#!/usr/bin/env python
"""Emulate the driver's DuckDB correctness gate locally.

Runs every ``__spark_entry__.queries()`` entry against its
``oracle_sql()`` twin at the given sf dir and compares row count,
column names, and an order-insensitive value hash (columns sorted by
name, rows sorted, values stringified with float round-trip repr).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64")
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        if np.issubdtype(col.dtype, np.floating):
            h.update(col.values.tobytes())
        else:
            h.update("\x00".join(map(str, col.tolist())).encode())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    import __spark_entry__ as E
    from legal_text_retrieval_spark.session import get_spark

    # cores: the CPU affinity default of get_spark
    spark = get_spark(shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = canon(fn(spark, sf_dir).toPandas())
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only), rows={len(got)} [{time.time()-t0:.1f}s]")
            continue
        try:
            want = canon(con.sql(sql).df())
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = list(got.columns) == list(want.columns)
        ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(want)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(got)}/{len(want)} cols={ok_cols} hash={ok_hash} "
            f"[{time.time()-t0:.1f}s]"
        )
        if not ok_hash and ok_rows and ok_cols:
            # show first differing cell
            for c in got.columns:
                a, b = got[c].values, want[c].values
                if np.issubdtype(got[c].dtype, np.floating):
                    neq = a.view("int64") != b.view("int64")
                else:
                    neq = a != b
                if neq.any():
                    i = int(np.argmax(neq))
                    print(f"     first diff col={c} row={i}: {a[i]!r} vs {b[i]!r}")
                    break
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
