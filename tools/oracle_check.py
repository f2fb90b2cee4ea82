#!/usr/bin/env python3
"""Local replication of the driver's correctness gate: for each SparkEntry
query dumped by `graft.Verify <sfDir> <outDir>`, run the DuckDB oracle SQL on
the same parquet tables and compare rows / schema / value-hash the way the
driver does (columns sorted by name, rows sorted by all columns, pandas value
hash). Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
Exits 1 when any query is BAD: an error, a row/schema/hash mismatch, an
output dir with no oracle, or an oracle with no output dir.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for tbl in ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{p}'")

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    report = {}
    names = sorted(os.path.basename(d) for d in glob.glob(os.path.join(out_dir, "*"))
                   if os.path.isdir(d))
    for name in sorted(set(oracles) - set(names)):
        report[name] = {"err": "no_output"}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) \
            if files else pd.DataFrame()
        if name not in oracles:
            report[name] = {"err": "no_oracle", "spark_rows": len(spark_df)}
            continue
        try:
            oracle_df = con.sql(oracles[name]).df()
            s, o = canon(spark_df), canon(oracle_df)
            rows = len(s) == len(o)
            schema = list(s.columns) == list(o.columns)
            h = False
            if rows and schema:
                hs = pd.util.hash_pandas_object(s, index=False).sum()
                ho = pd.util.hash_pandas_object(o, index=False).sum()
                h = bool(hs == ho)
                if not h:
                    # column-level diagnosis
                    for c in s.columns:
                        cs = pd.util.hash_pandas_object(s[c], index=False).sum()
                        co = pd.util.hash_pandas_object(o[c], index=False).sum()
                        if cs != co:
                            print(f"  [{name}] col {c} differs "
                                  f"(dtype spark={s[c].dtype} oracle={o[c].dtype})",
                                  file=sys.stderr)
            report[name] = {"rows_match": rows, "schema_match": schema,
                            "hash_match": h, "spark_rows": len(s),
                            "oracle_rows": len(o)}
        except Exception as e:  # noqa: BLE001
            report[name] = {"err": str(e)[:500], "spark_rows": len(spark_df)}
    print(json.dumps(report, indent=1))
    bad = sorted(k for k, v in report.items()
                 if v.get("err") is not None or not v.get("hash_match"))
    print(f"GREEN: {len(report) - len(bad)}/{len(report)}  BAD: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
