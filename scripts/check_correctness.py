"""Replicate the driver's correctness gate locally.

Runs every __spark_entry__.queries() entry at sf0.01 and compares against
oracle_sql() in DuckDB: row count, column-name set, and order-insensitive
values (columns sorted by name, rows sorted by all columns). An
estimate-only query with an entry in BOUND_CHECKS is instead checked
against its stated error bound over an exact DuckDB result. Exits nonzero
on any mismatch.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in, not an installed or other copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


MIN_LSH_PAIR_RECALL = 0.99


def lsh_pair_recall(got: pd.DataFrame, con, spark) -> tuple[bool, str]:
    """lsh_dup_pairs_est's recall of the exact J >= 0.8 document pairs
    (ngram_jaccard_pairs' oracle). A pair is found when both documents map
    to the same representative (an ``exact`` row) or their representatives
    form an emitted ``near`` pair."""
    from datasketches_rust_spark.operators.signatures import file_id_col

    truth = con.sql(entrymod.oracle_sql()["ngram_jaccard_pairs"]).df()
    # the engine's own file id of each documents row, over the same corpus
    # view the query builds
    docs = entrymod._docs_as_corpus(entrymod._t(spark, SF_DIR, "documents"))
    ids = docs.select("path", file_id_col().alias("file_id")).toPandas()
    fid = {int(d): f for d, f in zip(ids["path"], ids["file_id"])}
    exact = got[got["kind"] == "exact"]
    rep = dict(zip(exact["file_id_b"], exact["file_id_a"]))
    near = got[got["kind"] == "near"]
    near_pairs = set(zip(near["file_id_a"], near["file_id_b"]))
    found = 0
    for a, b in zip(truth["doc_id_a"], truth["doc_id_b"]):
        ra, rb = rep.get(fid[a], fid[a]), rep.get(fid[b], fid[b])
        found += ra == rb or (min(ra, rb), max(ra, rb)) in near_pairs
    recall = found / len(truth) if len(truth) else 1.0
    msg = f"pair recall {recall:.4f} ({found}/{len(truth)} at exact J >= 0.8)"
    return recall >= MIN_LSH_PAIR_RECALL, f"{msg}, bound >= {MIN_LSH_PAIR_RECALL}"


# estimate-only queries checked against an exact result within a bound,
# beside oracle_sql() rather than inside it
BOUND_CHECKS = {"lsh_dup_pairs_est": lsh_pair_recall}


def main() -> int:
    from datasketches_rust_spark.plans.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16, app_name="correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    only = set(sys.argv[1:])
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: query raised {type(exc).__name__}: {exc}")
            continue
        if name in BOUND_CHECKS:
            ok, msg = BOUND_CHECKS[name](got, con, spark)
            if not ok:
                failures.append(name)
            print(f"[OK]   {name}: {msg}" if ok else f"[FAIL] {name}: {msg}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows, cols={sorted(got.columns)}")
            if len(got) == 0 and name != "noop":
                print(f"  WARNING: {name} returned 0 rows")
            continue
        exp = con.sql(oracles[name]).df()
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"[FAIL] {name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"[FAIL] {name}: rows {len(g)} vs {len(e)}")
            continue
        if not g.equals(e):
            neq = ~(g.eq(e) | (g.isna() & e.isna()))
            bad_cols = [c for c in g.columns if neq[c].any()]
            failures.append(name)
            print(f"[FAIL] {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                i = int(neq[c].idxmax())
                print(f"  first diff col={c} row={i}: spark={g[c][i]!r} oracle={e[c][i]!r}")
            continue
        print(f"[OK]   {name}: {len(g)} rows match")

    spark.stop()
    if failures:
        print(f"\nFAILED: {failures}")
        return 1
    print("\nALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
