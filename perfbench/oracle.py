"""Correctness checks for the batch workloads.

A key's warm-up result (parquet, written by the JVM) is compared with the
key's `SparkEntry.oracleSql` run in DuckDB over the same generated inputs:
same columns, same row count, same values in the same order (the compare of
the repository's tools/check.py). Where the brute-force oracle is quadratic
in the corpus (`dedup_minhash`), the emitted pairs are instead checked
against the planted ground truth: every planted pair whose exact word-3-gram
Jaccard is at least the threshold must be emitted (recall), and every
emitted pair's Jaccard is recomputed exactly (precision).
"""
import glob
import itertools
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JACCARD = 0.8


def _norm(v):
    return repr(v) if isinstance(v, float) else str(v)


def _rows(tbl):
    cols = [c.to_pylist() for c in tbl.columns]
    return [tuple(_norm(v) for v in row) for row in zip(*cols)] if tbl.num_rows else []


def _shingles(text):
    t = text.split(" ")
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def check_minhash_pairs(con, in_dir, files):
    docs = dict(con.execute(f"SELECT doc_id, text FROM '{in_dir}/documents.parquet'").fetchall())
    sh = {d: _shingles(t) for d, t in docs.items() if len(t.split(" ")) >= 3}
    jac = lambda a, b: len(sh[a] & sh[b]) / len(sh[a] | sh[b])
    got = con.execute(f"SELECT doc_a, doc_b, jac FROM read_parquet({files!r})").fetchall()
    for a, b, j in got:
        if a >= b or a not in sh or b not in sh or jac(a, b) != j or j < JACCARD:
            return f"emitted pair ({a}, {b}, {j}) is not an exact pair at Jaccard >= {JACCARD}"
    with open(f"{in_dir}/plants.json") as f:
        families = json.load(f)["families"]
    want = {(a, b) for fam in families for a, b in itertools.combinations(sorted(fam), 2)
            if a in sh and b in sh and jac(a, b) >= JACCARD}
    missed = want - {(a, b) for a, b, _ in got}
    if missed:
        return f"{len(missed)} of {len(want)} planted pairs missed, e.g. {sorted(missed)[0]}"
    return None


CUSTOM = {"dedup_minhash": check_minhash_pairs}


def check(in_dir, results_dir, oracle_sql, keys):
    """Returns {key: None if correct else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = f"{in_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    verdicts = {}
    for key in keys:
        files = sorted(glob.glob(f"{results_dir}/{key}/*.parquet"))
        if not files:
            verdicts[key] = "no result written"
            continue
        if key in CUSTOM:
            verdicts[key] = CUSTOM[key](con, in_dir, files)
            continue
        if key not in oracle_sql:
            verdicts[key] = "no oracle"
            continue
        o = con.execute(oracle_sql[key]).fetch_arrow_table()
        s = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        cols = sorted(o.column_names)
        if cols != sorted(s.column_names):
            verdicts[key] = f"columns {sorted(s.column_names)} != oracle {cols}"
        elif o.num_rows != s.num_rows:
            verdicts[key] = f"{s.num_rows} rows != oracle {o.num_rows}"
        else:
            orows, srows = _rows(o.select(cols)), _rows(s.select(cols))
            bad = next((i for i, (a, b) in enumerate(zip(orows, srows)) if a != b), None)
            verdicts[key] = None if bad is None else f"row {bad}: {srows[bad]} != oracle {orows[bad]}"
    con.close()
    return verdicts
