"""Makes perfbench/goldens.json: the expected output of every member of
the query workloads on the benchmark's fixed tables.

Each query runs in two JVMs, three times in each (the concurrent warm-up
and two passes). A query whose row count differs between runs cannot be
a member and stops the script. One whose 64-bit hash differs is checked
by row count only; the rest are checked by hash. Each golden with oracle
SQL is checked once against DuckDB over the same parquet tables, with
the normalisation of tools/check_oracle.py: columns sorted by name, rows
sorted by every column, values compared exactly.

    python3 perfbench/run.py --make-goldens
"""
import json
import os
import shutil

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(a, b):
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if str(x.dtype) != str(y.dtype):
            return False
        if x.dtype.kind in "iufb":
            if x.to_numpy().tobytes() != y.to_numpy().tobytes():
                return False
        elif not all((p is None and q is None) or p == q
                     for p, q in zip(x.to_numpy(), y.to_numpy())):
            return False
    return True


def oracle_check(tables, dump):
    """{query: "match" | "mismatch: ..." | "none"} for the dumped
    outputs."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sql = json.load(f)
    out = {}
    for q in sorted(d for d in os.listdir(dump)
                    if os.path.isdir(os.path.join(dump, d))):
        if q not in sql:
            out[q] = "none"
            continue
        got = con.execute(f"SELECT * FROM read_parquet("
                          f"'{dump}/{q}/*.parquet')").fetchdf()
        try:
            want = con.execute(sql[q]).fetchdf()
        except duckdb.Error as e:
            out[q] = f"mismatch: oracle SQL error {e}"
            continue
        out[q] = "match" if _same(_norm(got), _norm(want)) else \
            f"mismatch: {len(got)} rows vs oracle {len(want)}"
    return out


def make(root, state, classpath, tables, launch):
    seen = {}
    dump = os.path.join(state, "goldens-dump")
    shutil.rmtree(dump, ignore_errors=True)
    for i in range(2):
        run_dir = os.path.join(state, "runs", f"goldens-{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "data"))
        os.symlink(tables, os.path.join(run_dir, "data", "tables"))
        args = ["--workload", "queries", "--seed", str(i + 1),
                "--seconds", "0", "--trace", "0", "--min-passes", "2",
                "--data", os.path.join(run_dir, "data")]
        if i == 0:
            args += ["--dump", dump]
        record = launch(classpath, run_dir, args, 900)
        for op in record["ops"]:
            if not op["ok"]:
                raise SystemExit(f"{op['name']} failed: {op['error']}")
            seen.setdefault(op["name"], []).append(
                (op["facts"]["rows"], op["facts"]["hash"]))
        shutil.rmtree(run_dir, ignore_errors=True)
    oracle = oracle_check(tables, dump)
    goldens, bad = {}, []
    for q, fps in sorted(seen.items()):
        rows = {r for r, _ in fps}
        if len(rows) != 1:
            bad.append(f"{q}: row count varies {sorted(rows)}")
            continue
        hashes = {h for _, h in fps}
        goldens[q] = {"rows": rows.pop(), "hash": fps[0][1],
                      "check": "hash" if len(hashes) == 1 else "rows",
                      "oracle": oracle.get(q, "none")}
        if oracle.get(q, "none").startswith("mismatch"):
            bad.append(f"{q}: {oracle[q]}")
    for line in bad:
        print(line)
    if bad:
        return 1
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    for q, g in goldens.items():
        print(q, g["rows"], g["check"], g["oracle"])
    return 0
