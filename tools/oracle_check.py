#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark result) and runs the
matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB with views
named after the testdata tables. Compares schema (column names), row
count, and a hash of all values with columns sorted by name (rows
sorted too, to be order-insensitive). Exact equality on all values.
"""
import sys, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def frame_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return sorted_cols, canon_rows


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # Optional third arg: write a CORRECTNESS-style JSON of the results
    # (used for the generated-scale spot-oracle, CORRECTNESS_scale.json).
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    results = {}
    con = duckdb.connect()
    import os as _os
    for t in TABLES:
        # Generated harness dirs (e.g. the 100x relational tables) carry
        # only a subset of the star schema — skip absent tables so the
        # views that DO exist are checkable there. Driver testdata are
        # single parquet FILES; Spark-generated harness tables are
        # DIRECTORIES of part files — glob accordingly.
        path = f"{sf_dir}/{t}.parquet"
        if _os.path.isdir(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        elif _os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    absent = []
    import os
    for name, sql in sorted(oracle.items()):
        # No result dir: either a partial dump (a Verify restricted to a
        # few names) or a query that threw, for which Verify writes
        # nothing. Neither compares; both are counted and named below.
        if not os.path.isdir(f"{out_dir}/{name}"):
            absent.append(name)
            continue
        try:
            spark_rel = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_cols = list(spark_rel.columns)
            s_rows = spark_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark result: {e}")
            n_fail += 1
            continue
        try:
            duck_rel = con.sql(sql)
            d_cols = list(duck_rel.columns)
            d_rows = duck_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        # Type-parity lint: the driver converts DuckDB results through
        # pandas, where HUGEINT/UHUGEINT become float64 — so `0` hashes
        # as `0.0` and the row hash diverges even though fetchall() here
        # (Python ints) would be blind to it. DuckDB's sum(BIGINT) —
        # plain or windowed — returns HUGEINT; oracle SQL must CAST such
        # expressions to BIGINT. (Caught the hard way by q76 in round 5.)
        bad_types = [(c, str(t)) for c, t in zip(d_cols, duck_rel.types)
                     if "HUGEINT" in str(t).upper()]
        if bad_types:
            print(f"FAIL {name}: oracle emits pandas-unsafe types "
                  f"{bad_types}; wrap in CAST(... AS BIGINT)")
            n_fail += 1
            continue
        sc, sr = frame_fingerprint(s_cols, s_rows)
        dc, dr = frame_fingerprint(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} != {dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rows {len(sr)} != {len(dr)}")
            n_fail += 1
        elif sr != dr:
            diffs = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows; first:")
            i = diffs[0]
            print(f"  spark: {sr[i]}")
            print(f"  duck : {dr[i]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
            results[name] = {"rows": len(sr), "schema_match": True,
                             "hash_match": True}
    if absent:
        print(f"ABSENT ({len(absent)}): {' '.join(absent)}")
    print(f"== {n_pass} pass / {n_fail} fail / {len(absent)} absent ==")
    if json_out:
        json.dump({"sf_dir": sf_dir, "pass": n_pass, "fail": n_fail,
                   "absent": absent, "queries": results},
                  open(json_out, "w"), indent=1)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
