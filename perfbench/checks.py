"""Output checks: classify's TSVs, serve's responses, and in traced runs
the Curate artifacts and the query sweep. Each returns (checked, bad,
notes): how many outputs were checked, how many were wrong, and a note
per wrong one. They read only files, so a deliberately corrupted output
can be fed to them directly (see test_perfbench.py)."""
import glob
import json
import os
import sys

import duckdb

# The query-suite check uses the repository's oracle fingerprint as is.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
from oracle_check import TABLES, frame_fingerprint  # noqa: E402

# Planted classes are separable by brightness; anything under this
# share of correct labels is a broken decode, feature or scorer.
CLASSIFY_ACCURACY_FLOOR = 0.9


def _parts(d, suffix=""):
    return sorted(p for p in glob.glob(os.path.join(d, "part-*"))
                  if p.endswith(suffix))


def check_classify(work, outputs):
    truth = {}
    with open(os.path.join(work, "truth.tsv")) as f:
        for line in f:
            if line.strip():
                path, cls = line.rstrip("\n").split("\t")
                truth[path] = cls
    bad, notes = 0, []
    for out in outputs:
        d = os.path.join(work, out)
        lines = []
        for p in _parts(d):
            with open(p) as f:
                lines += [l.rstrip("\n") for l in f if l.strip()]
        keys = [l.split("\t", 1)[0] for l in lines]
        why = None
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            why = "no _SUCCESS marker"
        elif len(lines) != len(truth) or set(keys) != set(truth):
            why = f"{len(lines)} lines for {len(truth)} manifest items"
        elif keys != sorted(keys):
            why = "output is not globally key-sorted"
        else:
            hits = sum(l.split("\t", 1)[1].split(",", 1)[0] == truth[k]
                       for k, l in zip(keys, lines))
            if hits < CLASSIFY_ACCURACY_FLOOR * len(truth):
                why = f"accuracy {hits}/{len(truth)} under the floor"
        if why:
            bad += 1
            notes.append(f"{out}: {why}")
    return len(outputs), bad, notes


def _count(con, pattern):
    return con.sql(f"SELECT count(*) FROM read_parquet('{pattern}', "
                   "hive_partitioning = true)").fetchone()[0]


def check_curate(work, outputs):
    con = duckdb.connect()
    bad, notes = 0, []
    for out in outputs:
        d = os.path.join(work, out)
        why = None
        try:
            corpus = f"{d}/corpus/*/*.parquet"
            n = _count(con, corpus)
            report = [json.loads(l) for p in _parts(f"{d}/report", ".json")
                      for l in open(p) if l.strip()]
            final = max(report, key=lambda r: r["stage"])["n_docs"]
            manifest = con.sql(f"SELECT sum(n_docs) FROM '{d}/manifest/*.parquet'"
                               ).fetchone()[0]
            ledger, ledger_ids = con.sql(
                f"SELECT count(*), count(DISTINCT doc_id) FROM "
                f"'{d}/ledger/*.parquet'").fetchone()
            per_epoch = con.sql(
                f"""SELECT epoch, count(*), count(DISTINCT doc_id),
                      count(DISTINCT doc_id) FILTER (WHERE doc_id IN
                        (SELECT doc_id FROM read_parquet('{corpus}')))
                    FROM read_parquet('{d}/shards/*/*/*.parquet',
                                      hive_partitioning = true)
                    GROUP BY epoch""").fetchall()
            if n == 0:
                why = "empty corpus"
            elif n != final:
                why = f"corpus has {n} rows, report's final stage {final}"
            elif manifest != n:
                why = f"manifest totals {manifest} docs for {n} corpus rows"
            elif ledger != n or ledger_ids != n:
                why = f"ledger has {ledger} rows ({ledger_ids} ids) for {n}"
            elif not per_epoch or any(r[1:] != (n, n, n) for r in per_epoch):
                why = f"shards do not hold each doc once per epoch: {per_epoch}"
        except Exception as e:  # a missing or unreadable artifact
            why = f"unreadable output: {e}"
        if why:
            bad += 1
            notes.append(f"{out}: {why}")
    return len(outputs), bad, notes


def _json_lines(d):
    return sorted(l.rstrip("\n") for p in _parts(d, ".json")
                  for l in open(p) if l.strip())


def check_serve(work, requests):
    """Each response must equal the panel query (q144 for fused, q44 for
    ivf) filtered to the request's id."""
    expected = {}
    for kind in ("fused", "ivf"):
        rows = {}
        for l in _json_lines(os.path.join(work, "expect", kind)):
            rows.setdefault(json.loads(l)["q_id"], []).append(l)
        expected[kind] = rows
    bad, notes = 0, []
    for path, kind, qid in requests:
        got = _json_lines(os.path.join(work, path, "results"))
        want = sorted(expected[kind].get(int(qid), []))
        if not want or got != want:
            bad += 1
            notes.append(f"{path}: {len(got)} rows, expected {len(want)} "
                         f"for {kind} id {qid}")
    return len(requests), bad, notes


def check_suite(data, dump, names):
    """Row count and value fingerprint of each query's dumped rows
    against DuckDB running the query's oracle SQL on the same tables."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad, notes = 0, []
    for name in names:
        why = None
        try:
            got = con.sql(f"SELECT * FROM '{dump}/{name}/*.parquet'")
            g = frame_fingerprint(list(got.columns), got.fetchall())
            want = con.sql(oracle[name])
            w = frame_fingerprint(list(want.columns), want.fetchall())
            if len(g[1]) != len(w[1]):
                why = f"{len(g[1])} rows, oracle {len(w[1])}"
            elif g != w:
                why = "values differ from the oracle"
        except Exception as e:
            why = f"unreadable: {e}"
        if why:
            bad += 1
            notes.append(f"{name}: {why}")
    return len(names), bad, notes
