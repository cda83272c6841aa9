"""The benchmark's own tests: seeded inputs are reproducible, every output
check rejects a corrupted output, and the printed metric names are the
ones BENCHMARK.json declares. No JVM needed.

  python3 perfbench/test_perfbench.py
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree(d):
    """Relative path -> bytes of every file under d."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class Scratch(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def path(self, *p):
        return os.path.join(self.tmp, *p)


class SeededInputs(Scratch):
    def generate(self, name, seed):
        d = self.path(name)
        gen.classify_inputs(os.path.join(d, "classify"), seed, 40, 3)
        gen.docs_tier(os.path.join(d, "tier"), seed, 400, 160)
        gen.star_tables(os.path.join(d, "ref"), seed, 0.002)
        gen.serve_schedule(os.path.join(d, "schedule.tsv"), seed, 50, 0.8)
        gen.suite_order(os.path.join(d, "order.txt"), seed, run.SUITE)
        return tree(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self.generate("a", 7), self.generate("b", 7), self.generate("c", 8)
        self.assertEqual(a.keys(), b.keys())
        self.assertEqual(a, b)
        differing = [k for k in a if a[k] != c.get(k)]
        # every seeded artifact moves; only the fixed-content tables
        # (region, nation names) may coincide
        for k in ["classify/images/i00000.png", "classify/truth.tsv",
                  "tier/documents.parquet", "tier/embeddings.parquet",
                  "ref/lineitem.parquet", "schedule.tsv", "order.txt"]:
            self.assertIn(k, differing)

    def test_every_funnel_stage_has_something_to_drop(self):
        docs = gen.documents(3, 2000).to_pydict()
        texts = docs["text"]
        self.assertLess(len(set(texts)), len(texts))             # exact dups
        self.assertTrue(any(len(t.split()) < 5 for t in texts))   # length
        self.assertTrue(any("variant" in t for t in texts))      # near dups
        evalw = set(gen.VOCAB_B)
        contaminated = [i for i, t in enumerate(texts)
                        if i % gen.EVAL_MOD and evalw & set(t.split())]
        self.assertTrue(0 < len(contaminated) < 0.2 * len(texts))


class ClassifyCheck(Scratch):
    def write_output(self, lines, name="out/run"):
        d = self.path(name)
        os.makedirs(d)
        half = len(lines) // 2
        for i, chunk in enumerate((lines[:half], lines[half:])):
            with open(os.path.join(d, f"part-{i:05d}"), "w") as f:
                f.write("".join(l + "\n" for l in chunk))
        open(os.path.join(d, "_SUCCESS"), "w").close()
        return name

    def setUp(self):
        super().setUp()
        gen.classify_inputs(self.tmp, 1, 30, 2)
        self.truth = [l.split("\t") for l in open(self.path("truth.tsv")).read().split("\n") if l]
        self.good = sorted(f"{p}\t{c},0.9000" for p, c in self.truth)

    def test_accepts_a_correct_output(self):
        self.assertEqual(checks.check_classify(self.tmp, [self.write_output(self.good)])[1], 0)

    def test_rejects_unsorted_missing_and_mislabeled_outputs(self):
        unsorted = self.good[1:2] + self.good[:1] + self.good[2:]
        wrong = [l.replace(",", "x,").replace("\tc", "\tz") for l in self.good]
        for i, bad in enumerate([unsorted, self.good[:-1], wrong]):
            out = self.write_output(bad, f"out/bad{i}")
            self.assertEqual(checks.check_classify(self.tmp, [out])[1], 1, i)


class CurateCheck(Scratch):
    def write_output(self, n=6, report_final=None, manifest_docs=None,
                     ledger_ids=None, shard_drop=False):
        d = self.path("out")
        shutil.rmtree(d, ignore_errors=True)
        ids = list(range(n))
        for split, part in (("train", ids[:4]), ("val", ids[4:])):
            os.makedirs(f"{d}/corpus/split={split}")
            pq.write_table(pa.table({"doc_id": pa.array(part, pa.int64())}),
                           f"{d}/corpus/split={split}/part-0.parquet")
        os.makedirs(f"{d}/report")
        with open(f"{d}/report/part-00000.json", "w") as f:
            for stage, docs in (("0_corpus", 10), ("5_mixed", report_final or n)):
                f.write(json.dumps({"stage": stage, "n_docs": docs}) + "\n")
        os.makedirs(f"{d}/manifest")
        pq.write_table(pa.table({"source": ["a"], "n_docs": [manifest_docs or n]}),
                       f"{d}/manifest/part-0.parquet")
        os.makedirs(f"{d}/ledger")
        pq.write_table(pa.table({"doc_id": pa.array(ledger_ids or ids, pa.int64())}),
                       f"{d}/ledger/part-0.parquet")
        for epoch in (0, 1):
            for shard in (0, 1):
                sd = f"{d}/shards/epoch={epoch}/shard={shard}"
                os.makedirs(sd)
                mine = [i for i in ids if (i + epoch) % 2 == shard]
                if shard_drop and epoch == 1 and shard == 0:
                    mine = mine[1:]
                pq.write_table(pa.table({"doc_id": pa.array(mine, pa.int64())}),
                               f"{sd}/part-0.parquet")
        return ["out"]

    def test_accepts_a_consistent_output(self):
        self.assertEqual(checks.check_curate(self.tmp, self.write_output())[1], 0)

    def test_rejects_each_inconsistency(self):
        for kw in ({"report_final": 5}, {"manifest_docs": 7},
                   {"ledger_ids": [0, 1, 2, 3, 4, 4]}, {"shard_drop": True}):
            self.assertEqual(checks.check_curate(self.tmp, self.write_output(**kw))[1],
                             1, kw)


class ServeCheck(Scratch):
    def lines(self, d, rows):
        os.makedirs(self.path(d), exist_ok=True)
        with open(self.path(d, "part-00000.json"), "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in rows))

    def test_response_must_equal_the_panel_rows_for_its_id(self):
        panel = [{"q_id": q, "doc_id": d, "score": s}
                 for q, d, s in ((1, 10, 0.5), (1, 11, 0.25), (2, 12, 0.125))]
        self.lines("expect/fused", panel)
        self.lines("expect/ivf", panel)
        self.lines("out/ok/results", panel[1::-1])
        self.lines("out/bad/results", [panel[0], dict(panel[1], score=0.3)])
        self.lines("out/short/results", panel[:1])
        reqs = [["out/ok", "fused", "1"], ["out/bad", "fused", "1"],
                ["out/short", "ivf", "1"]]
        checked, bad, notes = checks.check_serve(self.tmp, reqs)
        self.assertEqual((checked, bad), (3, 2))
        self.assertTrue(notes[0].startswith("out/bad"))


class SuiteCheck(Scratch):
    def test_dump_must_match_the_oracle(self):
        data = self.path("data")
        os.makedirs(data)
        for t in checks.TABLES:
            pq.write_table(pa.table({"k": [1, 2, 2], "v": [0.5, 1.5, 2.5]}),
                           f"{data}/{t}.parquet")
        dump = self.path("dump")
        os.makedirs(f"{dump}/good")
        os.makedirs(f"{dump}/bad")
        pq.write_table(pa.table({"k": [2, 1], "s": [4.0, 0.5]}), f"{dump}/good/p.parquet")
        pq.write_table(pa.table({"k": [2, 1], "s": [4.0, 0.25]}), f"{dump}/bad/p.parquet")
        sql = "SELECT k, sum(v) AS s FROM lineitem GROUP BY k"
        with open(f"{dump}/oracle_sql.json", "w") as f:
            json.dump({"good": sql, "bad": sql}, f)
        checked, bad, notes = checks.check_suite(data, dump, ["good", "bad"])
        self.assertEqual((checked, bad), (2, 1))
        self.assertTrue(notes[0].startswith("bad"))


class PrintedMetrics(unittest.TestCase):
    def test_names_and_units_follow_the_spec(self):
        s = run.spec()
        e2e = {m["name"]: 1.5 for m in s["end_to_end"]}
        h = {"e2e": e2e, "layer": {"sched.jobs": 3}, "attempted": 4, "failed": 0}
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res, missing = run.result_line(s, trace, h, 0)
            self.assertEqual(list(res["metrics"]), [m["name"] for m in s[kind]])
            self.assertEqual([v["unit"] for v in res["metrics"].values()],
                             [m["unit"] for m in s[kind]])
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"])
        h["e2e"] = dict(e2e, setup_s=None)
        res, missing = run.result_line(s, 0, h, 0)
        self.assertEqual((res["correct"], missing), (False, ["setup_s"]))

    def test_harness_reports_exactly_the_declared_metrics(self):
        here = os.path.dirname(os.path.abspath(__file__))
        src = "".join(open(os.path.join(here, "scala", f)).read()
                      for f in sorted(os.listdir(os.path.join(here, "scala"))))
        produced = set(re.findall(r'(?:e2e|layer|L)\("([\w.]+)"\)', src))
        families = ["Relational", "Events", "TextAnalysis", "Dedup",
                    "Similarity", "Pipeline", "Multimodal"]
        templates = {
            'layer(s"operators.$f.sweep_s")':
                [f"operators.{f}.sweep_s" for f in families],
            'layer(s"graft.Curate.write.${o}_s")':
                [f"graft.Curate.write.{o}_s" for o in
                 ("corpus", "shards", "manifest", "ledger", "report")],
            'layer(s"operators.Similarity.$fn.build_ms")':
                [f"operators.Similarity.{f}.build_ms" for f in
                 ("serveFusedRequest", "serveIvfRequest")],
            'layer(s"operators.Similarity.$fn.collect_ms")':
                [f"operators.Similarity.{f}.collect_ms" for f in
                 ("serveFusedRequest", "serveIvfRequest")],
        }
        for t, names in templates.items():
            self.assertIn(t, src)
            produced |= set(names)
        produced.add("written_bytes_per_item")  # run.py: bytes on disk
        s = run.spec()
        declared = {m["name"] for m in s["per_layer"] + s["end_to_end"]}
        self.assertEqual(produced, declared)


if __name__ == "__main__":
    unittest.main()
