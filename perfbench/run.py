#!/usr/bin/env python3
"""The repository's benchmark: one workload per call.

  python3 perfbench/run.py --workload <classify|serve>
      --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the program and the benchmark
harness from source (scalac from the Spark distribution, into
$CARGO_TARGET_DIR or .bench_build), generates the workload's inputs from
the seed, runs the harness in one JVM, checks every output, and prints
one JSON line last: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. The full record (all figures, check notes, the span
summary) is written to <build>/perfbench/results/, spans next to it.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DEADLINE_S = 170

# Workload sizes (the why of each is in BENCHMARK.json).
CLASSIFY = dict(n_images=4000, train_per_class=16)
# CPUs the JVM and Spark get, by workload (default: all). classify runs on
# one: a classify job took about as long on one core as on four (1.1-1.5 s
# for 4000 images on a 4-vCPU VM), and on a shared host the single-CPU
# runs varied far less, within a run and between runs.
CPUS = {"classify": 1}
CURATE = dict(n_docs=8000, n_vecs=3200)  # classify's traced run only
REF_DATA_SEED = 42          # serve reads one fixed sf0.1 table set
SERVE = dict(ref_rate=1.5, overload_rate=20.0, overload_n=24,
             fused_share=0.8, n_schedule=400)
# The query list serve's traced run sweeps: every operator family, the
# Catalyst kernels (LimbSum and DoubleScaledLong in the exact decimal sums
# of q01, q09 and q11); each has an oracle DuckDB answers in seconds.
SUITE = [
    "q01_pricing_summary", "q03_shipping_priority", "q07_window_topk",
    "q09_segment_stats", "q11_rollup_flags", "q63_funnel_daily",
    "q30_token_stats", "q86_bm25", "q34_content_dedup", "q38_cosine_topk",
    "q28_kv_sorted", "q42_binary_meta",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    directory build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        fail("set SPARK_HOME to a Spark distribution")
    return m.group(1)


def classpath(dirs):
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        fail(f"no Spark jars under {spark_jars()}")
    return ":".join(list(dirs) + jars)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def build(build_dir):
    """Compile src/main/scala, then perfbench/scala against it. Skipped
    when the sources' digest matches the last successful build."""
    main_src = sources("src/main/scala")
    bench_src = sources(os.path.join(HERE, "scala"))
    if not main_src:
        fail("no program sources under src/main/scala: run from the repo root")
    digest = hashlib.sha256()
    for p in main_src + bench_src:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(build_dir, "stamp")
    classes = [os.path.join(build_dir, "classes"), os.path.join(build_dir, "bench")]
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    cp = classpath([])
    for out, srcs, extra in ((classes[0], main_src, []),
                             (classes[1], bench_src, [classes[0]])):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        argfile = out + ".args"
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
             "scala.tools.nsc.Main", "-nowarn", "-d", out,
             "-classpath", ":".join(extra + [cp]), "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def ref_data(build_dir):
    """The fixed sf0.1 table set serve and query_suite read; generated
    once per checkout (keyed by the generator's own digest)."""
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.abspath(os.path.join(build_dir, f"ref-{REF_DATA_SEED}-{key}"))
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.star_tables(d, REF_DATA_SEED, 0.1)
        open(os.path.join(d, "done"), "w").close()
    return d


def make_inputs(workload, seed, trace, work, build_dir):
    """Returns the harness key=value arguments."""
    import gen
    if workload == "classify":
        gen.classify_inputs(work, seed, **CLASSIFY)
        if trace:  # the traced run also runs Curate over a generated tier
            gen.docs_tier(os.path.join(work, "tier"), seed, **CURATE)
        return []
    data = ref_data(build_dir)
    gen.serve_schedule(os.path.join(work, "schedule.tsv"), seed,
                       SERVE["n_schedule"], SERVE["fused_share"])
    gen.suite_order(os.path.join(work, "order.txt"), seed, SUITE)
    return [f"data={data}"] + [f"{k}={SERVE[k]}" for k in
                               ("ref_rate", "overload_rate", "overload_n")]


def run_harness(classes, workload, seconds, trace, args, work, budget):
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cpus = str(CPUS.get(workload, os.cpu_count() or 4))
    # Temporary files (ImageIO's decode cache among them) stay in the
    # work dir, and the JVM writes no perf-data file outside it.
    os.makedirs(os.path.join(work, "tmp"))
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={cpus}",
            "-Djava.io.tmpdir=tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=error", "-cp", classpath(classes),
            "graft.perfbench.PerfBench", workload, str(seconds), str(trace)] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {budget:.0f} s")
    if p.returncode != 0:
        tail = open(os.path.join(work, "harness.log")).read()[-3000:]
        fail(f"harness exited {p.returncode}:\n{tail}")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d)
               for f in fs if not f.startswith(".") and f != "_SUCCESS")


def check(workload, work, h):
    import checks
    outputs = [o for o in h["info"].get("outputs", "").split(",") if o]
    if workload == "classify":
        res = checks.check_classify(work, outputs)
        written = sum(dir_bytes(os.path.join(work, o)) for o in outputs)
        items = len(outputs) * int(h["info"]["items_per_op"])
        if "curate" in h["info"]:
            res = tuple(a + b for a, b in
                        zip(res, checks.check_curate(work, [h["info"]["curate"]])))
    else:
        reqs = [l.rstrip("\n").split("\t") for l in
                open(os.path.join(work, "requests.tsv")) if l.strip()]
        res = checks.check_serve(work, reqs)
        written = sum(dir_bytes(os.path.join(work, r[0])) for r in reqs)
        items = len(reqs)
        if "suite" in h["info"]:
            suite = checks.check_suite(h["_data"], os.path.join(work, "out", "suite"),
                                       SUITE)
            res = tuple(a + b for a, b in zip(res, suite))
    return res, written / max(1, items)


def result_line(s, trace, h, bad):
    """The printed result: every end-to-end metric (trace 0) or every
    per-layer metric (trace 1) of BENCHMARK.json, by name and unit. A
    per-layer figure the workload does not drive reads 0; a missing
    end-to-end figure makes the run incorrect."""
    kind = "per_layer" if trace else "end_to_end"
    source = h["layer"] if trace else h["e2e"]
    metrics, missing = {}, []
    for m in s[kind]:
        v = source.get(m["name"])
        if v is None and not trace:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": float(v) if v is not None else 0.0,
                              "unit": m["unit"]}
    return ({"correct": bad == 0 and h["failed"] == 0 and not missing,
             "attempted": int(h["attempted"]),
             "failed": max(int(h["failed"]), bad),
             "metrics": metrics}, missing)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    build_root = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.abspath(os.path.join(build_root, "perfbench"))
    classes = build(build_dir)
    work = os.path.abspath(os.path.join(
        build_dir, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = make_inputs(a.workload, a.seed, a.trace, work, build_dir)
        budget = DEADLINE_S - (time.time() - t_start)
        h = run_harness(classes, a.workload, a.seconds, a.trace, args, work, budget)
        h["_data"] = dict(x.split("=", 1) for x in args).get("data")
        (checked, bad, notes), per_item = check(a.workload, work, h)
        h["e2e"]["written_bytes_per_item"] = per_item
        result, missing = result_line(s, a.trace, h, bad)
        results = os.path.join(build_dir, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"result": result, "e2e": h["e2e"], "layer": h["layer"],
                       "info": h["info"], "checked": checked,
                       "check_notes": notes[:50]}, f, indent=1, sort_keys=True)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
        for n in notes[:10]:
            print(f"perfbench: check failed: {n}", file=sys.stderr)
        if missing:
            print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    finally:
        if not os.environ.get("PERFBENCH_KEEP_WORK"):
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
