#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_movies --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the program (src/main/scala)
and the harness (perfbench/scala) with the Scala compiler shipped in the
Spark jars, generates or reuses the seeded inputs, runs one harness JVM
at local[<cores>], checks the outputs, and prints one JSON object as the
last line of standard output: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Everything it writes goes under
.bench_build/ in the working directory.

    python3 perfbench/run.py --describe

prints every metric by name and unit.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_movies  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = ".bench_build"
DEADLINE_S = 170

WORKLOADS = ["etl_movies", "query_mix"]

# etl_movies sizes: canonical wiki and kaggle sizes; the ratings are cut
# from the canonical 26 M rows to fit the run budget (README.md)
ETL_SIZES = dict(n_wiki=7311, n_kaggle=45466, n_ratings=750_000, ratings_per_file=250_000)

# graft.Bench.headline keys of the main operator families, the cheaper
# member where a family has several (README.md); query_mix also runs the
# curation pipeline as the unit CURATE_UNIT
QUERY_KEYS = [
    "q_filter_conj", "q_topk", "q_agg_multi", "q_join_3way", "q_window_rank",
    "q_dedup_exact", "q_neardup_lsh_verified", "q_simsearch_fast"]

CURATE_UNIT = "curate_docs"
CHECKED_KEYS = 3

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def repo_default(path, pattern):
    """A setting as the program's own build or sources spell it."""
    try:
        with open(path) as fh:
            m = re.search(pattern, fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    return repo_default("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def sf_dir():
    """$SPARK_GRAFT_SF_DIR, else the tables graft.Bench reads by default."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or repo_default(
        "src/main/scala/graft/Bench.scala", r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"')


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def sources(*roots):
    out = []
    for root in roots:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, out_dir, classpath, files, log):
    os.makedirs(out_dir, exist_ok=True)
    with open(log, "a") as fh:
        subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", out_dir, "-classpath", classpath, *files],
                       stdout=fh, stderr=subprocess.STDOUT, check=True, timeout=800)


def build():
    """Compiles the program and the harness; reuses the classes while no
    source changes. Returns the classpath."""
    main = sources("src/main/scala")
    bench = sources(os.path.join(HERE, "scala"))
    jars = spark_jars()
    if not main:
        fail("no program sources under src/main/scala; run from the repository root")
    if not bench:
        fail("no harness sources under perfbench/scala")
    if not jars or not os.path.isdir(jars):
        fail(f"Spark jars not found (SPARK_HOME or build.sbt): {jars}")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    cp = f"{out}/bench:{out}/main:{jars}/*"
    if os.path.exists(f"{out}/ok"):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    log = f"{out}/build.log"
    try:
        scalac(jars, f"{out}/main", f"{jars}/*", main, log)
        scalac(jars, f"{out}/bench", f"{out}/main:{jars}/*", bench, log)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("compilation failed")
    open(f"{out}/ok", "w").close()
    return cp


def workload_args(workload, seed):
    """Harness arguments for the workload, its data and the check context."""
    rnd = random.Random(seed)
    if workload == "etl_movies":
        cache = os.path.join(BUILD, "inputs")
        main = gen_movies.cached(cache, seed, **ETL_SIZES)
        with open(f"{main}/truth.json") as fh:
            truth = json.load(fh)
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(main) for f in fs if f != "truth.json")
        return ["--input", main], {"truth": truth, "input_bytes": size}
    sf = sf_dir()
    if not sf or not os.path.exists(f"{sf}/documents.parquet"):
        fail(f"test tables not found (SPARK_GRAFT_SF_DIR): {sf}")
    # the pipeline's input as q_pipeline_curate builds it, from a half-size
    # slice: a residue class mod 8, a held-out slice mod 100 from another
    # class mod 4, and duplicates re-inserted from the slice
    r = rnd.randrange(8)
    bench = rnd.choice([b for b in range(100) if b % 4 == (r + 2) % 4])
    dups = rnd.choice([e for e in range(200) if e % 8 == r])
    keys = QUERY_KEYS + [CURATE_UNIT]
    rnd.shuffle(keys)
    # every pass checks every key's row count; the full result of a
    # seed-chosen few keys per run is fingerprinted against the oracle
    checked = sorted(rnd.sample(QUERY_KEYS, CHECKED_KEYS))
    return ["--sf", sf, "--keys", ",".join(keys), "--checked", ",".join(checked),
            "--slice", str(r), "--bench", str(bench), "--dups", str(dups)], {"sf": sf}


def run_harness(cp, workload, seconds, trace, extra, work, budget_s):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    out = f"{work}/raw.json"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores()), "--work", work, "--out", out, *extra]
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {budget_s:.0f} s (log: {work}/jvm.log)")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def check(workload, raw, ctx):
    """Compares the run's outputs with the expected values: returns
    (attempted, failed, mismatch descriptions). Every timed unit and
    every compared value is one attempted operation."""
    problems = list(raw["errors"])
    attempted = sum(len(p["units"]) for p in raw["passes"]) + len(raw["errors"])
    got = raw["check"]
    if workload == "etl_movies":
        for k, want in ctx["truth"].items():
            attempted += 1
            if got.get(k) != want:
                problems.append(f"{k}: got {got.get(k)} want {want}")
    else:
        rows = [p["outputs"]["rows"] for p in raw["passes"]]
        for r in rows:
            attempted += 1
            if r != rows[0]:
                problems.append(f"curate funnel {r} != first pass {rows[0]}")
        attempted += 1
        funnel = [rows[0].get(s, 0) for s in metrics.CURATE_STAGES] if rows else []
        if not funnel or min(funnel) <= 0 or any(a < b for a, b in zip(funnel[:-2], funnel[1:-1])):
            problems.append(f"curate funnel not positive and non-increasing: {funnel}")
        cache = os.path.join(BUILD, "oracle")
        for k, sql in sorted(got.get("oracle_sql", {}).items()):
            if sql is None:
                attempted += 1
                problems.append(f"{k}: no oracle SQL")
                continue
            want_rows, want_fp = oracle.expected(ctx["sf"], k, sql, cache)
            if k in got["written"]:
                attempted += 1
                got_rows, fp = oracle.actual(f"{got['results']}/{k}")
                if (got_rows, fp) != (want_rows, want_fp):
                    problems.append(f"{k}: result rows={got_rows} fp={fp[:12]} "
                                    f"oracle rows={want_rows} fp={want_fp[:12]}")
            for p in raw["passes"]:
                attempted += 1
                if p["outputs"]["counts"].get(k) != want_rows:
                    problems.append(f"{k}: pass {p['idx']} count "
                                    f"{p['outputs']['counts'].get(k)} != {want_rows}")
    return max(attempted, 1), len(problems), problems


def describe():
    print("end-to-end (--trace 0):")
    for n, u in metrics.END_TO_END:
        print(f"  {n} [{u}]")
    print("per-layer (--trace 1):")
    for n, u in metrics.per_layer_names(QUERY_KEYS):
        print(f"  {n} [{u}]")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true", help="list every metric and exit")
    a = ap.parse_args(argv)
    if a.describe:
        describe()
        return
    if not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    cp = build()
    t_build = time.time()
    extra, ctx = workload_args(a.workload, a.seed)
    t_inputs = time.time()
    raw = run_harness(cp, a.workload, a.seconds, a.trace, extra,
                      os.path.join(BUILD, "work", a.workload), DEADLINE_S - (time.time() - t0))
    t_jvm = time.time()
    attempted, failed, problems = check(a.workload, raw, ctx)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if a.trace:
        vals = metrics.per_layer(raw, cores(), QUERY_KEYS, ctx.get("input_bytes", 0))
        vals["failed_frac"] = failed / attempted
        units = dict(metrics.per_layer_names(QUERY_KEYS))
    else:
        vals = metrics.end_to_end(raw)
        units = dict(metrics.END_TO_END)
    passes = [p for p in raw["passes"] if not p["traced"]]
    print(f"perfbench: {a.workload} seed={a.seed} cores={cores()} setups={len(raw['setups'])} "
          f"passes={len(passes)} traced_passes={len(raw['passes']) - len(passes)} "
          f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
          f"build={t_build - t0:.1f}s inputs={t_inputs - t_build:.1f}s jvm={t_jvm - t_inputs:.1f}s "
          f"check={time.time() - t_jvm:.1f}s jvm_phases={raw['phases_s']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": vals[n], "unit": units[n]} for n in units}}))


if __name__ == "__main__":
    main()
    # skip interpreter teardown: a native library's exit-time thread
    # cleanup once aborted the process after the result was printed
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)
