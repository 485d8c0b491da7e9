#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one operation in flight.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_daily --seed 1 --seconds 10 --trace 0

Builds the engine from ``src/main`` and the benchmark from
``perfbench/src`` into ``.bench_build/`` (cached by source hash), generates
the workload's inputs from ``--seed``, runs the JVM client, checks every
output, and prints a metrics table followed by one JSON line. ``--trace 1``
registers the benchmark's Spark listeners and reports per-layer metrics
instead of end-to-end ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("crawl_daily", "warehouse_queries", "iterative_ops")
WAREHOUSE_SF = 0.01
CRAWL_DOCS_PER_DAY = 4000
CRAWL_DAYS = 3          # generated days: one warm-up day plus at most two timed ones
DEADLINE_S = 160        # the JVM's share of the 180 s a run may take, build excluded
BUILD_DIR = ".bench_build"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the first
    `bin/../jars` of a PATH directory holding `spark-submit`."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    fail("no Spark jars: set SPARK_HOME or put Spark's bin/ on PATH")


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, res, bench


def _scalac(jars, out, classpath, srcs, log):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(classpath), *srcs]
    with open(log, "a") as fh:
        if subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode != 0:
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail("compile failed")


def build(root):
    """Compile the engine and the benchmark once per source state."""
    main, res, bench = _sources(root)
    if not main:
        fail("no engine sources under src/main/scala; run from the repository root")
    h = hashlib.sha256()
    for p in main + res + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    jars = spark_jars()
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    log = os.path.join(root, BUILD_DIR, "build.log")
    os.makedirs(out)
    _scalac(jars, os.path.join(out, "main"), jars, main, log)
    for p in res:
        dst = os.path.join(out, "main", os.path.relpath(p, os.path.join(root, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(jars, os.path.join(out, "bench"), [os.path.join(out, "main")] + jars, bench, log)
    open(os.path.join(out, "ok"), "w").close()
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, args, work, deadline):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([os.path.join(classes, "bench"), os.path.join(classes, "main"), *spark_jars()])
    # no hsperfdata file: the run writes only inside the checkout
    cmd = ["java", *opens, "-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM ended with {code}")


def quantile(xs, q):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res, t_setup0):
    """The user-visible numbers of one run, plus the issue's named ones."""
    ops = res["ops"]
    walls = [o["wall_s"] for o in ops]
    named = {}
    if res["workload"] == "crawl_daily":
        by_day = {}
        for o in ops:
            if o["kind"] != "compact":
                by_day.setdefault(o["round"], {}).setdefault(o["kind"], 0.0)
                by_day[o["round"]][o["kind"]] += o["wall_s"]
        days = list(by_day.values())
        for k in ("land", "read", "mor_day", "mor_read"):
            named[{"land": "land_day_s", "read": "read_s", "mor_day": "mor_day_s",
                   "mor_read": "mor_read_s"}[k]] = statistics.median(d.get(k, 0.0) for d in days)
        named["compact_s"] = sum(o["wall_s"] for o in ops if o["kind"] == "compact")
        # a median day plus the final compaction, so every timed path is gated
        sweep = statistics.median(sum(d.values()) for d in days) + named["compact_s"]
    else:
        per_q = {}
        for o in ops:
            per_q.setdefault(o["name"], []).append(o["wall_s"])
        sweep = sum(statistics.median(v) for v in per_q.values())
        # a tail percentile is reported only with ten samples beyond it
        named["query_p50_s"] = statistics.median(walls)
        if len(walls) >= 100:
            named["query_p90_s"] = quantile(walls, 0.90)
        if len(walls) >= 200:
            named["query_p95_s"] = quantile(walls, 0.95)
    named["peak_rss_mb"] = res["peak_rss_mb"]
    m = {"setup_s": res["setup_done_ms"] / 1000.0 - t_setup0, "sweep_s": sweep,
         "op_p50_s": statistics.median(walls), "op_p75_s": quantile(walls, 0.75)}
    return m, named


def per_layer(res, facts):
    """Per-layer numbers of a traced run: medians over days (crawl), or per
    query medians summed over the sweep (queries). Layers a workload does not
    touch read 0."""
    d = res["detail"]
    vals = {}
    if res["workload"] == "crawl_daily":
        rows = [r["metrics"] for r in d["day_layers"]]
        for r, day in zip(rows, d["day_layers"]):
            lines = facts[day["day"]]["lines"]
            r["ingest.kept_ratio"] = r.get("ingest.rows_staged", 0.0) / lines
        keys = sorted({k for r in rows for k in r})
        vals = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
        vals.update(d["compact_layers"])
    else:
        per_q = {}
        for s in d["samples"]:
            per_q.setdefault(s["query"], []).append(s["metrics"])
        keys = sorted({k for ms in per_q.values() for m in ms for k in m})
        vals = {k: sum(statistics.median(m.get(k, 0.0) for m in ms) for ms in per_q.values())
                for k in keys}
    vals["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    return vals


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle-seed", type=int,
                    help="check against the expectations of another seed's inputs "
                         "(a negative probe: the checks must fail)")
    a = ap.parse_args()
    root = os.getcwd()
    classes = build(root)

    work = os.path.join(root, BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_setup0 = time.time()
        deadline = t_setup0 + DEADLINE_S
        cores = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cores", str(cores),
                "--out", os.path.join(work, "result.json")]
        facts = None
        if a.workload == "crawl_daily":
            facts = gen.crawl(os.path.join(work, "raw"), a.seed, CRAWL_DAYS, CRAWL_DOCS_PER_DAY)
            args += ["--data", os.path.join(work, "raw"), "--days", str(CRAWL_DAYS)]
        else:
            gen.warehouse(os.path.join(work, "data"), a.seed, WAREHOUSE_SF)
            args += ["--data", os.path.join(work, "data")]
        results_dir = os.path.join(root, BUILD_DIR, "results")
        os.makedirs(results_dir, exist_ok=True)
        stem = os.path.join(results_dir, f"{a.workload}-seed{a.seed}")
        if a.trace:
            args += ["--spans", f"{stem}-spans.jsonl"]
        t_jvm = time.time()
        run_jvm(classes, args, work, deadline)
        t_check = time.time()
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)

        # -- checks ---------------------------------------------------------
        oracle_seed = a.seed if a.oracle_seed is None else a.oracle_seed
        if a.workload == "crawl_daily":
            if oracle_seed != a.seed:
                facts = gen.crawl(os.path.join(work, "oracle-raw"), oracle_seed, CRAWL_DAYS,
                                  CRAWL_DOCS_PER_DAY)
            problems = check.crawl(res["detail"], facts)
        else:
            problems = check.queries(work, res["detail"]["queries"], a.seed, oracle_seed,
                                     WAREHOUSE_SF)
        for p in problems:
            print(f"CHECK FAILED  {p}")

        # -- report ---------------------------------------------------------
        ops = res["ops"]
        attempted = len(ops) + res["warmup_attempted"]
        failed = sum(1 for o in ops if not o["ok"]) + res["warmup_failed"]
        e2e, named = end_to_end(res, t_setup0)
        named["failed_frac"] = failed / attempted
        print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
              f"timed ops {len(ops)}  warm-up ops {res['warmup_attempted']}  "
              f"attempted {attempted}  failed {failed}")
        units = {"failed_frac": "ratio", "peak_rss_mb": "MB"}
        for k, v in {**e2e, **named}.items():
            print(f"  {k:<14} {v:12.4f} {units.get(k, 's')}")
        for e in res["warmup_errors"]:
            print(f"  warm-up failure: {e}")
        for o in ops:
            if not o["ok"]:
                print(f"  failed: {o['kind']} {o['name']}: {o['error'][:200]}")
        spec = load_spec()
        if a.trace:
            layers = per_layer(res, facts)
            print("  layer self time (s):")
            for row in res["layers"]:
                print(f"    {row['name']:<34} calls {row['calls']:5d}  total {row['total_s']:9.3f}"
                      f"  self {row['self_s']:9.3f}")
            base = f"{stem}-trace0.json"
            if os.path.exists(base):
                with open(base) as fh:
                    untraced = json.load(fh)
                print("  tracing overhead (traced - untraced, same seed):")
                for k in ("sweep_s", "op_p50_s", "op_p75_s"):
                    diff = e2e[k] - untraced[k]
                    print(f"    {k:<12} {diff:+.4f} s ({100 * diff / untraced[k]:+.1f}%)")
            else:
                print("  tracing overhead: run the same seed with --trace 0 first to compare")
            metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            print("  per-layer metrics:")
            for k, v in metrics.items():
                print(f"    {k:<34} {v['value']:16.4f} {v['unit']}")
        else:
            with open(f"{stem}-trace0.json", "w") as fh:
                json.dump(e2e, fh)
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(f"perfbench: build {t_setup0 - t_start:.1f} s, inputs {t_jvm - t_setup0:.1f} s, "
              f"jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s", file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
