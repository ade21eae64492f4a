#!/usr/bin/env python3
"""Serving-first benchmark of graft: one command, three workloads.

    python3 servebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the benchmark (sbt, offline)
into the ignored `.bench_build/` and `target/` directories when the sources
changed, runs the JVM half (servebench.Main) in a fresh JVM with a
watchdog, checks every distinct answer against DuckDB, and prints one JSON
line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. Spark and sbt logs go to stderr. The
trust stamps and session configs of each run are kept in
`.bench_build/records/`, the traced run's spans in `.bench_build/traces/`.
See servebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ARGS_FILE = os.path.join(BUILD, "java.args")
STAMP_FILE = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("agg_compute", "dashboard_reload", "batch_operators")
BUILD_TIMEOUT_S = 800
RUN_BUDGET_S = 170
HEAP = "3g"


def log(msg):
    print(f"[servebench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    digest = sources_digest()
    if os.path.isfile(ARGS_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                return
    log("building (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "servebench/launcher"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.isfile(ARGS_FILE):
        raise SystemExit(f"[servebench] build failed (exit {p.returncode})")
    with open(STAMP_FILE, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.monotonic() - t0:.1f} s")


def run_jvm(a, run_dir, deadline):
    cmd = ["java", "@" + ARGS_FILE, f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "servebench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", run_dir]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("watchdog: JVM over its time budget, killing it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def _unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_rps", "1/s"),
                         ("_frac", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def check(res):
    """(wrong, correct_n, correct_within) from the DuckDB oracle."""
    from oracle import Oracle
    oracle = Oracle(res["tables"])
    checks = res["checks"]
    if res["groups"]:
        bad = set()
        for c in checks:
            if not oracle.served_matches(c):
                bad.add((c["req"], c["hash"]))
                log(f"WRONG answer: {c['uri']}")
        ok = [g for g in res["groups"] if g["status"] == 200]
        wrong = sum(g["n"] for g in ok if (g["req"], g["hash"]) in bad)
        good = [g for g in ok if (g["req"], g["hash"]) not in bad]
        return wrong, sum(g["n"] for g in good), sum(g["within"] for g in good)
    wrong = correct = within = 0
    for c in checks:
        t0 = time.monotonic()
        ok = oracle.batch_matches(c)
        log(f"{c['name']}: checked in {time.monotonic() - t0:.1f} s")
        if ok:
            correct += c["n"]
            within += c["within"]
        else:
            wrong += c["n"]
            log(f"WRONG answer: {c['name']}")
    return wrong, correct, within


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "build.sbt"), spec_path]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); run from the repository root")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    os.makedirs(BUILD, exist_ok=True)
    ensure_build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        code = run_jvm(a, run_dir, time.monotonic() + RUN_BUDGET_S - (time.monotonic() - start))
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            log(f"JVM failed (exit {code}); no result")
            return 3
        with open(result_path) as f:
            res = json.load(f)
        t0 = time.monotonic()
        wrong, correct_n, within = check(res)
        log(f"checked {len(res['checks'])} answers in {time.monotonic() - t0:.1f} s")
        e2e = res["e2e"]
        attempted = res["attempted"]
        values = dict(e2e)
        values["rps"] = correct_n / res["wall_s"]
        values["slo_frac"] = within / attempted
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        names = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
        source = res["layers"] if a.trace else values
        if a.trace and a.workload not in {w["name"] for w in spec["workloads"]}:
            # a workload outside BENCHMARK.json also prints the layers only it has
            names += sorted(set(source) - set(names))
        # a layer the workload does not exercise reads 0
        metrics = {n: {"value": float(source.get(n, 0.0)) if a.trace else float(source[n]),
                       "unit": units.get(n, _unit(n))} for n in names}
        line = {"correct": wrong == 0, "attempted": attempted,
                "failed": res["errors"] + wrong, "metrics": metrics}

        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "stamps": res["stamps"], "e2e": values,
                  "samples": e2e.get("samples"), "slo_limit_ms": e2e.get("slo_limit_ms"),
                  "layers": res["layers"], "checked_answers": len(res["checks"]),
                  "wrong": wrong, "errors": res["errors"], "attempted": attempted}
        for sub in ("records", "traces"):
            os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(BUILD, "records", tag + ".json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(BUILD, "traces", tag + ".jsonl"))
        st = res["stamps"]
        log(f"stamps: nproc={st.get('nproc')} ambient_cores={st.get('ambient_cores'):.2f} "
            f"steal_cores={st.get('steal_cores'):.2f} canary_ms={st.get('canary_ms'):.1f} "
            f"samples={e2e.get('samples')} "
            f"checked={len(res['checks'])} wrong={wrong} errors={res['errors']}")
        print(json.dumps(line), flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
