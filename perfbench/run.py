#!/usr/bin/env python3
"""Benchmark of the graft Spark library: one workload, one seed, one run.

    python3 perfbench/run.py --workload parking --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The script builds the library and the
benchmark with sbt (only when a source changed), generates the
workload's inputs from the seed, runs the timed passes in one JVM
(perfbench/src/main/scala/perfbench/Main.scala), checks the outputs and
prints one JSON line last: every end-to-end metric of BENCHMARK.json
with --trace 0, every per-layer metric with --trace 1. NOTES.md explains
the workloads and metrics.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 175      # a run must end within 180 s
# A fixed heap and young generation: G1 then touches the same memory
# from run to run, so peak_rss_mb tracks the program, not heap sizing.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles with sbt when a source changed; returns the classpath."""
    out = os.path.join(BENCH, ".build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, setup_s):
    passes = res["passes"]
    later = [p for p in passes[1:] if not p["traced"]]
    op_secs = sorted(o["sec"] for p in later for o in p["ops"])
    return {
        "setup_s": setup_s,
        "first_pass_s": passes[0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in later]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"later_passes": len(later),
        "op_latency_s": {"samples": len(op_secs), "p50": median(op_secs),
                         "max": op_secs[-1]}}


COUNTERS = {  # per-layer counter -> (per-op counter, scale, combine)
    "driver.stages": ("stages", 1, sum),
    "driver.gap_s": ("gap_s", 1, sum),
    "scan.rows": ("scan_rows", 1, sum),
    "scan.mb": ("scan_bytes", 1 / 2**20, sum),
    "task.run_s": ("run_s", 1, sum),
    "task.cpu_s": ("cpu_s", 1, sum),
    "task.gc_s": ("gc_s", 1, sum),
    "exchange.write_mb": ("shuffle_bytes", 1 / 2**20, sum),
    "exchange.records": ("shuffle_records", 1, sum),
    "exchange.skew": ("skew", 1, max),
    "spill.mb": ("spill_bytes", 1 / 2**20, sum),
    "storage.mb": ("storage_bytes", 1 / 2**20, sum),
}


def per_layer(res, names):
    passes = res["passes"][1:]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    values = {n: 0.0 for n in names}
    for p_ops in ("ops", "traced_ops"):
        by_metric = {}
        for p in traced:
            for o in p[p_ops]:
                by_metric.setdefault(o["metric"], []).append(o["sec"])
        for m, xs in by_metric.items():
            values[m] = median(xs)
    values["driver.jobs"] = median(
        [sum(o["jobs"] for o in p["ops"]) for p in traced])
    for name, (key, scale, combine) in COUNTERS.items():
        values[name] = median([combine(o["counters"][key] for o in p["ops"])
                               * scale for p in traced])
    values["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                                  - median([p["wall_s"] for p in untraced]))
    values["trace.unexplained_s"] = median(
        [p["wall_s"] - sum(o["sec"] for o in p["ops"]) for p in traced])
    unknown = set(values) - set(names)
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return values


def op_table(op_runs, jobs):
    """Every op's metric, jobs per pass and time in each pass it ran."""
    table = {}
    for o in op_runs:
        row = table.setdefault(o["name"], {
            "metric": o["metric"], "jobs": jobs.get(o["name"], o["jobs"]),
            "sec": []})
        row["sec"].append(o["sec"])
    return table


def guard(res):
    """Memo-hit guard: every pass ran in its own application, and each
    op started the same number of jobs in every pass."""
    problems = []
    apps = [p["app_id"] for p in res["passes"]]
    if len(set(apps)) != len(apps):
        problems.append(f"applicationId repeats across passes: {apps}")
    jobs = {}
    for p in res["passes"]:
        for o in p["ops"]:
            jobs.setdefault(o["name"], []).append(o["jobs"])
    for name, counts in jobs.items():
        if len(set(counts)) != 1:
            problems.append(f"{name}: jobs per pass differ {counts}")
    return problems, {k: v[0] for k, v in jobs.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    # SIGTERM unwinds like an exception, so the JVM and the work
    # directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    spec_key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[spec_key]}
    spec_check = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(ROOT, "tools", "check.py"))
    repo_check = importlib.util.module_from_spec(spec_check)
    spec_check.loader.exec_module(repo_check)

    classpath = build()
    built = time.time()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(BENCH, ".out")
    os.makedirs(out_dir, exist_ok=True)
    inputs = os.path.join(work, "inputs")
    try:
        # input generation is the benchmark's own Python, so it stays
        # out of setup_s: no change to the program could move it
        os.makedirs(inputs)
        t0 = time.perf_counter()
        props, truth = gen.GENERATORS[args.workload](args.seed, inputs)
        gen_s = time.perf_counter() - t0

        # a traced run's traced later pass is the first or the second,
        # alternating with the seed (see Main.scala)
        traced_pass = 1 + args.seed % 2 if args.trace else 0
        result_path = os.path.join(work, "result.json")
        spans_path = os.path.join(out_dir, f"spans-{tag}.jsonl")
        # no hsperfdata file, and temp files in the work directory: the
        # JVM writes nothing outside the checkout
        cmd = (["java"] + JVM_MEMORY + ADD_OPENS
               + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
               + ["-cp", classpath, "perfbench.Main", args.workload,
                  str(args.seconds), str(traced_pass), inputs,
                  os.path.join(work, "jvm"), result_path, spans_path])
        env = dict(os.environ, LANG="C.UTF-8")
        launched = time.time()
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env,
                                    stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(
                    timeout=max(DEADLINE_S - (time.time() - started), 10))
            except subprocess.TimeoutExpired:
                code = "a timeout"
            finally:
                # also on SIGTERM: never leave the JVM behind
                proc.kill()
                proc.wait()
        exited = time.time()
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {code}")
        with open(result_path) as f:
            res = json.load(f)

        jvm_start_s = res["main_ms"] / 1000.0 - launched
        setup_s = jvm_start_s + median(res["setup_s"])

        problems, jobs = guard(res)
        op_runs = [o for p in res["passes"]
                   for o in p["ops"] + p["traced_ops"]]
        failed_ops = [f"{o['name']}: {o['error']}" for o in op_runs
                      if o["error"]]
        failed_ops += [f"{o['name']}: did not end in one full-output write"
                       for o in op_runs if not o["error"] and not o["wrote"]]
        failed_checks = [f"{d['name']}: {d['error']}"
                         for d in res["dump_errors"]]
        t0 = time.perf_counter()
        check_results = checks.run(args.workload, res, inputs, truth,
                                   repo_check)
        check_s = time.perf_counter() - t0
        failed_checks += [c for c in check_results if not c.startswith("OK")]

        if args.trace:
            values = per_layer(res, units)
            info = {}
        else:
            values, info = end_to_end(res, setup_s)
        missing = set(units) - set(values)
        if missing:
            fail(f"no value for {sorted(missing)}")

        attempted = len(op_runs) + len(check_results) + len(res["dump_errors"])
        failed = len(failed_ops) + len(failed_checks)
        correct = not problems and failed == 0
        artifact = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "cores": res["cores"], "inputs": props,
            "setup": {"gen_s": gen_s, "jvm_start_s": jvm_start_s,
                      "session_and_warmup_s": res["setup_s"]},
            **info,
            "ops": op_table(op_runs, jobs),
            "passes": [{"app_id": p["app_id"], "traced": p["traced"],
                        "wall_s": p["wall_s"]} for p in res["passes"]],
            "memo_guard": problems or "OK",
            "check_s": {"dumps": res["check_dump_s"], "compare": check_s},
            "run_s": time.time() - started,
            "phases_s": {
                "build": built - started, "generate": gen_s,
                "jvm_start": jvm_start_s,
                "setup_and_passes": (res["passes_end_ms"]
                                     - res["main_ms"]) / 1000.0,
                "check_dumps": (res["done_ms"]
                                - res["passes_end_ms"]) / 1000.0,
                "jvm_exit": exited - res["done_ms"] / 1000.0,
                "compare": check_s},
            "checks": check_results, "failed_ops": failed_ops,
            "failed_checks": failed_checks,
            "spans": os.path.relpath(spans_path, ROOT) if args.trace else None,
            "metrics": values}
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(artifact, f, indent=1, ensure_ascii=False)
        for msg in problems + failed_ops + failed_checks:
            print(f"FAIL {msg}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
