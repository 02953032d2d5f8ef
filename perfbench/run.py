#!/usr/bin/env python3
"""graft benchmark: one workload per run, measured from outside the engine.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness) with sbt; later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed and kept under
the work directory (.bench_build, or $CARGO_TARGET_DIR when it is a
relative path). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. With --workload all the
object has the same keys: correct and the counts cover every workload, and
each metric is named <workload>.<metric>. See perfbench/README.md.
"""
import argparse
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

import checks  # noqa: E402
import inputs  # noqa: E402
from stub import Stub  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ["gate_suite", "rest_enrich"]
HEAP = "3g"
# set-ups per run; the first is cold, setup_s is the median of the others
SETUP_REPS = 25
# untimed passes before timing starts: the cold pass, then, for
# gate_suite, more while the JIT is still making its short CPU-bound
# passes faster. rest_enrich's passes mostly wait on the stub: its second
# pass is within 10% of the later ones.
WARM_PASSES = {"gate_suite": 3, "rest_enrich": 1}
RUN_LIMIT_S = 175  # a run ends within 180 s once the build exists
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_root():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if os.path.isabs(d) or d.startswith(".."):
        d = ".bench_build"
    return os.path.join(ROOT, d)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

# --- build ------------------------------------------------------------------


def _sources():
    """Files whose content decides whether the build is current."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "harness")]:
        for d, dirs, names in os.walk(top):
            # skip build output: target/ and sbt's project/project/
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build(work):
    """sbt-compile the engine and the harness; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: engine sources (build.sbt, src/main) not found "
                         "next to perfbench/; run from a full checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(work, "build")
    cp_file = os.path.join(bdir, f"classpath-{stamp[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", "-XX:-UsePerfData", "-Dsbt.offline=true"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out or "classes" not in out[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = out[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"build took {time.time() - t0:.0f} s")
    return cp

# --- one run ------------------------------------------------------------------


def run_harness(cp, workload, run_dir, seconds, trace, extra, deadline):
    out = os.path.join(run_dir, "result.json")
    # java.io.tmpdir is shared by the runs in a checkout: gates keep their
    # declared persisted artifacts (content-keyed models and indexes) there
    tmp = os.path.join(os.path.dirname(os.path.dirname(run_dir)), "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args = dict(workload=workload, cores=cores(), seconds=seconds, trace=trace,
                setup_reps=SETUP_REPS, warm_passes=WARM_PASSES[workload],
                min_passes=2 if trace else 3, work=run_dir, out=out,
                trace_file=os.path.join(run_dir, "trace.json"), **extra)
    cmd += ["-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(run_dir, "harness.log"), "w") as lf:
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness ran past the time limit")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def declared_metrics():
    """(end_to_end, per_layer) metric units from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def one(workload, seed, seconds, trace, cp, work, deadline):
    meta = inputs.generate(workload, seed, os.path.join(work, "inputs"))
    run_dir = os.path.join(work, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stub = None
    extra = {}
    if workload == "gate_suite":
        data = os.path.join(run_dir, "data")
        inputs.copy_gate_data(data)
        gates = os.path.join(run_dir, "gates.txt")
        with open(gates, "w") as f:
            f.write("\n".join(meta["gates"]) + "\n")
        extra = dict(data=data, gates=gates, check_dir=os.path.join(run_dir, "check"))
    else:
        stub = Stub(meta["plan"], inputs.REST_SERVICE_MS).start()
        yaml = os.path.join(run_dir, "pipeline.yaml")
        with open(yaml, "w") as f:
            f.write(inputs.REST_YAML.format(host=stub.url))
        extra = dict(input=meta["input"], input_rows=meta["input_rows"], yaml=yaml,
                     out_dir=os.path.join(run_dir, "out"), stub=stub.url)
    try:
        res = run_harness(cp, workload, run_dir, seconds, trace, extra, deadline)
    finally:
        if stub:
            stub.stop()

    log(f"harness phases: {res['phase_s']}, set-up ms: "
        f"{[round(x['build_ms'] + x['register_ms']) for x in res['setup']]}")
    ops = res["ops"]
    attempted = sum(o["executions"] for o in ops)
    failed_ops = {o["name"]: o.get("error", "failed") for o in ops if o["failures"]}
    failed = sum(o["failures"] for o in ops)
    # output checks: a wrong result fails every execution of its operation
    wrong = {}
    duck = None  # (DuckDB seconds, the operations it covers)
    # rows one pass hands the client: the keys for rest_enrich, the rows
    # the gates return for gate_suite
    rows = sum(o["input_rows"] for o in ops)
    if workload == "gate_suite":
        wrong, oracle = checks.gate_oracle(extra["data"], extra["check_dir"])
        rows = checks.result_rows(extra["check_dir"], [o["name"] for o in ops])
        if trace:
            duck = (checks.duckdb_seconds(
                {t: f"SELECT * FROM read_parquet('{extra['data']}/{t}.parquet')"
                 for t in inputs.GATE_TABLES}, oracle), set(oracle))
    else:
        outs = sorted(os.path.join(extra["out_dir"], d) for d in os.listdir(extra["out_dir"]))
        bad = checks.rest_enrich(meta["plan"], meta["input"], outs)
        if bad:
            wrong = {workload: "; ".join(f"{k}: {v}" for k, v in sorted(bad.items()))}
    for name, reason in wrong.items():
        o = next(o for o in ops if o["name"] == name)
        failed += o["executions"] - o["failures"]
        failed_ops[name] = reason
    for name, reason in sorted(failed_ops.items()):
        log(f"FAIL {name}: {reason}")

    # a pass is one run of every operation; wall_s adds up each
    # operation's median over the timed passes
    times = [[t for t in o["times_ms"] if t == t] or [float("nan")] for o in ops]  # NaN: failed
    wall_s = sum(statistics.median(t) for t in times) / 1000
    pooled = [t for ts in times for t in ts]
    values = {
        "setup_s": statistics.median(s["build_ms"] + s["register_ms"] for s in res["setup"][1:]) / 1000,
        "wall_s": wall_s,
        "op_p50_ms": statistics.median(pooled),
        "rows_per_s": rows / wall_s,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    end_to_end, per_layer = declared_metrics()
    units = end_to_end
    if trace:
        values = dict(res["layers"])
        covered = sum(statistics.median(t) for o, t in zip(ops, times)
                      if duck and o["name"] in duck[1]) / 1000
        values["oracle.duckdb_ratio"] = covered / duck[0] if duck else 0.0
        units = per_layer
    info = [("fail_share", failed / attempted, "share"), ("operations", len(ops), "count"),
            ("timed_passes", len(ops[0]["times_ms"]), "count"),
            ("op_samples", len(pooled), "count")]
    for k, v, u in [(k, values[k], u) for k, u in units.items()] + info:
        print(f"{workload:12s} {k:28s} {v:14.6g} {u}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    work = work_root()
    cp = build(work)
    results = {}
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        # the time limit counts from here: a run that builds may take longer
        results[w] = one(w, a.seed, a.seconds, a.trace, cp, work, time.time() + RUN_LIMIT_S - 15)
    log(f"run took {time.time() - t_start:.1f} s")
    if a.workload != "all":
        print(json.dumps(results[a.workload]))
    else:
        rs = results.values()
        print(json.dumps({
            "correct": all(r["correct"] for r in rs),
            "attempted": sum(r["attempted"] for r in rs),
            "failed": sum(r["failed"] for r in rs),
            "metrics": {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
