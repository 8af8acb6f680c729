#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload migrate|queries --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness with sbt (offline) and caches the classpath under `.perfbench/`;
inputs are generated from the seed under `.perfbench/data/`. The harness
JVM runs the workload in a closed loop for S seconds, the output checks
run after the timed window, and the last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The full record
(configuration, per-pass samples, failures with their causes, check
results) is written to `.perfbench/results/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen_migrate  # noqa: E402
import gen_tpch  # noqa: E402
import migrate_checks  # noqa: E402
from metrics import END_TO_END, MODULES, PER_LAYER, PIPELINES, QUERIES  # noqa: E402
import spans as spanlib  # noqa: E402

MB = float(1 << 20)
# Input sizes. sf0.02 gives d55 4000 parts and d4/d22 1000 documents (the
# generator's floor is 500); a larger scale costs more warm-up per run than
# the benchmark's run budget leaves. 5000 UDOs is where Spark job time
# becomes the larger part of a traced migration pass.
QUERY_SF = 0.02
MIGRATE_SIZE = 5000
# The --add-opens list the program's build.sbt gives forked runs (Spark on JDK 17).
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_HEAP = "-Xmx3g"
RUN_BUDGET_S = 170  # a run must end within 180 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def digest_tree(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(full)
            if "target" not in os.path.relpath(d, full).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_digest():
    return digest_tree(["build.sbt", "project/build.properties", "src/main",
                        "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
                        "perfbench/harness/src"])


def build():
    """Compile the program and the harness once per source state; return the
    run classpath."""
    digest = source_digest()
    bdir = os.path.join(WORK, "build")
    cp_file, dg_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "digest")
    if os.path.exists(cp_file) and os.path.exists(dg_file) and open(dg_file).read() == digest:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    log("building the program and the harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"sbt build failed (exit {p.returncode})", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(dg_file, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached by generator version."""
    gen = gen_migrate if workload == "migrate" else gen_tpch
    size = MIGRATE_SIZE if workload == "migrate" else QUERY_SF
    key = digest_tree([os.path.relpath(gen.__file__, ROOT)])[:12]
    path = os.path.join(WORK, "data", f"{workload}-seed{seed}-size{size}-{key}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, size)
        os.replace(tmp, path)
    return path, size


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(cp, workload, data, run_dir, seconds, trace, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), LC_ALL="C.UTF-8",
               SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, "spark-local"),
               SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"))
    result = os.path.join(run_dir, "record.json")
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        JVM_HEAP, "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
        "perfbench.Harness", "--workload", workload, "--data", data,
        "--out", os.path.join(run_dir, "out"), "--result", result,
        "--seconds", str(seconds), "--trace", str(trace)]
    if workload == "migrate":
        # Every real migration is a one-shot JVM: the untraced run measures
        # the cold pass. The traced run warms up first so that its traced
        # and untraced passes compare like with like.
        cmd += ["--warmup", "1" if trace else "0"]
    else:
        cmd += ["--warmup", "1", "--queries", ",".join(QUERIES)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {budget_s:.0f} s (log: {logf.name})", 1)
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {p.returncode}", 1)
    with open(result) as f:
        return json.load(f), nproc


def oracle_check(data, verify_dir):
    """Hash-compare each query result to its DuckDB oracle through
    tools/check_oracle.py; returns name -> None (pass) or the reason."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data, verify_dir], capture_output=True, text=True, timeout=120)
    out = {}
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            out[line[5:].strip()] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(" :: ")
            out[name.strip()] = why or "FAIL"
    if not out:
        out["<oracle>"] = f"check_oracle.py exited {p.returncode}: {p.stderr[-500:]}"
    return out


def checks_rows(verify_dir):
    """Result rows per pass: the row counts of the checked query outputs."""
    rows = 0
    for d, _, fs in os.walk(verify_dir):
        rows += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                    for f in fs if f.endswith(".parquet"))
    return rows


def op_seconds(op):
    """A successful operation's time sample; failed ones give none."""
    if not op.get("ok") or op.get("start_ms") is None:
        return None
    if op.get("elapsed_ms") is not None:
        return op["elapsed_ms"] / 1e3
    return (op["end_ms"] - op["start_ms"]) / 1e3


def pass_wall(p, workload):
    if workload == "migrate":
        return (p["end_ms"] - p["start_ms"]) / 1e3
    return sum(op_seconds(o) or 0.0 for o in p["ops"])


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def end_to_end(setups, workload, passes, result_rows):
    walls = [pass_wall(p, workload) for p in passes]
    wall = median(walls)
    per_op = {}
    for p in passes:
        for o in p["ops"]:
            s = op_seconds(o)
            if s is not None and s > 0:
                per_op.setdefault(o["name"], []).append(s)
    meds = [statistics.median(v) for v in per_op.values()]
    geo = math.exp(sum(math.log(x) for x in meds) / len(meds)) if meds else 0.0
    return {
        "setup_s": median(setups),
        "wall_s": wall,
        "op_geomean_s": geo,
        "rows_per_s": result_rows / wall if wall > 0 else 0.0,
        "peak_cached_mb": median([p["peak_cached_bytes"] for p in passes]) / MB,
    }


def per_layer(rec, workload, untraced, traced, errors, attempted, out_stats, run_id):
    """Per-layer metrics from the traced passes (medians when there are
    several), and the spans of those passes. Metrics of layers this
    workload does not run read 0."""
    tr = rec["trace"]
    per_pass, all_spans = [], []
    violations = 0
    for p in traced:
        sp = spanlib.build(p, tr["jobs"], tr["stages"], workload)
        violations += len(spanlib.nesting_violations(sp))
        self_ms = spanlib.self_times(sp)
        all_spans += [{"run": run_id, **{k: v for k, v in s.items() if k != "stage"},
                       "self_ms": self_ms[s["id"]]} for s in sp]
        jobs = [s for s in sp if s["level"] == "job"]
        stages = [s["stage"] for s in sp if s["level"] == "stage"]
        job_owner = {s["id"]: s["name"] for s in jobs}
        m = {}
        m["exec.jobs"] = len(jobs)
        m["exec.stages"] = len(stages)
        m["exec.tasks"] = sum(s["num_tasks"] for s in stages)
        m["exec.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in stages) / MB
        m["exec.task_s"] = sum(s["run_ms"] for s in stages) / 1e3
        m["exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
        m["exec.spill_mb"] = sum(s["spill_disk_bytes"] for s in stages) / MB
        m["exec.task_skew"] = max([s["task_max_ms"] / max(s["task_median_ms"], 1.0)
                                   for s in stages if s["num_tasks"] > 1] or [1.0])
        ops = [s for s in sp if s["level"] in ("query", "pipeline")]
        # driver-only time: operation time during which no job of it ran
        kids = spanlib.children(sp)

        def job_intervals(sid):
            out = []
            for c in kids.get(sid, []):
                if c["level"] == "job":
                    out.append((c["start_ms"], c["end_ms"]))
                elif c["level"] in ("construct", "exec"):
                    out += job_intervals(c["id"])
            return out
        m["exec.driver_only_s"] = sum(
            (o["end_ms"] - o["start_ms"] - spanlib.covered(job_intervals(o["id"]), o["start_ms"],
                                                           o["end_ms"])) / 1e3 for o in ops)
        m["engine.cache.blocks"] = p["peak_cached_blocks"]
        m["io.read_mb"] = sum(s["input_bytes"] for s in stages) / MB
        m["io.read_rows"] = sum(s["input_records"] for s in stages)
        m["io.write_mb"] = sum(s["output_bytes"] for s in stages) / MB
        m["io.write_rows"] = sum(s["output_records"] for s in stages)
        for q in QUERIES:
            op = next((o for o in p["ops"] if o["name"] == q and o.get("ok")), None)
            qstages = [s for s in sp if s["level"] == "stage" and job_owner.get(s["parent"]) == q]
            m[f"queries.{q}.construct_s"] = (
                (op["construct_end_ms"] - op["start_ms"]) / 1e3 if op else 0.0)
            m[f"queries.{q}.exec_s"] = (op["end_ms"] - op["construct_end_ms"]) / 1e3 if op else 0.0
            m[f"queries.{q}.jobs"] = sum(1 for j in jobs if j["name"] == q)
            m[f"queries.{q}.shuffle_mb"] = sum(
                s["stage"]["shuffle_write_bytes"] for s in qstages) / MB
        pipes = {o["name"]: o for o in p["ops"]} if workload == "migrate" else {}
        for name in PIPELINES:
            m[f"pipeline.{name}.s"] = (op_seconds(pipes[name]) or 0.0) if name in pipes else 0.0
        modules = rec.get("pipeline_modules") or {}
        for mod in MODULES:
            m[f"pipeline.{mod}_s"] = sum(op_seconds(o) or 0.0 for n, o in pipes.items()
                                         if modules.get(n) == mod)
        m["pipeline.jobs_per_pipeline"] = len(jobs) / len(pipes) if pipes else 0.0
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update(out_stats)
    res_s = out["pipeline.resolutions.s"]
    out["io.objects_per_s"] = out["io.objects_written"] / res_s if res_s > 0 else 0.0
    out["trace.overhead_s"] = (median([pass_wall(p, workload) for p in traced]) -
                               median([pass_wall(p, workload) for p in untraced]))
    out["trace.nesting_violations"] = violations
    out["exec.planning_s"] = sum(tr["planning_ms"]) / 1e3 / max(len(traced), 1)
    out["engine.cold_setup_s"] = rec["cold_setup_s"]
    out["error_rate"] = errors / attempted if attempted else 0.0
    assert set(out) == set(PER_LAYER), set(out) ^ set(PER_LAYER)
    return out, all_spans


def output_stats(out_dir):
    """Files the sinks wrote and objects the upload stored, for the pass
    whose output is on disk."""
    files = objects = obj_bytes = 0
    for d, _, fs in os.walk(out_dir):
        in_objects = f"{os.sep}_objects" in d
        for f in fs:
            if in_objects:
                objects += 1
                obj_bytes += os.path.getsize(os.path.join(d, f))
            elif f.startswith("part-") and f.endswith(".parquet"):
                files += 1
    return {"io.files_written": files, "io.objects_written": objects,
            "io.objects_mb": obj_bytes / MB}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["migrate", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/Main.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout of the repository")
    t_start = time.time()
    cp = build()
    t_budget = time.time()
    data, size = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        budget = RUN_BUDGET_S - 25 - (time.time() - t_budget)
        rec, nproc = run_harness(cp, a.workload, data, run_dir, a.seconds, a.trace, budget)
        passes = rec["passes"]
        timed = [p for p in passes if p["kind"] != "warmup"]
        untraced = [p for p in timed if p["kind"] == "untraced"]
        traced = [p for p in timed if p["kind"] == "traced"]

        # ---- output checks (outside the timed window) ----
        checks, bad_ops = {}, set()
        if a.workload == "migrate":
            last = passes[-1]["ops"][0]["out"]
            with open(os.path.join(data, "expected.json")) as f:
                expected = json.load(f)
            checks = migrate_checks.check(last, expected,
                                          os.path.join(HERE, "migrate_schema.json"))
            bad_ops = {t for t, why in checks["tables"].items() if why}
            result_rows = checks["rows_written"]
        else:
            verdict = oracle_check(data, os.path.join(run_dir, "out", "verify"))
            checks = {"oracle": verdict}
            bad_ops = {q for q in QUERIES if verdict.get(q, "missing from the oracle report")}
            result_rows = checks_rows(os.path.join(run_dir, "out", "verify"))

        # ---- failure accounting: every operation of every pass ----
        attempted, failures = 0, []
        for p in passes:
            for o in p["ops"]:
                attempted += 1
                if not o.get("ok"):
                    failures.append({"pass": p["index"], "op": o["name"],
                                     "class": o.get("error_class"),
                                     "message": o.get("error_message")})
                elif o["name"] in bad_ops:
                    failures.append({"pass": p["index"], "op": o["name"],
                                     "class": "OutputCheckFailed",
                                     "message": str(checks.get("tables", checks.get("oracle", {}))
                                                    .get(o["name"]))})
        failed = len(failures)

        stats = output_stats(passes[-1]["ops"][0]["out"]) if a.workload == "migrate" else {
            "io.files_written": 0, "io.objects_written": 0, "io.objects_mb": 0.0}
        e2e = end_to_end(rec["warm_setup_s"], a.workload, untraced, result_rows)
        run_id = os.path.basename(run_dir)
        metrics, spans = (per_layer(rec, a.workload, untraced, traced, failed, attempted, stats,
                                    run_id) if a.trace else (e2e, []))
        config = dict(rec["config"], nproc=nproc, heap=JVM_HEAP, workload=a.workload,
                      seed=a.seed, size=size, data_dir=os.path.relpath(data, ROOT),
                      run_seconds=a.seconds, commit=git_commit(), source_digest=source_digest(),
                      queries=QUERIES if a.workload == "queries" else None)
        correct = failed == 0
        detail = {"config": config, "correct": correct, "attempted": attempted, "failed": failed,
                  "failures": failures, "checks": checks, "end_to_end": e2e, "trace": a.trace,
                  "metrics": metrics, "cold_setup_s": rec["cold_setup_s"],
                  "warm_setup_s": rec["warm_setup_s"], "spans": spans,
                  "passes": [{"kind": p["kind"], "wall_s": pass_wall(p, a.workload),
                              "peak_cached_mb": p["peak_cached_bytes"] / MB,
                              "ops": {o["name"]: op_seconds(o) for o in p["ops"]}}
                             for p in passes]}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        out_file = os.path.join(WORK, "results",
                                f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(out_file, "w") as f:
            json.dump(detail, f, indent=1, default=str)
        for fl in failures:
            log(f"FAILED {fl['op']} (pass {fl['pass']}): {fl['class']}: "
                f"{str(fl['message'])[:300]}")
        log("config " + json.dumps({k: config[k] for k in (
            "nproc", "spark_graft_cpus", "shuffle_partitions", "local_dir", "xmx",
            "java_version", "spark_version", "commit", "data_dir", "seed", "size")}))
        log(f"error_rate {failed / attempted if attempted else 0.0:.4f} "
            f"({failed}/{attempted} operations failed); detail: {os.path.relpath(out_file, ROOT)}")
        for k, v in e2e.items():
            log(f"{k:16s} {v:.4f} {END_TO_END[k][0]}")
        units = {k: spec[0] for k, spec in {**END_TO_END, **PER_LAYER}.items()}
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"done in {time.time() - t_start:.0f} s")


if __name__ == "__main__":
    main()
