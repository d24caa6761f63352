#!/usr/bin/env python3
"""One command for the whole benchmark.

    python3 perfbench/run.py --workload <serve|ingest> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program and the
benchmark client (perfbench/build.sh) into $CARGO_TARGET_DIR (default
.bench_build) when their sources changed, and for serve builds the
checkout's serving root once (timed cold materializes). Each run
then makes the workload's schedule from the seed, runs one JVM on a
local[nproc] Spark session, checks every output against DuckDB
recomputes, and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it stamps the run (cores, heap, JDK,
Spark, commit, seed, schedule digest, failed checks).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 150
PREPARE_TIMEOUT_S = 600
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of what the build compiles."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/harness", "perfbench/build.sh"):
        top = os.path.join(root, top)
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top) \
            else os.walk(top)
        for d, dirs, files in walk:
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out, digest):
    stamp = os.path.join(out, "SOURCE_DIGEST")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    print(f"perfbench: building into {out}", file=sys.stderr)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], cwd=root,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as f:
        f.write(digest)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars", "*")


def commit(root, digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"source-{digest}"


def run_jvm(classes, run_dir, args, timeout_s):
    """Run the client in its own java.io.tmpdir, warehouse and
    checkpoint directories under run_dir; return its result.json."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{spark_jars()}", "perfbench.Main",
            "--run-dir", run_dir, "--cpus", str(len(os.sched_getaffinity(0)))] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"the JVM did not finish within {timeout_s} s (log: {log_path})")
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        die(f"the JVM exited with {proc.returncode} (log: {log_path}):\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def serving_cache(root, build_dir, classes, digest):
    """The checkout's serving root, materialized and replicated, and
    the median times of its cold starts; built on first use."""
    cache = os.path.join(build_dir, "perfbench-serving")
    meta_path = os.path.join(cache, "materialize.json")
    digest = f"{digest}:{inputs.DATASET}"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["digest"] == digest:
            return cache, meta
    shutil.rmtree(cache, ignore_errors=True)
    data = os.path.join(cache, "data")
    anchor_ms = inputs.write_events(os.path.join(data, "events.parquet"))
    run_dir = os.path.join(root, ".bench_runs", f"prepare-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    firsts = os.path.join(run_dir, "first_calls.tsv")
    inputs.first_calls(firsts, anchor_ms)
    print("perfbench: building the serving root (timed cold starts)", file=sys.stderr)
    res = run_jvm(classes, run_dir, ["--workload", "prepare-serving", "--trace", "0",
                                     "--data-dir", data, "--requests", firsts,
                                     "--root-out", os.path.join(cache, "root")],
                  PREPARE_TIMEOUT_S)
    meta = dict(res["e2e"], digest=digest, anchor_ms=anchor_ms,
                cold_runs_s=res["facts"]["cold_runs_s"])
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return cache, meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the repository root: src/main/scala/graft is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")

    digest = source_digest(root)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(build_dir, "perfbench-classes")
    build(root, classes, digest)
    run_dir = os.path.join(root, ".bench_runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--trace", str(a.trace)]
    if a.workload == "serve":
        cache, meta = serving_cache(root, build_dir, classes, digest)
        sched, sched_digest = inputs.generate("serve", a.seed, a.seconds, run_dir,
                                              meta["anchor_ms"])
        args += ["--data-dir", os.path.join(cache, "data"), "--requests", sched,
                 "--serving-root", os.path.join(cache, "root"),
                 "--materialize-s", str(meta["materialize_s"]),
                 "--replicate-s", str(meta["replicate_s"])]
    else:
        sched, sched_digest = inputs.generate("ingest", a.seed, a.seconds, run_dir)
        args += ["--ingest-due", sched, "--seconds", str(a.seconds)]
    t0 = time.time()
    res = run_jvm(classes, run_dir, args, JVM_TIMEOUT_S)

    # output checks beside the ones the client made
    if a.workload == "serve":
        con = oracle.connect(os.path.join(cache, "data", "events.parquet"))
        checked, fails = oracle.check_answers(con, os.path.join(run_dir, "answers.jsonl"))
    else:
        checked, fails = 3, oracle.check_ingest(res["facts"],
                                                os.path.join(run_dir, "ingest_expected.json"))
    failures = res["failures"] + fails
    failed = res["failed"] + len(fails)

    if a.trace == 0:
        names, values = spec["end_to_end"], dict(res["e2e"])
        missing = [m["name"] for m in names if m["name"] not in values]
        if missing:
            die(f"end-to-end metrics not measured: {missing}")
    else:
        names, values = spec["per_layer"], dict(res["layer"])
        # the traced run's own end-to-end numbers: minus an untraced
        # run's, they give the tracing overhead
        values.update({f"trace.{k}": v for k, v in res["e2e"].items()})
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            values["trace.spans"] = float(sum(1 for _ in f))
    # a layer the workload does not pass through did no work there: 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}

    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "nproc": len(os.sched_getaffinity(0)), "master": res["facts"]["master"],
             "heap": HEAP, "jdk": res["facts"]["jdk"], "spark": res["facts"]["spark_version"],
             "commit": commit(root, digest), "schedule_digest": sched_digest,
             "answers_checked": checked, "jvm_s": round(time.time() - t0, 3),
             "facts": res["facts"], "failures": failures[:20]}
    keep = os.path.join(root, ".bench_runs", "results")
    os.makedirs(keep, exist_ok=True)
    if a.trace == 1:
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(keep, f"{a.workload}-s{a.seed}-spans.jsonl"))
        untraced = os.path.join(keep, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            stamp["trace_overhead"] = {k: res["e2e"][k] - v for k, v in base.items()}
    with open(os.path.join(keep, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "e2e": res["e2e"], "layer": res["layer"]}, f, indent=1)
    for msg in failures:
        print(f"perfbench: FAILED CHECK: {msg}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
