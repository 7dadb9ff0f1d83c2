#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
runner from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run then

  1. generates the workload's inputs from --seed (gen.py),
  2. starts a fresh JVM in a private working directory (.bench_work/), so
     the engine's relative target/fixtures artifacts and java.io.tmpdir land
     there and are wiped per run,
  3. measures for --seconds (perfbench.Main), untraced with --trace 0 and
     with the benchmark's listeners with --trace 1,
  4. checks every result (oracle.py for batch keys; the JVM replays the
     stream as a batch), and
  5. prints a summary and, as its last line, the result object.

Hazard: the engine's `file_sink` key writes to an absolute path inside the
repository whatever the working directory; no workload runs it, but two
checkouts of the engine must never be benchmarked concurrently for A/B.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import oracle   # noqa: E402
import stats    # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")

CORPUS_DOCS = 2000
STREAM = dict(rate=200, warm=1000, burst=1500, bursts=5)
STREAM_OPEN_SHARE = 0.6   # of --seconds; the bursts take most of the rest
WORKLOADS = ("batch", "stream")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
# A fixed, pre-touched heap: a growing heap makes the resident set as noisy
# as the collector's sizing decisions. peak_rss_mb is then this heap plus
# the program's native peak; its heap use shows in retained_heap_mb.
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            for f in fs if "target" not in d.split(os.sep))
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + runner with sbt once per source state; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g").strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.startswith(os.sep)]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {BUILD}/build.log)")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def make_inputs(workload, seed, seconds, in_dir):
    if workload == "batch":
        gen.gen_star(in_dir, seed)
        gen.gen_corpus(in_dir, seed, CORPUS_DOCS)
    else:
        gen.gen_stream(in_dir, seed, open_seconds=STREAM_OPEN_SHARE * seconds, **STREAM)


def run_jvm(cp, workload, in_dir, work, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", workload, in_dir, work, str(seconds), str(trace)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} run exceeded its time limit (see {work}/jvm.log)")
    if rc != 0:
        fail(f"{workload} JVM exited with {rc} (see {work}/jvm.log)")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def batch_metrics(res, keys_failed):
    """Timings from the untraced passes; every timed execution is checked."""
    untraced = [s for s in res["samples"] if not s["traced"]]
    by_key = {}
    for s in untraced:
        by_key.setdefault(s["key"], []).append(s["sec"])
    secs = [s["sec"] for s in untraced]
    failed = sum(1 for s in res["samples"] if "err" in s or s["key"] in keys_failed)
    return {
        "pass_s": sum(stats.median(v) for v in by_key.values()),
        "query_p50_s": stats.median(secs),
        "query_p90_s": stats.percentile(secs, 0.9),
    }, len(secs), len(res["samples"]), failed


def stream_metrics(res):
    drains = [d["sec"] for d in res["drains"] if not d["traced"]]
    lat = res["latency_s"]
    return {
        "pass_s": stats.median(drains),
        "query_p50_s": stats.median(lat),
        "query_p90_s": stats.percentile(lat, 0.9),
    }, len(lat), int(res["attempted"]), int(res["failed"])


def layer_metrics(workload, res):
    """Medians over the traced passes, plus the tracing overhead."""
    names = sorted({k for p in res["layers"] for k in p})
    out = {k: stats.median([p.get(k, 0.0) for p in res["layers"]]) for k in names}
    out["engine.session_s"] = res["session_s"]
    if workload == "stream":
        units = [(d["sec"], d["traced"]) for d in res["drains"]]
        out.update(res.get("stream_layers", {}))
        lat = res["latency_s"]
        out["streaming.latency_p99_s"] = stats.percentile(lat, 0.99)
        out["streaming.capacity_eps"] = stats.median(
            [d["events"] / d["sec"] for d in res["drains"]])
        out["streaming.backlog_max"] = res["backlog_max"]
        out["streaming.generator_lag_s"] = res["generator_lag_s"]
    else:
        passes = {}
        for s in res["samples"]:
            passes.setdefault((s["pass"], s["traced"]), []).append(s["sec"])
        units = [(sum(v), t) for (_, t), v in sorted(passes.items())]
    out["trace.overhead"] = stats.overhead(units)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + 170
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine's sources are not here")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    deadline = max(deadline, time.time() + 160)   # a build does not eat the run's budget
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "input")
    make_inputs(a.workload, a.seed, a.seconds, in_dir)

    spawn_ms = time.time() * 1000
    res = run_jvm(cp, a.workload, in_dir, work, a.seconds, a.trace, deadline)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    problems = [f"{k}: warm-up failed: {e}" for k, e in res.get("warm_errors", {}).items()]
    if a.workload == "stream":
        m, pooled, attempted, failed = stream_metrics(res)
        problems += list(res["failures"].values())
    else:
        verdicts = oracle.check(in_dir, os.path.join(work, "results"), res["oracle_sql"],
                                sorted({s["key"] for s in res["samples"]}))
        bad = {k: v for k, v in verdicts.items() if v}
        problems += [f"{k}: {v}" for k, v in bad.items()]
        m, pooled, attempted, failed = batch_metrics(res, bad)
    m["setup_s"] = (res["setup_done_ms"] - spawn_ms) / 1000
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["retained_heap_mb"] = res["retained_heap_mb"]

    if a.trace:
        # a layer the workload never enters reads 0 (e.g. streaming.* on batch)
        values = layer_metrics(a.workload, res)
        metrics = {x["name"]: {"value": values.get(x["name"], 0.0), "unit": x["unit"]}
                   for x in bench["per_layer"]}
    else:
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in bench["end_to_end"]}
    for p in problems:
        print(f"FAILED {p}")
    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    n_beyond = stats.beyond(pooled, 0.9)
    print(f"{a.workload} query samples={pooled}, {n_beyond} beyond p90"
          + ("" if n_beyond >= stats.MIN_BEYOND else f" (fewer than {stats.MIN_BEYOND})"))
    print(f"{a.workload} correct={not problems and failed == 0} attempted={attempted} failed={failed}")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
