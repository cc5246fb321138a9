#!/usr/bin/env python3
"""The repository's benchmark: two seeded, closed-loop workloads that call
the library's public functions from outside, with every output checked.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline) and caches the classpath under .perfbench/;
later runs start the JVM directly. Each run generates its inputs from the
seed into a fresh directory under .perfbench/, measures for S seconds,
checks the outputs, deletes the directory, keeps a record under
.perfbench/records/ and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (LAYERS.md).
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

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("ohlc_stream", "tradelog_io")
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# a run must end within 180 s, or 900 s when it builds; keep a margin for
# the checks after the JVM
RUN_LIMIT_S, BUILD_RUN_LIMIT_S, MARGIN_S = 180, 900, 15

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Workload sizes. Input is generated for more operations than a run can
# use, so no run ends early for want of input.
OHLC = {"rows_per_batch": 20_000, "warm": 5, "batches_per_s": 1.2}
LLM = {"n_docs": 500, "n_vecs": 500}
TRADELOG = {"rows_per_commit": 5000, "warm": 3, "optimize_every": 5, "commits_per_s": 2.5}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in ("src/main", "project/build.properties", "build.sbt",
                "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark with sbt, offline, once per
    source state; returns (the runtime classpath, whether it compiled)."""
    digest = sources_digest()
    cp_file = os.path.join(STATE, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_digest, cp = f.read().split("\n", 1)
        if saved_digest == digest:
            return cp.strip(), False
    log("building the library and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_RUN_LIMIT_S - RUN_LIMIT_S)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip(), True


def generate(workload, rng, run_dir, seconds, trace):
    """Writes the workload's inputs; returns (JVM arguments, truth)."""
    if workload == "ohlc_stream":
        n = OHLC["warm"] + int(seconds * OHLC["batches_per_s"]) + 5
        batches = gen.gen_trades(rng, os.path.join(run_dir, "ohlc", "pool"), n,
                                 OHLC["rows_per_batch"])
        return (["--warm", str(OHLC["warm"]), "--rows_per_batch", str(OHLC["rows_per_batch"])],
                {"batches": batches})
    n = TRADELOG["warm"] + int(seconds * TRADELOG["commits_per_s"]) + 5
    d = os.path.join(run_dir, "tradelog")
    reads, user_bytes = gen.gen_tradelog(rng, os.path.join(d, "pool"), n,
                                         TRADELOG["rows_per_commit"])
    with open(os.path.join(d, "reads.tsv"), "w") as f:
        f.writelines(f"{r['lo_us']}\t{r['hi_us']}\t{r['user']}\n" for r in reads)
    truth = {"reads": reads, "user_bytes": user_bytes}
    if trace:  # the corpus of the standalone LLM pass
        truth["llm"] = gen.gen_corpus(rng, os.path.join(run_dir, "llm"), LLM["n_docs"],
                                      LLM["n_vecs"])
    return (["--warm", str(TRADELOG["warm"]), "--optimize_every",
             str(TRADELOG["optimize_every"]), "--rows_per_commit",
             str(TRADELOG["rows_per_commit"])], truth)


def run_checks(workload, record, truth, run_dir):
    if workload == "ohlc_stream":
        return checks.check_ohlc(record, truth["batches"])
    fails, fig = checks.check_tradelog(record, truth["reads"], run_dir)
    fig["user_bytes"] = truth["user_bytes"]
    if "llm" in truth:
        llm_fails, llm_fig = checks.check_llm(record, truth["llm"], LLM["n_docs"])
        fails += llm_fails
        fig.update(llm_fig, n_checks=fig["n_checks"] + llm_fig["n_checks"])
    return fails, fig


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind: subprocess.run kills the JVM and the run directory goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from a checkout of the repository "
                         "(the library's build.sbt and sources are missing)")
    start = time.time()
    load_start = os.getloadavg()[0]
    cp, built = build()
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - MARGIN_S
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        jvm_args, truth = generate(a.workload, np.random.default_rng(a.seed), run_dir,
                                   a.seconds, a.trace)
        log(f"generated {a.workload} inputs in {time.time() - t0:.1f}s")
        # everything the JVM writes stays in the run directory: no perf-data
        # file, its own temp dir, and Spark's scratch from spark.local.dir
        cmd = ["java", *HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir}", "-Dspark.ui.enabled=false"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--dir", run_dir,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--seed", str(a.seed)] + jvm_args
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                           timeout=max(1.0, deadline - time.time()))
        if r.returncode != 0:
            raise SystemExit(f"perfbench: the JVM exited with {r.returncode}")
        with open(os.path.join(run_dir, "record.json")) as f:
            record = json.load(f)
        fails, fig = run_checks(a.workload, record, truth, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    # every operation and every output check counts as attempted; a failed
    # operation, a failed check in the JVM and a failed check here as failed
    failures = record["failures"] + fails
    attempted = len(record["ops"]) + fig.pop("n_checks") + len(record["failures"])
    failed = len(failures)
    if a.trace:
        metrics, self_ms = layers.per_layer(record, fig)
        units = layers.PER_LAYER
    else:
        metrics, self_ms = layers.end_to_end(record), None
        units = layers.END_TO_END
    meta = dict(record["meta"], seed=a.seed, git_commit=git_commit(),
                load1_before_jvm=load_start, heap_flag=" ".join(HEAP), item=record["item"])
    keep = {"workload": a.workload, "trace": a.trace, "meta": meta, "metrics": metrics,
            "setup_s": record["setup_s"], "failures": failures, "checks": fig,
            "self_ms": self_ms, "ops": len(record["ops"]),
            "latencies_ms": layers.latencies(record["ops"])}
    if a.trace:
        keep["spans"] = record["spans"]
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(os.path.join(STATE, "records",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(keep, f)
    for f in failures:
        log(f"FAILED {f}")
    log(f"{a.workload}: {len(record['ops'])} ops ({record['item']}) in "
        f"{record['elapsed_s']:.1f}s, load {meta['load1_start']:.2f}->{meta['load1_end']:.2f}, "
        f"cpu {meta['process_cpu_s']:.1f}s, nproc {meta['nproc']}, spark {meta['spark_version']}")
    for k, v in metrics.items():
        print(f"{k:40s} {v:14.4f} {units[k]}")
    print(f"{'latency samples':40s} {len(layers.latencies(record['ops'])):9d}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
