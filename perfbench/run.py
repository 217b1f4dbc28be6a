#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's sources and the
benchmark (perfbench/src) with the Scala compiler shipped in Spark's jars
into .bench_build/perfbench; later runs reuse the classes while the sources
are unchanged. The run itself is one JVM on local[nproc] (see
perfbench/src/graft/perfbench/PerfBench.scala); its scratch files live under
.bench_build/perfbench/work and are removed afterwards, except the span log of
a traced run (.bench_build/perfbench/traces).

The last stdout line is the result JSON: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. A human-readable report goes to stderr.

    python3 perfbench/run.py --determinism --workload <name> --seed <n>

runs the workload twice with one seed and once with the next seed, and checks
that the query stream and the sampled top-k ids repeat with the seed and the
stream changes with it.
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

WORKLOADS = ("serve-head", "serve-tail", "ingest")
RUN_LIMIT_S = 170  # a run must end within 180 s
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        fail("graft's sources (src/main/scala) are not here; run from the repository root")
    if not bench:
        fail("the benchmark's sources (perfbench/src) are not here")
    return main + bench


def build(root, out, jars):
    """Compile graft + the benchmark once per source state; returns the classes dir."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(out, f"classes-{stamp}")
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, False
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        fail("compile failed")
    open(os.path.join(classes, ".done"), "w").close()
    print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, True


def run_jvm(args, classes, jars, work, budget_s):
    """Runs one workload in a fresh JVM; returns (result dict, stderr text)."""
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(jars, '*')}",
            "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"the run did not end within {budget_s:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    report = "\n".join(l for l in err.splitlines() if l.startswith("[perfbench]"))
    report += f"\n[perfbench] the JVM ran {time.time() - t0:.1f} s"
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"the benchmark JVM exited with code {p.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):]), report


def declared_metrics(root, trace):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def one_run(args, root):
    t0 = time.time()
    jars = spark_jars()
    out = os.path.join(root, ".bench_build", "perfbench")
    classes, built = build(root, out, jars)
    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        budget = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - t0)
        res, report = run_jvm(args, classes, jars, work, budget)
        if args.trace:
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            span_log = os.path.join(work, "trace.jsonl")
            if os.path.exists(span_log):
                shutil.move(span_log, os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.quiet:
        print(report, file=sys.stderr)
    want = declared_metrics(root, args.trace)
    if want is not None and sorted(want) != sorted(res["metrics"]):
        fail(f"metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(res['metrics']))}, "
             f"extra {sorted(set(res['metrics']) - set(want))}")
    nulls = [k for k, v in res["metrics"].items() if v["value"] is None]
    if nulls:
        fail(f"metrics without a value: {nulls}")
    return res, report


def determinism(args, root):
    """Same seed: same stream and top-k digests; next seed: another stream."""
    def digests(seed):
        a = argparse.Namespace(**{**vars(args), "seed": seed, "trace": 0, "quiet": True})
        _, report = one_run(a, root)
        return dict(re.findall(r"(stream_digest|topk_digest)=(\w+)", report))
    a, b, c = digests(args.seed), digests(args.seed), digests(args.seed + 1)
    ok = bool(a) and a == b and a.get("stream_digest") != c.get("stream_digest")
    print(f"[perfbench] seed {args.seed}: {a}; again: {b}; seed {args.seed + 1}: {c}",
          file=sys.stderr)
    print(json.dumps({"deterministic": ok}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--determinism", action="store_true")
    args = ap.parse_args()
    args.quiet = False
    root = os.getcwd()
    if args.determinism:
        return determinism(args, root)
    res, _ = one_run(args, root)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
