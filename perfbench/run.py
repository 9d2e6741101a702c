#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the root of a graft checkout. Compiles graft (src/main/scala)
and the harness (perfbench/scala) with the Scala compiler shipped in the
Spark distribution, runs one workload in one JVM, checks every op's
output against the generated inputs, and prints a report followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones.

Build outputs, inputs, Spark local dirs and span dumps live under
.bench_build/graftbench in the checkout.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats  # noqa: E402

WORKLOADS = ("kv_nearsync", "corpus_dedup")
END_TO_END = {"setup_s": "s", "op_a_p50_ms": "ms", "op_b_p50_ms": "ms", "peak_heap_MB": "MB"}

SPAN_COUNTERS = (("self_ms", "ms"), ("plan_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                 ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_MB", "MB"),
                 ("spill_MB", "MB"), ("input_MB", "MB"), ("output_MB", "MB"))
# Calls into graft that do Spark work: every counter. Set-up spans
# (KVBin.write) are per traced set-up, the rest per traced op.
WORK_SPANS = ("Checksum.verdict", "Diff.checksumPrunedDiff", "Dedup.minhashNearDup",
              "Dedup.dropNearDuplicates", "KVBin.write")
PER_LAYER = (
    [(f"{s}.{c}", u) for s in WORK_SPANS for c, u in SPAN_COUNTERS]
    + [("Dedup.clearCaches.self_ms", "ms"),
       ("KVBinServer.start.self_ms", "ms"), ("gen.self_ms", "ms"),
       ("op.self_ms", "ms"), ("op.wall_ms", "ms"), ("op.nonjob_ms", "ms"),
       ("scan_amplification", "ratio"), ("rediff_rows_per_diff_key", "ratio"),
       ("candidates_per_verified_pair", "ratio"),
       ("memo_touches_per_op", "count"), ("KVBinServer.scan_requests", "count"),
       ("KVBinServer.checksum_requests", "count"), ("trace.self_share", "ratio"),
       ("trace.overhead_ms", "ms"), ("trace.overhead_pct", "%")])

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "2g"
# Parallel GC with a fixed 1.5 GB young generation: an op allocates at
# most about 1.7 GB, so it meets at most one young collection, and no
# adaptive sizing changes that from run to run.
GC = ["-XX:+UseParallelGC", "-Xmn1536m", "-XX:-UseAdaptiveSizePolicy", "-XX:SurvivorRatio=6"]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory graft's own build declares
    (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        fail(f"no jars in {spark_jars_dir()}")
    return jars


def build(root, out_dir):
    """Compile graft + harness into out_dir/classes unless the sources
    are unchanged since the last build. Returns the classes dir."""
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not graft or not bench:
        fail("graft sources (src/main/scala) or harness sources (perfbench/scala) not found")
    jars = spark_jars()
    h = hashlib.sha256()
    for path in graft + bench:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp, classes = os.path.join(out_dir, "stamp"), os.path.join(out_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("the Spark distribution lacks the Scala compiler jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(graft + bench))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(jars), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def jvm_opens():
    return [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def classpath(classes):
    return classes + ":" + os.path.join(spark_jars_dir(), "*")


def run_jvm(classes, work, args):
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + GC
           + ["-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages", f"-Djava.io.tmpdir={tmp}"]
           + jvm_opens()
           + ["-cp", classpath(classes),
              "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    t0 = time.monotonic()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"harness exited {rc}; log: {log}")
    with open(out) as f:
        raw = json.load(f)
    raw["jvm_wall_s"] = time.monotonic() - t0
    return raw


def report(raw, args):
    """Human-readable lines: the end-to-end metrics under their
    workload-specific names, input hashes and sizes."""
    w = raw["workload"]
    attempted, failed, ratio = benchstats.failure_counts(raw.get("op_ok", []))
    print(f"graftbench {w} seed={raw['seed']} cores={raw['cores']} heap_max={raw['heap_max_MB']:.0f}MB "
          f"trace={args.trace} ops={attempted} failed={failed} jvm_wall={raw['jvm_wall_s']:.1f}s "
          f"session_ready={raw.get('session_ready_s', 0):.1f}s hash={raw.get('hash_s', 0):.1f}s")
    for e in raw.get("errors", []):
        print(f"  error: {e}")
    for k, v in sorted(raw.get("inputs", {}).items()):
        print(f"  input {w}.{k} content_hash={v}")
    print("  sizes " + " ".join(f"{k}={v:g}" for k, v in sorted(raw.get("sizes", {}).items())))
    if not raw.get("op_ms"):
        return
    e2e = benchstats.end_to_end(raw)
    a, b = benchstats.PARTS[w]
    parts = raw["parts_ms"]
    lines = [("setup_s", e2e["setup_s"], "s",
              f"median of {len(raw['setup_s'])} JIT-warm set-ups; the cold first took {raw['setup_cold_s']:.2f} s"),
             ("failed_ratio", ratio, "ratio", f"{failed}/{attempted}"),
             ("peak_heap_MB", e2e["peak_heap_MB"], "MB", "highest used heap after a full GC"),
             ("op_a_p50_ms", e2e["op_a_p50_ms"], "ms", f"median '{a}', n={len(parts[a])}"),
             ("op_b_p50_ms", e2e["op_b_p50_ms"], "ms", f"median '{b}', n={len(parts[b])}")]
    if w == "kv_nearsync":
        verify_s = e2e["op_a_p50_ms"] / 1e3
        lines.append(("verify_p50_s", verify_s, "s", "= op_a_p50_ms"))
        lines.append(("verify_MBps", raw["op_bytes"][0] / 1e6 / verify_s, "MB/s",
                      "both clusters' file bytes over the median verify"))
        lines.append(("range_check_p50_ms", e2e["op_b_p50_ms"], "ms", "= op_b_p50_ms"))
        t = benchstats.tail(parts[b])
        lines.append(("range_check_tail_ms", t[1] if t else float("nan"), "ms",
                      f"p{t[0]:g} of n={t[2]}, {t[3]} beyond" if t else f"n={len(parts[b])} < 20, no tail"))
    else:
        dedup_s = statistics.median(raw["op_ms"]) / 1e3
        lines.append(("dedup_p50_s", dedup_s, "s", f"whole op, n={attempted}"))
        lines.append(("dedup_docs_per_s", raw["sizes"]["docs"] / dedup_s, "docs/s", "over the median op"))
    for name, v, unit, note in lines:
        print(f"  {w}.{name} = {v:.6g} {unit}  {note}".rstrip())


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build", "graftbench")
    os.makedirs(out_dir, exist_ok=True)
    classes = build(root, out_dir)
    work = os.path.join(out_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(classes, work, args)
    report(raw, args)

    attempted, failed, _ = benchstats.failure_counts(raw.get("op_ok", []))
    correct = bool(raw.get("setup_ok")) and attempted > 0 and failed == 0
    if args.trace:
        layers = dict(raw.get("per_layer", {}))
        layers["trace.overhead_ms"], layers["trace.overhead_pct"] = benchstats.trace_overhead(raw)
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
        traces = os.path.join(out_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        dump = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), dump)
        for n, _ in PER_LAYER:
            print(f"  {args.workload}.{n} = {layers.get(n, 0.0):.6g}")
        print(f"  spans: {dump}")
        self_ok = layers.get("trace.self_share", 0.0) <= 1.0
        print(f"  self times sum to {100 * layers.get('trace.self_share', 0.0):.2f}% of the loop's op time"
              f" ({'ok' if self_ok else 'EXCEEDS wall'})")
        correct = correct and self_ok
    else:
        e2e = benchstats.end_to_end(raw) if attempted else {}
        metrics = {n: {"value": e2e.get(n, float("nan")), "unit": u} for n, u in END_TO_END.items()}
    for m in metrics.values():
        if isinstance(m["value"], float) and not math.isfinite(m["value"]):
            m["value"] = None
            correct = False
    if attempted == 0:  # set-up failed: report it as one failed op
        attempted = failed = 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
