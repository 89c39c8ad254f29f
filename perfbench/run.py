#!/usr/bin/env python3
"""graft's benchmark: one seeded closed-loop workload per run.

Usage (from the repository root):
    python3 perfbench/run.py --workload sql_sf001|spatial_scale|geo_io \
        --seed N --seconds S --trace 0|1 [--smoke] [--pin]

Builds the library and the harness from source with the Scala compiler that
ships in Spark's jars (once per source digest, into .bench_build/), runs the
harness in one JVM with local[nproc], and prints as its last stdout line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The line before it is the full record: every metric, the errors, and the
environment (cpus, versions, source digest, loadavg, steal seconds).

--smoke runs tiny inputs (the benchmark's own test); --corrupt shifts one
expected value so the run must report a failed check; --pin rewrites the SQL
fingerprints in perfbench/fingerprints.json from this run's outputs (only
after cross-checking them against the DuckDB oracle, see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("sql_sf001", "spatial_scale", "geo_io")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail(f"no library sources under {root}/src/main/scala; run from the repository root")
    return main + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out, jars):
    """Compile library + harness into out/classes unless the digest matches."""
    files = sources(root)
    dig = digest(files)
    os.makedirs(out, exist_ok=True)
    stamp = os.path.join(out, "classes.sha256")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == dig and os.path.isdir(classes):
        return dig, 0.0
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(dig)
    return dig, time.time() - t0


def steal_seconds():
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def commit(root):
    if os.path.isdir(os.path.join(root, ".git")):
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL)
        if res.returncode == 0:
            return res.stdout.decode().strip()
    return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    start = time.time()
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    dig, build_s = build(root, out, jars)

    load0, steal0 = os.getloadavg()[0], steal_seconds()
    work = os.path.join(out, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    fingerprints = os.path.join(HERE, "fingerprints.json")
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", os.pathsep.join([os.path.join(out, "classes"),
                                os.path.join(root, "src/main/resources"), os.path.join(jars, "*")]),
        "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--workdir", work, "--smoke", "1" if args.smoke else "0",
        "--fingerprints", fingerprints,
        "--trace-out", os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.json")]
    if args.pin:
        cmd += ["--pin", fingerprints]
    if args.corrupt:
        cmd += ["--corrupt", "1"]
    # one run ends within 180 s; the run that builds may take longer
    budget = (880 if build_s > 0 else 175) - (time.time() - start)
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=budget)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness did not finish within {budget:.0f} s")
    finally:
        load1, steal1 = os.getloadavg()[0], steal_seconds()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in res.stdout.decode(errors="replace").splitlines() if l.startswith("PERFBENCH ")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr.decode(errors="replace")[-6000:])
        fail(f"harness exited with {res.returncode}")
    rec = json.loads(lines[-1][len("PERFBENCH "):])
    rec["env"].update({
        "commit": commit(root), "source_sha256": dig, "build_s": round(build_s, 3),
        "nproc": os.cpu_count(), "loadavg_start": load0, "loadavg_end": load1,
        "steal_s": round(steal1 - steal0, 3) if steal0 >= 0 else -1.0,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
    })
    attempted, failed = rec["attempted"], rec["failed"]
    rec["fail_ratio"] = {"value": failed / attempted if attempted else 1.0,
                         "base": f"{failed} of {attempted} op executions"}
    for e in rec["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(rec))
    metrics = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
