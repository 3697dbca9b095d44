#!/usr/bin/env python3
"""Engine benchmark runner: builds the engine and the harness, runs one
workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload entity_oltp --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds with sbt (offline);
later runs reuse the build while the sources are unchanged. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; earlier lines give each metric with
its unit and sample count, and the run's provenance.
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

import metrics  # noqa: E402

WORKLOADS = ("entity_oltp", "stream_cep", "corpus_pipeline")
JVM_HEAP = "3g"
# C1 only: a run lasts under a minute, most of which full tiered
# compilation would spend warming up, with its compiler threads taking
# cores from Spark's four task slots; C1 reaches steady speed in seconds.
# No hsperfdata file: a run writes only inside the checkout.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the engine's sources and the harness."""
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(root, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile with sbt unless the sources match the last build's."""
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return cp_file, digest
    log = os.path.join(work, "build.log")
    tmp = os.path.join(work, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                 f"-Djava.io.tmpdir={tmp}", "compile", "writeClasspath"],
                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(f"build failed; see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp_file, digest


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def declared(root, key):
    """(name, unit) of each metric BENCHMARK.json declares under `key`."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[key]]


def cpu_times():
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def commit_id(root, digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + digest[:16]


def run_jvm(cp_file, workload, seed, seconds, trace, run_dir):
    with open(cp_file) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "record.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{workload} did not finish within {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"{workload} exited with code {rc}; see {log}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp_file, digest = build(root, work)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_before = loadavg()
    steal0, total0 = cpu_times()
    t0 = time.time()
    try:
        record = run_jvm(cp_file, args.workload, args.seed, args.seconds, args.trace, run_dir)
    finally:
        # a failed run keeps its log (jvm.log) for inspection
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    steal1, total1 = cpu_times()
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": record["nproc"], "spark_master": record["spark_master"],
        "xmx": JVM_HEAP, "xmx_mb_effective": record["xmx_mb"], "jvm_opts": JVM_OPTS,
        "loadavg_1m_before": load_before, "loadavg_1m_after": loadavg(),
        # share of CPU time the hypervisor gave to other guests while the
        # JVM ran, to tell a slow host from a slow run
        "cpu_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "commit": commit_id(root, digest), "wall_s": round(time.time() - t0, 3),
    }
    result, report = metrics.evaluate(record)
    # every declared metric is in the result: a layer the workload does
    # not drive reads 0
    for name, unit in declared(root, "per_layer" if args.trace else "end_to_end"):
        if name in result["metrics"]:
            continue
        if not args.trace:
            die(f"end-to-end metric {name} was not measured")
        result["metrics"][name] = {"value": 0.0, "unit": unit}
        report.append(f"layer {name} = 0 {unit} (layer not driven by {args.workload})")
    print("provenance " + json.dumps(provenance, sort_keys=True))
    for line in report:
        print(line)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
