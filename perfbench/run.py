#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
runs one workload in a fresh JVM and prints its report. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload cdc_apply|cdc_serve|registry|all \
      --seed N --seconds S --trace 0|1

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of BENCHMARK.json and, when an untraced run of the same build,
workload, seed and length came first, the tracing overhead against it.

Everything the run builds or writes stays under the checkout: build
output in target/ directories and in the build directory (the
CARGO_TARGET_DIR environment variable, default .bench_build), the run's
stores, indexes and Spark scratch in a per-run directory there, which is
deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
# A workload pays JVM start, set-up and checks beside its measured seconds,
# and may overrun them by a read or a pass: it gets this allowance plus
# twice its seconds before the run is killed.
WORKLOAD_ALLOWANCE_S = 120
WORKLOADS = ("cdc_apply", "cdc_serve", "registry")
HEAP = "3g"
# Settings every run pins, so a parent run and a change run match.
PINNED_ENV = {"SPARK_GRAFT_STREAM_SHUFFLE": "8"}
# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return (REPO / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def source_stamp():
    """Hash of every input to the build."""
    h = hashlib.sha256()
    files = [REPO / "build.sbt", REPO / "project" / "build.properties",
             BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for d in (REPO / "src" / "main", BENCH_DIR / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(out):
    """Compiles engine and benchmark with sbt; returns the runtime classpath."""
    for need in (REPO / "build.sbt", REPO / "src" / "main" / "scala", BENCH_DIR / "build.sbt"):
        if not need.exists():
            fail(f"cannot build: {need.relative_to(REPO)} is missing")
    stamp = source_stamp()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def run_timeout(workload, seconds):
    n = len(WORKLOADS) if workload == "all" else 1
    return n * (WORKLOAD_ALLOWANCE_S + 2 * seconds)


def run_jvm(classpath, args, root, timeout):
    """Runs perfbench.Main; returns (exit code, stdout lines)."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    env.update(PINNED_ENV)
    tmp = root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", classpath, "perfbench.Main"] + args +
           ["--root", str(root), "--bench-dir", str(BENCH_DIR)])
    log = root.parent / f"jvm-{root.name}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {timeout:g} s; JVM log in {log}")
        finally:
            # the JVM has its own session, so stop it here on any way out
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-60:]))
    else:
        log.unlink()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so the JVM is stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload not in WORKLOADS + ("all",):
        fail(f"unknown workload {a.workload}")
    if not (REPO / "BENCHMARK.json").exists():
        fail("BENCHMARK.json is missing")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())

    out = build_dir()
    classpath = build(out)
    # untraced figures, per build, for the tracing overhead of traced runs
    results = out / "results" / source_stamp()[:16]
    results.mkdir(parents=True, exist_ok=True)
    key = f"{a.workload}-seed{a.seed}-{a.seconds:g}s"

    def e2e_line(lines):
        for ln in lines:
            if ln.startswith("perfbench-e2e: "):
                return json.loads(ln[len("perfbench-e2e: "):])
        return None

    cached = results / f"{key}.json"
    untraced = json.loads(cached.read_text()) if a.trace == 1 and cached.exists() else None

    root = out / f"run-{os.getpid()}"
    try:
        code, lines = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                          "--seconds", f"{a.seconds:g}", "--trace", str(a.trace)], root,
                             run_timeout(a.workload, a.seconds))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if not lines:
        fail("the benchmark JVM printed nothing")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail("the benchmark JVM did not end with a JSON result")
    for ln in lines[:-1]:
        print(ln)
    e2e = e2e_line(lines)
    if a.trace == 0 and code == 0 and e2e is not None:
        (results / f"{key}.json").write_text(json.dumps(e2e))
    if a.trace == 1:
        if untraced is not None and e2e is not None:
            print("tracing overhead (traced minus untraced, same workload and seed):")
            for k in sorted(set(e2e) & set(untraced)):
                d = e2e[k] - untraced[k]
                print(f"  {k:<28} {d:+14.4f}  ({100 * d / untraced[k]:+.1f}%)" if untraced[k] else f"  {k:<28} {d:+14.4f}")
            if "op_cpu_mean_ms" in e2e and "op_cpu_mean_ms" in untraced:
                result["metrics"]["trace.overhead_op_cpu_mean_ms"] = {
                    "value": e2e["op_cpu_mean_ms"] - untraced["op_cpu_mean_ms"], "unit": "ms"}
        else:
            print("tracing overhead: needs an untraced run of this build, workload, seed and length first")
    if a.workload != "all":
        # the line carries exactly the metrics BENCHMARK.json names; a
        # per-layer metric the workload does not exercise reads 0
        got = result["metrics"]
        if a.trace == 1:
            result["metrics"] = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                                 for m in spec["per_layer"]}
        else:
            result["metrics"] = {m["name"]: got[m["name"]] for m in spec["end_to_end"] if m["name"] in got}
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
