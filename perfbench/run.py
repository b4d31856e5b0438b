#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 12 --trace 0

Builds the benchmark (library sources plus perfbench/src) with sbt on first
use, runs it in one JVM at local[4], and prints a summary line followed by
the result object as the last line of stdout. Exits 1 when a result was
wrong and 2 when the run could not complete. The full record of a run is
written to perfbench/work/<workload>-record.json, the spans of a traced run
to perfbench/work/<workload>-spans.jsonl.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
STAMP = os.path.join(BENCH, "target", "perfbench-classpath.json")
WORKLOADS = ("scan", "small_files")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the library's build.sbt
# passes the same set to its forked JVMs).
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


def source_hash():
    """Digest of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds if the sources changed since the last build; returns the runtime classpath."""
    want = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            st = json.load(fh)
        if st.get("hash") == want and all(os.path.exists(p) for p in st["classpath"]):
            return st["classpath"]
    print("perfbench: building (sbt)", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "-batch", "-error", "export Runtime/fullClasspath"], cwd=BENCH,
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        errs = [ln for ln in (p.stdout + p.stderr).splitlines() if "[error]" in ln]
        sys.stderr.write("\n".join(errs[-40:] or [p.stderr[-3000:]]) + "\n")
        fail("build failed")
    cp = lines[-1].split(os.pathsep)
    if not all(os.path.exists(x) for x in cp):
        fail(f"build printed no usable classpath: {lines[-1][:200]}")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": want, "classpath": cp}, fh)
    return cp


def summary(workload, result):
    """One compact line (at most 1500 characters) from the run's record."""
    try:
        with open(os.path.join(WORK, f"{workload}-record.json")) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        return f"perfbench {workload}: no record"
    cal = rec.get("calibration", {})
    loop = rec.get("open_loop") or {}
    parts = [
        f"perfbench {workload} seed={rec['seed']} trace={int(rec['trace'])}",
        f"correct={rec['correct']} attempted={rec['attempted']} failed={rec['failed']}"
        f" fail_frac={rec['fail_frac']:.4f}",
        f"op_tail={rec['op_tail']['percentile']}(n={rec['op_tail']['n']})",
        "rounds=" + ",".join(f"{x:.2f}" for x in rec["round_s_each"]),
        "setup=" + ",".join(f"{x:.2f}" for x in rec["setup_s_each"]),
        "cal_seq={:.3f}/{:.3f} cal_par={:.3f}/{:.3f} steal={:.3f}".format(
            cal.get("pre_seq_s", 0), cal.get("post_seq_s", 0),
            cal.get("pre_par_s", 0), cal.get("post_par_s", 0), cal.get("measured_steal_frac") or 0),
    ]
    if loop:
        parts.append("intake rate={} files={} lag_p50={:.3f}s lag_p95={:.3f}s late_max={:.1f}ms".format(
            loop.get("rate_files_per_s"), loop.get("files"), loop.get("intake_lag_p50_s") or 0,
            loop.get("intake_lag_p95_s") or 0, loop.get("generator_late_ms_max") or 0))
    if rec.get("mismatches"):
        parts.append("mismatch: " + rec["mismatches"][0][:300])
    if rec.get("errors"):
        parts.append("error: " + rec["errors"][0][:300])
    parts.append(f"record=perfbench/work/{workload}-record.json")
    return " | ".join(parts)[:1500]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found next to perfbench/")

    cp = classpath()
    os.makedirs(WORK, exist_ok=True)
    for f in (f"{a.workload}-record.json", f"{a.workload}-spans.jsonl"):
        if os.path.exists(os.path.join(WORK, f)):
            os.remove(os.path.join(WORK, f))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a pre-touched fixed heap keeps peak RSS from depending on when the
    # collector grew the heap; RSS above the heap is the JVM's native memory
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.home={BENCH}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK])
    log = os.path.join(WORK, f"{a.workload}-stderr.log")
    # a terminated run.py takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"run ended with code {proc.returncode} and no result (log: {log})")
    print(summary(a.workload, result))
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
