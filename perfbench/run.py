#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload wiki-stats --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source (scalac against the Spark jars the build uses) into
`.bench_build/`; later runs reuse the build while the sources are unchanged.
Everything a run writes stays under `.bench_build/`.

Exit status is 0 only when the run finished and every output matched its
reference. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
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

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
BUILD = ".bench_build"
WORKLOADS = ["wiki-stats", "profile-enrich", "batch-registry"]
# every JVM of one invocation must end within this many seconds after the build
RUN_TIMEOUT_S = 172
INITIAL_HEAP_MB = 4096


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.isfile("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("[perfbench] no Spark jars: set SPARK_HOME or run from the repository root")


def mb(size):
    """A JVM memory size (`8g`, `512m`) in MB."""
    n, unit = re.fullmatch(r"(\d+)([kKmMgG]?)", size).groups()
    return int(n) * {"k": 1 / 1024, "m": 1, "g": 1024, "": 1 / 1048576}[unit.lower()]


def sbt_settings():
    """The JVM flags of `sbt run` and the scalac options, read from build.sbt,
    so the benchmark runs the program as its build does: the module opens,
    the `-D` properties and the heap (`SPARK_DRIVER_MEM` or its default).

    The one flag of the benchmark's own is the initial heap, INITIAL_HEAP_MB
    (at most the maximum heap). The collector resizes a heap that starts
    small differently in every JVM; on 4 cores with an 8g maximum heap, that
    spread profile-enrich's latencies between runs three to four times as
    wide."""
    if not os.path.isfile("build.sbt"):
        sys.exit("[perfbench] no build.sbt: run from the repository root")
    text = open("build.sbt").read()

    def literals(setting):
        found = []
        for m in re.finditer(setting + r"\s*(?:\+\+|\+)?=\s*", text):
            depth, i = 0, m.end()
            while i < len(text) and not (depth == 0 and text[i] == "\n" and text[i - 1] not in ",("):
                depth += {"(": 1, ")": -1}.get(text[i], 0)
                i += 1
            found += re.findall(r's?"((?:[^"\\$]|\$\{[^}]*\})*)"', text[m.end():i])
        return found

    def interpolate(lit):
        def env(m):
            return os.environ.get(m.group(1), m.group(2))
        return re.sub(r'\$\{sys\.env\.getOrElse\("(\w+)",\s*"([^"]*)"\)\}', env, lit)

    jvm = [a for p in re.findall(r'"(java\.base/[^"]+)"', text) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jvm += [interpolate(l) for l in literals("javaOptions") if l.startswith("-")]
    xmx = [mb(l[4:]) for l in jvm if l.startswith("-Xmx")]
    jvm.append(f"-Xms{int(min([INITIAL_HEAP_MB] + xmx))}m")
    scalac = [l for l in literals("scalacOptions") if l.startswith("-")]
    return jvm, scalac


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        sys.exit("[perfbench] no program sources under src/main/scala: run from the repository root")
    return main + sorted(glob.glob(f"{BENCH}/src/**/*.scala", recursive=True))


def build(jars, scalac_opts):
    """Compiles program + benchmark once per source state; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + (["build.sbt"] if os.path.isfile("build.sbt") else []):
        h.update(p.encode())
        h.update(open(p, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, ".done")):
            return out
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        log(f"compiling {len(srcs)} sources into {out}")
        r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8"] +
                           scalac_opts + ["-d", out, "@" + argfile], stdout=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            sys.exit("[perfbench] build failed")
        open(os.path.join(out, ".done"), "w").close()
        return out


def run_jvm(classes, jars, jvm_opts, args, work, timeout):
    """One benchmark JVM: returns (result object or None, exit code, other stdout)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = [classes] + [d for d in ["src/main/resources"] if os.path.isdir(d)] + [os.path.join(jars, "*")]
    cmd = (["java"] + jvm_opts +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}", "-cp", os.pathsep.join(cp),
            "graft.perfbench.Main"] + args + ["--bench", BENCH, "--work", work])
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"run exceeded its {timeout:.0f} s")
        return None, 1, ""
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
        lines = lines[:-1]
    return result, p.returncode, "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test and maintenance switches (perfbench/tests, registry goldens)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes: checks wiring, not speed")
    ap.add_argument("--corrupt", action="store_true", help="tamper with one output (self-test)")
    ap.add_argument("--record", action="store_true", help="print registry digests as GOLDEN lines")
    ap.add_argument("--digest-inputs", action="store_true", help="print a digest of the generated inputs")
    a = ap.parse_args()

    jars = spark_jars()
    jvm_opts, scalac_opts = sbt_settings()
    classes = build(jars, scalac_opts)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    def run(trace):
        work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}-{trace}")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(trace), "--smoke", str(int(a.smoke)), "--corrupt", str(int(a.corrupt)),
                "--record", str(int(a.record)), "--digest-inputs", str(int(a.digest_inputs))]
        try:
            r = run_jvm(classes, jars, jvm_opts, args, work,
                        None if a.record else max(1.0, deadline - time.monotonic()))
            for sp in glob.glob(os.path.join(work, "spans-*.jsonl")):
                os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
                shutil.move(sp, os.path.join(BUILD, "spans", os.path.basename(sp)))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return r

    if a.digest_inputs:
        _, code, other = run(0)
        print(other)
        sys.exit(code)
    if a.trace == 1:
        # tracing overhead: the same workload, seed and length untraced in a
        # JVM of its own first, then traced
        base, base_code, other = run(0)
        if other:
            print(other, file=sys.stderr)
        if base is None:
            log(f"untraced pass gave no result (exit {base_code})")
            sys.exit(base_code or 1)
    result, code, other = run(a.trace)
    if other:
        print(other, file=sys.stderr)
    if result is None:
        log(f"no result (exit {code})")
        sys.exit(code or 1)
    if a.trace == 1:
        m = result["metrics"]
        untraced = base["metrics"]["ops_per_s"]["value"]
        m["trace.overhead_pct"] = {"value": 100.0 * (untraced - m["trace.ops_per_s"]["value"]) / untraced,
                                   "unit": "%"}
        if not base["correct"]:
            log("untraced pass: an output differs from its reference")
            result["correct"] = False
            code = code or 1
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
