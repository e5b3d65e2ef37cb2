#!/usr/bin/env python3
"""Benchmark runner for the tgres-on-Spark program.

Run from the root of a checkout:

    python3 tgbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

builds the program and the benchmark from source (first run only), runs
one workload in a fresh JVM and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and
metrics. `--trace 1` prints the per-layer metrics instead and writes the
run's spans under tgbench/out/.

Steadiness mode repeats a workload over several seeds and reports the
median and quartiles of every end-to-end metric:

    python3 tgbench/run.py --steady 5 --workload render --seconds 6

Tests of the benchmark's own code:

    python3 tgbench/run.py --test
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TMP = os.path.join(OUT, "tmp")
CLASSPATH = os.path.join(OUT, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
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
    print(f"tgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    return p.returncode, out


def build():
    """Compile the program and the benchmark (sbt, offline) unless the
    recorded classpath is newer than every source file."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to the benchmark (expected build.sbt and src/main/scala/graft)")
    if os.path.isfile(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH).read().strip()
    os.makedirs(TMP, exist_ok=True)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={TMP}",
         "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def java_cmd(cp, args):
    os.makedirs(TMP, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no perf-data file outside the checkout
    return ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}",
            "-Dspark.ui.enabled=false", *opens, "-cp", cp, "tgbench.Main", *args]


def run_once(cp, workload, seed, seconds, trace, quiet=False):
    """One workload run; returns (exit code, detail dict, result line)."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", OUT]
    log = open(os.path.join(OUT, f"jvm-{workload}.log"), "w") if quiet else None
    code, out = run_group(java_cmd(cp, args), RUN_TIMEOUT_S, cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=log, text=True)
    if log:
        log.close()
    lines = [l for l in out.splitlines() if l.strip()]
    detail = {}
    for l in lines:
        if l.startswith('{"detail"'):
            detail = json.loads(l)["detail"]
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    return code, detail, result


def steady(cp, a):
    """Repeat a workload over seeds; median and quartiles per metric."""
    seeds = list(range(a.seed, a.seed + a.steady))
    values, runs = {}, []
    for s in seeds:
        code, detail, result = run_once(cp, a.workload, s, a.seconds, 0, quiet=True)
        if code != 0 or result is None:
            fail(f"run with seed {s} failed (exit {code})")
        r = json.loads(result)
        runs.append({"seed": s, "result": r, "detail": detail})
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(json.dumps({"seed": s, "correct": r["correct"],
                          **{k: m["value"] for k, m in r["metrics"].items()}}), flush=True)
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else vs * 3
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else None, "n": len(vs)}
    path = os.path.join(OUT, f"steady-{a.workload}.json")
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seconds": a.seconds, "seeds": seeds,
                   "summary": summary, "runs": runs}, f, indent=1)
    for k, m in summary.items():
        print(f"{a.workload:12s} {k:18s} median {m['median']:12.4f}  spread {m['spread']:.4f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--steady", type=int, default=0, help="runs per workload")
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    cp = build()
    if a.test:
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               f"-Djava.io.tmpdir={TMP}", "-J-XX:-UsePerfData",
                               "-Dsbt.server.autostart=false", "test"],
                              BUILD_TIMEOUT_S, cwd=HERE)
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")
    if a.steady:
        steady(cp, a)
        return
    code, detail, result = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
    if code != 0 or result is None:
        fail(f"workload run failed (exit {code})")
    print(json.dumps({"detail": detail}))
    print(result, flush=True)


if __name__ == "__main__":
    main()
