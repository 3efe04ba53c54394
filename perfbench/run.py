#!/usr/bin/env python3
"""Benchmark of the Spark engine's monthly runbook, lake reads and corpus
curation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

runs one workload in a fresh JVM and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics untraced, the per-layer metrics traced). The line before it is a
detail object with the workload's own metrics and their sample counts.

    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

runs every workload untraced and traced and prints a table of the
workloads' own metrics, the tracing overhead and the attributed share of
executor time.

    python3 perfbench/run.py --repeatability --seed <n> --seconds <s>

makes two traced runs of each workload at one seed and labels each
per-layer counter as exact or varying.

Run it from the root of a checkout. The engine and the benchmark are built
from the checkout's sources on the first run (sbt, offline); later runs
reuse the build while the sources are unchanged.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["monthly_drop", "lake_serve", "corpus_curate"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
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


def run_bounded(cmd, cwd, timeout, stdout, stderr, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it either way. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_digest():
    h = hashlib.sha256()
    tops = [("build.sbt", False), ("project/build.properties", False), ("src/main", True),
            ("perfbench/build.sbt", False), ("perfbench/project/build.properties", False),
            ("perfbench/src/main", True)]
    for rel, tree in tops:
        path = os.path.join(ROOT, rel)
        files = []
        if tree:
            for d, _, fs in os.walk(path):
                files += [os.path.join(d, f) for f in fs]
        elif os.path.isfile(path):
            files = [path]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the engine and the benchmark once per source digest and
    returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "perfbench/data"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout of the engine: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           BENCH, BUILD_TIMEOUT_S, out, subprocess.STDOUT, env)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if code != 0 or not cp:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {code}); log in {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1]


def heap():
    """-Xms = -Xmx = half of MemTotal in GiB, clamped to [2, 8]."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return f"{g}g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]])


def run_once(workload, seed, seconds, trace, cp):
    """One workload in a fresh JVM. Returns (exit code, detail, result)."""
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    mem = heap()
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.callstack.depth=400"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--data", os.path.join(BENCH, "data"), "--cpus", str(nproc())])
    out_path, err_path = os.path.join(WORK, "stdout.log"), os.path.join(WORK, "stderr.log")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, out, err)
        with open(out_path) as f:
            lines = [l.strip() for l in f if l.strip().startswith("{")]
        if code != 0:
            with open(err_path) as f:
                sys.stderr.write("".join(l for l in f if "perfbench" in l or "Exception" in l))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = json.loads(lines[-2]) if len(lines) >= 2 else None
    result = json.loads(lines[-1]) if lines else None
    return (-1 if code is None else code), detail, result


def single(args):
    cp = classpath()
    e2e, layers = declared()
    code, detail, result = run_once(args.workload, args.seed, args.seconds, args.trace, cp)
    if result is None:
        fail(f"{args.workload} printed no result (exit {code})")
    want = layers if args.trace else e2e
    if sorted(result["metrics"]) != sorted(want):
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(want) ^ set(result['metrics']))}")
    print(json.dumps(detail))
    print(json.dumps(result))
    sys.exit(code if code != 0 or result["correct"] else 1)


def summary(args):
    cp = classpath()
    ok = True
    print(f"{'workload':<14} {'metric':<34} {'value':>12} {'unit':<6} {'n':>5}", flush=True)
    for w in WORKLOADS:
        code, d, r = run_once(w, args.seed, args.seconds, 0, cp)
        tcode, td, t = run_once(w, args.seed, args.seconds, 1, cp)
        ok = ok and code == 0 and tcode == 0 and bool(r and r["correct"] and t and t["correct"])
        if d is None or t is None:
            print(f"{w:<14} failed (exit {code}/{tcode})")
            continue
        rows = [(k, m["value"], m["unit"], m["n"]) for k, m in d["detail"]["metrics"].items()]
        rows += [("stored_mb", r["metrics"]["stored_mb"]["value"], "MB", 1)] \
            if w != "monthly_drop" else []
        # tracing overhead: the workload's first own metric, traced run over
        # untraced run
        first = next(iter(d["detail"]["metrics"]))
        untraced, traced = (x["detail"]["metrics"][first]["value"] for x in (d, td))
        tm = t["metrics"]
        rows += [(f"trace.overhead_pct ({first})", 100 * (traced / untraced - 1), "%", ""),
                 ("trace.named_frac", tm["trace.named_frac"]["value"], "ratio", ""),
                 ("trace.callsite_frac", tm["trace.callsite_frac"]["value"], "ratio", "")]
        for k, v, u, n in rows:
            print(f"{w:<14} {k:<34} {v:>12.4f} {u:<6} {n:>5}")
        print(f"{w:<14} {'failed/attempted':<34} {r['failed']:>12}/{r['attempted']}", flush=True)
    sys.exit(0 if ok else 1)


def repeatability(args):
    cp = classpath()
    _, layers = declared()
    counters = ("jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "input_mb", "output_mb",
                "shuffle_write_mb", "spill_mb")
    for w in WORKLOADS:
        both = [run_once(w, args.seed, args.seconds, 1, cp) for _ in range(2)]
        runs = [r for _, _, r in both]
        if None in runs:
            print(f"{w}: a traced run failed")
            continue
        # outputs of the units both runs reached must be equal
        outs = [dict(u.split(":", 1) for u in d["detail"]["output_digest"].split(",") if u)
                for _, d, _ in both]
        common = sorted(set(outs[0]) & set(outs[1]))
        if common:
            same = all(outs[0][k] == outs[1][k] for k in common)
            print(f"{w:<14} {'outputs':<40} {'exact' if same else 'DIFFER':<8} units {common}")
        for k in layers:
            if k.split(".")[-1] in counters:
                a, b = (r["metrics"][k]["value"] for r in runs)
                label = "exact" if a == b else "varying"
                print(f"{w:<14} {k:<40} {label:<8} {a} {b}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeatability", action="store_true")
    args = ap.parse_args()
    if args.repeatability:
        repeatability(args)
    elif args.workload == "all":
        summary(args)
    elif args.workload:
        single(args)
    else:
        ap.error("--workload or --repeatability is required")


if __name__ == "__main__":
    main()
