#!/usr/bin/env python3
"""Paired A/B of two commits on the perfbench benchmark.

    python3 tools/ab.py BASE CHANGE --workdir DIR [--workload monthly_drop]
                        [--seeds 101-110]

exports each commit with `git archive` into its own clean directory under
DIR (never a copy of a checkout: a copied `target/` lets sbt's incremental
compiler rewrite the original's classes by absolute path), then runs

    python3 perfbench/run.py --workload W --seed S --seconds N --trace 0

in the two exports for each seed, alternating which side runs first (ABBA),
so host drift falls on both sides alike. N is the base's BENCHMARK.json
`run_seconds`. For every end-to-end metric of that file it prints each
side's median and quartiles, the per-pair ratios CHANGE / BASE and the
share of pairs the change won (ties count for neither). A gain holds when
the change wins at least nine tenths of the pairs and the medians differ,
in the metric's better direction, by more than the distance between the
base side's quartiles. The last line is the same summary as JSON.

Each side builds once, on its first run, and reuses the build for later
runs (the export stays under DIR between invocations). Do not run it beside
another JVM-heavy job such as the sbt test suite: each run takes half the
host's memory.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def fail(msg):
    print(f"ab: {msg}", file=sys.stderr)
    sys.exit(2)


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def export(commit, workdir, side):
    """A clean tree of `commit` under workdir, exported once and reused."""
    sha = git("rev-parse", "--verify", f"{commit}^{{commit}}")
    dest = os.path.join(workdir, f"{side}-{sha[:12]}")
    if not os.path.isfile(os.path.join(dest, "perfbench", "run.py")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            fail(f"git archive {sha} failed")
    return sha, dest


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def run(tree, workload, seed, seconds):
    """One untraced run; returns its metrics {name: value}, or None."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    result = json.loads(lines[-1])
    if not result.get("correct") or result.get("failed"):
        return None
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values):
    """(median, first quartile, third quartile)."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workdir", required=True,
                    help="directory outside the checkout for the two exports")
    ap.add_argument("--workload", default="monthly_drop")
    ap.add_argument("--seeds", default="101-110", help="e.g. 101-110 or 1,5,9; one pair each")
    args = ap.parse_args()

    os.chdir(git("rev-parse", "--show-toplevel"))
    workdir = os.path.abspath(args.workdir)
    if workdir.startswith(os.getcwd() + os.sep):
        fail("--workdir must lie outside the checkout")
    sides = {"base": export(args.base, workdir, "base"),
             "change": export(args.change, workdir, "change")}
    with open(os.path.join(sides["base"][1], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    runs = {"base": [], "change": []}
    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        got = {}
        for side in order:
            got[side] = run(sides[side][1], args.workload, seed, seconds)
            if got[side] is not None:
                runs[side].append(got[side])
        b, c = got["base"], got["change"]
        ratios = {} if b is None or c is None else {
            name: c[name] / b[name] for name in better if b.get(name) and name in c}
        pairs.append({"seed": seed, "first": order[0], "base": b, "change": c,
                      "ratios": ratios})
        shown = "failed" if b is None or c is None else " ".join(
            f"{name} {ratios[name]:.3f}" for name in sorted(ratios))
        print(f"pair {i + 1} seed {seed} ({order[0]} first): ratios {shown}", flush=True)

    summary = {"workload": args.workload, "run_seconds": seconds,
               "base": sides["base"][0], "change": sides["change"][0],
               "pairs": pairs, "metrics": {}}
    print(f"\n{'metric':<14}{'side':<8}{'n':>3}{'median':>14}{'q1':>14}{'q3':>14}")
    for name in sorted(better):
        m = summary["metrics"][name] = {}
        for side in ("base", "change"):
            vals = [r[name] for r in runs[side] if name in r]
            med, q1, q3 = spread(vals)
            m[side] = {"n": len(vals), "median": med, "q1": q1, "q3": q3}
            print(f"{name:<14}{side:<8}{len(vals):>3}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}")

    print()
    for name in sorted(better):
        m = summary["metrics"][name]
        lower = better[name] == "lower"
        ratios = [p["ratios"][name] for p in pairs if name in p["ratios"]]
        wins = sum(1 for r in ratios if (r < 1 if lower else r > 1))
        gap = abs(m["change"]["median"] - m["base"]["median"])
        base_iqr = m["base"]["q3"] - m["base"]["q1"]
        moved_right_way = (m["change"]["median"] < m["base"]["median"]) == lower
        m.update({
            "ratios_sorted": sorted(ratios),
            "median_ratio": statistics.median(ratios) if ratios else None,
            "wins": wins, "pairs_run": len(pairs),
            "win_share": wins / len(pairs) if pairs else 0.0,
            "median_gap": gap, "base_iqr": base_iqr,
            "gain": bool(pairs) and wins >= 0.9 * len(pairs) and moved_right_way
            and gap > base_iqr})
        print(f"{name} ratios (change / base), sorted: "
              + " ".join(f"{r:.3f}" for r in sorted(ratios)))
        print(f"  wins {wins}/{len(pairs)}; median gap {gap:.4f} vs base quartile spread "
              f"{base_iqr:.4f}; gain {'holds' if m['gain'] else 'not shown'}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
