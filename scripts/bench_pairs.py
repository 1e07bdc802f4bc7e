#!/usr/bin/env python3
"""Run the benchmark in alternating pairs on two checkouts and compare them.

    python3 scripts/bench_pairs.py --parent HEAD~1 --workload crawl_drain \
        --seeds 101-110 --seconds 10 --trace 0

Each side is either a directory used as it is or a git revision of this
repository, which is extracted with `git archive` (committed files only) into
the work directory. Every side builds into its own CARGO_TARGET_DIR. For each
seed one pair runs `python3 perfbench/run.py` once per side, alternating which
side runs first. A run that fails or reports `"correct": false` stops the
script.

The script prints, per metric, each side's median and quartiles, the change of
the median against the parent's, the parent's spread (quartile distance over
its median) and the number of pairs the change wins (ties count for neither).
Metric directions come from the change side's BENCHMARK.json; metrics it does
not name count lower as better. `--out FILE` also writes every run's metrics
as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    """'101-110' or '7,21' or a mix: '7,101-103'."""
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def checkout(ref, work):
    """A directory as given, else `git archive` of revision `ref`, extracted
    once per commit."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", ref + "^{commit}"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout.strip()
    dest = os.path.join(work, sha[:12])
    if not os.path.isdir(dest):
        archive = subprocess.run(["git", "-C", ROOT, "archive", sha],
                                 stdout=subprocess.PIPE, check=True).stdout
        os.makedirs(dest)
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(side_dir, build_dir, a, seed):
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace]
    p = subprocess.run(cmd, cwd=side_dir, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if not lines:
        sys.exit(f"bench_pairs: {side_dir} seed {seed}: no output (exit {p.returncode})")
    result = json.loads(lines[-1])
    if p.returncode != 0 or not result.get("correct"):
        sys.exit(f"bench_pairs: {side_dir} seed {seed}: failed run: {lines[-1]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def directions(side_dir):
    try:
        with open(os.path.join(side_dir, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except OSError:
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="directory or git revision")
    ap.add_argument("--change", default="HEAD", help="directory or git revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 7,21")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_build", "pairs"),
                    help="checkouts and build directories")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()

    os.makedirs(a.work, exist_ok=True)
    sides = {name: checkout(ref, a.work)
             for name, ref in (("parent", a.parent), ("change", a.change))}
    builds = {name: os.path.join(a.work, f"build-{name}") for name in sides}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for name in order:
            m = run_once(sides[name], builds[name], a, seed)
            runs[name].append(m)
            print(f"[pair {i + 1} seed {seed}] {name}: " +
                  " ".join(f"{k}={v:.4g}" for k, v in sorted(m.items())),
                  file=sys.stderr, flush=True)

    better = directions(sides["change"])
    n = len(runs["parent"])
    print(f"{a.workload}, {n} pairs, seeds {a.seeds}, --seconds {a.seconds} --trace {a.trace}")
    print(f"{'metric':40} {'parent median [q1, q3]':34} {'change median [q1, q3]':34}"
          f" {'delta':>8} {'parent IQR':>10} {'wins':>6}")
    for metric in sorted(set(runs["parent"][0]) & set(runs["change"][0])):
        p = [r[metric] for r in runs["parent"]]
        c = [r[metric] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        sign = 1 if better.get(metric, "lower") == "lower" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) < 0)
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        iqr = (pq[2] - pq[0]) / pq[1] if pq[1] else float("nan")
        side = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{metric:40} {side(pq):34} {side(cq):34}"
              f" {delta:>+8.1%} {iqr:>10.3f} {wins:>3}/{n}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seeds": seeds_of(a.seeds),
                       "seconds": a.seconds, "trace": a.trace, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
