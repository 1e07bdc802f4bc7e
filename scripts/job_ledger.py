#!/usr/bin/env python3
"""Count the Spark jobs of each benchmark span, with Spark's own event log.

    python3 scripts/job_ledger.py --workload corpus_ops --seed 7
    python3 scripts/job_ledger.py --workload corpus_ops --seed 7 --span search.probe

This is a ledger for counting jobs, stages and tasks per call, not a timer:
the event log and the traced repetition both add work to the run, so its CPU
figures only compare calls within one run. Time a change with
`perfbench/run.py --trace 0` or `scripts/bench_pairs.py`.

The script runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 1` from the repository root (or `--root DIR`), with

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true
        -Dspark.eventLog.compress=false -Dspark.eventLog.dir=<tmp>"

which switches on Spark's event log in the benchmark JVM without any change
to `perfbench/` or the program. It then reads perfbench's trace spans
(`$CARGO_TARGET_DIR/traces/<workload>-seed<N>.json`, default build directory
`.bench_build`) and gives each job to the innermost span whose window holds
the job's submission time. Per span and per job it prints the SQL execution
id, the tasks run, their deserialization CPU and run CPU, and the operator
scopes of the stages the job ran (a stage that an earlier job already ran
is skipped and belongs to that job). `--eventlog DIR --trace FILE` reads an
earlier run's files instead of running the benchmark.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(root, a, evdir):
    opts = ("-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false "
            f"-Dspark.eventLog.dir={evdir}")
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"]
    r = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        sys.stdout.write(r.stdout)
        sys.exit(f"job_ledger: benchmark exited with {r.returncode}")
    build = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    return os.path.join(build, "traces", f"{a.workload}-seed{a.seed}.json")


def read_events(path):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def scope_name(rdd_info):
    scope = rdd_info.get("Scope")
    if not scope:
        return None
    name = json.loads(scope).get("name", "")
    # "WholeStageCodegen (3)" and friends: the number is per plan, not per operator
    return name.split(" (")[0]


def load_log(files):
    """Jobs of one application's event log: id, submission time, SQL
    execution, stage ids; tasks and scopes per stage."""
    jobs, stage_tasks, stage_scopes = {}, {}, {}
    for ev in (e for f in files for e in read_events(f)):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "time": ev["Submission Time"],
                "sql": props.get("spark.sql.execution.id", "-"),
                "stages": list(ev["Stage IDs"])}
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            names = []
            for rdd in sorted(info.get("RDD Info", []), key=lambda r: r["RDD ID"]):
                n = scope_name(rdd)
                if n and n not in names:
                    names.append(n)
            stage_scopes[info["Stage ID"]] = names
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = stage_tasks.setdefault(ev["Stage ID"], [0, 0, 0])
            t[0] += 1
            t[1] += m.get("Executor Deserialize CPU Time", 0)
            t[2] += m.get("Executor CPU Time", 0)
    owner = {}
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        for s in j["stages"]:
            if s in stage_tasks:
                owner.setdefault(s, j["id"])
    for j in jobs.values():
        ran = [s for s in sorted(j["stages"]) if owner.get(s) == j["id"]]
        j["ran"] = ran
        j["tasks"] = sum(stage_tasks[s][0] for s in ran)
        j["deser_ms"] = sum(stage_tasks[s][1] for s in ran) / 1e6
        j["cpu_ms"] = sum(stage_tasks[s][2] for s in ran) / 1e6
        j["scopes"] = [" > ".join(stage_scopes.get(s, [])) for s in ran]
    return jobs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--root", default=ROOT, help="checkout to run (default: this one)")
    ap.add_argument("--span", default="", help="only spans whose name starts with this")
    ap.add_argument("--eventlog", help="event log directory of an earlier run")
    ap.add_argument("--trace", help="perfbench trace file of that run")
    ap.add_argument("--quiet", action="store_true", help="per-span totals only")
    a = ap.parse_args()

    if a.eventlog:
        if not a.trace:
            sys.exit("job_ledger: --eventlog needs --trace")
        evdir, trace = a.eventlog, a.trace
    else:
        evdir = tempfile.mkdtemp(prefix="job-ledger-")
        trace = run_bench(os.path.abspath(a.root), a, evdir)
    spans = json.load(open(trace))["spans"]

    # one application per directory (eventlog_v2_*) or per file; a build
    # that dumps its class list runs a second, earlier application
    apps = sorted(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)
    if not apps:
        sys.exit(f"job_ledger: no event log under {evdir}")
    app = apps[-1]
    files = sorted(glob.glob(os.path.join(app, "events_*"))) if os.path.isdir(app) else [app]
    jobs = load_log(files)

    def innermost(t):
        inside = [s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
        return min(inside, key=lambda s: s["end_ms"] - s["start_ms"]) if inside else None

    by_span = {}
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        s = innermost(j["time"])
        if s is not None:
            by_span.setdefault(s["id"], []).append(j)

    counts = {}
    for s in sorted(spans, key=lambda s: s["start_ms"]):
        if not s["name"].startswith(a.span):
            continue
        js = by_span.get(s["id"], [])
        counts.setdefault(s["name"], []).append(len(js))
        print(f"{s['name']} rep {s['rep']}: {len(js)} jobs, "
              f"{sum(len(j['ran']) for j in js)} stages, {sum(j['tasks'] for j in js)} tasks, "
              f"deserialize {sum(j['deser_ms'] for j in js):.1f} ms, "
              f"run {sum(j['cpu_ms'] for j in js):.1f} ms CPU, wall {s['wall_ms']:.0f} ms")
        if a.quiet:
            continue
        for j in js:
            print(f"  job {j['id']:>4} sql {j['sql']:>4}  {j['tasks']:>3} tasks  "
                  f"deser {j['deser_ms']:7.1f}  run {j['cpu_ms']:7.1f} ms")
            for sc in j["scopes"]:
                print(f"      {sc}")
    print("jobs per call (median over the traced repetitions):")
    for name, cs in counts.items():
        print(f"  {name}: {statistics.median(cs):g}  {cs}")


if __name__ == "__main__":
    main()
