"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from this checkout (see build.py), generates the
workload's inputs from the seed into `.bench_work/`, runs the JVM side
(perfbench/scala/Harness.scala) on them, checks every answer, and prints
one report line per metric followed, as the last line, by the JSON
result. `--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` its per-layer metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build        # noqa: E402
import metrics      # noqa: E402
import workloads    # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
BUDGET_S = 170       # the whole run, build excluded
HEAP = "1g"          # fixed (-Xms = -Xmx), so peak RSS does not follow
                     # the collector's heap-sizing decisions

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_obs(path):
    obs = {k: [] for k in ("setup", "job", "read", "pass", "file", "doc",
                           "span", "spark", "upsert", "progress", "layer",
                           "job_event", "ingest_layer", "loop", "store",
                           "end", "scratch")}
    with open(path) as f:
        for line in f:
            o = json.loads(line)
            obs.setdefault(o["t"], []).append(o)
    return obs


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, from /proc/stat:
    steal is time the hypervisor ran something else on our CPUs."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, deadline):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m",
            "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"] + args)
    with open(os.path.join(WORK, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=WORK)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    start = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    wl = workloads.WORKLOADS[a.workload]()
    t0 = time.perf_counter()
    wl.generate(WORK, a.seed, a.seconds)
    gen_s = time.perf_counter() - t0

    cores = len(os.sched_getaffinity(0))
    steal0, total0 = cpu_ticks()
    rc = run_jvm(cp, [a.workload, WORK, str(a.seconds), str(a.trace),
                      str(cores), str(workloads.POLL_MS),
                      str(workloads.STREAM_RATE)], start + BUDGET_S)
    obs_path = os.path.join(WORK, "obs.jsonl")
    if rc != 0 or not os.path.exists(obs_path):
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        print("JVM side %s" % ("timed out" if rc is None else
                               "exited with %s" % rc), file=sys.stderr)
        return 1
    steal1, total1 = cpu_ticks()
    obs = load_obs(obs_path)
    attempted, problems = wl.check(obs)
    for p in problems[:20]:
        print("WRONG: %s" % p)
    report = metrics.Report(a.workload, obs, wl, gen_s, cores)
    names = metrics.declared(os.path.join(ROOT, "BENCHMARK.json"),
                             "per_layer" if a.trace else "end_to_end")
    values = report.per_layer() if a.trace else report.end_to_end()
    for line in report.lines:
        print(line)
    if total1 > total0:
        print("host steal: %.1f%% of CPU time during the run" % (
            100.0 * (steal1 - steal0) / (total1 - total0)))
    missing = [n for n, _ in names if values.get(n) is None]
    if missing:
        print("metrics not measured: %s" % ", ".join(missing), file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
