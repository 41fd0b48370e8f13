#!/usr/bin/env python3
"""graft benchmark: one workload per command, run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  table_mixed     MERGE / DELETE / snapshot, version and timestamp page reads /
                  history, two closed-loop clients on one GraftTable
  pipeline_eager  a module-stratified panel of the registry queries whose
                  builders run Spark jobs before returning their DataFrame

The first run builds graft and the benchmark (perfbench/build.py). With
`--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics of a traced run. The line before
it is a `detail` object (setup phases, the workload's own end-to-end figures
and, when traced, the per-kind, per-module and streaming breakdowns), and the
line before that the host context. Outputs that fail a
correctness check make the command exit 1.

`--freeze <file>` re-measures every registry query (module, eager jobs, warm
time and row count at SCALE_FACTOR) and writes the membership file.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from collections import defaultdict

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
QUERIES_FILE = os.path.join(BENCH_DIR, "queries.json")
WORKLOADS = {"table_mixed": "table", "pipeline_eager": "pipeline"}
JVM_TIMEOUT_S = 170
# the pipeline's input data; fixed, so the frozen row counts stay checkable
DATA_SEED = 42
SCALE_FACTOR = 0.01
# queries per pipeline pass, sized to the run budget
PANEL_SIZE = 6
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# graft allocates throwaway scratch (streaming checkpoints, scenario tables)
# under /dev/shm and does not remove it; the run removes what it added.
SHM = "/dev/shm"


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_ratio(before, after):
    """Share of CPU time the hypervisor took from this machine meanwhile."""
    if not before or not after or len(before) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta[:8]))


def shm_entries():
    try:
        return {e for e in os.listdir(SHM) if e.startswith("graft-")}
    except OSError:
        return set()


def jvm(classpath, work, jvm_args, timeout=JVM_TIMEOUT_S, capture=True):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--work", work, "--out", out] + jvm_args)
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE if capture else None, text=True,
                       timeout=timeout, cwd=work)
    if r.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"benchmark JVM failed ({r.returncode}):\n{(r.stderr or '')[-4000:]}")
    with open(out) as f:
        return json.load(f)


def panel_args(work, frozen):
    if (frozen["scale_factor"], frozen["data_seed"]) != (SCALE_FACTOR, DATA_SEED):
        raise RuntimeError(f"{QUERIES_FILE} was frozen at another scale factor or data seed; re-run --freeze")
    path = os.path.join(work, "panel.tsv")
    with open(path, "w") as f:
        for name in eager_panel(frozen["queries"], PANEL_SIZE):
            f.write(f"{name}\t{frozen['queries'][name]['rows']}\n")
    return ["--panel", path, "--sf", str(SCALE_FACTOR), "--data-seed", str(DATA_SEED)]


def eager_panel(queries, size):
    """`size` eager queries: one of each module, the rest apportioned to
    modules by their share of the eager group (largest remainders), taken
    at evenly spaced ranks of warm time within each module."""
    by_module = defaultdict(list)
    for name, q in queries.items():
        if q["group"] == "eager":
            by_module[q["module"]].append((q["warm_ms"], name))
    rest = size - len(by_module)
    if rest < 0:
        raise ValueError(f"a panel of {size} cannot hold one query of each of {len(by_module)} modules")
    total = sum(len(v) for v in by_module.values())
    quota = {m: rest * len(qs) / total for m, qs in by_module.items()}
    take = {m: 1 + int(q) for m, q in quota.items()}
    for m in sorted(quota, key=lambda m: (int(quota[m]) - quota[m], m))[:size - sum(take.values())]:
        take[m] += 1
    chosen = []
    for m, qs in by_module.items():
        qs.sort()
        k = take[m]
        chosen += [qs[int((i + 0.5) * len(qs) / k)][1] for i in range(k)]
    return sorted(chosen)


def freeze(survey):
    """Membership file from a survey: a query is eager when its builder, on
    a warm JVM, runs at least one Spark job before returning."""
    queries = {q["name"]: {
        "module": q["module"], "group": "eager" if q["warm_eager_jobs"] else "lazy",
        "eager_jobs": q["warm_eager_jobs"], "cold_eager_jobs": q["cold_eager_jobs"],
        "warm_ms": round(q["warm_ms"]), "rows": q["rows"]} for q in survey}
    return {"data_seed": DATA_SEED, "scale_factor": SCALE_FACTOR, "queries": queries}


def main():
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--freeze", metavar="FILE")
    a = ap.parse_args()
    if not a.freeze and not a.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    runs = os.path.join(build.out_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(dir=runs)
    shm_before = shm_entries()
    cpu_before = cpu_times()
    try:
        if a.freeze:
            raw = jvm(classpath, work, ["--mode", "survey", "--sf", str(SCALE_FACTOR),
                                          "--data-seed", str(DATA_SEED)], timeout=3600, capture=False)
            with open(a.freeze, "w") as f:
                json.dump(freeze(raw["survey"]), f, indent=1)
                f.write("\n")
            return 0
        with open(QUERIES_FILE) as f:
            frozen = json.load(f)
        mode = WORKLOADS[a.workload]
        args = ["--mode", mode, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        if mode == "pipeline":
            args += panel_args(work, frozen)
        raw = jvm(classpath, work, args)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for e in shm_entries() - shm_before:
            shutil.rmtree(os.path.join(SHM, e), ignore_errors=True)
    result, detail, problems = metrics.compute(raw, frozen, a.trace == 1)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"host": {**raw["host"], "steal_ratio": steal_ratio(cpu_before, cpu_times())}}))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
