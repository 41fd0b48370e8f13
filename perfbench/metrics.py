"""Turns the JVM's raw samples, spans and counters into the benchmark's
metrics (names and units as in BENCHMARK.json)."""
import math
from collections import Counter, defaultdict

from stats import TooFewSamples, clip, length, median, minus, percentile, self_time

TABLE_WRITES = ("merge", "delete")
TABLE_READS = ("read_latest", "read_version", "read_timestamp")
STREAM_DURATIONS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                    "wal_commit_ms": "walCommit", "query_planning_ms": "queryPlanning",
                    "latest_offset_ms": "latestOffset"}


def m(value, unit):
    return {"value": value, "unit": unit}


def setup_seconds(raw):
    """JVM start to the first timed operation, with the repeated fixture
    builds counted once, at their median."""
    builds = raw["fixture_build_ms"]
    return (raw["first_timed"] - raw["jvm_start"] - sum(builds) + median(builds)) / 1000


def windows_of(raw, traced):
    """Measurement windows (passes or phases) and their operations."""
    if "passes" in raw:
        return [(p["start"], p["end"], p["queries"]) for p in raw["passes"] if p["traced"] == traced]
    return [(p["start"], p["end"], p["ops"]) for p in raw["phases"] if p["traced"] == traced]


def ops_per_s(windows):
    return sum(len(ops) for _, _, ops in windows) / sum((e - s) / 1000 for s, e, _ in windows)


def concurrent_ops_per_s(windows):
    """Operations per second while every client is still running: each
    client stops at the end of a deck, so the tail after the first client
    stops has fewer clients and would depress the rate by chance."""
    done, secs = 0, 0.0
    for s, _, ops in windows:
        stop = min(max(o["end"] for o in ops if o["client"] == c) for c in {o["client"] for o in ops})
        done += sum(1 for o in ops if o["end"] <= stop)
        secs += (stop - s) / 1000
    return done / secs


def best_pass_ops_per_s(windows):
    """Queries per second of a pass in which every query takes its fastest
    time over the timed passes: on a shared host a stall only ever slows a
    query, so the per-query minimum is the steadiest estimate of its cost."""
    best = {}
    for _, _, ops in windows:
        for o in ops:
            best[o["name"]] = min(best.get(o["name"], math.inf), (o["end"] - o["start"]) / 1000)
    return len(best) / sum(best.values())


def optional(f):
    try:
        return f()
    except TooFewSamples:
        return None


def latency(name, values):
    """Median, p90 where ten samples lie beyond it, and the sample count."""
    return {f"{name}.p50": median(values) if values else None,
            f"{name}.p90": optional(lambda: percentile(values, 90)), f"{name}.n": len(values)}


def compute(raw, frozen, traced):
    """Returns (result line, detail object, problems)."""
    problems = []
    measured = windows_of(raw, False)
    all_ops = [o for w in measured + windows_of(raw, True) for o in w[2]]
    failed = [o for o in all_ops if not o["ok"]]
    for o in failed[:5]:
        problems.append(f"failed {o.get('name') or o.get('kind')}: {o['error'] or 'row count mismatch'}")
    correct = True
    if "passes" in raw:
        missing = sorted(set(raw["registry"]) ^ set(frozen["queries"]))
        if missing:
            correct = False
            problems.append(f"registry and frozen membership differ: {missing}")
    else:
        for p in raw["phases"]:
            for check, ok in p["checks"].items():
                if not ok:
                    correct = False
                    problems.append(f"table check failed: {check}")
    detail = pipeline_detail(raw, frozen, measured) if "passes" in raw else table_detail(raw, measured)
    if traced:
        metrics = layer_metrics(raw, frozen)
        detail.update(metrics.pop("_detail"))
    else:
        metrics = {
            "setup_s": m(setup_seconds(raw), "s"),
            "ops_per_s": m((best_pass_ops_per_s if "passes" in raw else concurrent_ops_per_s)(measured), "1/s"),
            "retained_heap_mb": m(raw["retained_heap_mb"], "MB"),
        }
    detail["samples"] = sum(len(ops) for _, _, ops in measured)
    detail["setup"] = {"session_s": (raw["session_ready"] - raw["jvm_start"]) / 1000,
                       "fixture_build_s": [b / 1000 for b in raw["fixture_build_ms"]],
                       "warm_pass_s": raw["warm_pass_ms"] / 1000}
    result = {"correct": correct and not failed, "attempted": len(all_ops), "failed": len(failed),
              "metrics": metrics}
    return result, detail, problems


def pipeline_detail(raw, frozen, measured):
    walls = [(e - s) / 1000 for s, e, _ in measured]
    per_query = defaultdict(list)
    for _, _, ops in measured:
        for o in ops:
            per_query[o["name"]].append((o["end"] - o["start"]) / 1000)
    return {"pipeline_s": median(walls) if walls else None, "passes": len(walls),
            "pass_s": walls, "query_s": {k: median(v) for k, v in sorted(per_query.items())},
            **latency("query_s", [(o["end"] - o["start"]) / 1000 for _, _, ops in measured for o in ops]),
            "scale_factor": frozen["scale_factor"]}


def table_detail(raw, measured):
    ops = [o for _, _, w in measured for o in w]
    lat = lambda kinds: [o["end"] - o["start"] for o in ops if o["kind"] in kinds]  # noqa: E731
    phase = [p for p in raw["phases"] if not p["traced"]][0]
    return {**latency("write_ms", lat(TABLE_WRITES)),
            **latency("read_ms", lat(TABLE_READS + ("history",))),
            "table_ops_per_s": ops_per_s(measured),
            "stored_bytes_per_live_byte": phase["stored_bytes"] / phase["live_bytes"],
            "ops_by_kind": dict(Counter(o["kind"] for o in ops))}


def layer_metrics(raw, frozen):
    """Per-layer metrics of the traced windows, per operation unless the
    name says otherwise."""
    t = raw["trace"]
    wins = windows_of(raw, True)
    bounds = [(s, e) for s, e, _ in wins]
    ops = [o for _, _, w in wins for o in w]
    n = len(ops)
    spans = {s["id"]: s for s in t["spans"]}
    jobs = [j for j in t["jobs"] if j["end"] is not None and not math.isnan(j["end"])]
    in_win = lambda iv: [c for s, e in bounds for c in clip(iv, s, e)]  # noqa: E731
    J = in_win([(j["start"], j["end"]) for j in jobs])
    C = in_win([(p["start"], p["end"]) for p in t["phases"]])
    calls = [s for s in t["spans"] if s["layer"] in ("queries", "table")]
    K = in_win([(s["start"], s["end"]) for s in calls])
    jobs_of = defaultdict(list)
    for j in jobs:
        jobs_of[j["span"]].append(j)

    wall = sum(e - s for s, e in bounds)
    in_job = length(J)
    split_catalyst = minus(C, J)
    split_call_self = minus(K, J + C)
    call_self = sum(self_time((s["start"], s["end"]), [(j["start"], j["end"]) for j in jobs_of[s["id"]]])
                    for s in calls)
    task_run = sum(j["task_run_ms"] for j in jobs)
    phase_ms = Counter()
    for p in t["phases"]:
        phase_ms[p["name"]] += p["end"] - p["start"]
    per = lambda x: x / n  # noqa: E731
    out = {
        "wall_ms": m(per(wall), "ms"),
        "call_ms": m(per(sum(s["end"] - s["start"] for s in calls)), "ms"),
        "call_self_ms": m(per(call_self), "ms"),
        "call_jobs": m(per(sum(len(jobs_of[s["id"]]) for s in calls)), "count"),
        "catalyst.analysis_ms": m(per(phase_ms["analysis"]), "ms"),
        "catalyst.optimization_ms": m(per(phase_ms["optimization"]), "ms"),
        "catalyst.planning_ms": m(per(phase_ms["planning"]), "ms"),
        "exec.in_job_ms": m(per(in_job), "ms"),
        "exec.out_of_job_ms": m(per(wall - in_job), "ms"),
        "split.catalyst_ms": m(per(split_catalyst), "ms"),
        "split.call_self_ms": m(per(split_call_self), "ms"),
        "split.other_ms": m(per(wall - in_job - split_catalyst - split_call_self), "ms"),
        "exec.jobs": m(per(len(jobs)), "count"),
        "exec.stages": m(per(sum(j["stages"] for j in jobs)), "count"),
        "exec.tasks": m(per(sum(j["tasks"] for j in jobs)), "count"),
        "exec.task_busy_ratio": m(task_run / (in_job * raw["host"]["cores_used"]) if in_job else 0.0, "ratio"),
        "exec.input_bytes": m(per(sum(j["input_bytes"] for j in jobs)), "B"),
        "exec.shuffle_write_bytes": m(per(sum(j["shuffle_write_bytes"] for j in jobs)), "B"),
        "exec.shuffle_read_bytes": m(per(sum(j["shuffle_read_bytes"] for j in jobs)), "B"),
        "exec.spill_bytes": m(per(sum(j["spill_bytes"] for j in jobs)), "B"),
        "stream.batches": m(per(len(t["batches"])), "count"),
        "jvm.gc_ms": m(per(t["gc_ms"]), "ms"),
        "jvm.gc_count": m(per(t["gc_count"]), "count"),
    }
    out["trace.overhead_ratio"] = m(overhead_ratio(raw), "ratio")
    out.update(table_layer(raw, spans, jobs_of, ops))
    detail = {"ops": n, "catalyst_in_job_ms": per(sum(phase_ms.values()) - split_catalyst)}
    detail.update(stream_detail(t, calls, n))
    if "passes" in raw:
        module_s = Counter()
        for o in ops:
            module_s[frozen["queries"].get(o["name"], {}).get("module", "?")] += (o["end"] - o["start"]) / 1000
        detail["queries.module_s"] = {k: v / len(wins) for k, v in sorted(module_s.items())}
    else:
        detail.update(table_kind_detail(calls, jobs_of, ops))
    out["_detail"] = detail
    return out


def overhead_ratio(raw):
    """Wall time per operation of each traced window over the mean of the
    untraced windows on either side of it (median over traced windows), so
    a warm-up trend across the run cancels."""
    ws = raw.get("passes") or raw["phases"]
    per_op = [(w["end"] - w["start"]) / len(w.get("queries") or w.get("ops")) for w in ws]
    return median([per_op[k] / ((per_op[k - 1] + per_op[k + 1]) / 2)
                   for k, w in enumerate(ws) if w["traced"]])


def table_layer(raw, spans, jobs_of, ops):
    """Table-layer counters: zero on the pipeline workloads, whose table
    work happens inside query builders."""
    values = {k: 0.0 for k in ("conflict_retries", "commits_per_attempt", "checkpoints", "versions",
                             "live_files", "log_bytes_per_commit", "data_bytes_written_per_user_byte",
                             "stored_bytes_per_live_byte", "files_read_per_read", "jobs_per_merge",
                             "jobs_per_delete", "jobs_per_read")}
    units = {"commits_per_attempt": "ratio", "log_bytes_per_commit": "B",
             "data_bytes_written_per_user_byte": "ratio", "stored_bytes_per_live_byte": "ratio"}
    if "phases" in raw:
        p = [p for p in raw["phases"] if p["traced"]][0]
        writes = [o for o in ops if o["kind"] in TABLE_WRITES]
        reads = [o for o in ops if o["kind"] in TABLE_READS]
        retries = sum(o["retries"] for o in writes)
        by_kind = defaultdict(list)
        for s in spans.values():
            by_kind[s["name"]].append(len(jobs_of[s["id"]]))
        jobs_per = lambda *kinds: sum(sum(by_kind[f"table.{k}"]) for k in kinds) / max(  # noqa: E731
            1, sum(len(by_kind[f"table.{k}"]) for k in kinds))
        values.update({
            "conflict_retries": retries,
            "commits_per_attempt": sum(o["ok"] for o in writes) / max(1, len(writes) + retries),
            "checkpoints": p["checkpoints"], "versions": p["versions"], "live_files": p["live_files"],
            "log_bytes_per_commit": p["log_bytes"] / p["versions"],
            "data_bytes_written_per_user_byte": p["data_bytes_written"] / max(1.0, p["user_bytes"]),
            "stored_bytes_per_live_byte": p["stored_bytes"] / p["live_bytes"],
            "files_read_per_read": sum(o["files_read"] for o in reads) / max(1, len(reads)),
            "jobs_per_merge": jobs_per("merge"), "jobs_per_delete": jobs_per("delete"),
            "jobs_per_read": jobs_per(*TABLE_READS)})
    return {f"table.{k}": m(v, units.get(k, "count")) for k, v in values.items()}


def stream_detail(t, calls, n):
    """Micro-batch durations per operation, and the start/stop machinery:
    builder time of the streaming queries minus their trigger time."""
    out = {f"stream.{k}": sum(b.get(v, 0) for b in t["batches"]) / n for k, v in STREAM_DURATIONS.items()}
    starts = [b["at"] for b in t["batches"]]
    streaming = [s for s in calls if any(s["start"] <= a <= s["end"] for a in starts)]
    out["stream.outside_batch_ms"] = (sum(s["end"] - s["start"] for s in streaming)
                                      - sum(b.get("triggerExecution", 0) for b in t["batches"])) / n
    return out


def table_kind_detail(calls, jobs_of, ops):
    out = {}
    for kind in TABLE_WRITES + TABLE_READS + ("history",):
        out.update(latency(f"table.{kind}_ms", [o["end"] - o["start"] for o in ops if o["kind"] == kind]))
    merges = [s for s in calls if s["name"] == "table.merge"]
    ooj = [self_time((s["start"], s["end"]), [(j["start"], j["end"]) for j in jobs_of[s["id"]]])
           for s in merges]
    out["table.merge_out_of_job_ms.p50"] = median(ooj) if ooj else None
    # writes whose own commit is known to have written a checkpoint
    cp = [o["end"] - o["start"] for o in ops if o["checkpoint"]]
    out["table.checkpoint_write_ms.p50"] = median(cp) if cp else None
    out["table.checkpoint_write_ms.n"] = len(cp)
    return out
