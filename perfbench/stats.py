"""Pure helpers of the benchmark: interval unions, self time, quartiles,
and the per-layer roll-up of a traced run's job and task spans."""
import math
import statistics


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi]; those outside it are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _within(t, span):
    return span[0] <= t <= span[1]


# per-layer metric name -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "jobs.count": "count", "jobs.stages": "count", "jobs.tasks": "count",
    "jobs.open_s": "s", "jobs.idle_core_s": "core-s",
    "jobs.task_overhead_s": "s", "jobs.failed_tasks": "count",
    "driver.self_s": "s", "driver.result_mb": "MB",
    "sources.input_rows": "rows",
    "sources.scan_task_s": "s", "sources.output_mb": "MB",
    "sources.write_task_s": "s",
    "operators.task_s": "s", "operators.cpu_s": "s", "operators.gc_s": "s",
    "operators.core_util": "ratio",
    "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.records": "count", "exchange.write_s": "s",
    "exchange.spill_mb": "MB",
}


def pass_layers(gates, jobs, tasks, cpus):
    """Per-layer metrics of one pass.

    `gates`: [{"start", "end", "sec"}] (epoch ms, seconds); `jobs`:
    [{"start", "end"}]; `tasks`: task records of the driver's listener.
    A job or task belongs to the gate whose span holds its start."""
    spans = [(g["start"], g["end"]) for g in gates]
    mine = [j for j in jobs if any(_within(j["start"], s) for s in spans)]
    work = [t for t in tasks if any(_within(t["launch"], s) for s in spans)]
    job_iv = [(j["start"], j["end"]) for j in mine]
    open_s = union_length(job_iv) / 1e3
    run_s = sum(t["run_ms"] for t in work) / 1e3
    self_s = sum(self_time(s, job_iv) for s in spans) / 1e3

    def overhead(t):
        fixed = t["deser_ms"] + t["ser_ms"]
        delay = (t["finish"] - t["launch"]) - t["run_ms"] - fixed - t["get_ms"]
        return max(0, delay) + fixed

    def total(key, scale=1.0, when=None):
        return sum(t[key] for t in work if when is None or when(t)) / scale

    return {
        "jobs.count": len(mine),
        "jobs.stages": len({t["stage"] for t in work}),
        "jobs.tasks": len(work),
        "jobs.open_s": open_s,
        "jobs.idle_core_s": cpus * open_s - run_s,
        "jobs.task_overhead_s": sum(overhead(t) for t in work) / 1e3,
        "jobs.failed_tasks": sum(1 for t in work if not t["ok"]),
        "driver.self_s": self_s,
        "driver.result_mb": total("result_b", 1e6),
        "sources.input_rows": total("in_rows"),
        "sources.scan_task_s": total("run_ms", 1e3, lambda t: t["in_rows"] > 0),
        "sources.output_mb": total("out_b", 1e6),
        "sources.write_task_s": total("run_ms", 1e3, lambda t: t["out_b"] > 0),
        "operators.task_s": run_s,
        "operators.cpu_s": total("cpu_ns", 1e9),
        "operators.gc_s": total("gc_ms", 1e3),
        "operators.core_util": run_s / (cpus * open_s) if open_s else 0.0,
        "exchange.write_mb": total("sw_b", 1e6),
        "exchange.read_mb": total("sr_b", 1e6),
        "exchange.records": total("sw_rec"),
        "exchange.write_s": total("sw_ns", 1e9),
        "exchange.spill_mb": total("spill_b", 1e6),
    }


def gate_jobs(record, passes):
    """Median over `passes` of the jobs each gate fires, by the rule of
    `pass_layers`: a job belongs to the gate whose span holds its start."""
    counts = {}
    for g in record["gates"]:
        if g["pass"] in passes:
            n = sum(1 for j in record["jobs"] if _within(j["start"], (g["start"], g["end"])))
            counts.setdefault(g["gate"], []).append(n)
    return {k: statistics.median(v) for k, v in counts.items()}


def layers(record, passes):
    """Median over `passes` of each per-layer metric of a traced record."""
    per_pass = [pass_layers([g for g in record["gates"] if g["pass"] == p],
                            record["jobs"], record["tasks"], record["cpus"])
                for p in passes]
    return {k: statistics.median(m[k] for m in per_pass) for k in LAYER_UNITS}
