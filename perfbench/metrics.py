"""Metric math of the benchmark: percentiles, span unions and self time,
attribution of layer events to query executions, and the digest compare.

Pure functions over the records the JVM harness writes (result.json and
spans.jsonl), so perfbench/test_metrics.py can check them without Spark.
"""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by the nearest-rank rule, as (percentile, value). When that
    percentile is not above the median (at most 2 * `beyond` samples),
    returns (50, median)."""
    s = sorted(xs)
    n = len(s)
    p = (100 * (n - beyond)) // n if n > beyond else 0
    if p <= 50:
        return 50, median(s)
    rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1]


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_ms(span, children):
    """Part of `span` covered by the union of `children`, each clipped to
    the span."""
    s0, e0 = span
    return union_ms((max(s, s0), min(e, e0)) for s, e in children)


def self_ms(span, children):
    """A span's self time: its duration minus what its children cover."""
    return (span[1] - span[0]) - covered_ms(span, children)


def compare_digests(actual, expected):
    """Names whose output is wrong: an expected digest with no matching
    output digest, or an output with no expected digest."""
    bad = []
    for name in sorted(set(actual) | set(expected)):
        if actual.get(name) is None or actual.get(name) != expected.get(name):
            bad.append(name)
    return bad


# ---------------------------------------------------------------- attribution

def attribute(execs, jobs, stages, plans, progress):
    """Assign layer events to query executions.

    A job belongs to the execution whose job group it carries; jobs of
    streaming micro-batches run on the stream's own thread under its own
    group, so a job with a foreign group falls to the execution whose wall
    interval holds its start (one closed-loop client: at most one
    execution is in flight). Stages follow their job; planning trackers
    and streaming progress follow their start time.
    Returns {exec id: {"jobs": [...], "stages": [...], "plans": [...],
    "progress": [...]}}.
    """
    by_id = {e["id"]: e for e in execs}
    out = {e["id"]: {"jobs": [], "stages": [], "plans": [], "progress": []}
           for e in execs}
    windows = sorted((e["t0"], e["t1"], e["id"]) for e in execs)

    def at(t):
        for s, e, i in windows:
            if s <= t <= e:
                return i
        return None

    stage_owner = {}
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        owner = j["group"] if j["group"] in by_id else at(j["start_ms"])
        if owner is None:
            continue
        out[owner]["jobs"].append(j)
        for sid in j["stages"]:
            stage_owner.setdefault(sid, owner)
    for st in stages:
        owner = stage_owner.get(st["id"])
        if owner is not None:
            out[owner]["stages"].append(st)
    for p in plans:
        starts = [v[0] for v in p["phases"].values()]
        owner = at(min(starts)) if starts else None
        if owner is not None:
            out[owner]["plans"].append(p)
    for pr in progress:
        owner = at(pr["start_ms"])
        if owner is not None:
            out[owner]["progress"].append(pr)
    return out


def job_span(j):
    return (j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"])


def exec_layers(e, ev):
    """Per-layer counts and times of one traced query execution.

    Which end-to-end number each layer should move, and where:
      build.*    operator build: graft.operators eager pins and probes,
                 graft.streaming drains -> pass_cpu_s on iter_stream,
                 near zero on short_mix
      plan.*, codegen.*   Catalyst (graft.plans rules, GraftExtensions)
                 -> pass_cpu_s on short_mix, setup_s everywhere
      exec.*, sched.*, task.deserialize_ms   scheduling -> pass_cpu_s on
                 short_mix and iter_stream
      task.*, cores.busy_frac   task compute (graft.functions kernels,
                 codegen'd operators) -> pass_cpu_s
      shuffle.*, spill.bytes    exchange -> pass_cpu_s on iter_stream
      scan.*, sink.*, catalog.* I/O (graft.sources, parquet scan, file
                 index) -> pass_cpu_s on iter_stream
      stream.*   streaming state (graft.streaming, RocksDB stores)
                 -> stream.batch_p50_ms and pass_cpu_s on iter_stream
    """
    t0, tb, t1 = e["t0"], e["tb"], e["t1"]
    if tb is None:
        tb = t1
    build_jobs = [j for j in ev["jobs"] if j["start_ms"] < tb]
    build_stage_ids = {s for j in build_jobs for s in j["stages"]}
    build_stages = [s for s in ev["stages"] if s["id"] in build_stage_ids]
    action_plans = [p for p in ev["plans"]
                    if min(v[0] for v in p["phases"].values()) >= tb]
    job_spans = [job_span(j) for j in ev["jobs"]]

    def phase(name):
        return sum(p["phases"][name][1] - p["phases"][name][0]
                   for p in action_plans if name in p["phases"])

    def ssum(key, sts=None):
        return sum(s[key] for s in (ev["stages"] if sts is None else sts))

    prog = ev["progress"]
    m = {
        "build.wall_ms": tb - t0,
        "build.jobs": len(build_jobs),
        "build.tasks": ssum("tasks", build_stages),
        "build.task_ms": ssum("run_ms", build_stages),
        "plan.analysis_ms": phase("analysis"),
        "plan.optimization_ms": phase("optimization"),
        "plan.planning_ms": phase("planning"),
        "codegen.compile_ms": e["compile_ns"] / 1e6,
        "codegen.classes": e["compiles"],
        "exec.jobs": len(ev["jobs"]),
        "exec.stages": len(ev["stages"]),
        "exec.tasks": ssum("tasks"),
        "sched.idle_ms": self_ms((t0, t1), job_spans),
        "sched.launch_delay_total_ms": ssum("launch_delay_ms"),
        "task.deserialize_ms": ssum("deserialize_ms"),
        "task.run_ms": ssum("run_ms"),
        "task.cpu_ms": ssum("cpu_ms"),
        "task.gc_ms": ssum("gc_ms"),
        "task.retries": ssum("retries"),
        "shuffle.write_bytes": ssum("shuffle_write_bytes"),
        "shuffle.read_bytes": ssum("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": ssum("fetch_wait_ms"),
        "spill.bytes": ssum("spill_bytes"),
        "scan.bytes": ssum("scan_bytes"),
        "scan.rows": ssum("scan_rows"),
        "sink.bytes": ssum("sink_bytes"),
        "sink.rows": ssum("sink_rows"),
        "catalog.files_discovered": e["files_discovered"],
        "catalog.file_cache_hits": e["file_cache_hits"],
        "stream.batches": len(prog),
        "stream.input_rows": sum(p["input_rows"] for p in prog),
        "stream.add_batch_ms": sum(p["add_batch_ms"] for p in prog),
        "stream.state_commit_ms": sum(p["state_commit_ms"] for p in prog),
        # state size is a level, not a flow: the high-water mark of the
        # execution
        "stream.state_rows": max((p["state_rows"] for p in prog), default=0),
        "stream.state_mem_bytes": max((p["state_mem_bytes"] for p in prog),
                                      default=0),
        # self time of each span layer (see spans())
        "self.build_ms": self_ms((t0, tb), [job_span(j) for j in build_jobs]),
        "self.action_ms": self_ms(
            (tb, t1),
            [job_span(j) for j in ev["jobs"] if j["start_ms"] >= tb]
            + [tuple(v) for p in action_plans for v in p["phases"].values()]),
        "self.job_ms": sum(
            self_ms(job_span(j),
                    [(s["submit_ms"], s["end_ms"]) for s in ev["stages"]
                     if s["id"] in j["stages"]])
            for j in ev["jobs"]),
    }
    return m


def pass_layers(pass_execs, events, cores):
    """Sum one traced pass's executions into per-layer totals, then the
    ratios that need the whole pass."""
    tot = {}
    for e in pass_execs:
        for k, v in exec_layers(e, events[e["id"]]).items():
            tot[k] = tot.get(k, 0) + v
    wall_ms = sum(e["t1"] - e["t0"] for e in pass_execs)
    tasks = tot.get("exec.tasks", 0)
    tot["sched.launch_delay_ms"] = (
        tot.pop("sched.launch_delay_total_ms", 0) / tasks if tasks else 0.0)
    tot["cores.busy_frac"] = (tot.get("task.run_ms", 0) / (wall_ms * cores)
                              if wall_ms else 0.0)
    return tot


def spans(execs, events):
    """The span tree of a traced run: query -> build | action; build ->
    its jobs; action -> planning phases and its jobs; job -> stages. Every
    span carries the id of its query execution."""
    out = []
    for e in execs:
        if not e["traced"]:
            continue
        i, t0, t1 = e["id"], e["t0"], e["t1"]
        tb = e["tb"] if e["tb"] is not None else t1
        ev = events[i]
        out.append({"id": i, "name": f"query:{e['q']}", "start": t0,
                    "end": t1, "parent": None, "exec": i})
        out.append({"id": f"{i}/build", "name": "build", "start": t0,
                    "end": tb, "parent": i, "exec": i})
        out.append({"id": f"{i}/action", "name": "action", "start": tb,
                    "end": t1, "parent": i, "exec": i})
        for k, p in enumerate(ev["plans"]):
            for name, (s, en) in sorted(p["phases"].items()):
                parent = f"{i}/action" if s >= tb else f"{i}/build"
                out.append({"id": f"{i}/plan{k}.{name}",
                            "name": f"plan.{name}", "start": s, "end": en,
                            "parent": parent, "exec": i})
        placed = set()  # a stage listed by several jobs ran under the first
        for j in ev["jobs"]:
            parent = f"{i}/build" if j["start_ms"] < tb else f"{i}/action"
            js, je = job_span(j)
            out.append({"id": f"{i}/job{j['id']}", "name": "job",
                        "start": js, "end": je, "parent": parent, "exec": i,
                        "group": j["group"]})
            for s in ev["stages"]:
                if s["id"] in j["stages"] and s["id"] not in placed:
                    placed.add(s["id"])
                    out.append({"id": f"{i}/stage{s['id']}.{s['attempt']}",
                                "name": "stage", "start": s["submit_ms"],
                                "end": s["end_ms"],
                                "parent": f"{i}/job{j['id']}", "exec": i,
                                "tasks": s["tasks"], "run_ms": s["run_ms"]})
    return out
