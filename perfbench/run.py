#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a full checkout. The first run builds the engine and
the harness from source (perfbench/build.py); later runs reuse the build.
Everything the run writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build).

Each run starts one JVM at local[nproc]. It runs every query of the
workload once to parquet (untimed; the digest check made here), twice
more to the `noop` sink to warm up, then as one closed-loop client for
--seconds in seed-shuffled passes to the `noop` sink. --trace 1
interleaves traced and untraced passes and reports per-layer metrics
instead of the end-to-end ones. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Workloads: WORKLOADS below; why each was chosen: BENCHMARK.json.
Inputs: the seed-42 sf0.01 tables in perfbench/data, refused unless they
match perfbench/inputs.json. Expected digests: the committed
scripts/oracle_digests/sf0.01.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

BASE = "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The workloads' queries; why each workload exists is in BENCHMARK.json.
WORKLOADS = {
    # sub-second relational, SQL-surface, stats and text queries
    "short_mix": ["q1_agg", "q6_topk", "q7_broadcast_join", "q14_asof_join",
                  "q18_text_stats", "q26_window_fns", "q27_rollup",
                  "q157_heavy_hitters", "q267_sql_surface", "q274_sql_topk"],
    # graph rounds, stream drains, file-sink round trips
    "iter_stream": ["q113_pagerank", "q153_kcore", "q56_stream_dedup",
                    "q88_stream_file_sink", "q81_jsonl_sink"],
}
RUN_DEADLINE_S = 170
# a fixed-size heap: with a growable one the resident high-water mark
# follows the collector's sizing decisions more than the program
JVM_HEAP = "2g"

# every end-to-end metric a run prints; BENCHMARK.json's end_to_end names
# the ones steady enough to gate
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
                    "query_tail_s": "s", "peak_rss_mb": "MB",
                    "pass_cpu_s": "s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- inputs

def fingerprint(data_dir):
    """Row count and sha256 of every input table."""
    import pyarrow.parquet as pq
    fp = {}
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        with open(p, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        fp[t] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                 "sha256": digest}
    return fp


def check_inputs(name, data_dir):
    """Refuse to run on inputs that differ from the recorded ones."""
    want = load_json(os.path.join(HERE, "inputs.json"))[name]
    got = fingerprint(data_dir)
    bad = [t for t in TABLES if got[t] != want[t]]
    if bad:
        log(f"input fingerprint mismatch in {name}: {', '.join(bad)}")
        for t in bad:
            log(f"  {t}: recorded {want[t]}, found {got[t]}")
        raise SystemExit(3)


# ---------------------------------------------------------------- one run

def run_jvm(classes, build_dir, run_dir, queries, data_dir, seed, seconds,
            trace, cores, deadline):
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = [f"data={data_dir}", f"queries={','.join(queries)}",
            f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
            f"out={run_dir}", f"cores={cores}"]
    # the engine's scratch files, spill and checkpoints: one run's worth
    tmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    launch = time.time()
    # compiler threads never exit, so the JIT time that pass_cpu_s leaves
    # out stays visible to the harness
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:-UseDynamicNumberOfCompilerThreads"] + build.java_opts() +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(ROOT, classes), "perfbench.Harness"] +
           args + [f"launch={launch!r}"])
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf,
                             stderr=lf)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(logf) as lf:
            tail = lf.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    return load_json(os.path.join(run_dir, "result.json"))


def output_digests(run_dir, res):
    """Canonical digest of each query's output parquet, by the same rules
    as scripts/selfcheck.py (imported read-only)."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import pandas as pd
    from selfcheck import canon, digest_df
    out = {}
    for name, ok in res["outputs"].items():
        files = sorted(glob.glob(os.path.join(run_dir, "outputs", name,
                                              "*.parquet")))
        if not ok or not files:
            out[name] = None
            continue
        out[name] = digest_df(canon(pd.concat(
            [pd.read_parquet(f) for f in files])))
    return out


def expected_digests(names):
    """The committed oracle digests of the base tables."""
    committed = load_json(os.path.join(ROOT, "scripts", "oracle_digests",
                                       f"{BASE}.json"))
    return {n: committed[n]["digest"] for n in names if n in committed}


def passes_of(execs):
    by = {}
    for e in execs:
        by.setdefault(e["pass"], []).append(e)
    return [by[k] for k in sorted(by)]


def median_pass(execs, value):
    """One pass at each query's median `value` over the timed passes: a
    contention episode that slows one pass is dropped query by query."""
    by_q = {}
    for e in execs:
        if e["ok"]:
            by_q.setdefault(e["q"], []).append(value(e))
    return sum(metrics.median(v) for v in by_q.values())


def wall_s(e):
    return (e["t1"] - e["t0"]) / 1000.0


def cpu_s(e):
    return e["cpu_ns"] / 1e9


def batch_ms(res, execs):
    windows = [(e["t0"], e["t1"]) for e in execs]
    return [pr["trigger_ms"] for pr in res["progress"]
            if any(s <= pr["start_ms"] <= t for s, t in windows)]


def end_to_end(res):
    execs = res["execs"]
    lat = [wall_s(e) for e in execs if e["ok"]]
    passes = passes_of(execs)
    p_tail, v_tail = metrics.tail(lat)
    vals = {
        "setup_s": ((res["first_timed_ms"] - res["launch_ms"]) / 1000.0, 1,
                    "launch to first timed query"),
        "pass_s": (median_pass(execs, wall_s), len(passes),
                   "per-query medians"),
        "query_p50_s": (metrics.median(lat), len(lat), ""),
        "query_tail_s": (v_tail, len(lat), f"p{p_tail}"),
        "peak_rss_mb": (res["peak_rss_mb"], 1, "VmHWM"),
        "pass_cpu_s": (median_pass(execs, cpu_s), len(passes),
                       "process CPU less JIT, per-query medians"),
    }
    return vals


def per_layer(res, events, cores):
    execs = res["execs"]
    traced = [p for p in passes_of(execs) if p[0]["traced"]]
    untraced = [p for p in passes_of(execs) if not p[0]["traced"]]
    per_pass = [metrics.pass_layers(p, events, cores) for p in traced]
    vals = {k: metrics.median([pp[k] for pp in per_pass])
            for k in per_pass[0]}
    b = batch_ms(res, execs)
    if b:
        vals["stream.batch_p50_ms"] = metrics.median(b)
        vals["stream.batch_tail_ms"] = metrics.tail(b)[1]
    else:
        vals["stream.batch_p50_ms"] = vals["stream.batch_tail_ms"] = 0.0
    t_on = median_pass([e for p in traced for e in p], wall_s)
    t_off = median_pass([e for p in untraced for e in p], wall_s)
    vals["trace.traced_pass_s"] = t_on
    vals["trace.untraced_pass_s"] = t_off
    vals["trace.overhead_frac"] = t_on / t_off - 1.0
    return vals


def load_events(run_dir):
    jobs, stages, plans = [], [], []
    with open(os.path.join(run_dir, "events.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            {"job": jobs, "stage": stages, "plan": plans}[r["kind"]].append(r)
    return jobs, stages, plans


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    deadline = started + RUN_DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources (src/main/scala): run from the root of a "
            "full checkout")
        return 2
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload!r}; known: "
            f"{', '.join(WORKLOADS)}")
        return 2
    queries = WORKLOADS[a.workload]
    cores = os.cpu_count() or 1
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)

    classes = build.ensure_built(ROOT, build_dir)
    # a fresh build must not eat into this run's deadline
    deadline = max(deadline, time.time() + RUN_DEADLINE_S - 30)
    data_dir = os.path.join(HERE, "data", BASE)
    check_inputs(BASE, data_dir)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-t{a.trace}")
    res = run_jvm(classes, build_dir, run_dir, queries, data_dir, a.seed,
                  a.seconds, a.trace, cores, deadline)

    expected = expected_digests(queries)
    actual = output_digests(run_dir, res)
    wrong = metrics.compare_digests(actual, expected)
    shutil.rmtree(os.path.join(run_dir, "outputs"), ignore_errors=True)
    run_failures = sum(1 for e in res["execs"] if not e["ok"])
    attempted = len(res["execs"]) + len(res["outputs"])
    failed = run_failures + len(wrong)
    for n in wrong:
        log(f"wrong output: {n} (digest {actual.get(n)} != expected "
            f"{expected.get(n)})")

    print(f"workload {a.workload}: {len(queries)} queries on "
          f"{BASE}, local[{cores}], one closed-loop client, seed "
          f"{a.seed}, {res['passes']} timed passes")

    def since(start, end):
        return (res[end] - res[start]) / 1000.0

    print(f"  setup: session {since('launch_ms', 'session_ready_ms'):.2f} s,"
          f" output pass {since('output_start_ms', 'warm_start_ms'):.2f} s,"
          f" warm passes {since('warm_start_ms', 'warm_end_ms'):.2f} s")
    print(f"  hostcal_ms before={res['hostcal_ms_before']:.1f} "
          f"after={res['hostcal_ms_after']:.1f} "
          f"({cores} tasks of a fixed fold, best of 3)")
    times = [sum(wall_s(e) for e in p) for p in passes_of(res["execs"])]
    print(f"  passes_s = {' '.join(f'{t:.3f}' for t in times)} "
          f"(drift (max-min)/median = "
          f"{(max(times) - min(times)) / metrics.median(times):.3f})")
    print(f"  failed_frac = {failed / attempted:.4f} "
          f"({failed} failed or wrong of {attempted} executions)")
    if a.trace == 0:
        vals = end_to_end(res)
        for k, (v, n, note) in vals.items():
            print(f"  {k} = {v:.6f} {END_TO_END_UNITS[k]} (n={n}"
                  f"{', ' + note if note else ''})")
        b = batch_ms(res, res["execs"])
        if b:
            p, v = metrics.tail(b)
            print(f"  batch_p50_ms = {metrics.median(b):.3f} ms (n={len(b)})")
            print(f"  batch_tail_ms = {v:.3f} ms (n={len(b)}, p{p})")
        gated = [m["name"] for m in
                 load_json(os.path.join(ROOT, "BENCHMARK.json"))["end_to_end"]]
        out = {k: {"value": vals[k][0], "unit": END_TO_END_UNITS[k]}
               for k in gated}
    else:
        jobs, stages, plans = load_events(run_dir)
        events = metrics.attribute(res["execs"], jobs, stages, plans,
                                   res["progress"])
        vals = per_layer(res, events, cores)
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in metrics.spans(res["execs"], events):
                f.write(json.dumps(s) + "\n")
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump(vals, f, indent=1, sort_keys=True)
        units = {m["name"]: m["unit"] for m in
                 load_json(os.path.join(ROOT, "BENCHMARK.json"))["per_layer"]}
        for k in sorted(vals):
            print(f"  {k} = {vals[k]:.6g} {units.get(k, '')}")
        print(f"  spans: {os.path.relpath(run_dir, ROOT)}/spans.jsonl")
        out = {k: {"value": vals[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
