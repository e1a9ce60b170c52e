#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) and generates the seed's inputs under
`.perfbench/`; later runs reuse both. Each run starts one JVM on
`local[nproc]` under the fixed Spark conf of graft's Bench main, times the
workload for `--seconds`, checks the outputs once outside the timed region,
writes an artifact to `.perfbench/results/`, prints a summary of every
metric by name and unit, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics of BENCHMARK.json (trace 0) or its per-layer
metrics (trace 1). Workloads and metric definitions: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

SF = 0.1
HEAP = "4g"
RUN_BUDGET_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

WORKLOADS = {
    "scan-agg": ["q1_pricing_summary", "q30_cube", "q33_range_join", "q24_topk_revenue"],
    "iterative-pipeline": ["t38_bpe_drift", "q71_kcore"],
    "stream-drain": ["w1_stream_hourly", "w2_stream_user_profile",
                     "w11_stream_hll_sketch", "w22_stream_keep_last_n"],
    "serve-mixed": None,
    "serve-read": None,
}
# serve workloads: whether the writer commits while the reads run
SERVE = {"serve-mixed": "mixed", "serve-read": "read"}

# every per-layer metric, in report order
LAYER_METRICS = [
    ("queries.construct_s", "s"), ("queries.sink_s", "s"),
    ("spark.jobs", "count"), ("spark.jobs.construct", "count"),
    ("spark.single_task_job_share", "ratio"), ("spark.driver_gap_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.shuffle_read_mb", "mb"), ("spark.shuffle_write_mb", "mb"),
    ("spark.spill_mb", "mb"), ("spark.slot_util", "ratio"), ("spark.gc_s", "s"),
    ("materialize.checkpoints", "count"), ("materialize.s", "s"),
    ("operators.jobs", "count"), ("operators.job_s", "s"), ("queries.jobs", "count"),
    ("streaming.jobs", "count"), ("state.jobs", "count"), ("core.jobs", "count"),
    ("operators.Bpe.jobs", "count"), ("operators.GraphAlgorithms.jobs", "count"),
    ("operators.Similarity.jobs", "count"), ("operators.Dedup.jobs", "count"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.addBatch_s", "s"), ("streaming.queryPlanning_s", "s"),
    ("streaming.walCommit_s", "s"), ("streaming.commitOffsets_s", "s"),
    ("streaming.latestOffset_s", "s"), ("streaming.getBatch_s", "s"),
    ("streaming.overhead_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mem_mb", "mb"), ("streaming.state_commit_s", "s"),
    ("serving.kv.jobs_per_req", "count"), ("serving.index.jobs_per_req", "count"),
    ("serving.kv.spark_ms", "ms"), ("serving.index.spark_ms", "ms"),
    ("serving.wait_ms", "ms"), ("state.point_lookup_ms", "ms"),
    ("state.index_lookup_ms", "ms"), ("streaming.ingest_s", "s"),
    ("streaming.ingest.buckets_rewritten", "count"), ("trace.overhead_pct", "%"),
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# --- build -----------------------------------------------------------------

def source_stamp():
    """Digest of every input of the build (paths, sizes, mtimes)."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath
    and whether this call built it."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = (os.path.join(target, "classpath.txt"),
                           os.path.join(target, "perfbench.stamp"))
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts += " -Dsbt.override.build.repos=true"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(STATE, exist_ok=True)
    log("building engine and harness (first run only)")
    with open(os.path.join(STATE, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed, see {os.path.join(STATE, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), True


def inputs(seed):
    """Generated tables and serve batches for `seed` (made once per
    generator version, reused)."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:12]
    d = os.path.join(STATE, "data", f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "done")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp, seed, SF)
        gen.serve_batches(os.path.join(tmp, "serve"), seed, SF)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# --- one run ---------------------------------------------------------------

def kill(p):
    if p is not None and p.poll() is None:
        p.kill()
    if p is not None:
        p.wait()


def run_jvm(args, classpath, data, work, deadline):
    """Launch the harness; for serve-mixed also drive the load process.
    Returns (raw observations, load log or None)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
        "-cp", classpath, "perfbench.Harness", f"workload={args.workload}",
        f"data={data}", f"out={work}", f"seconds={args.seconds}",
        f"trace={args.trace}", f"cores={cores()}"]
    queries = WORKLOADS[args.workload]
    if queries:
        cmd.append(f"queries={','.join(queries)}")
    else:
        # serve-mixed: two writer commits per window, each due mid-interval
        cmd += [f"serve={SERVE[args.workload]}", f"interval_ms={int(args.seconds * 500)}"]
    # one fixed conf: no knob environment reaches the engine
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    jvm = lg = None
    loadlog = None
    try:
        with open(os.path.join(work, "jvm.log"), "w") as out:
            jvm = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, env=env, cwd=work)
            if queries is None:
                ready = os.path.join(work, "ready.json")
                while not os.path.exists(ready):
                    if jvm.poll() is not None or time.time() > deadline:
                        raise BenchError("serve harness never became ready")
                    time.sleep(0.05)
                time.sleep(0.05)
                port = json.load(open(ready))["port"]
                loadlog = os.path.join(work, "load.json")
                lg = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(port),
                     "--seed", str(args.seed), "--seconds", str(args.seconds),
                     "--clients", str(cores()), "--users", str(gen.users(SF)),
                     "--out", loadlog], stdin=subprocess.DEVNULL)
                lg.wait(timeout=max(1.0, deadline - time.time()))
                open(os.path.join(work, "stop"), "w").close()
                if lg.returncode != 0:
                    raise BenchError("load process failed")
            jvm.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise BenchError("run exceeded its time budget")
    finally:
        kill(lg)
        kill(jvm)
    raw_path = os.path.join(work, "raw.json")
    if jvm.returncode != 0 or not os.path.exists(raw_path):
        raise BenchError(f"harness failed (exit {jvm.returncode}), see {work}/jvm.log")
    raw = json.load(open(raw_path))
    return raw, (json.load(open(loadlog)) if loadlog else None)


def stat(values):
    """value (median), sample count, within-run quartiles and the values of
    a sample."""
    q1, med, q3 = metrics.quartiles(values)
    return {"median": med, "samples": len(values), "q1": q1, "q3": q3, "values": values}


def tail(values, p):
    """p-th percentile with its sample count and the ten-beyond rule."""
    return {"value": metrics.percentile(values, p), "samples": len(values),
            "tail_ok": metrics.tail_ok(len(values), p)}


def batch_results(raw, data, work, queries):
    passes = [p for p in raw["passes"] if not p["traced"]]
    execs = [e for e in raw["execs"] if not e["traced"]]
    ok = [e for e in execs if e["ok"]]
    if not ok:
        raise BenchError("no query execution succeeded")
    times = [(e["end"] - e["start"]) / 1000.0 for e in ok]
    per_query = {q: statistics.median((e["end"] - e["start"]) for e in ok if e["query"] == q)
                 for q in queries if any(e["query"] == q for e in ok)}
    mism = oracle.check_queries(data, os.path.join(work, "check"), queries,
                                json.load(open(os.path.join(work, "oracle_sql.json"))))
    # an execution fails when it raises or its query disagrees with its oracle
    bad = {q for q, why in mism.items() if why}
    runs = [(e["query"], e["ok"]) for e in raw["execs"]] + \
        [(q, not any(err["query"] == q and err["phase"] == f"warmup{w}"
                     for err in raw["errors"]))
         for q in queries for w in range(raw["warmup_passes"])]
    attempted = len(runs)
    failed = sum(1 for q, ok in runs if not ok or q in bad)
    pass_s = [p["ms"] / 1000.0 for p in passes]
    report = {
        "pass_s": stat(pass_s),
        "query_p50_s": tail(times, 50), "query_p90_s": tail(times, 90),
        "per_query_ms": per_query,
    }
    gated = {"pass_s": statistics.median(pass_s)}
    checks = {"oracle_mismatches": {q: why for q, why in mism.items() if why},
              "errors": raw["errors"]}
    return report, gated, attempted, failed, checks


def in_segments(t, segments):
    return any(g["start"] <= t < g["end"] for g in segments)


def read_rate(reads, segments):
    """Completed reads per second over `segments` of the read window,
    clipped to the time the load process was running."""
    lo, hi = min(r["start"] for r in reads), max(r["end"] for r in reads)
    span = _sum(max(0.0, min(g["end"], hi) - max(g["start"], lo)) for g in segments) / 1000.0
    n = sum(1 for r in reads if in_segments(r["start"], segments))
    return n / span if span > 0 else float("nan")


def serve_results(raw, data, work, load, workload):
    commits = sorted(raw["commits"], key=lambda c: c["batch"])
    reads = load
    if not reads:
        raise BenchError("the load process completed no request")
    truth = oracle.Truth(oracle.load_batches(data, len(commits) + 1))
    counts, bad_reads = oracle.check_reads(truth, reads, commits)
    final = oracle.check_final_store(truth, len(commits), os.path.join(work, "check"))
    lat = {r: [x["end"] - x["start"] for x in reads if x["route"] == r] for r in ("kv", "index")}
    # untraced segments only, unless the window is traced whole (serve-mixed)
    rps = read_rate(reads, [g for g in raw["segments"] if not g["traced"]] or raw["segments"])
    report = {
        "kv_p50_ms": tail(lat["kv"], 50), "kv_p90_ms": tail(lat["kv"], 90),
        "index_p50_ms": tail(lat["index"], 50), "index_p90_ms": tail(lat["index"], 90),
        "serve_rps": {"value": rps, "samples": len(reads),
                      "per_segment": [read_rate(reads, [g]) for g in raw["segments"]]},
        "pass_s": {"value": 100.0 / rps, "note": "wall time per 100 reads"},
        "reads": counts, "commits": len(commits),
    }
    if SERVE[workload] == "mixed":
        report["fresh_p50_s"] = stat([(c["end"] - c["due"]) / 1000.0 for c in commits]
                                     or [float("nan")])
        late = [(c["start"] - c["due"]) / 1000.0 for c in commits] or [0.0]
        report["writer_late_s"] = {"max": max(late), "median": statistics.median(late)}
    gated = {"pass_s": 100.0 / rps}
    attempted = len(reads) + len(commits) + 1
    failed = counts["stale"] + counts["wrong"] + counts["error"] + (1 if final else 0)
    checks = {"reads": counts, "bad_reads": bad_reads, "final_store": final}
    return report, gated, attempted, failed, checks


# --- per-layer metrics (traced run) ----------------------------------------

def _sum(xs):
    return float(sum(xs))


def layer_results(raw, load, queries, n_cores, workload):
    """Every per-layer metric, the span list of the traced run, and the jobs
    and checkpoints of each query per traced pass (batch workloads).

    Batch workloads report per traced pass. The serve workloads count the
    traced part of the read window plus the writer's commits as their
    "pass" and report per 100 traced reads; their streaming micro-batch
    figures are per commit."""
    jobs = [j for j in raw["jobs"] if j["end"] >= 0]
    for j in jobs:
        j["module"], j["file"] = metrics.attribute(j["call_site"], j["sql_call_site"],
                                                   j["in_stream"])
        j["checkpoint"] = metrics.is_checkpoint(j["call_site"])
    spans, per_query = [], {}
    kv = ix = []
    commits = raw.get("commits", [])
    if queries is not None:
        tpasses = [p for p in raw["passes"] if p["traced"]]
        upasses = [p for p in raw["passes"] if not p["traced"]]
        norm = stream_norm = max(1, len(tpasses))
        for p in tpasses:
            spans.append({"id": f"pass{p['pass']}", "name": "pass", "parent": None,
                          "start": p["start"], "end": p["end"], "request": p["pass"]})
        texecs = [e for e in raw["execs"] if e["traced"]]
        for e in texecs:
            qid = f"pass{e['pass']}/{e['query']}"
            spans += [
                {"id": qid, "name": f"query:{e['query']}", "parent": f"pass{e['pass']}",
                 "start": e["start"], "end": e["end"], "request": e["pass"]},
                {"id": qid + "/construct", "name": "construct", "parent": qid,
                 "start": e["start"], "end": e["built"], "request": e["pass"]},
                {"id": qid + "/sink", "name": "sink", "parent": qid,
                 "start": e["built"], "end": e["end"], "request": e["pass"]}]
        windows = [(e["start"], e["end"]) for e in texecs]
        overhead = 100.0 * (statistics.median(p["ms"] for p in tpasses) /
                            statistics.median(p["ms"] for p in upasses) - 1.0)
        gc_s = raw["gc_ms"] / 1000.0 / max(1, len(raw["passes"]))
        for q in queries:
            mine = [j for j in jobs for e in texecs
                    if e["query"] == q and e["start"] <= j["start"] <= e["end"]]
            per_query[q] = {"jobs": len(mine) / norm,
                            "checkpoints": sum(1 for j in mine if j["checkpoint"]) / norm}
    else:
        traced = [g for g in raw["segments"] if g["traced"]]
        windows = [(g["start"], g["end"]) for g in traced] + \
            [(c["start"], c["end"]) for c in commits]
        reads = [r for r in load if in_segments(r["start"], traced)]
        kv = [r for r in reads if r["route"] == "kv"]
        ix = [r for r in reads if r["route"] == "index"]
        norm, stream_norm = max(1, len(reads)) / 100.0, max(1, len(commits))
        untraced = [g for g in raw["segments"] if not g["traced"]]
        # serve-mixed's window is traced whole: its overhead is not measured
        overhead = (100.0 * (read_rate(load, untraced) / read_rate(load, traced) - 1.0)
                    if traced and untraced else None)
        gc_s = raw["gc_ms"] / 1000.0 / (len(load) / 100.0)  # the whole window
        for r_i, r in enumerate(reads):
            spans.append({"id": f"http{r_i}", "name": f"http:{r['route']}", "parent": None,
                          "start": r["start"], "end": r["end"], "request": r_i})
        for c in commits:
            spans.append({"id": f"drain{c['batch']}", "name": "writer.drain", "parent": None,
                          "start": c["start"], "end": c["end"], "request": f"batch{c['batch']}"})
    jobs = [j for j in jobs if any(s <= j["start"] <= e for s, e in windows)]
    progress = [p for p in raw["progress"]
                if any(s <= p["start"] <= e for s, e in windows)]
    parents = [s for s in spans if s["name"] in ("construct", "sink", "writer.drain")]
    job_spans = [{"id": f"job{j['id']}", "name": f"job:{j['module']}", "start": j["start"],
                  "end": j["end"], "request": None} for j in jobs]
    batch_spans = [{"id": f"batch:{p['run_id']}:{p['batch']}", "name": "stream.batch",
                    "start": p["start"],
                    "end": p["start"] + p["durations"].get("triggerExecution", 0),
                    "request": None} for p in progress]
    metrics.assign_parents(job_spans + batch_spans, parents)
    spans += job_spans + batch_spans
    self_t = metrics.self_times(spans)
    for s in spans:
        s["self"] = self_t[s["id"]]

    construct_ids = {s["id"] for s in spans if s["name"] == "construct"}
    jobs_by_id = {f"job{j['id']}": j for j in jobs}
    construct_jobs = [j for s in job_spans if s["parent"] in construct_ids
                      for j in [jobs_by_id[s["id"]]]]
    wall_ms = metrics.union_length(windows)
    busy = metrics.union_length([(max(j["start"], s), min(j["end"], e)) for s, e in windows
                                 for j in jobs if j["end"] > s and j["start"] < e])
    dur = [j["end"] - j["start"] for j in jobs]
    run_ms = _sum(j["run_ms"] for j in jobs)

    def count(pred):
        return sum(1 for j in jobs if pred(j)) / norm

    def span_sum(name):
        return _sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1000.0 / norm

    def dsum(key):
        return _sum(p["durations"].get(key, 0) for p in progress) / 1000.0 / stream_norm

    def route_jobs(tag):
        return [j for j in jobs if tag in j["call_site"] or tag in j["sql_call_site"]]

    kv_jobs, ix_jobs = route_jobs("Gateway$BucketedRoute"), route_jobs("Gateway$IndexRoute")
    per_req = (lambda js, rs: len(js) / len(rs) if rs else 0.0)
    spark_ms = (lambda js, rs: _sum(j["end"] - j["start"] for j in js) / len(rs) if rs else 0.0)
    reads = kv + ix
    direct = {k: [d["end"] - d["start"] for d in raw.get("direct", []) if d["layer"] == k]
              for k in ("point", "index")}
    values = {
        "queries.construct_s": span_sum("construct"),
        "queries.sink_s": span_sum("sink"),
        "spark.jobs": count(lambda j: True),
        "spark.jobs.construct": len(construct_jobs) / norm,
        "spark.single_task_job_share": (sum(1 for j in jobs if j["tasks"] == 1) / len(jobs)
                                        if jobs else 0.0),
        "spark.driver_gap_s": (wall_ms - busy) / 1000.0 / norm,
        "spark.task_run_s": run_ms / 1000.0 / norm,
        "spark.task_cpu_s": _sum(j["cpu_ns"] for j in jobs) / 1e9 / norm,
        "spark.shuffle_read_mb": _sum(j["shuffle_read"] for j in jobs) / 1048576.0 / norm,
        "spark.shuffle_write_mb": _sum(j["shuffle_write"] for j in jobs) / 1048576.0 / norm,
        "spark.spill_mb": _sum(j["spill"] for j in jobs) / 1048576.0 / norm,
        "spark.slot_util": run_ms / (wall_ms * n_cores) if wall_ms else 0.0,
        "spark.gc_s": gc_s,
        "materialize.checkpoints": count(lambda j: j["checkpoint"]),
        "materialize.s": _sum(d for d, j in zip(dur, jobs) if j["checkpoint"]) / 1000.0 / norm,
        "operators.jobs": count(lambda j: j["module"] == "operators"),
        "operators.job_s": _sum(d for d, j in zip(dur, jobs)
                                if j["module"] == "operators") / 1000.0 / norm,
        "queries.jobs": count(lambda j: j["module"] == "queries"),
        "streaming.jobs": count(lambda j: j["module"] == "streaming"),
        "state.jobs": count(lambda j: j["module"] == "state"),
        "core.jobs": count(lambda j: j["module"] == "core"),
        "streaming.batches": len(progress) / stream_norm,
        "streaming.input_rows": _sum(p["input_rows"] for p in progress) / stream_norm,
        "streaming.overhead_s": _sum(p["durations"].get("triggerExecution", 0) -
                                     p["durations"].get("addBatch", 0)
                                     for p in progress) / 1000.0 / stream_norm,
        "streaming.state_rows": float(max([p["state_rows"] for p in progress], default=0)),
        "streaming.state_mem_mb": max([p["state_mem_bytes"] for p in progress],
                                      default=0) / 1048576.0,
        "streaming.state_commit_s": _sum(p["state_commit_ms"] for p in progress)
        / 1000.0 / stream_norm,
        "serving.kv.jobs_per_req": per_req(kv_jobs, kv),
        "serving.index.jobs_per_req": per_req(ix_jobs, ix),
        "serving.kv.spark_ms": spark_ms(kv_jobs, kv),
        "serving.index.spark_ms": spark_ms(ix_jobs, ix),
        "serving.wait_ms": ((_sum(r["end"] - r["start"] for r in reads) -
                             _sum(j["end"] - j["start"] for j in kv_jobs + ix_jobs)) / len(reads)
                            if reads else 0.0),
        "state.point_lookup_ms": statistics.median(direct["point"]) if direct["point"] else 0.0,
        "state.index_lookup_ms": statistics.median(direct["index"]) if direct["index"] else 0.0,
        "streaming.ingest_s": (statistics.median((c["end"] - c["start"]) / 1000.0
                                                 for c in commits) if commits else 0.0),
        "streaming.ingest.buckets_rewritten": (statistics.mean(c["buckets_rewritten"]
                                                               for c in commits)
                                               if commits else 0.0),
        "trace.overhead_pct": overhead,
    }
    for f in ("Bpe", "GraphAlgorithms", "Similarity", "Dedup"):
        values[f"operators.{f}.jobs"] = count(
            lambda j, f=f: j["module"] == "operators" and j["file"] == f)
    for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
              "getBatch"):
        values[f"streaming.{k}_s"] = dsum(k)
    return {name: values[name] for name, _ in LAYER_METRICS}, spans, per_query


# --- artifact --------------------------------------------------------------

def provenance(raw, args):
    git = {"sha": None, "dirty": None}
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                   cwd=ROOT, capture_output=True, text=True, timeout=10)
            git = {"sha": sha.stdout.strip(), "dirty": bool(dirty.stdout.strip())}
    except (OSError, subprocess.SubprocessError):
        pass
    xmx = [a for a in raw["jvm_args"] if a.startswith("-Xmx")]
    return {"git": git, "source_stamp": source_stamp(), "nproc": cores(),
            "xmx": xmx[-1][4:] if xmx else None, "max_heap_mb": raw["max_heap_mb"],
            "spark_conf": raw["conf"], "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "workload": args.workload, "sf": SF,
            "queries": WORKLOADS[args.workload]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log(f"no graft engine sources under {ROOT}; run from the repository root")
        return 2
    t0 = time.time()
    classpath, built = build()
    # the run's own budget starts after a first-run build
    deadline = (time.time() if built else t0) + RUN_BUDGET_S
    phases = {"build": time.time() - t0}
    data = inputs(args.seed)
    phases["inputs"] = time.time() - t0 - sum(phases.values())
    work = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw, load = run_jvm(args, classpath, data, work, deadline)
        phases["jvm"] = time.time() - t0 - sum(phases.values())
        queries = WORKLOADS[args.workload]
        if queries is not None:
            report, gated, attempted, failed, checks = batch_results(raw, data, work, queries)
        else:
            report, gated, attempted, failed, checks = serve_results(raw, data, work, load,
                                                                     args.workload)
        setup_s = raw["setup_ms"] / 1000.0
        report["setup_s"] = {"value": setup_s, "session_s": raw["session_start_ms"] / 1000.0,
                             "store_build_s": raw.get("store_build_ms", 0.0) / 1000.0}
        if SERVE.get(args.workload) == "read":
            report["setup_s"]["commits_s"] = _sum(c["end"] - c["start"]
                                                  for c in raw["commits"]) / 1000.0
        report["peak_rss_mb"] = {"value": raw["peak_rss_mb"]}
        report["failed_ratio"] = {"value": failed / attempted, "failed": failed,
                                  "attempted": attempted}
        gated["setup_s"] = setup_s
        phases["checks"] = time.time() - t0 - sum(phases.values())
        layers, spans, per_query = (layer_results(raw, load, queries, cores(), args.workload)
                                    if args.trace else ({}, [], {}))
        artifact = {"provenance": dict(provenance(raw, args), phases_s=phases),
                    "end_to_end": report,
                    "per_layer": layers, "per_query_layer": per_query, "checks": checks,
                    "finished": time.time(),
                    "metrics": layers if args.trace else gated}
        results = os.path.join(STATE, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-"
                                     f"{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        if args.trace:
            with open(stem + ".spans.json", "w") as f:
                json.dump(spans, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = dict(LAYER_METRICS)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"correct={failed == 0} attempted={attempted} failed={failed} "
          f"artifact={os.path.relpath(stem + '.json', ROOT)}")
    for name, v in report.items():
        if isinstance(v, dict) and ("value" in v or "median" in v):
            val = v.get("value", v.get("median"))
            extra = {k: x for k, x in v.items() if k not in ("value", "median")}
            unit = name.rsplit("_", 1)[-1]
            print(f"  {name} = {val:.6g} {unit} {json.dumps(extra, sort_keys=True)}")
    for name, v in layers.items():
        print(f"  {name} = {'not measured' if v is None else f'{v:.6g}'} {units[name]}")
    for q, v in per_query.items():
        print(f"  {q}: {v['jobs']:.6g} jobs, {v['checkpoints']:.6g} checkpoints per pass")
    # the result line carries exactly the metrics BENCHMARK.json names
    shown = layers if args.trace else gated
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            named = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
        shown = {k: shown[k] for k in named if k in shown}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units.get(k, "s")} for k, v in shown.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
