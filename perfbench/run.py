#!/usr/bin/env python3
"""KG-construction benchmark for graft.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark driver (sbt, first run
only), runs one seeded workload in one JVM on local[nproc], checks the
outputs, and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero, without a result line, if the build or run fails or if
any correctness check fails. See README.md in this directory.
"""

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
RUN_LIMIT_S = 170
NBUCKETS = 64

# Workload sizes: input pages, parquet files the pages are written as
# (for stream_drain: the backlog, one file per micro-batch).
WORKLOADS = {
    "full_build": {"pages": 12000, "files": 8},
    "resume_build": {"pages": 12000, "files": 8},
    "stream_drain": {"pages": 2400, "files": 8},
    "graph_query": {"pages": 3000, "files": 4},
}

# graph_query's mix per block of 12 queries; the seed shuffles the order
# and picks the start nodes.
QUERY_MIX = {"degrees": 2, "twohop": 3, "bgp": 3, "pagerank": 2,
             "components": 1, "triangles": 1}
QUERY_BLOCKS = 40

# span name -> per-layer duration metric (median over the run's spans)
SPAN_METRICS = {
    "kg.pagesToTriples": "kg.extract_s",
    "pipeline.surfaceRollup": "pipeline.rollup_s",
    "pipeline.linkSurfaces": "pipeline.link_s",
    "pipeline.mintIris": "pipeline.mint_s",
    "pipeline.reduceNodes": "pipeline.nodes_s",
    "pipeline.edgesFromVocab": "pipeline.edges_s",
    "checkpointed.runTriples": "checkpointed.triples_s",
    "checkpointed.runAll": "checkpointed.graph_s",
}


class CheckFailed(Exception):
    pass


# ------------------------------------------------------------ statistics

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError("p must be in (0, 100]")
    s = sorted(values)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def covered_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    its child spans cover (children clipped to the parent)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered_ms(kids)
    return out


def self_time_by_name(spans):
    """Span name -> (total ms, self ms, count), summed over the spans."""
    st = self_times(spans)
    agg = {}
    for s in spans:
        tot, slf, n = agg.get(s["name"], (0.0, 0.0, 0))
        agg[s["name"]] = (tot + s["end_ms"] - s["start_ms"], slf + st[s["id"]], n + 1)
    return agg


# ----------------------------------------------------------- seeded plan

def plan(workload, seed):
    """Everything the seed decides, as the JVM's key=value arguments."""
    size = WORKLOADS[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    args = {"base": str((seed % 1000003) * 1000000),
            "pages": str(size["pages"]), "files": str(size["files"])}
    if workload == "resume_build":
        args["fresh"] = ",".join(str(b) for b in sorted(rng.sample(range(NBUCKETS), NBUCKETS // 8)))
    if workload == "graph_query":
        args["op_multiple"] = str(sum(QUERY_MIX.values()))
    if workload in ("graph_query", "full_build"):
        block = [k for k, n in QUERY_MIX.items() for _ in range(n)]
        qs = []
        for _ in range(QUERY_BLOCKS):
            rng.shuffle(block)
            qs.extend("%s:%d" % (k, rng.randrange(1 << 16)) for k in block)
        args["queries"] = ",".join(qs)
    return args


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            if "/target/" in p:
                continue
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building the engine and benchmark driver (sbt compile)")
    main_class = os.path.join(CLASSES, "graftbench", "BenchMain.class")
    for task in (["compile"], ["clean", "compile"]):
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true"] + task,
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise CheckFailed("sbt compile failed")
        # an interrupted incremental compile can leave classes missing
        if os.path.exists(main_class):
            break
    else:
        raise CheckFailed("sbt compile produced no benchmark driver")
    with open(STAMP, "w") as f:
        f.write(stamp)


def driver_heap():
    """Driver heap as the repository's Tier-1 gate sizes it: half of
    MemTotal in GiB, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(workload, seed, seconds, trace, deadline):
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    heap = driver_heap()
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java", "-Xmx" + heap, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    conf = dict(plan(workload, seed), workload=workload, work=work, out=out,
                seconds=str(seconds), trace=str(trace), cores=str(os.cpu_count() or 1))
    if trace:
        # a settling op, then two untraced and two traced ops for the
        # overhead comparison
        conf["min_ops"] = "5"
    cmd += ["-cp", cp, "graftbench.BenchMain"] + ["%s=%s" % kv for kv in conf.items()]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise CheckFailed("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        raise CheckFailed("benchmark JVM exited with %s" % proc.returncode)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def check_query_hashes(rec, seed):
    """Results of graph queries must repeat across runs of one seed in
    this checkout: compare with (and extend) the stored hashes."""
    store = os.path.join(WORK, "query-hashes-%s-%d.json" % (rec["workload"], seed))
    old = {}
    if os.path.exists(store):
        with open(store) as f:
            old = json.load(f)
    bad = [k for k, v in rec["hashes"].items() if k in old and old[k] != v]
    old.update(rec["hashes"])
    with open(store, "w") as f:
        json.dump(old, f)
    return [{"name": "query_repeats_across_runs_" + k, "ok": False,
             "detail": "hash changed"} for k in bad]


def op_samples(rec):
    """The workload's unit operation latencies: whole builds, resumes
    and queries, one micro-batch for stream_drain."""
    if rec["workload"] == "stream_drain":
        return rec["samples"].get("batch_ms", [])
    return [o["ms"] for o in rec["ops"] if o["ok"]]


def end_to_end(rec):
    v = rec["values"]
    ops = op_samples(rec)
    return {
        "setup_s": statistics.median(rec["setup_s"]) + rec["values"]["prep_s"],
        "op_ms_p50": percentile(ops, 50),
        "stored_bytes_per_page": v["stored_bytes"] / v["pages"],
        "triple_precision": v["triple_precision"],
        "triple_recall": v["triple_recall"],
    }


def headline(rec, e2e):
    """The workload's headline numbers under their own names."""
    w, v = rec["workload"], rec["values"]
    if w == "full_build":
        return {"build_docs_per_s": v["pages"] / (e2e["op_ms_p50"] / 1000.0)}
    if w == "resume_build":
        return {"resume_s": e2e["op_ms_p50"] / 1000.0}
    if w == "stream_drain":
        return {"stream_batch_ms_p50": e2e["op_ms_p50"],
                "stream_pages_per_s": stream_pages_per_s(rec)}
    return {"query_ms_p50": e2e["op_ms_p50"],
            "query_ms_p90": percentile(op_samples(rec), 90)}


def stream_pages_per_s(rec):
    drains = [o["ms"] for o in rec["ops"] if o["ok"]]
    return rec["values"]["pages"] / (statistics.median(drains) / 1000.0)


def per_layer(rec):
    """Per-layer metrics from the traced run's counters, samples, spans
    and stage records. A layer the workload does not call reads 0."""
    m = dict(rec["counters"])
    spans, stages = rec["spans"], rec["stages"]
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    def stages_under(pred):
        return [st for st in stages
                if int(st["span"]) in by_id and pred(by_id[int(st["span"])])]

    for name, metric in SPAN_METRICS.items():
        d = [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name]
        if d:
            m[metric] = statistics.median(d) / 1000.0

    def in_span(name):
        return lambda s: s["name"] == name or any(
            p["name"] == name for p in ancestors(s))

    def ancestors(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            yield s

    kg = stages_under(in_span("kg.pagesToTriples"))
    if kg:
        big = max(kg, key=lambda st: st["run_ms"])
        m["kg.task_ms_max_over_median"] = big["task_max_ms"] / max(big["task_median_ms"], 1.0)
        m["kg.gc_ms"] = sum(st["gc_ms"] for st in kg)
    m["pipeline.rollup_shuffle_bytes"] = sum(
        st["shuffle_write"] for st in stages_under(in_span("pipeline.surfaceRollup")))
    m["pipeline.edges_shuffle_bytes"] = sum(
        st["shuffle_write"] for st in stages_under(in_span("pipeline.edgesFromVocab")))

    samples = rec["samples"]
    if rec["workload"] == "stream_drain":
        for key, metric in (("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                            ("commitOffsets", "commit_offsets"),
                            ("queryPlanning", "query_planning"),
                            ("latestOffset", "latest_offset")):
            if samples.get("stream." + key):
                m["stream.%s_ms_p50" % metric] = percentile(samples["stream." + key], 50)
        m["stream.batches"] = float(len(samples.get("batch_ms", [])))
        m["stream.pages_per_s"] = stream_pages_per_s(rec)

    # the workload's traced operations: root spans named after it
    wl = rec["workload"]
    roots = [s for s in spans if s["name"] == wl and s["parent"] not in by_id]
    root_ids = {s["id"] for s in roots}
    op_stages = stages_under(lambda s: root_of(s)["id"] in root_ids)
    jobs = {int(k): n for k, n in rec["jobs_by_span"].items()}
    op_jobs = sum(n for sid, n in jobs.items()
                  if sid in by_id and root_of(by_id[sid])["id"] in root_ids)
    if wl == "stream_drain" and m["stream.batches"]:
        drains = len([o for o in rec["ops"] if o["ok"]])
        traced_batches = len(roots) * m["stream.batches"] / max(drains, 1)
        m["stream.jobs_per_batch"] = op_jobs / max(traced_batches, 1.0)
    for k in QUERY_MIX:
        if samples.get("graph." + k):
            m["graph.%s_ms_p50" % k] = percentile(samples["graph." + k], 50)
    queries = [s for s in spans if s["name"].startswith("graph.")]
    if queries:
        qids = {s["id"] for s in queries}
        m["graph.jobs_per_query"] = sum(
            n for sid, n in jobs.items() if sid in qids) / len(queries)
        m["graph.stages_per_query"] = len(
            [st for st in stages if int(st["span"]) in qids]) / len(queries)
    # spark.* are per traced operation
    wall = sum(s["end_ms"] - s["start_ms"] for s in roots)
    n_ops = max(len(roots), 1)
    m["spark.jobs"] = op_jobs / n_ops
    m["spark.stages"] = len(op_stages) / n_ops
    for metric, key in (("tasks", "tasks"), ("shuffle_write_bytes", "shuffle_write"),
                        ("shuffle_read_bytes", "shuffle_read"), ("spill_bytes", "spill"),
                        ("gc_ms", "gc_ms")):
        m["spark." + metric] = sum(st[key] for st in op_stages) / n_ops
    if wall > 0:
        m["spark.task_busy_share"] = sum(st["run_ms"] for st in op_stages) / (
            wall * (os.cpu_count() or 1))
    un, tr = samples.get("untraced_ms"), samples.get("traced_ms")
    if un and tr:
        m["trace.overhead_pct"] = (statistics.median(tr) / statistics.median(un) - 1) * 100
    st = self_times(spans)
    if roots:
        m["trace.unattributed_share"] = sum(st[s["id"]] for s in roots) / wall
    return m


def write_trace(rec, seed):
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    p = os.path.join(WORK, "traces", "%s-seed%d.json" % (rec["workload"], seed))
    with open(p, "w") as f:
        json.dump({"spans": rec["spans"], "stages": rec["stages"],
                   "jobs_by_span": rec["jobs_by_span"]}, f)
    log("trace written to %s" % os.path.relpath(p, ROOT))
    log("%-28s %6s %12s %12s" % ("span", "count", "total_ms", "self_ms"))
    for name, (tot, slf, n) in sorted(self_time_by_name(rec["spans"]).items(),
                                       key=lambda kv: -kv[1][1]):
        log("%-28s %6d %12.1f %12.1f" % (name, n, tot, slf))


def load_spec():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        raise CheckFailed("cannot read BENCHMARK.json: %s" % e)


def report(values, declared, default=None):
    """The declared metrics, in declaration order, with their units.
    A computed metric the declaration lacks is an error; a declared one
    not computed takes `default` (per-layer: the layer was not called)."""
    names = [d["name"] for d in declared]
    extra = sorted(set(values) - set(names))
    if extra:
        raise CheckFailed("metrics missing from BENCHMARK.json: %s" % ", ".join(extra))
    out = {}
    for d in declared:
        v = values.get(d["name"], default)
        if v is None:
            raise CheckFailed("metric %s was not measured" % d["name"])
        out[d["name"]] = {"value": float(v), "unit": d["unit"]}
    return out


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S
    try:
        if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
            raise CheckFailed("engine sources not found next to the benchmark")
        spec = load_spec()
        if not os.environ.get("SPARK_HOME"):
            raise CheckFailed("SPARK_HOME is not set")
        build()
        deadline = time.time() + RUN_LIMIT_S
        rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, deadline)
        checks = rec["checks"] + check_query_hashes(rec, a.seed)
        failed_checks = [c for c in checks if not c["ok"]]
        failed_ops = sum(1 for o in rec["ops"] if not o["ok"])
        # operations: builds, resumes, micro-batches or queries, plus checks
        attempted = len(op_samples(rec)) + failed_ops + len(checks)
        failed = failed_ops + len(failed_checks)
        log("attempted %d operations and checks, %d failed" % (attempted, failed))
        for c in failed_checks:
            log("CHECK FAILED %s: %s" % (c["name"], c["detail"]))
        if failed:
            raise CheckFailed("%d operation(s) or check(s) failed" % failed)
        if a.trace:
            write_trace(rec, a.seed)
            metrics = report(per_layer(rec), spec["per_layer"], default=0.0)
        else:
            e2e = end_to_end(rec)
            for k, v in headline(rec, e2e).items():
                log("%s = %.4f" % (k, v))
            metrics = report(e2e, spec["end_to_end"])
    except CheckFailed as e:
        log("FAILED: %s" % e)
        return 1
    finally:
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
