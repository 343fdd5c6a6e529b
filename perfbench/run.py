#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_hourly --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
harness into .bench_build (see build.py); every run then starts one JVM
(graftbench.Main) on a local[nproc] session, which writes result.json
and, with --trace 1, trace.jsonl. This script derives the metrics from
those files and prints, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Run files are
kept under .bench_build/runs/. Workloads, sizes and the layer
predictions are documented in perfbench/README.md and workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

CONFIG = os.path.join(HERE, "workloads.json")
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
              ("throughput_ops_s", "ops/s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("tables.resolve_jobs", "count"), ("tables.resolve_ms", "ms"),
    ("operators.build_ms", "ms"), ("operators.eager_jobs", "count"),
    ("operators.eager_ms", "ms"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"), ("executor.gc_ms", "ms"),
    ("executor.deserialize_ms", "ms"), ("executor.parallelism", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "bytes"),
    ("shuffle.peak_exec_mem_bytes", "bytes"),
    ("pipeline.extract_ms", "ms"), ("pipeline.staging_ms", "ms"),
    ("pipeline.mart_ms", "ms"), ("pipeline.test_ms", "ms"),
    ("lake.files_discovered", "count"), ("lake.raw_files", "count"),
    ("lake.bytes_per_row", "bytes/row"), ("lake.snapshot_log_lines", "count"),
    ("thrift.overhead_ms", "ms"), ("thrift.fetch_ms", "ms"),
    ("log.warn_events", "count"), ("trace.overhead_ms", "ms"), ("op.self_ms", "ms")]


def percentile(values, pct):
    """Linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(res, pct):
    ops = res["ops"]
    ok = [o["latency_ms"] for o in ops if o["failure"] is None]
    lat = ok or [o["latency_ms"] for o in ops]
    m = {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": percentile(lat, pct),
        "throughput_ops_s": len(ok) / res["window"]["timed_wall_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    beyond = sum(1 for x in lat if x > m["op_tail_ms"])
    return m, {"tail_percentile": pct, "ops_beyond_tail": beyond}


def per_layer(res, spans):
    """Every per-layer metric, per traced op, derived from the trace."""
    ops = res["ops"]
    traced = {o["id"] for o in ops if o["traced"]}
    n = max(1, len(traced))
    by_name = defaultdict(list)
    for s in spans:
        if s["op"] in traced:
            by_name[s["name"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def total(name, attr=None):
        return sum(s["attrs"].get(attr, 0) if attr else dur(s) for s in by_name[name])

    op_spans = by_name["op"]
    concurrent = any(o["client"] > 0 for o in ops)
    window = res["window"]

    def op_counter(key):
        # ops overlap on the concurrent workload: use the timed window's
        # counter total over all of its ops instead of per-op deltas
        if concurrent:
            return window.get(key, 0) / max(1, len(ops))
        return sum(s["attrs"].get(key, 0) for s in op_spans) / n

    jobs = by_name["job"]
    resolve = [j for j in jobs if j["attrs"]["phase"] == "operators.build"
               and "Tables.scala" in j["attrs"]["call_site"]]
    eager = [j for j in jobs if j["attrs"]["phase"] == "operators.build"
             and "Tables.scala" not in j["attrs"]["call_site"]]
    stages = by_name["stage"]
    stage_wall = sum(dur(s) for s in stages)
    server = {s["parent"]: dur(s) for s in by_name["thrift.server"]}
    latency = {o["id"]: o["latency_ms"] for o in ops}
    overhead = [latency[s["op"]] - server[s["id"]] for s in op_spans if s["id"] in server]
    children = defaultdict(float)
    for s in spans:
        if s["op"] in traced and s["parent"].startswith("op:") and s["name"] not in (
                "job", "sql", "stage", "thrift.server"):
            children[s["parent"]] += dur(s)
    untraced = [o["latency_ms"] for o in ops if not o["traced"] and o["failure"] is None]
    traced_lat = [o["latency_ms"] for o in ops if o["traced"] and o["failure"] is None]
    info = res["info"]
    m = {
        "tables.resolve_jobs": len(resolve) / n,
        "tables.resolve_ms": sum(dur(j) for j in resolve) / n,
        "operators.build_ms": total("operators.build") / n,
        "operators.eager_jobs": len(eager) / n,
        "operators.eager_ms": sum(dur(j) for j in eager) / n,
        "plans.analysis_ms": total("sql", "analysis_ms") / n,
        "plans.optimization_ms": total("sql", "optimization_ms") / n,
        "plans.planning_ms": total("sql", "planning_ms") / n,
        "codegen.compile_ms": op_counter("codegen_ms"),
        "codegen.compiles": op_counter("codegen_compiles"),
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": total("stage", "tasks") / n,
        "executor.run_ms": total("stage", "run_ms") / n,
        "executor.cpu_ms": total("stage", "cpu_ms") / n,
        "executor.gc_ms": total("stage", "gc_ms") / n,
        "executor.deserialize_ms": total("stage", "deserialize_ms") / n,
        "executor.parallelism": total("stage", "run_ms") / stage_wall if stage_wall else 0.0,
        "shuffle.write_bytes": total("stage", "shuffle_write_bytes") / n,
        "shuffle.read_bytes": total("stage", "shuffle_read_bytes") / n,
        "shuffle.fetch_wait_ms": total("stage", "fetch_wait_ms") / n,
        "shuffle.spill_bytes": total("stage", "spill_bytes") / n,
        "shuffle.peak_exec_mem_bytes": max(
            [s["attrs"]["peak_exec_mem_bytes"] for s in stages], default=0),
        "pipeline.extract_ms": total("pipeline.extract") / n,
        "pipeline.staging_ms": total("pipeline.staging") / n,
        "pipeline.mart_ms": total("pipeline.mart") / n,
        "pipeline.test_ms": total("pipeline.test") / n,
        "lake.files_discovered": op_counter("files_discovered"),
        "lake.raw_files": info.get("lake_raw_files", 0),
        "lake.bytes_per_row": info.get("lake_bytes_per_row", 0.0),
        "lake.snapshot_log_lines": info.get("lake_snapshot_log_lines", 0),
        "thrift.overhead_ms": statistics.mean(overhead) if overhead else 0.0,
        "thrift.fetch_ms": total("thrift.fetch") / n,
        "log.warn_events": window.get("warn_events", 0) / max(1, len(ops)),
        "trace.overhead_ms": (statistics.median(traced_lat) - statistics.median(untraced)
                              if traced_lat and untraced else 0.0),
        "op.self_ms": sum(dur(s) - children[s["id"]] for s in op_spans) / n,
    }
    # self time of every harness layer: its span minus its harness children
    self_ms = defaultdict(float)
    for s in spans:
        if s["op"] in traced and s["name"] not in ("job", "sql", "stage", "thrift.server"):
            self_ms[s["name"]] += dur(s) - children[s["id"]]
    absent = {name: "no span or event of this layer in the workload"
              for name, _ in PER_LAYER if m.get(name, 0) == 0}
    return m, {"self_ms_per_op": {k: v / n for k, v in sorted(self_ms.items())},
               "absent": absent, "traced_ops": len(traced), "ops": len(ops),
               "warn_by_logger": res.get("warn_by_logger", {})}


def cpu_ticks():
    """(steal, total) ticks of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


def launch(config, classpath, workload, seed, seconds, trace, record, out):
    """Run graftbench.Main in its own JVM; returns its exit code. The
    JVM works in a scratch directory under .bench_build/work (removed
    afterwards) and writes result.json, trace.jsonl and jvm.log to `out`."""
    wcfg = config["workloads"][workload]
    work = os.path.join(build.BUILD, "work", f"{os.path.basename(out)}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(out)
    # generated input tables, shared by runs: keyed by generator and scale
    with open(os.path.join(HERE, "src", "graftbench", "DataGen.scala"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(build.BUILD, "data", f"{gen}-sf{wcfg.get('sf', 0)}")
    # pinned heap size; pages are touched as the engine uses them, so
    # peak RSS follows the heap the run really needs
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-Xss8m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", f"-Dhive.exec.scratchdir={tmp}/hive",
            f"-Dhive.exec.local.scratchdir={tmp}/hive-local",
            f"-Dhive.downloaded.resources.dir={tmp}/hive-resources",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--out", out, "--work", work, "--data", data,
              "--cpus", str(len(os.sched_getaffinity(0))), "--config", CONFIG,
              "--record", "1" if record else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM / Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    with open(CONFIG) as fh:
        config = json.load(fh)
    ap.add_argument("--workload", required=True, choices=sorted(config["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected/registry_fingerprints.json (registry_mix)")
    a = ap.parse_args()

    try:
        classpath = build.build()
    except (subprocess.CalledProcessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    out = os.path.join(build.BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    t0 = cpu_ticks()
    rc = launch(config, classpath, a.workload, a.seed, a.seconds, a.trace, a.record, out)
    t1 = cpu_ticks()
    # CPU time a virtual machine's host took from this one during the run:
    # wall-time metrics of runs with different shares are not comparable
    steal = ((t1[0] - t0[0]) / max(1, t1[1] - t0[1])) if t0 and t1 else None
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        log_path = os.path.join(out, "jvm.log")
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"perfbench: {a.workload} JVM exited with {rc}; log in {log_path}",
              file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)

    ops = res["ops"]
    failed = sum(1 for o in ops if o["failure"] is not None)
    correct = failed == 0 and not res["check_failures"] and len(ops) > 0
    e2e, e2e_notes = end_to_end(res, config["workloads"][a.workload]["tail_percentile"])
    e2e["failed_frac"] = failed / max(1, len(ops))
    summary = {"workload": a.workload, "seed": a.seed, "correct": correct,
               "check_failures": res["check_failures"], "setup": res["setup"],
               "info": res["info"], "end_to_end": e2e, "host_steal_share": steal,
               **e2e_notes}
    units = dict(END_TO_END + [("failed_frac", "ratio")])
    if a.trace:
        with open(os.path.join(out, "trace.jsonl")) as fh:
            spans = [json.loads(line) for line in fh]
        layers, notes = per_layer(res, spans)
        summary.update(per_layer=layers, **notes)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(a.workload + " " + " ".join(f"{k}={e2e[k]:.4g}{units[k]}" for k in units)
          + f" tail=p{e2e_notes['tail_percentile']}"
          + (f" host_steal={steal:.3f}" if steal is not None else ""))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
