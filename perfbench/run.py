#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <star_rebuild|index_loop|query_mix>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. The first run builds the program and the
harness (perfbench/build.py) under .bench_build/; later runs reuse the
build. The input tables are the repository's sf0.001 testdata, kept in
perfbench/data/. Each run starts one fresh JVM against fresh temporary
roots, checks every output against perfbench/expected.json, and prints
one JSON object as its last stdout line:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The full run record (every op time,
set-up samples, loadavg, box canary, per-span job counts) is printed on a
`# record` line before the result and kept in .bench_build/records/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH_DIR, "data")
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("star_rebuild", "index_loop", "query_mix")
SPANS = ("sources.ingest", "star.process", "star.load", "operators.run_once",
         "operators.maintain", "operators.remove", "queries.relational",
         "queries.extra", "queries.text", "queries.vector")
COUNTERS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
            ("core_util", "ratio"), ("driver_gap_s", "s"), ("input_mb", "MB"),
            ("shuffle_mb", "MB"), ("written_mb", "MB"), ("files_written", "count"))
EXTRAS = (("star.rebuild_ratio", "ratio"), ("star.replay_read_amp", "ratio"),
          ("operators.delta_pairs", "count"), ("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
          ("tracing.overhead_frac", "ratio"), ("tracing.coverage_frac", "ratio"),
          ("failed_ops_frac", "ratio"), ("stored_bytes_per_input_byte", "ratio"))
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 160
# Work per run, sized so each workload measures about --seconds at 4
# cores: star_rebuild is always one cold rebuild (~22 s); index_loop runs
# one batch per INDEX_BATCH_S seconds (at least 2, the takedown at the
# halfway batch); query_mix runs QUERIES_PER_S registry queries per
# second, spread over the cost ranking (at least 8).
INDEX_BATCH_S = 4
QUERIES_PER_S = 1.0


def params(workload, seconds, smoke):
    p = {"setups": "1" if smoke else "3"}
    if workload == "index_loop":
        p["batches"] = str(max(2, round(seconds / INDEX_BATCH_S)))
    if workload == "query_mix":
        p["queries"] = str(max(8, min(100, round(QUERIES_PER_S * seconds))))
    return p


def run_jvm(classes, data, build_dir, workload, seed, trace, extra, timeout=JVM_TIMEOUT_S):
    run_dir = os.path.join(build_dir, "work", uuid.uuid4().hex[:12])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.callstack.depth=400",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--data", data, "--work", os.path.join(run_dir, "roots"),
            "--golden", os.path.join(BENCH_DIR, "expected.json")])
    for k, v in extra.items():
        cmd += [f"--{k}", v]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    record = None
    if "record-golden" in extra:
        record = {}
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RECORD "):
            record = json.loads(line[len("PERFBENCH_RECORD "):])
    if proc.returncode != 0 or record is None:
        tail = open(log_path).read()[-3000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}:\n{tail}")
    shutil.rmtree(run_dir, ignore_errors=True)
    return record


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(rec):
    ok = [o["s"] for o in rec["ops"] if o["ok"]]
    return {
        "setup_s": metric(statistics.median(rec["setup_s"]), "s"),
        "op_p50_s": metric(statistics.median(ok) if ok else 0.0, "s"),
        "pass_s": metric(sum(ok), "s"),
        "retained_heap_mb": metric(rec["retained_heap_mb"], "MB"),
    }


def per_layer(rec):
    spans = rec["spans"]
    out = {}
    for s in SPANS:
        for c, unit in COUNTERS:
            out[f"{s}.{c}"] = metric(spans.get(s, {}).get(c, 0), unit)
    ops = rec["ops"]
    op_wall = sum(o["s"] for o in ops)
    covered = sum(spans.get(s, {}).get("wall_s", 0.0) for s in SPANS)
    extras = dict(rec["extras"], **{"jvm.peak_rss_mb": rec["peak_rss_mb"]})
    extras["tracing.coverage_frac"] = covered / op_wall if op_wall > 0 else 0.0
    extras["failed_ops_frac"] = sum(not o["ok"] for o in ops) / len(ops)
    for name, unit in EXTRAS:
        out[name] = metric(extras.get(name, 0.0), unit)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one set-up instead of three (for the benchmark's own tests)")
    args = ap.parse_args()

    build_dir = os.path.abspath(".bench_build")
    try:
        classes = build.ensure_built(build_dir)
    except Exception as e:  # no program or no toolchain: no result
        print(f"perfbench: cannot set up: {e}", file=sys.stderr)
        sys.exit(2)

    extra = params(args.workload, args.seconds, args.smoke)
    started = time.time()
    try:
        rec = run_jvm(classes, DATA, build_dir, args.workload, args.seed, args.trace, extra)
    except Exception as e:  # the JVM died or printed no record: no result
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        sys.exit(1)
    rec["wall_s"] = time.time() - started
    failures = [f"{o['name']}: {o['detail']}" for o in rec["ops"] if not o["ok"]]
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)

    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(started)}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print("# record " + json.dumps(rec, sort_keys=True))
    metrics = per_layer(rec) if args.trace else end_to_end(rec)
    print(json.dumps({"correct": not failures, "attempted": len(rec["ops"]),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
