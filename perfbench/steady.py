#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark, and job-count agreement.

    python3 perfbench/steady.py --workloads star_rebuild,index_loop --seeds 1-10
    python3 perfbench/steady.py --workloads query_mix --seeds 1-3 --trace --repeat 2
    python3 perfbench/steady.py --records .bench_build/records

The first form runs the benchmark once per seed per workload and prints,
for every end-to-end metric, its median and its spread: the distance
between the first and third quartile of the runs
(`statistics.quantiles(values, n=4)`) as a share of the median, next to
the metric's bound in BENCHMARK.json. A spread above a third of the bound
is marked `wide`; above the bound, `FAIL`.

With --trace the runs are traced; every traced record of the same
(workload, seed) must carry exactly the same per-span Spark job counts,
and any mismatch is printed and fails the command. --records runs only
that comparison over records already written by earlier runs.
"""
import argparse
import collections
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else 0.0


def job_mismatches(records):
    groups = collections.defaultdict(list)
    for r in records:
        if r.get("trace"):
            groups[(r["workload"], r["seed"])].append(r["span_jobs"])
    bad = []
    for key, counts in sorted(groups.items()):
        if any(c != counts[0] for c in counts[1:]):
            bad.append((key, counts))
    return groups, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="star_rebuild,index_loop,query_mix")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--records", help="only compare job counts of the records in this directory")
    args = ap.parse_args()

    if args.records:
        recs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(args.records, "*.json")))]
        groups, bad = job_mismatches(recs)
        for key, counts in bad:
            print(f"MISMATCH {key}: {counts}")
        print(f"{len(groups)} traced (workload, seed) groups, {len(bad)} with differing job counts")
        sys.exit(1 if bad else 0)

    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    failed = False
    for w in args.workloads.split(","):
        values = collections.defaultdict(list)
        records = []
        for s in seeds(args.seeds):
            for _ in range(args.repeat):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(s), "--seconds", str(seconds),
                       "--trace", "1" if args.trace else "0"]
                out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True).stdout.splitlines()
                if not out:
                    print(f"{w} seed {s}: no result")
                    failed = True
                    continue
                result = json.loads(out[-1])
                for line in out:
                    if line.startswith("# record "):
                        records.append(json.loads(line[len("# record "):]))
                if not result["correct"]:
                    print(f"{w} seed {s}: checks failed ({result['failed']}/{result['attempted']})")
                    failed = True
                for k, v in result["metrics"].items():
                    values[k].append(v["value"])
                shown = records[-1]["span_jobs"] if args.trace and records else " ".join(
                    f"{k}={v['value']:.4g}" for k, v in result["metrics"].items() if k in bounds)
                print(f"{w} seed {s}: {shown}", flush=True)
        if args.trace:
            _, bad = job_mismatches(records)
            for key, counts in bad:
                print(f"MISMATCH {key}: {counts}")
                failed = True
            continue
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            med, sp = spread(vs)
            bound = bounds.get(k)
            mark = "" if bound is None else ("FAIL" if sp > bound else "wide" if sp > bound / 3 else "ok")
            if mark == "FAIL":
                failed = True
            print(f"  {w:14s} {k:12s} median {med:10.4f}  spread {sp:6.3f}  bound {bound}  {mark}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
