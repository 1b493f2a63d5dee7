#!/usr/bin/env python3
"""Re-record perfbench/expected.json: the star warehouse row counts of one
rebuild and the row count + content digest of every stateless registry
query, over the input tables in perfbench/data.

Record only from a commit whose registry matches the DuckDB oracle on
these tables:

    python3 perfbench/record_expected.py          # writes expected.json
    SPARK_GRAFT_CPUS=4 java ... graft.Verify perfbench/data <out>
    python3 tools/compare.py perfbench/data <out>   # must say all match
"""
import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    build_dir = os.path.abspath(".bench_build")
    classes = build.ensure_built(build_dir)
    out = os.path.join(build_dir, f"expected-{uuid.uuid4().hex[:8]}.json")
    run.run_jvm(classes, run.DATA, build_dir, "star_rebuild", 1, 0,
                {"setups": "1", "record-golden": out}, timeout=900)
    rec = json.load(open(out))
    with open(os.path.join(run.BENCH_DIR, "expected.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    os.remove(out)
    print(f"recorded {len(rec['queries'])} queries, {len(rec['star_rows'])} star tables")


if __name__ == "__main__":
    main()
