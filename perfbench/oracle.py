#!/usr/bin/env python3
"""Refresh the benchmark's expected outputs (perfbench/expected.json).

    python3 perfbench/oracle.py --workload relational --seeds 0,1,2 [--write]

For each seed: generate the workload's input, run graft through the
harness (a warm-up pass that writes the outputs, then the timed passes),
run the DuckDB oracle SQL
(`SparkEntry.oracleSql`) on the same input, and compare the two outputs in
strict order. A query is recorded only when graft matches the oracle on
every seed and the oracle's result is the same for every seed, which is
what lets one cached digest check any seed. Queries without oracle SQL
(rows-only, such as q57) are recorded from graft's own output and checked
run to run. Run from the repository root.
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="0,1,2")
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    conf = spec["workloads"][a.workload]
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = run.build(os.getcwd(), out)
    seen = {}  # query -> list of (graft digest, oracle digest or None)
    for seed in [int(s) for s in a.seeds.split(",")]:
        work = os.path.join(out, "oracle", f"{a.workload}-{seed}")
        shutil.rmtree(work, ignore_errors=True)
        data, vdir = os.path.join(work, "data"), os.path.join(work, "verify")
        gen.generate(os.path.join(HERE, spec["base"]), data, seed)
        run.run_jvm(cp, work, ["--data", data, "--queries", ",".join(conf["queries"]),
                               "--seconds", "0", "--trace", "0", "--out", f"{work}/report.json",
                               "--verify-dir", vdir, "--warmup", "1", "--limit-s", "600"],
                    time.time() + 3600)
        report = json.load(open(f"{work}/report.json"))
        con = check.connect(data)
        for v in report["verify"]:
            q = v["name"]
            if v["error"]:
                print(f"seed {seed} {q}: graft failed: {v['error']}")
                seen.setdefault(q, []).append(None)
                continue
            got = check.output_digest(con, os.path.join(vdir, q))
            sql = report["oracle_sql"].get(q)
            t = time.time()
            exp = check.oracle_digest(con, sql) if sql else None
            print(f"seed {seed} {q}: graft {got[0]} rows, oracle "
                  f"{exp[0] if exp else 'rows-only'} ({time.time() - t:.1f} s) "
                  f"{'MATCH' if exp == got else ('-' if exp is None else 'MISMATCH')}")
            seen.setdefault(q, []).append((got, exp))
    exp_file = os.path.join(HERE, "expected.json")
    expected = json.load(open(exp_file))
    for q, obs in seen.items():
        ok = all(o is not None for o in obs) and len({o[0] for o in obs}) == 1 and \
            (obs[0][1] is None or all(o[1] == o[0] for o in obs))
        source = "graft run to run" if obs[0] and obs[0][1] is None else "duckdb oracle"
        print(f"{q}: {'stable' if ok else 'NOT STABLE'} over seeds {a.seeds} ({source})")
        if ok and a.write:
            rows, dig = obs[0][0]
            expected[q] = {"rows": rows, "digest": dig, "source": source}
    if a.write:
        with open(exp_file, "w") as fh:
            json.dump(dict(sorted(expected.items())), fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
