#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
from source with sbt (offline) and copies the compiled classes into the
build directory ($CARGO_TARGET_DIR, default .bench_build), under the hash of
the sources; later runs of the same sources reuse that copy. A run generates the workload's input from --seed, starts one JVM
(perfbench/src, graftbench.Main) that sets up, warms up and times passes
over the workload's query list, checks every query's full output, and
prints the metrics. The last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads, query lists and the layer map are in perfbench/workloads.json.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout may take 900 s
GEN_TRIALS = 3
WARMUP_PASSES = 2  # the first pass of a JVM is cold; the second still JIT-compiles
QUERY_LIMIT_S = 30  # past this a query is cancelled and counts as failed
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile graft and the harness; return the runtime classpath.

    sbt compiles into the checkout's shared target/ directories, which a
    later build of other sources (or any `sbt compile`) overwrites. So each
    build's class directories are copied into a directory named by the hash
    of the sources they came from, and the classpath names the copies: a run
    only ever loads classes compiled from the sources it hashed.
    """
    stamp = source_stamp(root)
    dest = os.path.join(out, f"build-{stamp[:20]}")
    cp_file = os.path.join(dest, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read()
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            f"-Dsbt.global.base={out}/sbt-global", f"-Dsbt.ivy.home={out}/ivy"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", *opts, "-J-Xmx2g", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), stdout=fh, stderr=subprocess.STDOUT,
                           env=env, timeout=BUILD_LIMIT_S)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and "scala-2.13/classes" in ln]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}:\n" + "\n".join(lines[-15:]))
    if source_stamp(root) != stamp:
        fail("sources changed while they were being built")
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, entry in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(tmp, f"classes{i}"))
            entry = os.path.join(dest, f"classes{i}")
        entries.append(entry)
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(entries))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return open(cp_file).read()


def prepare_input(base, data_dir, seed):
    """Generate the seeded input GEN_TRIALS times; the median is its set-up cost."""
    times, rows = [], None
    for _ in range(GEN_TRIALS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t = time.perf_counter()
        rows = gen.generate(base, data_dir, seed)
        times.append(time.perf_counter() - t)
    return statistics.median(times), rows


def run_jvm(cp, work, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graftbench.Main", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(java, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit, see {log}")
    if r.returncode != 0:
        tail = open(log).read().splitlines()[-20:]
        fail(f"harness exited {r.returncode}, see {log}:\n" + "\n".join(tail))


def verify(report, data_dir, verify_dir, expected):
    """Check every query's full output. Returns ({query: rows}, {query: cause})."""
    rows, bad = {}, {}
    con = check.connect(data_dir)
    for v in report["verify"]:
        q = v["name"]
        if v["error"]:
            bad[q] = v["error"]
            continue
        n, d = check.output_digest(con, os.path.join(verify_dir, q))
        rows[q] = n
        e = expected.get(q)
        want = (e["rows"], e["digest"]) if e else None
        if want is None:
            bad[q] = "no expected output"
        elif (n, d) != tuple(want):
            bad[q] = f"output mismatch: {n} rows, expected {want[0]}"
    return rows, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; choose from {sorted(spec['workloads'])}")
    conf = spec["workloads"][a.workload]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    if time.time() - t_start > 60:  # a build ran: restart the run's clock
        deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir, verify_dir = os.path.join(work, "data"), os.path.join(work, "verify")
    gen_s, table_rows = prepare_input(os.path.join(HERE, spec["base"]), data_dir, a.seed)
    if table_rows != spec["rows"]:
        fail(f"generated rows {table_rows} differ from workloads.json {spec['rows']}")
    jvm_launch = time.time()
    report_file = os.path.join(work, "report.json")
    run_jvm(cp, work, ["--data", data_dir, "--queries", ",".join(conf["queries"]),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--out", report_file, "--verify-dir", verify_dir,
                       "--warmup", str(WARMUP_PASSES), "--limit-s", str(QUERY_LIMIT_S)], deadline)
    with open(report_file) as fh:
        report = json.load(fh)
    setup_s = gen_s + (report["setup_end_epoch_ms"] / 1000.0 - jvm_launch)

    out_rows, bad = verify(report, data_dir, verify_dir, expected)
    timed = report["queries"]
    errors = [q for q in timed if q["error"]]
    attempted = len(timed) + len(report["verify"])
    failed = len(errors) + len(bad)
    untraced = [p["wall_s"] for p in report["passes"] if not p["traced"]]
    totals = [q["total_s"] for q in timed]
    p50 = stats.percentile(totals, 0.5)
    p90 = stats.percentile(totals, 0.9, min_beyond=10)

    print(f"workload {a.workload}: seed {a.seed}, {len(conf['queries'])} queries, "
          f"local[{report['cores']}], closed loop, 1 client")
    print(f"  pass_s       {statistics.median(untraced):.4f} s (median of {len(untraced)} passes)")
    print(f"  query_s_p50  {p50:.4f} s ({len(totals)} samples)")
    print("  query_s_p90  " + (f"{p90:.4f} s ({len(totals)} samples)" if p90 is not None
                               else f"n/a ({len(totals)} samples; fewer than 10 beyond p90)"))
    print(f"  failed_frac  {stats.failed_frac(attempted, failed):.4f} ({failed}/{attempted})")
    print(f"  setup_s      {setup_s:.4f} s (input {gen_s:.3f} s, median of {GEN_TRIALS}; "
          f"session {report['session_start_s']:.3f} s; warm-up "
          f"{', '.join(f'{w:.2f}' for w in report['warmup_pass_s'])} s)")
    print(f"  peak_rss_mb  {report['peak_rss_mb']:.1f} MB")
    for name in conf["queries"]:
        ts = [q["total_s"] for q in timed if q["name"] == name]
        print(f"    {name:28s} {statistics.median(ts):.4f} s (median of {len(ts)})")
    for q in errors:
        print(f"  FAILED {q['name']} (pass {q['pass']}): {q['error']}")
    for q, cause in sorted(bad.items()):
        print(f"  FAILED {q} (output check): {cause}")

    if a.trace:
        metrics = stats.layer_metrics(report, out_rows, set(spec["pair_family"]))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        table = stats.per_query_table(report)
        print(f"  {'query':28s} {'build_s':>8s} {'exec_s':>8s} {'b_jobs':>6s} {'jobs':>5s} "
              f"{'tasks':>6s} {'shufW_mb':>9s} {'core_util':>9s}")
        for q, r in table.items():
            print(f"  {q:28s} {r['build_s']:8.3f} {r['exec_s']:8.3f} {r['build_jobs']:6.0f} "
                  f"{r['jobs']:5.0f} {r['tasks']:6.0f} {r['shuffle_write_mb']:9.3f} {r['core_util']:9.3f}")
        for k, v in metrics.items():
            print(f"  {k:32s} {v:.4f} {units[k]}")
        trace_dir = os.path.join(out, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
            json.dump({"metrics": metrics, "per_query": table, "spans": report["spans"]}, fh)
        result = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        result = {
            "pass_s": {"value": statistics.median(untraced), "unit": "s"},
            "query_s_p50": {"value": p50, "unit": "s"},
            "ok_frac": {"value": 1.0 - stats.failed_frac(attempted, failed), "unit": "frac"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": report["peak_rss_mb"], "unit": "MB"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad and not errors, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
