#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest          # checkers reject corrupted answers
    python3 perfbench/run.py --rebuild-oracle    # recompute cached DuckDB answers

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source with sbt, writes the sf0.1 fixtures, and
keeps both under .bench_build/. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
records the run's steal % and load average.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURES = os.path.join(BUILD, "fixtures", "sf0.1")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_backfill", "sql_adhoc")
# Knobs of the program's developer harness (graft.Bench and its probes) that
# change what runs or how it is cached. The benchmark reads none of them and
# refuses to run while one is set, so no stray variable can move a figure.
DEV_KNOBS = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_NO_GRAPHCACHE", "SPARK_GRAFT_NO_BPECACHE",
             "SPARK_GRAFT_NO_DAYGRAIN", "SPARK_GRAFT_NO_NGRAMGRAIN", "SPARK_GRAFT_ONLY",
             "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_EXPLAIN")
JAVA_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def refuse_dev_knobs():
    found = [k for k in DEV_KNOBS if k in os.environ]
    found += [v for v in JAVA_OPTION_VARS if "graft.roundProbe" in os.environ.get(v, "")]
    if found:
        fail(f"refusing to run: {', '.join(found)} set; these change what is measured", 3)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program's sources with the benchmark's JVM side; returns the
    runtime classpath. Rebuilds only when a source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME: the build takes Spark's jars from $SPARK_HOME/jars")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    opts = "-Dsbt.offline=true -Xmx2g -Dsbt.server.autostart=false"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=fh, stderr=subprocess.STDOUT, timeout=840).returncode
    lines = open(log).read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def fixtures():
    """Writes the sf0.1 tables once per checkout; returns their checksum."""
    done = os.path.join(FIXTURES, "checksum")
    if not os.path.exists(done):
        shutil.rmtree(FIXTURES, ignore_errors=True)
        gen.fixtures(FIXTURES)
        h = hashlib.sha256()
        for t in gen.TABLES:
            with open(os.path.join(FIXTURES, t + ".parquet"), "rb") as fh:
                h.update(fh.read())
        with open(done, "w") as fh:
            fh.write(h.hexdigest())
    return open(done).read()


def cpu_jiffies():
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    busy = f[0] + f[1] + f[2] + f[5] + f[6]
    return busy, (f[7] if len(f) > 7 else 0)


def loadavg():
    return float(open("/proc/loadavg").read().split()[0])


def op_latency_ms(ops):
    """Median latency of each kind of operation (a query, or a micro-batch),
    then the geometric mean over the kinds, so every query weighs the same
    and the figure does not jump between two queries of different length."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_name.values()))


def check_queries(rec, oracle):
    """Problems found comparing every query result with its oracle answer."""
    problems = [f"{n}: result changed between rounds" for n in rec["mismatches"]]
    for name, encoded in sorted(rec["results"].items()):
        if name not in rec["oracle_sql"]:
            problems.append(f"{name}: no oracle")
            continue
        diff = check.compare(check.canonical(*check.spark_result(encoded)),
                             oracle.answer(rec["oracle_sql"][name]))
        if diff:
            problems.append(f"{name}: {diff}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--rebuild-oracle", action="store_true")
    a = ap.parse_args()
    refuse_dev_knobs()
    if a.selftest:
        bad = check.selftest()
        for b in bad:
            print("SELFTEST FAIL", b)
        print("selftest:", "ok" if not bad else f"{len(bad)} failures")
        sys.exit(1 if bad else 0)
    if a.rebuild_oracle:
        shutil.rmtree(os.path.join(BUILD, "oracle"), ignore_errors=True)
        print("oracle cache dropped; the next SQL run recomputes it")
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    cp = build()
    checksum = fixtures()
    t_start = time.time()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")
    t_gen = time.time()
    feed = None
    if a.workload.startswith("etl_"):
        feed = gen.feed(a.seed)
        os.makedirs(inputs)
        gen.write_feed(feed, inputs)
    gen_s = time.time() - t_gen

    out = os.path.join(work, "record.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), FIXTURES, inputs, work, out])
    busy0, steal0 = cpu_jiffies()
    load0 = loadavg()
    launch_us = time.time() * 1e6
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_start), 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish in {RUN_LIMIT_S} s (log kept in {work})")
    busy1, steal1 = cpu_jiffies()
    if rc != 0 or not os.path.exists(out):
        fail(f"the JVM exited with {rc} (log kept in {work})")
    rec = json.load(open(out))

    ops = [o["ms"] for o in rec["ops"]]
    rounds = rec["rounds"]
    problems = []
    failed = 0
    if feed is not None:
        expected, last = gen.expected_table(feed)
        per_round = -(-len(feed["ticks"]) // feed["per"])
        for n in rec["batches_per_round"]:
            if n != per_round:
                problems.append(f"a round ran {n} micro-batches, expected {per_round}")
        problems += [f"{n}: target changed between rounds" for n in rec["mismatches"]]
        bad_batches, diffs = check.check_etl(json.loads(rec["final_table"]), expected, last,
                                             check.fault_rows(feed))
        problems += diffs
        failed = len(bad_batches) * rounds
        items = sum(len(t) for t in feed["ticks"])
    else:
        oracle = check.Oracle(FIXTURES, checksum, os.path.join(BUILD, "oracle"))
        problems += check_queries(rec, oracle)
        items = len(ops) // rounds
    for p in problems[:20]:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)

    timed_s = rec["timed_s"]
    metrics = {
        "setup_s": (gen_s + (rec["main_entry_us"] - launch_us) / 1e6
                    + statistics.median(rec["setup_reps_s"]) + rec["warm_round_s"], "s"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
        "throughput_per_s": (statistics.median(items / s for s in rec["round_s"]), "1/s"),
        "op_latency_ms": (op_latency_ms(rec["ops"]), "ms"),
    }
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            per_layer = json.load(fh)["per_layer"]
        metrics = {m["name"]: (rec["layers"].get(m["name"], 0.0), m["unit"]) for m in per_layer}
        shutil.copy(out + ".trace.jsonl", os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.jsonl"))
    steal = 100.0 * (steal1 - steal0) / max((busy1 - busy0) + (steal1 - steal0), 1)
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "rounds": rounds,
            "operations": len(ops), "timed_s": timed_s, "steal_pct": round(steal, 3),
            "loadavg_start": load0, "loadavg_end": loadavg(), "problems": len(problems)}
    detail = dict(info, ops_ms=[(o["name"], round(o["ms"], 1)) for o in rec["ops"]],
                  setup_reps_s=rec["setup_reps_s"], warm_round_s=rec["warm_round_s"], gen_s=gen_s,
                  jvm_start_s=(rec["main_entry_us"] - launch_us) / 1e6, wall_s=time.time() - t_start)
    result = {"correct": not problems, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"run": detail, "result": result}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
