#!/usr/bin/env python3
"""Benchmark of the flight-analytics engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
from source (perfbench/build.py), generates the workload's inputs from
the seed, and runs one JVM with a single-process local[4] Spark session
and one client thread (perfbench/src/perfbench/Main.scala). The
workloads and their frozen parameters are in perfbench/workloads.json;
the catalog query lists, with their frozen job counts and result
digests, in perfbench/catalog.json.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it (prefixed DETAILS) carries what the metrics summarise:
set-up runs, pass times, tail percentile and sample count, gates per
round, failures.

    python3 perfbench/run.py --probe OUT.tsv

measures every catalog query once cold and once warm (jobs,
construction time, digest); perfbench/choose_queries.py turns two such tables
into catalog.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import catalog_data

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
DATA_SEED = 42
TIME_LIMIT_S = 170
# Matches org.apache.spark.launcher.JavaModuleOptions for JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def plan_lines(workload):
    spec = load("workloads.json")["workloads"][workload]
    lines = [f"workload={workload}", f"kind={spec['kind']}"]
    lines += [f"{k}={v}" for k, v in spec.get("params", {}).items()]
    if spec["kind"] == "catalog":
        lines.append(f"catalog_dir={catalog_tables()}")
        catalog = load("catalog.json")
        lines.append("analyze_tables=" + ",".join(catalog["analyze_tables"]))
        for group, g in catalog["groups"].items():
            for q in g["queries"]:
                lines.append("query=" + "\t".join(
                    [q["name"], group, str(q["rows"]), q["digest"], "1" if q["unstable"] else "0"]))
    return lines


def catalog_tables():
    out = os.path.abspath(os.path.join(BUILD, "data", f"catalog-seed{DATA_SEED}"))
    done = os.path.join(out, "_complete")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        catalog_data.write(out, DATA_SEED)
        open(done, "w").close()
    return out


def run_jvm(classes, lines, seed, seconds, trace, deadline):
    run_dir = os.path.abspath(os.path.join(BUILD, "run"))
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    plan = os.path.join(run_dir, "plan.txt")
    with open(plan, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    # C1 only: a run lives about a minute and runs hundreds of distinct
    # plans, so C2 compilation never pays back and its threads compete
    # with the four task threads; it doubled set-up and widened the
    # run-to-run spread.
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.abspath(classes)}:{build.spark_jars()}",
            "perfbench.Main", plan, work, str(seed), str(seconds), str(trace)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    return [l for l in out.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--probe", help="write the catalog probe table to this file")
    a = ap.parse_args()
    deadline = time.time() + TIME_LIMIT_S

    classes = build.build()

    if a.probe:
        lines = ["workload=probe", "kind=probe", f"catalog_dir={catalog_tables()}",
                 f"probe_out={os.path.abspath(a.probe)}"]
        run_jvm(classes, lines, a.seed, 0, 0, time.time() + 3600)
        return

    with open("BENCHMARK.json") as fh:
        declared = json.load(fh)
    if a.workload not in [w["name"] for w in declared["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload!r}")
    out = run_jvm(classes, plan_lines(a.workload), a.seed, a.seconds, a.trace, deadline)
    result = json.loads(out[-1])
    wanted = declared["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        sys.exit(f"perfbench: metrics not reported: {missing}")
    result["metrics"] = {m["name"]: result["metrics"][m["name"]] for m in wanted}
    for line in out[:-1]:
        if line.startswith("DETAILS "):
            print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
