#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
with sbt (offline); later runs reuse the build while no source is newer.
The run generates its inputs from the seed, starts one JVM sized to the host
(`local[nproc]`, heap from MemTotal), sets up a SparkSession once, timed from
the process launch, runs an untimed warm-up pass, then runs whole rounds of
the workload's contract queries for S seconds.
Every output of every round is compared, as an exact multiset, with DuckDB's
run of the contract's oracle SQL over the same inputs. The last line of
standard output is one JSON object: correct, attempted, failed, metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Everything the run writes stays under perfbench/.work and perfbench/.build
(plus sbt's target directories) and the work directory is removed at exit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(HERE, ".build")
HARNESS = os.path.join(HERE, "harness")
# the longest harness run seen took about 50 s; a run must end within 180 s
JVM_TIMEOUT_S = 150

# Spark on JDK 17 needs these opens when it is not launched by spark-submit
# (the list org.apache.spark.launcher.JavaModuleOptions passes).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source():
    newest = 0.0
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]:
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]:
        newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Build graft and the harness if needed; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources are not in this checkout; nothing to build")
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) > newest_source():
        return open(stamp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                             "compile", "export Runtime/fullClasspath"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.count(os.pathsep) > 10 and not ln.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def heap_gb():
    """Half of MemTotal in GiB, clamped to [2, 8]: the tier-1 test sizing."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def make_inputs(w, seed, work):
    """Writes the workload's tables and the warm-up tables; returns problems."""
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    gen.write(gen.tables(seed, 0.001), warm)
    if "copies" not in w:
        gen.write(gen.tables(seed, w["sf"]), data)
        return data, warm, []
    docs, vecs = gen.corpus(seed, w["corpus_sf"])
    rdocs, rvecs = gen.replicate_text(seed, w["copies"], docs, vecs)
    gen.write({"documents": rdocs, "embeddings": rvecs}, data)
    return data, warm, gen.check_replica(docs, vecs, rdocs, rvecs, w["copies"])


def run_jvm(cp, queries, probes, cold, data, warm, work, seconds, trace):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["perfbench.Harness", f"data={data}", f"warm={warm}",
            f"out={os.path.join(work, 'out')}", f"tmp={tmp}",
            f"queries={','.join(queries)}", f"probes={','.join(probes)}",
            f"cold={','.join(cold)}", f"seconds={seconds}", f"trace={trace}",
            f"cores={cores}", f"result={result}"]
    log = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.isfile(result):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness JVM failed ({rc})")
    res = json.load(open(result))
    res["launched"] = launched
    spans = result + ".spans"
    res["spans"] = json.load(open(spans)) if os.path.isfile(spans) else []
    return res


def setup_seconds(res):
    """Process launch to the end of the set-up's warm-up query."""
    return res["setup_end_ms"] / 1000.0 - res["launched"]


def end_to_end(res):
    rounds = res["rounds"]
    med = statistics.median
    return {
        "setup_s": (setup_seconds(res), "s"),
        "wall_s": (med(sum(q["s"] for q in r["queries"]) for r in rounds), "s"),
        "query_p50_s": (med(med(q["s"] for q in r["queries"]) for r in rounds), "s"),
        "cpu_s": (med(r["cpu_s"] for r in rounds), "s"),
    }


def self_times(spans):
    """Seconds of each span not covered by any of its child spans."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered, upto = 0.0, sp["start"]
        for s, e in sorted(kids.get(sp["id"], [])):
            s, e = max(s, upto), min(e, sp["end"])
            if e > s:
                covered += e - s
                upto = e
        out[sp["id"]] = (sp["end"] - sp["start"] - covered) / 1000.0
    return out


def per_layer(res, probes):
    """Per-layer metrics of a traced run: medians over its rounds of per-round
    sums. Family times include the probes; trace.wall_s excludes them, so it
    compares with the untraced wall_s."""
    rounds, cores = res["rounds"], int(res["cores"])
    med = statistics.median

    def each(f):
        return med(f(r["queries"]) for r in rounds)

    def tsum(key, scale=1.0):
        return each(lambda qs: sum(q["trace"][key] for q in qs) * scale)

    def family(name, key=None):
        members = set(workloads.FAMILIES[name])
        return each(lambda qs: sum(q["trace"][key] if key else q["s"]
                                   for q in qs if q["name"] in members))

    # driver-only time: the query's construct and execute spans minus the
    # time their jobs cover
    own = self_times(res["spans"])
    driver_only = {}
    for sp in res["spans"]:
        if sp["kind"] in ("construct", "execute"):
            driver_only[sp["query"]] = driver_only.get(sp["query"], 0.0) + own[sp["id"]]
    mb = 1.0 / 1048576
    micro = res["micro"]
    return {
        "plans.analysis_ms": (tsum("analysis_ms"), "ms"),
        "plans.optimization_ms": (tsum("optimization_ms"), "ms"),
        "plans.physical_ms": (tsum("planning_ms"), "ms"),
        "plans.graft_rules_ms": (tsum("graft_rule_ns", 1e-6), "ms"),
        "plans.graft_rules_fired": (tsum("graft_rules_fired"), "count"),
        "plans.join_s": (family("join"), "s"),
        "functions.transform_s": (family("transform"), "s"),
        "functions.topology_s": (family("topology"), "s"),
        "functions.measure_s": (family("measure"), "s"),
        "functions.aggregate_s": (family("aggregate"), "s"),
        "functions.transform_point_ns": (micro["transform_point_ns"], "ns"),
        "functions.text_s": (family("text"), "s"),
        "geom.wkb_read_ns": (micro["wkb_read_ns"], "ns"),
        "geom.wkb_write_ns": (micro["wkb_write_ns"], "ns"),
        "geom.wkt_read_ns": (micro["wkt_read_ns"], "ns"),
        "io.input_mb": (tsum("input_bytes", mb), "MB"),
        "io.input_rows": (tsum("input_records"), "count"),
        "io.output_mb": (tsum("output_bytes", mb), "MB"),
        "io.roundtrip_s": (family("roundtrip"), "s"),
        "operators.dedup_s": (family("dedup"), "s"),
        "operators.jobs": (family("operators", "jobs"), "count"),
        "ann.search_s": (family("ann"), "s"),
        "entry.construct_s": (each(lambda qs: sum(q["construct_s"] for q in qs)), "s"),
        "spark.jobs": (tsum("jobs"), "count"),
        "spark.stages": (tsum("stages"), "count"),
        "spark.tasks": (tsum("tasks"), "count"),
        "spark.driver_only_s": (each(lambda qs: sum(driver_only[q["trace"]["span"]]
                                                    for q in qs)), "s"),
        "spark.executor_run_s": (tsum("run_ms", 1e-3), "s"),
        "spark.executor_cpu_s": (tsum("cpu_ns", 1e-9), "s"),
        "spark.gc_s": (tsum("gc_ms", 1e-3), "s"),
        "spark.core_busy": (each(lambda qs: sum(q["trace"]["run_ms"] for q in qs) / 1e3
                                 / (sum(q["s"] for q in qs) * cores)), "ratio"),
        "spark.shuffle_write_mb": (tsum("shuffle_write_bytes", mb), "MB"),
        "spark.shuffle_read_mb": (tsum("shuffle_read_bytes", mb), "MB"),
        "spark.spill_mb": (tsum("spill_disk_bytes", mb), "MB"),
        "setup.jvm_s": (res["main_ms"] / 1000.0 - res["launched"], "s"),
        "setup.session_s": (res["setup"]["session_s"], "s"),
        "setup.register_s": (res["setup"]["register_s"], "s"),
        "setup.first_query_s": (res["setup"]["first_query_s"], "s"),
        "trace.wall_s": (each(lambda qs: sum(q["s"] for q in qs if q["name"] not in probes)),
                         "s"),
    }


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    w = workloads.WORKLOADS[args.workload]

    cp = classpath()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        probes = workloads.probes(w["queries"]) if args.trace else []
        t0 = time.time()
        data, warm, problems = make_inputs(w, args.seed, work)
        t1 = time.time()
        cold = [q for q in w["queries"] if q in workloads.COLD]
        res = run_jvm(cp, w["queries"], probes, cold, data, warm, work, args.seconds, args.trace)
        t2 = time.time()
        print(f"perfbench: harness: set-up {setup_seconds(res):.1f} s, warm-up pass "
              f"{res['warmup_s']:.1f} s, rounds {sum(r['wall_s'] for r in res['rounds']):.1f} s, "
              f"exit {t2 - os.path.getmtime(os.path.join(work, 'result.json')):.1f} s",
              file=sys.stderr)
        dirs = {q: (warm if q in probes else data) for q in w["queries"] + probes}
        verdict = check.check_rounds(res, dirs, os.path.join(work, "out"), work)
        print(f"perfbench: inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, "
              f"check {time.time() - t2:.1f} s", file=sys.stderr)
        if args.trace:
            shutil.copy(os.path.join(work, "result.json.spans"),
                        os.path.join(HERE, ".work", f"spans-{args.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # a query that throws in the warm-up pass is counted when it fails in
    # the timed rounds
    notes = [f"{q} threw in the warm-up pass: {e[:300]}"
             for q, e in res["warmup_errors"].items()]
    for p in notes + problems + verdict["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    per_query = {}
    for r in res["rounds"]:
        for q in r["queries"]:
            per_query.setdefault(q["name"], []).append(q["s"])
    print("perfbench: per-query seconds " + json.dumps(
        {k: round(statistics.median(v), 4) for k, v in per_query.items()}), file=sys.stderr)
    metrics = per_layer(res, probes) if args.trace else end_to_end(res)
    print(json.dumps({
        "correct": not problems and verdict["correct"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
