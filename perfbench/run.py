#!/usr/bin/env python3
"""The graft benchmark: one run of one workload, measured from outside.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. A run then

1. generates the workload's inputs from the seed, several times, each
   into a fresh directory (the set-up time counts this),
2. starts one JVM (local[4], one client, closed loop) that starts the
   Spark session several times, runs the cold pass and then two warm
   passes, with --seconds as an outer limit on them (see
   src/main/scala/perfbench/Main.scala),
3. checks every output against DuckDB (check.py),
4. prints each metric by name and unit, then one JSON line.

--trace 0 reports the end-to-end metrics; --trace 1 adds a traced lane
(spans around each call into a layer, Spark listener counts) and reports
the per-layer metrics and the tracing overhead. See README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# scale factor and sizes of each workload's inputs (see gen.sizes): the
# operator workload's documents and baskets are sized so that its two
# joins run fewer, task-heavier jobs than its fixpoints (README, "What
# each operation is bound by")
WORKLOADS = {"etl": dict(sf=0.002, etl=True, ops=False, sizes={}),
             "ops": dict(sf=0.005, etl=False, ops=True,
                         sizes=dict(documents=600_000, basket=100))}
# the operator workload: two job-bound fixpoints, two task-heavier joins
OPS_QUERIES = ["graph_pagerank", "dedup_groups", "dedup_jaccard_exactjoin",
               "orders_basket_pairs"]
SETUP_REPEATS = 5
HEAP = "1g"
RUN_LIMIT_S = 170  # the whole run, build excluded

END_TO_END = [("wall_s", "s"), ("cold_s", "s"), ("slowest_op_s", "s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER = (
    [("schema.load_s", "s"), ("schema.validate_s", "s"),
     ("pipeline.gate_s", "s"), ("pipeline.translate_s", "s"),
     ("pipeline.indices_run", "count"), ("pipeline.changed_ratio", "ratio"),
     ("sources.scan_task_s", "s"), ("sources.input_bytes", "bytes"),
     ("sources.input_rows", "count"), ("sinks.publish_s", "s"),
     ("sinks.docs", "count"), ("sinks.bytes_written", "bytes")]
    + [(f"functions.{q}.{m}", u) for q in OPS_QUERIES
       for m, u in (("wall_s", "s"), ("jobs", "count"), ("task_run_s", "s"),
                    ("shuffle_write_bytes", "bytes"), ("slot_util", "ratio"))]
    + [("spark.jobs", "count"), ("spark.tasks", "count"),
       ("spark.failed_tasks", "count"), ("spark.driver_gap_s", "s"),
       ("spark.plan_s", "s"), ("spark.task_run_s", "s"),
       ("spark.task_cpu_s", "s"), ("spark.slot_util", "ratio"),
       ("spark.shuffle_read_bytes", "bytes"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.gc_s", "s"), ("trace.overhead_s", "s")])

# The traced ETL lane re-implements RunEtl.run call by call (TracedEtl in
# src/main/scala/perfbench/Etl.scala) to put a span around each call. This
# is the digest of the RunEtl.run it follows; a traced ETL run refuses to
# run when RunEtl.run has changed since, until TracedEtl is brought in
# step and the digest updated (see runetl_run_digest).
RUNETL_RUN_SHA256 = (
    "467167d9ba833fd7a5a678066f698bf4e4ed1467abbc4a0cd91940ae469e7213")

# module-opening flags Spark needs on JDK 17 (as the root build.sbt sets)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def runetl_run_digest():
    """sha256 of RunEtl.run's source, comments and whitespace left out."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft",
                           "RunEtl.scala")) as f:
        src = f.read()
    start = src.index("  def run(")
    # the method ends where a line closes it at its own indentation
    end = src.index("\n  }\n", start)
    code = re.sub(r"//[^\n]*", "", src[start:end])
    return hashlib.sha256(" ".join(code.split()).encode()).hexdigest()


def build():
    """The harness classpath, building first if the sources changed."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    # resolve from the local caches only, through the user's repositories
    env = dict(os.environ, COURSIER_MODE="offline")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " " + flag
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if os.pathsep in ln and ".jar" in ln
          and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1], digest


# ---- one run -------------------------------------------------------------

def run_jvm(classpath, args, work, deadline):
    """Runs the harness JVM; its exit code, or None when it timed out."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           *ADD_OPENS, "-cp", classpath, "perfbench.Main", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree (the
    search stops at the checkout's root)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the scale factor")
    a = ap.parse_args()
    spec = dict(WORKLOADS[a.workload])
    if a.sf:
        spec["sf"] = a.sf

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src; run from a full checkout")
    if a.workload == "etl" and a.trace and \
            runetl_run_digest() != RUNETL_RUN_SHA256:
        fail("RunEtl.run changed since the traced ETL lane (TracedEtl in "
             "perfbench/src/main/scala/perfbench/Etl.scala) was written "
             "after it: bring TracedEtl in step, then set RUNETL_RUN_SHA256 "
             f"in perfbench/run.py to {runetl_run_digest()}")
    classpath, digest = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(a, spec, classpath, digest, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, spec, classpath, digest, work, deadline):
    # set-up 1: input generation, repeated, each into a fresh directory
    gen_s = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        gen.generate(os.path.join(work, f"data{i}"), a.seed, spec["sf"],
                     etl=spec["etl"], ops=spec["ops"], **spec["sizes"])
        gen_s.append(time.perf_counter() - t0)
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(work, f"data{i}"))
    data = os.path.join(work, "data0")

    result_path = os.path.join(work, "result.json")
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--data", data,
        "--work", os.path.join(work, "jvm"), "--result", result_path,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--queries", ",".join(OPS_QUERIES if spec["ops"] else []),
        "--session-starts", str(SETUP_REPEATS)], work, deadline - 15)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM {'timed out' if rc is None else f'exit {rc}'}")
    with open(result_path) as f:
        r = json.load(f)

    # output checks, per lane, outside the timed passes
    problems = {}
    t0 = time.perf_counter()
    for lane in r["lanes"]:
        if a.workload == "etl":
            res = check.check_etl(data, lane["store"], lane["variant_live"])
        else:
            res = check.check_ops(os.path.join(data, "tables"), lane["out"],
                                  r["oracle_sql"])
        for name, (problem, n) in sorted(res.items()):
            print(f"check {lane['name']:8s} {name:28s} "
                  f"{'FAIL ' + problem if problem else 'ok'} ({n} rows)")
            if problem:
                problems[f"{lane['name']}/{name}"] = problem
    check_s = time.perf_counter() - t0
    print(f"checks took {check_s:.1f} s")

    passes = r["passes"]
    untraced = [p for p in passes[1:] if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    errors = [(p["n"], o["name"], o["error"]) for p in passes
              for o in p["ops"] if o["error"]]
    for n, name, err in errors:
        print(f"failed pass {n} {name}: {err}")

    def wall(p):
        return sum(o["seconds"] for o in p["ops"] if not o["error"])

    starts = r["session_start_s"]
    metrics = {
        "wall_s": median([wall(p) for p in untraced]),
        # a fresh process pays the JVM's first session start (class
        # loading, extension set-up) and the cold pass
        "cold_s": starts[0] + wall(passes[0]),
        "slowest_op_s": median([max([o["seconds"] for o in p["ops"]
                                     if not o["error"]], default=0.0)
                                for p in untraced]),
        # the first session start is in cold_s; the later ones are set-up
        "setup_s": median(gen_s) + median(starts[1:]),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    units = dict(END_TO_END)
    wanted = END_TO_END
    if a.trace:
        layers = {name: median([p["layers"].get(name, 0.0) for p in traced])
                  for name, _ in PER_LAYER}
        layers["trace.overhead_s"] = (median([wall(p) for p in traced])
                                      - metrics["wall_s"])
        metrics, units, wanted = layers, dict(PER_LAYER), PER_LAYER

    for op in dict.fromkeys(o["name"] for o in ops):
        ts = [o["seconds"] for p in untraced for o in p["ops"]
              if o["name"] == op and not o["error"]]
        print(f"op {op:28s} median {median(ts):8.3f} s over {len(ts)} passes")
    print(f"passes: cold + {len(untraced)} untraced warm"
          + (f" + {len(traced)} traced" if a.trace else ""))
    failed = len(errors) + len(problems)
    print(f"failed_ratio: {failed / len(ops):.4f} ({failed} of {len(ops)} "
          "operations)")
    record = {"workload": a.workload, "seed": a.seed, "sf": spec["sf"],
              "seconds": a.seconds, "trace": a.trace,
              "git_commit": git_commit(), "source_digest": digest,
              "host": platform.node(), "cpus": os.cpu_count(),
              "sizes": gen.sizes(spec["sf"], **spec["sizes"]),
              "setup_generate_s": gen_s, "check_s": check_s, **r["record"],
              "session_start_s": r["session_start_s"], "passes": passes,
              "problems": problems, "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec = os.path.join(BUILD, "records",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                       f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(rec, "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "jvm", "spans.json"),
                    rec[:-len(".json")] + ".spans.json")
    print(f"record: {os.path.relpath(rec, ROOT)}")
    for name, unit in wanted:
        print(f"{name}: {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]}
                    for name, _ in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
