#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or traced.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload dq_fact --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source (sbt, offline) on first
use, generates the workload's inputs from the seed (reused per seed),
runs the closed-loop harness in one JVM, checks every operation's output
and prints one JSON result line as the last line of stdout. Progress and
input sizes go to stderr. Everything it writes stays under
`.bench_build/` (plus sbt's `target/` directories).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# The operations each workload times, in the harness's order
# (Workloads.scala). They are a subset of each workload's design list, cut
# to what fits the run budget of a benchmark run on a 4-core machine.
WORKLOAD_OPS = {
    "dq_wide": ["rowcount_meta", "rowcount_catalogs", "nullcheck_all", "colcompare",
                "schema_describe"],
    "dq_fact": ["nullcheck_approx", "keyfinder_orders", "check_suite", "skew_report"],
    "llm_curate": ["text_quality", "dedup_minhash", "ann_ivfpq", "write_curated"],
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("input_rows_per_s", "1/s"),
              ("peak_rss_mb", "MB")]

LAYER_METRICS = [
    ("session.build_s", "s"), ("session.warmup_s", "s"),
    ("sources.load_s", "s"), ("operators.construct_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.sched_gap_s", "s"), ("spark.scan_s", "s"),
    ("sources.bytes_read", "bytes"), ("sources.rows_read", "count"),
    ("sources.files_read", "count"),
    ("spark.exchange_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.compute_s", "s"), ("spark.task_cpu_s", "s"), ("spark.task_run_s", "s"),
    ("spark.cpu_util", "ratio"), ("spark.gc_s", "s"),
    ("sources.write_s", "s"), ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"),
    ("cache.blocks_left", "count"), ("cache.peak_storage_bytes", "bytes"),
    ("hygiene.max_active_jobs", "count"),
    ("dedup.candidates_per_pair", "ratio"), ("dedup.recall", "ratio"),
    ("ann.recall", "ratio"),
    ("trace.overhead_frac", "ratio"), ("trace.split_max_err", "ratio"),
]
# one median-per-operation metric for every operation of every workload
# (0 in runs of the workloads that do not have the operation)
OP_METRICS = [(f"op.{o}_s", "s") for w in sorted(WORKLOAD_OPS) for o in WORKLOAD_OPS[w]]
PER_LAYER = LAYER_METRICS + list(dict.fromkeys(OP_METRICS))

BUILD = ".bench_build"
CLASSPATH = os.path.join("perfbench", "target", "bench-classpath.txt")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170
KEEP_SEEDS = 4


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for root, _, files in os.walk(p):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build():
    """Compile the library and the harness unless the classpath is current."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd="perfbench", env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(os.path.join(BUILD, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build failed (rc={rc})")
    log(f"built in {time.time() - t0:.1f} s")


def inputs(workload, seed):
    root = os.path.join(BUILD, "data", workload)
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(root, f"{seed}-{version}")
    t0 = time.time()
    truth = gen.generate(workload, seed, out)
    os.utime(out)
    log(f"inputs {workload} seed={seed} ({time.time() - t0:.1f} s): "
        f"bytes={truth['bytes']} digest={truth['digest'][:16]} sizes={json.dumps(truth['sizes'])}")
    if workload == "dq_wide":
        log(f"drift set: {json.dumps(truth['drift'])}")
    # keep the few most recently used seeds
    olds = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)[KEEP_SEEDS:]
    for d in olds:
        shutil.rmtree(d, ignore_errors=True)
    return out, truth


def run_jvm(workload, data, run_dir, seconds, trace, cpus, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.abspath(os.path.join(run_dir, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # Fixed generation sizes, and an old generation that grows only when
    # live data needs it: peak RSS then follows what the program keeps
    # alive rather than GC timing, and is steady from run to run.
    cmd += ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms512m", "-Xmn256m", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-cp", cp, "graftbench.Harness", "--workload", workload, "--data", data,
            "--out", run_dir, "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(cpus)]
    # the session must see graft's defaults, not a caller's overrides
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("harness timed out")
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness failed (rc={rc})")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        raise SystemExit("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    os.makedirs(BUILD, exist_ok=True)
    build()
    deadline = time.time() + RUN_TIMEOUT_S
    data, truth = inputs(args.workload, args.seed)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = len(os.sched_getaffinity(0))
    res = run_jvm(args.workload, os.path.abspath(data), os.path.abspath(run_dir),
                  args.seconds, args.trace, cpus, deadline)
    if res["ops"] != WORKLOAD_OPS[args.workload]:
        raise SystemExit(f"harness ran {res['ops']}, expected {WORKLOAD_OPS[args.workload]}")
    t0 = time.time()
    failures, quality = checks.check(args.workload, data, run_dir, truth, res)
    log(f"checks took {time.time() - t0:.1f} s")
    for f in failures:
        log(f"CHECK FAILED {f}")
    for e in res["errors"]:
        log(f"ERROR {e}")
    m = res["metrics"]
    wall = m["wall_s"]
    values = {"setup_s": m["setup_s"], "wall_s": wall,
              "input_rows_per_s": truth["input_rows"] / wall if wall > 0 else 0.0,
              "peak_rss_mb": m["peak_rss_mb"]}
    if args.trace:
        layer = dict(res["per_layer"], **quality)
        units = PER_LAYER
        values = {name: layer.get(name, 0.0) for name, _ in PER_LAYER}
    else:
        units = END_TO_END
    log("op medians: " + ", ".join(f"{k[3:-2]}={v:.3f}" for k, v in res["per_layer"].items()
                                   if k.startswith("op.")))
    log(f"{res['passes']} passes, pass walls {res['pass_walls']}, "
        f"run took {time.time() - started:.1f} s")
    failed = len(res["errors"]) + len(failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units},
    }))


if __name__ == "__main__":
    main()
