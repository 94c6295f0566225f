#!/usr/bin/env python3
"""graft's layered benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together
with the harness in `perfbench/` (sbt, offline) into $CARGO_TARGET_DIR
(default `.bench_build`); later runs reuse that build while the sources
are unchanged. The run then starts one JVM in local mode on all cores,
which writes a JSON record; this script turns it into metrics and prints
them, one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(counters from a SparkListener and spans around each layer call).

Workloads:
  ts_dashboard  dashboard panel refreshes on `events` with warm memos
                (query list in perfbench/queries/, expected fingerprints
                in perfbench/expected/fingerprints.tsv)
  llm_pipeline  one cold pass of a training-data batch job: LLM queries
                that reach the native kernels, plus relational queries
  ingest_live   carbon-line ingest with a routed reader beside it

perfbench/spread.py repeats runs over seeds and reports their spread and
the tracing overhead. The harness's own tests:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
    cd perfbench && sbt test
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ts_dashboard", "llm_pipeline", "ingest_live")
DATA = os.path.join(HERE, "data", "sf0.1")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
SOURCES = (os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(HERE, "src", "main", "scala"))
BUILD_FILES = (os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"),
               os.path.join(ROOT, "build.sbt"))
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]



def declared_metrics():
    """(end_to_end, per_layer) name -> unit, as BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def source_stamp():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for top in SOURCES:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compiles engine + harness unless the last build used these sources;
    returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=os.path.join(build_dir, "sbt-target"))
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if "scala-library" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"build failed (rc={proc.returncode}), see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir, extra):
    out = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--queries", os.path.join(HERE, "queries"),
              "--expected", os.path.join(HERE, "expected", "fingerprints.tsv"),
              "--tmp", tmp, "--out", out] + extra)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        # spark.local.dir must stay inside the checkout
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM failed: {rc}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write fingerprints here instead of "
                    "checking them (query workloads)")
    ap.add_argument("--verify-out", help="with --record: graft.Verify output "
                    "each fingerprint must also match")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write("engine sources (src/main/scala/graft) not found: "
                         "run from the root of a graft checkout\n")
        return 2
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    cp = build(build_dir)
    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    extra = []
    if args.record:
        extra += ["--record", os.path.abspath(args.record)]
    if args.verify_out:
        extra += ["--verify-out", os.path.abspath(args.verify_out)]
    try:
        raw = run_jvm(cp, args, run_dir, extra)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, per, details, attempted, failed = metrics.summarize(raw)
    measured = per if args.trace else e2e
    units = declared_metrics()[1 if args.trace else 0]
    if set(measured) != set(units):
        raise RuntimeError("measured metrics differ from BENCHMARK.json: "
                           f"{sorted(set(measured) ^ set(units))}")
    values = {k: {"value": measured[k], "unit": u} for k, u in units.items()}
    details.update(workload=args.workload, seed=args.seed, cpus=raw["cpus"],
                   end_to_end=e2e)
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
