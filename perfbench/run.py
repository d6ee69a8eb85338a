#!/usr/bin/env python3
"""Repository benchmark: the daily flights pipeline, a cold sweep over the
lane list and warm lane serving, each driven through the engine's public
entry points by one client thread in a closed loop at local[<cores>].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (perfbench/build.sbt) and generates the lane
corpus; later runs reuse both. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer ones.
Every result is checked: lane results against their DuckDB oracles, warm
passes against the cold pass, the published star against a full load.
"""
import argparse
import glob
import hashlib
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

import datagen  # noqa: E402
import oracle  # noqa: E402

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
DEADLINE_S = 170

LANES = [
    "q21_self_aliased_dim_join", "q29_sketches", "q72_basket_affinity",
    "x217_ed_clusters", "x43_repetition", "x128_incr_bm25",
    "x138_semdedup_report", "x119_video_decode", "s02_session_windows",
    "x179_topk_rewrite", "x170_vecshard_agg_pushdown",
]
# the module groups the lane list covers (Main.scala maps lanes to groups)
LANE_GROUPS = ["ops", "ext.Linkage", "ext.TextAnalysis", "ext.Retrieval",
               "ext.Similarity", "ext.Multimodal", "streaming", "plans", "sources"]
TRACED_LANES = ["x217_ed_clusters", "q21_self_aliased_dim_join", "q29_sketches", "x128_incr_bm25",
                "x138_semdedup_report", "q72_basket_affinity"]
TRANSFORMS = ["dim_aircrafts", "dim_airport", "dim_passenger", "dim_seat",
              "fct_boarding_pass", "fct_booking_ticket", "fct_flight_activity",
              "fct_seat_occupied_daily"]

# the seed argument orders the work; the inputs are fixed: the pipeline's
# source thinned by `thin`, the lanes' corpus generated at scale `sf`
WORKLOADS = {
    "pipeline_daily": {"kind": "pipeline", "thin": 64},
    "lanes_serve": {"kind": "lanes", "sf": 0.01},
}
CORPUS_SEED = 42
TINY = {"sf": 0.001, "source": "fixtures"}

E2E = [("setup_s", "s"), ("wall_s", "s"), ("ops_per_s", "1/s"), ("heap_mb", "MB")]
PER_LAYER = (
    [(f"engine.Incremental.extract_s", "s"), ("engine.Sources.csv_write_s", "s"),
     ("engine.Sources.csv_read_s", "s"), ("engine.Sinks.load_s", "s"),
     ("engine.Sinks.files_written", "count"), ("engine.Sinks.bytes_per_row", "B")]
    + [(f"flights.StarSchema.{t}_s", "s") for t in TRANSFORMS]
    + [("flights.Pipeline.runFor_s", "s"), ("engine.SnapshotSet.publish_s", "s")]
    + [(f"{g}.{p}_s", "s") for g in LANE_GROUPS for p in ("build", "plan", "exec")]
    + [(f"lane.{n}_s", "s") for n in TRACED_LANES]
    + [("spark.codegen_compile_s", "s"), ("spark.codegen_compiles", "count"),
       ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
       ("spark.spill_mb", "MB"), ("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.stages_skipped_ratio", "ratio"),
       ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"),
       ("spark.gc_s", "s"), ("spark.cached_mb", "MB"), ("spark.cached_rdds", "count")]
    + [("trace.overhead_s", "s"), ("trace.unaccounted_s", "s")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + driver once per source state; return (classpath, stamp)."""
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(src, "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    files = [f for pat in ("src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
                           "perfbench/project/build.properties")
             for f in glob.glob(os.path.join(ROOT, pat), recursive=True) if os.path.isfile(f)]
    stamp = tree_hash(files)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building engine + benchmark driver (sbt compile)")
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        log(f"built in {time.time() - t0:.0f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"{classes}:{SPARK_HOME}/jars/*", stamp


def corpus(sf):
    """The generated lane corpus at scale `sf`, written once per checkout."""
    gen = tree_hash([os.path.join(HERE, "datagen.py")])[:8]
    d = os.path.join(HERE, ".data", f"sf{sf}-s{CORPUS_SEED}-{gen}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write(d, sf, CORPUS_SEED)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classpath, work, kv, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.sa.root={work}/artifacts",
            f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"]
           + [f"{k}={v}" for k, v in kv.items()])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def e2e_metrics(res):
    ops = res["op_s"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(res["unit_s"]),
        "ops_per_s": len(ops) / sum(ops),
        "heap_mb": res["heap_mb"],
    }


def layer_metrics(res, spans):
    """Per-layer self times per traced unit, plus the JVM's counters."""
    units = max(1, len(res["traced_unit_s"]))
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    self_total = 0.0
    for s in spans:
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        self_s = dur - child.get(s["id"], 0) / 1e9
        self_total += self_s
        # lane spans report the lane's whole time, every other span its self time
        v = dur if s["name"].startswith("lane.") else self_s
        key = s["name"] + "_s"
        out[key] = out.get(key, 0.0) + v / units
    for k, v in res["layers"].items():
        out[k] = v["value"]
    if res["traced_unit_s"] and res["unit_s"]:
        traced = statistics.median(res["traced_unit_s"])
        out["trace.overhead_s"] = traced - statistics.median(res["unit_s"])
        out["trace.unaccounted_s"] = sum(res["traced_unit_s"]) / units - self_total / units
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test scale: sf0.001 lanes, the golden pipeline fixtures")
    ap.add_argument("--inject-fail", action="store_true",
                    help="self-test: add a lane that always throws")
    ap.add_argument("--lanes", help="comma-separated subset of the lane list")
    ap.add_argument("--keep", metavar="DIR",
                    help="copy the run's raw samples and spans into DIR")
    a = ap.parse_args()
    wl = dict(WORKLOADS[a.workload])
    if a.tiny:
        wl.update(TINY)
    classpath, stamp = build()
    deadline = time.time() + DEADLINE_S

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cache_dir = os.path.join(HERE, ".cache")
    os.makedirs(cache_dir, exist_ok=True)
    try:
        kv = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "work": work,
              "inject_fail": int(a.inject_fail)}
        lanes = a.lanes.split(",") if a.lanes else LANES
        if wl["kind"] == "lanes":
            base = corpus(wl["sf"])
            kv.update(corpus=base, lanes=",".join(lanes))
            ident = f"lanes-{os.path.basename(base)}-{hashlib.sha256(kv['lanes'].encode()).hexdigest()[:8]}"
        else:
            kv.update(thin=wl["thin"], source=wl.get("source", "scale"),
                      source_dir=os.path.join(HERE, ".data", f"pipeline-thin{wl['thin']}"))
            ident = f"pipeline-{kv['source']}-{kv['thin']}"
        expect = os.path.join(cache_dir, f"expect-{stamp}-{ident}.tsv")
        verified = os.path.exists(expect)
        if verified:
            kv["expect"] = expect
        elif wl["kind"] == "lanes":
            kv["dump"] = 1
        res = run_jvm(classpath, work, kv, deadline)

        failures = list(res["failures"])
        failed = int(res["attempted"]) - int(res["ok"])
        if wl["kind"] == "lanes" and not verified:
            wrong = oracle.check(base, os.path.join(work, "dump"),
                                 [n for n in lanes if n in res["digests"]])
            failures += wrong
            failed += len(wrong)
        for f in failures:
            log(f"FAILED {f}")
        correct = not failures
        if correct and not verified:
            with open(expect + ".tmp", "w") as f:
                for k, v in sorted(res["digests"].items()):
                    f.write(f"{k}\t{v}\n")
            os.replace(expect + ".tmp", expect)

        if a.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            got = layer_metrics(res, spans)
            metrics = {n: {"value": got.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
        else:
            got = e2e_metrics(res) if res["op_s"] and res["unit_s"] else {}
            if len(got) < len(E2E):
                correct = False
            metrics = {n: {"value": got.get(n, 0.0), "unit": u} for n, u in E2E}
        log(f"{a.workload}: units={len(res['unit_s'])}+{len(res['traced_unit_s'])} "
            f"ops={len(res['op_s'])} setup={res['setup_s']} timed={res['timed_s']:.2f}s")
        attempted = max(int(res["attempted"]), failed, 1)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        if a.keep:
            os.makedirs(a.keep, exist_ok=True)
            for f in ("result.json", "spans.jsonl", "jvm.log"):
                shutil.copy(os.path.join(work, f), a.keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
