#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one client thread.

    python3 perfbench/run.py --workload ingest_dump --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles graft
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler that ships with Spark, into `.bench_build/`. Each run then
generates its inputs from the seed, starts the harness JVM, measures
the workload's user calls in a closed loop for `--seconds`, checks the
outputs against the generator's truth, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. The full artifact
(latencies, spans, host state, every check) goes to
`.bench_build/work/<workload>/artifact.json`. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = "4"
HEAP = "4g"
DEADLINE_S = 160

# Input sizes (README.md says why not larger): the ingest dump is ~36k
# job records / ~145k rows / ~65 MB; the report warehouse is built from
# half that; the corpus is 12k documents / ~9 MB.
SACCT_JOBS = 30000
REPORT_JOBS = 10000
REPORT_CALLS = 120
CORPUS_DOCS = 6000
SHARD_TOKENS = 1 << 16

# Workload and metric names with their units, from the benchmark's spec at
# the checkout root.
try:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
        SPEC = json.load(_f)
except (OSError, ValueError) as _e:
    raise SystemExit(f"perfbench: cannot read BENCHMARK.json ({_e}); run from a checkout root")
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler (set SPARK_HOME)")
    return jars


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, sources, out, stamp):
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log(f"compiling {len(sources)} files into {os.path.relpath(out, ROOT)}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", ":".join(classpath + [os.path.join(jars, "*")]), "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({os.path.relpath(out, ROOT)})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(jars):
    graft_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not graft_src:
        raise SystemExit("perfbench: no graft sources under src/main/scala (run from a checkout root)")
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    graft_out = os.path.join(BUILD, "graft-classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    graft_stamp = digest(graft_src)
    scalac(jars, [], graft_src, graft_out, graft_stamp)
    scalac(jars, [graft_out], bench_src, bench_out, graft_stamp + digest(bench_src))
    return [graft_out, bench_out, os.path.join(jars, "*")]


# ---- inputs ----------------------------------------------------------------

def make_inputs(workload, seed, work):
    """Writes the workload's inputs under `work`; returns (harness args, truth)."""
    if workload in ("ingest_dump", "report_db"):
        text, truth = gen.gen_sacct(seed, SACCT_JOBS if workload == "ingest_dump" else REPORT_JOBS)
        dump = os.path.join(work, "sacct_dump.txt")
        with open(dump, "w") as f:
            f.write(text)
        args = dict(input=dump, now=str(truth["now"]), rows=str(len(truth["rows"])))
        if workload == "report_db":
            truth["calls"] = gen.report_calls(seed, truth, REPORT_CALLS)
            args["calls"] = os.path.join(work, "calls.tsv")
            with open(args["calls"], "w") as f:
                f.write("".join(f"{k}\t{a}\n" for k, a in truth["calls"]))
        return args, truth
    files, truth = gen.gen_corpus(seed, CORPUS_DOCS)
    src = os.path.join(work, "corpus")
    gen.write_files(src, files)
    return dict(input=src, docs=str(len(truth["docs"])), must=",".join(gen.MUST),
                banned=",".join(gen.BANNED), min_tokens=str(gen.MIN_TOKENS),
                shard_tokens=str(SHARD_TOKENS)), truth


# ---- run -------------------------------------------------------------------

def run_checks(workload, work, truth, result):
    checks = []
    if workload == "report_db":
        for i, (kind, arg) in enumerate(truth["calls"]):
            path = os.path.join(work, "calls_out", f"{i}.tsv")
            if os.path.exists(path):
                with open(path) as f:
                    ok, detail = check.check_report(kind, arg, f.read(), truth)
                checks.append((f"report[{i}] {kind} {arg}", ok, detail))
    if workload == "ingest_dump":
        with open(os.path.join(work, "warehouse.txt")) as f:
            rows, bookmark = check.load_warehouse(f.read().strip())
        checks += check.check_warehouse(rows, bookmark, truth)
    if workload == "curate_corpus":
        with open(os.path.join(work, "curated.txt")) as f:
            shards, pairs = check.load_curated(f.read().strip())
        checks += check.check_curate(shards, pairs, truth, SHARD_TOKENS)
        result["near_recall"] = check.near_recall(pairs, truth)
    if result["jvm_checks_failed"]:
        checks.append(("repeated calls give identical output", False,
                       f"{result['jvm_checks_failed']} differed"))
    return checks


def kind_p50_mean(lat, kinds):
    """The median latency of each call kind, averaged over the kinds with
    equal weight: a figure that does not depend on the shares of the
    kinds in a run."""
    by_kind = {}
    for ms, k in zip(lat, kinds):
        by_kind.setdefault(k, []).append(ms)
    return statistics.mean(statistics.median(v) for v in by_kind.values())


def metrics_for(result, setup_s, trace):
    """The end-to-end metrics, or with `trace` the per-layer ones: every
    name the spec declares, 0 for a layer the workload does not run."""
    lat = result["latencies_ms"]
    if not trace:
        calls = len(lat)
        return {
            "setup_s": setup_s,
            "op_p50_ms": kind_p50_mean(lat, result["kinds"]),
            "items_per_s": result["items_per_call"] * calls / (sum(lat) / 1e3),
            "cpu_s_per_op": result["process_cpu_s"] / calls,
            "stored_bytes_per_input_byte": result["stored_bytes_per_input_byte"],
            "peak_live_heap_mb": result["peak_live_heap_mb"]}
    layers = dict(result["layers"])
    layers["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    if "near_recall" in result:
        layers["dedup.near_recall"] = result["near_recall"]
    undeclared = set(layers) - set(PER_LAYER)
    if undeclared:
        raise SystemExit(f"perfbench: per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    return {k: layers.get(k, 0.0) for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    jars = spark_jars()
    classpath = build(jars)
    # the harness deadline counts from here: a run that compiled may
    # take longer by the compile time
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    t_setup = time.time()
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    jvm_log = open(os.path.join(work, "jvm.log"), "w")
    cmd = (["java", f"-Xmx{HEAP}", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", ":".join(classpath), "graftbench.Main", f"workload={a.workload}",
              f"work={work}", f"seconds={a.seconds}", f"trace={a.trace}"])
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=jvm_log, text=True, env=env, cwd=work)
    # a harness that overruns the deadline is killed and the run fails
    watchdog = threading.Timer(deadline - time.time(), proc.kill)
    watchdog.start()
    try:
        harness_args, truth = make_inputs(a.workload, a.seed, work)
        t_generated = time.time()
        with open(os.path.join(work, "inputs.txt"), "w") as f:
            f.write("".join(f"{k}={v}\n" for k, v in harness_args.items()))
        proc.stdin.write("go\n")
        proc.stdin.flush()
        ready = None
        for line in proc.stdout:
            if line.startswith("READY "):
                ready = int(line.split()[1]) / 1e3
                break
        proc.communicate()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        jvm_log.close()
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or ready is None or not os.path.exists(result_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness failed (exit {proc.returncode})")
    with open(result_path) as f:
        result = json.load(f)
    setup_s = ready - t_setup

    checks = run_checks(a.workload, work, truth, result)
    metrics = metrics_for(result, setup_s, bool(a.trace))
    units = PER_LAYER if a.trace else END_TO_END
    n_calls = len(result["latencies_ms"]) + len(result["plain_latencies_ms"])
    failed_checks = sum(1 for _, ok, _ in checks if not ok)
    attempted = n_calls + len(checks)
    failed = result["failed_calls"] + failed_checks
    artifact = dict(
        workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
        setup_s=setup_s, calls=n_calls, failed_share=failed / attempted,
        peak_rss_mb=result["peak_rss_mb"], peak_live_heap_mb=result["peak_live_heap_mb"],
        latencies_ms=result["latencies_ms"], plain_latencies_ms=result["plain_latencies_ms"],
        kinds=result["kinds"], host=result["host"], metrics=metrics,
        setup_phases=dict(result["setup_ms"], generate_s=t_generated - t_setup),
        checks=[dict(name=n, ok=ok, detail=d) for n, ok, d in checks],
        spans=result["spans"], wall_s=result["wall_s"])
    with open(os.path.join(work, "artifact.json"), "w") as f:
        json.dump(artifact, f)
    for n, ok, d in checks:
        if not ok:
            log(f"CHECK FAILED {n}: {d}")
    log(f"{a.workload} seed={a.seed} calls={n_calls} checks={len(checks)} failed={failed} "
        f"host={json.dumps(result['host'])}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
