#!/usr/bin/env python3
"""perfbench: one run of one workload of the graft benchmark.

  python3 perfbench/run.py --workload forecast_pipeline --seed 1 \
      --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and
the harness with sbt (offline) into the checkout; later runs reuse the
build while the sources are unchanged. Each run generates its inputs
from the seed, starts one JVM on local[min(4, cpus)] with a fixed heap
and shuffle-partition count, runs set-up and then whole rounds of the
workload's op for `--seconds`, checks every output against a
computation made apart from the program, and prints one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the run records spans around each call into a graft module and the
metrics are the per-layer ones. Everything the run writes lives under
`.bench_build/` and its temporary directory is removed at exit.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
RUN_LIMIT_S = 170
OP_KIND = {"forecast_pipeline": "serve_triple",
           "graph_fixpoint": "graph_pass"}
# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

SERVE_STEPS = ["parse", "weather_append", "traffic_append", "model_load", "score"]
GRAPH_OPS = ["cc", "kcore", "pagerank", "labelprop"]
LAYERS = ["sources", "pipelines", "ml", "sinks", "operators"]
# per-layer metric -> unit, as BENCHMARK.json lists them; every traced run
# reports all of them, and a metric of the other workload's layers reads 0
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an unchanged checkout
    builds once."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness once; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=780).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not cps:
        fail(f"build failed (see {os.path.relpath(log, ROOT)})", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """span id -> duration minus the time its children cover."""
    child = {}
    for s in spans:
        child.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_s"] - s["start_s"])
            - sum(c["end_s"] - c["start_s"] for c in child.get(s["id"], []))
            for s in spans}


def per_op_median(spans, selfs, pred, ops):
    """Median over ops of the summed self time of matching spans."""
    if not ops:
        return 0.0
    per = {o["id"]: 0.0 for o in ops}
    for s in spans:
        if s["op"] in per and pred(s):
            per[s["op"]] += selfs[s["id"]]
    return median(list(per.values()))


def per_layer(res, workload):
    spans, ops, extra = res["spans"], res["ops"], res["extra"]
    main_ops = [o for o in ops if o["kind"] == OP_KIND[workload] and o["ok"]]
    selfs = self_times(spans)
    m = dict.fromkeys(PER_LAYER, 0.0)

    def span_med(name):
        return per_op_median(spans, selfs, lambda s: s["name"] == name,
                             main_ops)

    def counter_med(key, per_cycle=1):
        return median([o["counters"][key] / per_cycle for o in main_ops])

    for s in spans:
        if s["op"] < 0 and s["name"].startswith("train."):
            m[s["name"] + "_s"] = selfs[s["id"]]
    if workload == "forecast_pipeline":
        # the ops run ForecastServe.run itself; the per-step times come
        # from the step-by-step triple after the timed section (op -2)
        cycles = 3
        breakdown = [s for s in spans if s["op"] == -2]
        for step in SERVE_STEPS:
            m[f"serve.{step}_s"] = sum(selfs[s["id"]] for s in breakdown
                                       if s["name"] == f"serve.{step}") / cycles
        for layer in LAYERS:
            m[f"self.{layer}_s"] = sum(selfs[s["id"]] for s in breakdown
                                       if s["layer"] == layer)
        m["serve.jobs"] = counter_med("jobs", cycles)
        m["serve.tasks"] = counter_med("tasks", cycles)
        m["serve.files_written"] = median(
            [o["detail"].get("files_written", 0) / cycles for o in main_ops])
        for kind in ("fresh", "replay", "overlap"):
            durs = [s["end_s"] - s["start_s"] for s in spans
                    if s["name"] == f"serve.{kind}" and s["op"] >= 0]
            m[f"serve.{kind}_p50_s"] = median(durs)
    elif workload == "graph_fixpoint":
        for g in GRAPH_OPS:
            m[f"graph.{g}_s"] = span_med(f"graph.{g}")
            m[f"graph.{g}_jobs"] = median(
                [o["detail"].get(f"graph.{g}.jobs", 0) for o in main_ops])
        m["graph.tasks"] = counter_med("tasks")
        m["graph.cpu_s"] = counter_med("cpu_s")
        for layer in LAYERS:
            m[f"self.{layer}_s"] = per_op_median(
                spans, selfs, lambda s, layer=layer: s["layer"] == layer, main_ops)
    for k in m:
        if k in extra:
            m[k] = extra[k]
    m["jvm.gc_s"] = extra.get("timed_gc_s", 0.0)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}


def oracle_check(dumps, sf_dir):
    """Replays each dedup entry's DuckDB oracle SQL over the same inputs
    with the repository's own comparison (tools/oracle_check.py)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = mod.main(sf_dir, dumps)
    sys.stderr.write(buf.getvalue())
    return rc == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    classpath = build()
    t_start = time.time()   # the JVM's time limit leaves the build out

    tmp_root = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=tmp_root)
    proc = None

    def cleanup(*_):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *x: (cleanup(), sys.exit(143)))
    try:
        # ---- set-up: inputs, then the JVM's own set-up -------------
        t0 = time.time()
        inputs = os.path.join(work, "inputs")
        gen.GENERATORS[a.workload](a.seed, inputs)
        if a.trace and a.workload == "graph_fixpoint":
            gen.gen_docs(a.seed, os.path.join(inputs, "dedup"))
            gen.gen_docs(a.seed, os.path.join(inputs, "dedup-warm"), 500, 200)
        gen_s = time.time() - t0
        cores = max(1, min(4, len(os.sched_getaffinity(0))))
        out = os.path.join(work, "result.json")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
                f"-Djava.io.tmpdir={work}", f"-Dderby.system.home={work}",
                "-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--inputs", inputs, "--work", work,
                "--out", out, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores)])
        log_path = os.path.join(work, "jvm.log")
        t_launch = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        with open(log_path) as f:
            log_text = f.read()
        notes = [ln for ln in log_text.splitlines() if ln.startswith("[perfbench]")]
        for ln in notes:
            print(ln, file=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(log_text[-4000:])
            fail(f"the JVM run ended with {rc}", 1)
        with open(out) as f:
            res = json.load(f)

        ops = res["ops"]
        samples = [o["seconds"] for o in ops
                   if o["kind"] == OP_KIND[a.workload] and o["ok"]]
        failed = sum(1 for o in ops if not o["ok"])
        correct = all(c["ok"] for c in res["checks"])
        if "dumps" in res["extra"]:
            correct = oracle_check(res["extra"]["dumps"],
                                   res["extra"]["dedup_dir"]) and correct
        if not samples:
            fail("no op succeeded", 1)
        op_p50 = statistics.median(samples)
        setup_s = gen_s + (res["setup_end_ms"] / 1000.0 - t_launch)
        print(f"perfbench: {a.workload} seed {a.seed}: op seconds "
              f"{[round(x, 3) for x in samples]}, "
              f"op_p50_s {op_p50:.4f}, setup_s {setup_s:.3f}, "
              f"extra {json.dumps(res['extra'])}",
              file=sys.stderr)
        if a.trace:
            metrics = per_layer(res, a.workload)
        else:
            metrics = {"op_p50_s": {"value": op_p50, "unit": "s"},
                       "setup_s": {"value": setup_s, "unit": "s"}}
        print(json.dumps({"correct": bool(correct), "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
    finally:
        cleanup()


if __name__ == "__main__":
    main()
