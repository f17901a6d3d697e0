#!/usr/bin/env python3
"""Benchmark for collimatespark: CSV ingest and a query mix, one client in
one warm JVM, timed layer by layer from outside.

    python3 graftbench/run.py --workload ingest_many_small --seed 1 --seconds 4 --trace 0

Builds the program from the sources next to this directory (once per
source state), generates the seeded inputs, runs the graftbench.Harness
JVM on the compiled classpath and checks every op's output. The last line
of stdout is one JSON object; the lines before it are a readable report.
With --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer ones (Spark jobs, stages and tasks recorded as spans under each
op). See README.md for the metrics and what each should move.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CORES = 4
QUERY_SF = os.path.join(gen.TESTDATA, "sf0.01")
JVM_TIMEOUT_S = 165

# the query mix, and the tables each query reads (the input size a query
# is credited with)
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "dedup_minhash": ["documents"],
    "text_quality": ["documents"],
    "graph_bfs_hops": ["part"],
    "graph_adamic_adar": ["lineitem"],
}
QUERY_MIX = list(QUERY_TABLES)

# Items come in passes, each in a fresh seeded order. The warm-up is as
# long as the run budget allows: it ingests every file once (each file's
# reference output) and runs the query mix twice. The timed region runs
# whole passes until --seconds have gone by and at least the minimum
# number of passes has run; a pass is longer than the 4 s the benchmark
# runs with, so the pass count, and with it how warm the last pass is,
# does not depend on how fast the box is.
WARMUP_PASSES = {"ingest_many_small": 1, "query_mix": 2}
TIMED_PASSES = {"ingest_many_small": 1, "query_mix": 2}
SMALL_ROWS = 10_000

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _source_files():
    yield os.path.join(ROOT, "build.sbt")
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for name in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            if name.endswith((".sbt", ".properties", ".scala")):
                yield os.path.join(base, name)
    yield os.path.join(HERE, "build.sbt")
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile the program and the harness with sbt, once per source
    state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources at {ROOT} (expected build.sbt and src/main/scala/graft)")
    h = hashlib.sha256()
    for path in _source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(OUT, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bdir, "sbt.log")
    with open(log_path, "w") as log:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "graftbench" in l and "classes" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log at {log_path}")
    cp = cps[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ---------------------------------------------------------------- box probe

_PROBE_BLOCK = bytes(range(256)) * 4096  # 1 MiB
_PROBE_MB = 160


def _sha_loop():
    h = hashlib.sha256()
    for _ in range(_PROBE_MB):
        h.update(_PROBE_BLOCK)
    return h.hexdigest()


def box_probe():
    """Fixed SHA-256 work on one thread, then the same work on each of
    CORES threads at once (hashlib releases the GIL); seconds each."""
    t = time.perf_counter()
    _sha_loop()
    cpu1 = time.perf_counter() - t
    threads = [threading.Thread(target=_sha_loop) for _ in range(CORES)]
    t = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return cpu1, time.perf_counter() - t


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


# ---------------------------------------------------------------- plan

def _parquet_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def make_plan(workload, seed, seconds, trace, run_dir):
    """Generate the inputs and write the harness plan; returns the input
    bytes each op is credited with, by op name."""
    rng = random.Random(seed)
    lines = [("out", run_dir), ("seconds", seconds), ("trace", int(trace)),
             ("cores", CORES), ("sf", QUERY_SF), ("min_passes", TIMED_PASSES[workload])]
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    if workload == "query_mix":
        items = [(q,) for q in QUERY_MIX]
        in_bytes = {q: sum(_parquet_bytes(os.path.join(QUERY_SF, t + ".parquet"))
                           for t in QUERY_TABLES[q]) for q in QUERY_MIX}
        kind = "query"
    else:
        files = gen.many_small(inputs, seed, SMALL_ROWS)
        gen.write_manifest(inputs, files)
        items = [(f["id"], f["path"], f["rows"]) for f in files]
        in_bytes = {f["id"]: f["bytes"] for f in files}
        kind = "ingest"
    ops = []
    for phase, passes in (("warmup", WARMUP_PASSES[workload]), ("timed", 100)):
        for r in range(passes):
            order = items[:]
            rng.shuffle(order)
            ops += [(phase, r, kind) + item for item in order]
    with open(os.path.join(run_dir, "plan.tsv"), "w") as fh:
        for row in lines + ops:
            fh.write("\t".join(str(x) for x in row) + "\n")
    return in_bytes


# ---------------------------------------------------------------- run

def run_jvm(cp, run_dir):
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + ADD_OPENS + [
        f"-Xmx{mem}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Harness",
        os.path.join(run_dir, "plan.tsv")])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness JVM ended with {rc}; log at {log_path}")
    return launched


def _read_jsonl(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _span_s(op, layer):
    return sum(b - a for name, a, b in op["spans"] if name == layer) / 1000


LAYERS = ("ingest.read", "ingest.infer", "ingest.write_parquet", "ingest.write_raw",
          "ops.build", "ops.plan", "ops.exec")
SELF_PARTS = ("bench",) + LAYERS + ("spark.job_sched", "spark.stage_idle",
                                    "spark.task_busy")


def op_times(timed):
    """Wall seconds of each timed op: one file ingest, or one pass over the
    query mix (a harness round)."""
    if timed[0]["kind"] == "ingest":
        return [(o["t1"] - o["t0"]) / 1000 for o in timed]
    t = {}
    for o in timed:
        t[o["round"]] = t.get(o["round"], 0.0) + (o["t1"] - o["t0"]) / 1000
    return list(t.values())


def end_to_end(timed, summary, launched):
    return {
        "setup_s": (summary["setup_end_ms"] / 1000 - launched, "s"),
        "op_p50_s": (stats.median(op_times(timed)), "s"),
    }


def report_only(timed, summary, in_bytes):
    """Numbers the report prints besides the JSON metrics."""
    walls = op_times(timed)
    total_in = sum(in_bytes[o["name"]] for o in timed)
    out = {
        "wall_s": ((summary["timed_end_ms"] - summary["timed_start_ms"]) / 1000, "s"),
        "ops": (len(walls), "count"),
    }
    p = stats.tail_percentile(len(walls))
    if p is not None:
        out[f"op_tail_s (p{p:g} of {len(walls)})"] = (stats.percentile(walls, p), "s")
    out["input_mb_per_s"] = (total_in / 1e6 / sum(walls), "MB/s")
    if timed[0]["kind"] == "ingest":
        out["parquet_bytes_per_input_byte"] = (
            sum(o["pq_bytes"] for o in timed) / total_in, "ratio")
    out["fail_ratio"] = (sum(1 for o in timed if not o["ok"]) / len(timed), "ratio")
    out["checks_run"] = (sum(o["checks"] for o in timed), "count")
    out["peak_rss_mb"] = (summary["peak_rss_kb"] / 1024, "MB")
    out["setup.jvm_to_session_s"] = (
        (summary["session_ms"] - summary["jvm_start_ms"]) / 1000, "s")
    out["setup.warmup_s"] = ((summary["setup_end_ms"] - summary["session_ms"]) / 1000, "s")
    return out


def per_layer(timed, events, summary, probes, steal_pct, op_p50_s):
    """Per-layer metrics of a traced run: means per timed op unless noted."""
    by_op, _ = stats.attribute(events)
    n = len(op_times(timed))
    acc = {}

    def add(key, v):
        acc[key] = acc.get(key, 0.0) + v

    for o in timed:
        rec = by_op.get(o["op"], {"jobs": {}, "stages": [], "tasks": []})
        jobs, tasks = list(rec["jobs"].values()), rec["tasks"]
        job_iv = [(a, b if b is not None else o["t1"]) for a, b in jobs]
        infer = [(a, b) for name, a, b in o["spans"] if name == "ingest.infer"]
        add("infer_jobs", sum(1 for t, _ in jobs if any(a <= t <= b for a, b in infer)))
        add("jobs", len(jobs))
        add("stages", len(rec["stages"]))
        add("tasks", len(tasks))
        for key, field, scale in (("cpu", "cpu_ns", 1e9), ("run", "run_ms", 1e3),
                                  ("gc", "gc_ms", 1e3), ("shw", "shw_b", 1e6),
                                  ("fw", "fw_ms", 1e3), ("spill", "spill_b", 1e6)):
            add(key, sum(t[field] for t in tasks) / scale)
        add("wall", (o["t1"] - o["t0"]) / 1000)
        add("gap", (o["t1"] - o["t0"] - stats.union_length(job_iv, o["t0"], o["t1"])) / 1000)
        for part, v in stats.breakdown(o["t0"], o["t1"], o["spans"], jobs,
                                       rec["stages"], tasks).items():
            add("self." + part, v)
    m = {f"{layer}_s": (sum(_span_s(o, layer) for o in timed) / n, "s") for layer in LAYERS}
    m["ingest.infer_jobs"] = (acc["infer_jobs"] / n, "count")
    pq = [o["pq_bytes"] for o in timed if "pq_bytes" in o]
    ins = [o["in_bytes"] for o in timed if "pq_bytes" in o]
    m["ingest.parquet_bytes_per_input_byte"] = (sum(pq) / sum(ins) if ins else 0.0, "ratio")
    for q in QUERY_MIX:
        qs = [(o["t1"] - o["t0"]) / 1000 for o in timed if o["name"] == q]
        m[f"ops.{q}_s"] = (stats.median(qs) if qs else 0.0, "s")
    m["spark.jobs"] = (acc["jobs"] / n, "count")
    m["spark.stages"] = (acc["stages"] / n, "count")
    m["spark.tasks"] = (acc["tasks"] / n, "count")
    m["spark.task_cpu_s"] = (acc["cpu"] / n, "s")
    m["spark.core_util"] = (acc["run"] / (acc["wall"] * CORES), "ratio")
    m["spark.driver_gap_s"] = (acc["gap"] / n, "s")
    m["spark.codegen_compiles"] = (sum(o["cg_n"] for o in timed) / n, "count")
    m["spark.codegen_ms"] = (sum(o["cg_ms"] for o in timed) / n, "ms")
    m["spark.shuffle_write_mb"] = (acc["shw"] / n, "MB")
    m["spark.shuffle_fetch_wait_s"] = (acc["fw"] / n, "s")
    m["spark.spill_mb"] = (acc["spill"] / n, "MB")
    m["spark.gc_s"] = (acc["gc"] / n, "s")
    m["jvm.gc_pause_s"] = (sum(o["gc_ms"] for o in timed) / 1000 / n, "s")
    m["jvm.peak_rss_mb"] = (summary["peak_rss_kb"] / 1024, "MB")
    m["jvm.jit_compile_s"] = (summary["jit_ms_timed"] / 1000, "s")
    m["box.cpu1_s"] = (_mean([p[0] for p in probes]), "s")
    m["box.cpu4_s"] = (_mean([p[1] for p in probes]), "s")
    m["box.steal_pct"] = (steal_pct, "%")
    for part in SELF_PARTS:
        m[f"self.{part}_s"] = (acc.get("self." + part, 0.0) / n, "s")
    m["trace.op_p50_s"] = (op_p50_s, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(OUT, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    in_bytes = make_plan(a.workload, a.seed, a.seconds, a.trace, run_dir)
    probes = [box_probe()]
    ticks = cpu_ticks()
    launched = run_jvm(cp, run_dir)
    ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
    steal_pct = 100 * ticks[0] / max(ticks[1], 1)
    probes.append(box_probe())

    ops = _read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    with open(os.path.join(run_dir, "summary.json")) as fh:
        summary = json.load(fh)
    for o in ops:
        o["in_bytes"] = in_bytes[o["name"]]
    timed = [o for o in ops if o["phase"] == "timed"]
    if not timed:
        fail("no timed op completed")
    failed = sum(1 for o in timed if not o["ok"])
    e2e = end_to_end(timed, summary, launched)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace}")
    print("  warm-up passes (s): " + ", ".join(f"{t:.3f}" for t in summary["warmup_round_s"]))
    rows = list(e2e.items()) + list(report_only(timed, summary, in_bytes).items())
    print(f"  box.cpu1_s before/after {probes[0][0]:.3f}/{probes[1][0]:.3f}, "
          f"box.cpu4_s before/after {probes[0][1]:.3f}/{probes[1][1]:.3f}, "
          f"box.steal_pct {steal_pct:.2f}")
    last = os.path.join(OUT, f"last_untraced_{a.workload}.json")
    metrics = e2e
    if a.trace:
        events = _read_jsonl(os.path.join(run_dir, "trace.jsonl"))
        metrics = per_layer(timed, events, summary, probes, steal_pct, e2e["op_p50_s"][0])
        rows += list(metrics.items())
    for k, (v, u) in rows:
        print(f"  {k:42s} {v:14.4f} {u}")
    if a.trace:
        parts = {p: metrics[f"self.{p}_s"][0] for p in SELF_PARTS}
        total = sum(parts.values())
        print(f"  self time per op, traced: sums to {total:.4f} s of a "
              f"{_mean(op_times(timed)):.4f} s mean op wall")
        for k, v in sorted(parts.items(), key=lambda kv: -kv[1]):
            if v:
                print(f"    {k:40s} {v:10.4f} s {100 * v / total:5.1f}%")
        _, unclaimed = stats.attribute(events)
        print(f"  listener events outside any op (output checks): {unclaimed}")
        if os.path.isfile(last):
            with open(last) as fh:
                base = json.load(fh)["op_p50_s"]
            print(f"  tracing overhead on op_p50_s against the last untraced run: "
                  f"{100 * (metrics['trace.op_p50_s'][0] / base - 1):+.1f}%")
    else:
        with open(last, "w") as fh:
            json.dump({"op_p50_s": e2e["op_p50_s"][0]}, fh)
    correct = failed == 0 and summary["failed_warmup"] == 0 and all(
        o["checks"] > 0 for o in ops)
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
