#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (under perfbench/target) and writes the fixed
tables (under perfbench/.work/data); later runs reuse both while the sources
are unchanged. Each run then writes its seeded inputs, starts one benchmark
JVM on local[4], checks the outputs, and prints one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans of the run are kept
in perfbench/.work/spans/.
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

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

T_START = time.monotonic()
DEADLINE_S = 170.0
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["boost_wide", "boost_rounds", "dedup_daily", "catalog"]
# modes that print the JVM's raw output: digest recording, self-test, probe
TOOLS = ["catalog_dump", "selftest_spans", "probe_predict"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# boost_wide: training + held-out points; the warm-up set is a small sibling
WIDE_POINTS = 125_000
WIDE_WARM_POINTS = 5_000


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def remaining():
    return DEADLINE_S - (time.monotonic() - T_START)


def source_files():
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark with sbt unless the sources are unchanged.
    Returns the runtime classpath."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail("no program sources under src/main/scala; run from the root of a checkout")
    st = stamp()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return open(cp_file).read().strip()
    log = os.path.join(WORK, "build.log")
    os.makedirs(WORK, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, start_new_session=True)
        CHILDREN.append(proc)
        try:
            text, _ = proc.communicate(timeout=850)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log}")
        out.write(text)
    if proc.returncode != 0:
        fail(f"build failed; see {log}")
    lines = [l.strip() for l in text.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(st)
    return lines[-1]


CHILDREN = []


def stop(proc):
    """Stop a child process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def tables_dir():
    """The fixed star-schema tables, written once per checkout."""
    d = os.path.join(WORK, "data", f"sf0.1-seed{gen.TABLE_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def write_inputs(workload, seed, data, inputs):
    """Seeded inputs of one workload, written under `inputs`."""
    os.makedirs(inputs, exist_ok=True)
    if workload == "boost_wide":
        gen.multilabel(inputs, seed, WIDE_POINTS)
        gen.multilabel(os.path.join(inputs, "warm"), seed + 1, WIDE_WARM_POINTS)
    elif workload in ("boost_rounds", "selftest_spans", "probe_predict"):
        emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
        rng = np.random.default_rng(seed)
        is_train = rng.random(emb.num_rows) < 0.8
        train = emb.filter(pa.array(is_train))
        pq.write_table(train, os.path.join(inputs, "train.parquet"))
        pq.write_table(emb.filter(pa.array(~is_train)), os.path.join(inputs, "test.parquet"))
        pq.write_table(train.slice(0, 200), os.path.join(inputs, "warm_train.parquet"))
    elif workload == "dedup_daily":
        docs = pq.read_table(os.path.join(data, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        words = [len(t.split(" ")) for t in docs["text"]]
        plan = gen.dedup_plan(docs["doc_id"], words, seed)
        text = dict(zip(docs["doc_id"], docs["text"]))

        def frame(ids, extra=()):
            rows = [(i, text[i]) for i in ids] + list(extra)
            return pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "text": pa.array([r[1] for r in rows], pa.string())})

        pq.write_table(frame(plan["base"]), os.path.join(inputs, "base.parquet"))
        for b, ids in enumerate(plan["batches"]):
            copies = [(c["doc_id"], text[c["source"]] + " " + c["extra"])
                      for c in plan["copies"] if c["batch"] == b]
            os.makedirs(os.path.join(inputs, f"batch={b}"))
            pq.write_table(frame(ids, copies),
                           os.path.join(inputs, f"batch={b}", "part-0.parquet"))
        pq.write_table(pa.table({
            "batch": pa.array([c["batch"] for c in plan["copies"]], pa.int64()),
            "doc_id": pa.array([c["doc_id"] for c in plan["copies"]], pa.int64()),
            "source": pa.array([c["source"] for c in plan["copies"]], pa.int64())}),
            os.path.join(inputs, "copies.parquet"))


def java_cmd(classpath, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: the collector does not resize it from run to run
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def on_signal(signum, _frame):
    """A stopped benchmark stops the processes it started."""
    for proc in CHILDREN:
        stop(proc)
    sys.exit(128 + signum)


def run_jvm(classpath, args, log):
    with open(log, "w") as out:
        proc = subprocess.Popen(java_cmd(classpath, args), cwd=ROOT, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        CHILDREN.append(proc)
        try:
            proc.wait(timeout=max(5.0, remaining()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"benchmark JVM ran out of time; see {log}")
    if proc.returncode != 0 or not os.path.exists(args["out"]):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM failed (exit {proc.returncode}):\n{tail}")
    with open(args["out"]) as f:
        return json.load(f)


def check_fingerprint(workload, seed, raw, failures):
    """Same seed and same sources must give the same stumps as last time."""
    d = os.path.join(WORK, "fingerprints", stamp()[:16])
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{workload}-{seed}.txt")
    if os.path.exists(p):
        if open(p).read() != raw["stumps_sha"]:
            failures.append(f"{workload}: stumps differ from an earlier run with seed {seed}")
    else:
        with open(p, "w") as f:
            f.write(raw["stumps_sha"])


def check_catalog(raw, failures):
    with open(os.path.join(HERE, "catalog_digests.json")) as f:
        recorded = json.load(f)
    for k, d in raw["digests"].items():
        if recorded.get(k) != d:
            failures.append(f"catalog: {k} digest {d} != recorded {recorded.get(k)}")
    return len(raw["digests"])


def metrics(raw, trace, names):
    """The printed metrics: end-to-end (trace 0) or per-layer (trace 1)."""
    if trace:
        layers = dict(raw.get("layers", {}), **{"traced.run_s": raw["run_s"]})
        return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in names}
    ops = [o["s"] for o in raw["ops"]]
    _, tail = stats.tail(ops)
    value = {
        "setup_s": raw["session_s"] + statistics.median(raw["setup_reps_s"]),
        "run_s": raw["run_s"],
        "items_per_s": raw["items"] / raw["timed_s"],
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    return {m["name"]: {"value": value[m["name"]], "unit": m["unit"]} for m in names}


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS + TOOLS:
        fail(f"unknown workload {a.workload}")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(bench_json) as f:
        spec = json.load(f)
    classpath = build()
    data = tables_dir()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        write_inputs(a.workload, a.seed, data, inputs)
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": 1 if a.trace or a.workload == "selftest_spans" else 0,
                "data": data, "inputs": inputs, "work": work,
                "out": os.path.join(work, "result.json")}
        if args["trace"]:
            args["spans"] = os.path.join(spans_dir, f"{a.workload}-{a.seed}.json")
        raw = run_jvm(classpath, args, os.path.join(WORK, f"jvm-{a.workload}.log"))
        if a.workload == "catalog_dump":
            shutil.rmtree(os.path.join(WORK, "catalog_dump"), ignore_errors=True)
            shutil.copytree(os.path.join(work, "dump"), os.path.join(WORK, "catalog_dump"))
        if a.workload in TOOLS:
            print(json.dumps(raw))
            return
        failures = list(raw["failures"])
        attempted = raw["checks"] + len(raw["ops"])
        if a.workload.startswith("boost_"):
            check_fingerprint(a.workload, a.seed, raw, failures)
            attempted += 1
        if a.workload == "catalog":
            attempted += check_catalog(raw, failures)
        for msg in failures:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
                  "metrics": metrics(raw, a.trace, names)}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
