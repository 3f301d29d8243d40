#!/usr/bin/env python3
"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the benchmark harness (``perfbench/build.sbt``);
later runs reuse the build while the sources are unchanged.

A run generates its inputs from the seed, starts one JVM that runs the
engine in-process at ``local[nproc]`` as a closed loop (one calling
thread, one operation at a time), checks every output and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer metrics, taken from a separate, traced run.

Workloads (why each was chosen is in ``BENCHMARK.json``):

* ``wordcount_mr`` -- the reference's one MapReduce job through the
  facade: Zipf text -> ``MapReduceJob.wordCount`` (FirstCharPartitioner) ->
  ``MapReduceJob.writeReferenceLayout``; checked against the generator's
  exact counts in the reference output layout.
* ``registry_batch`` -- a fixed slice of ``SparkEntry.queries`` (see
  ``WORKLOADS``), each query built by its registry function and finished
  with ``collect()``; checked (``check.py``) against DuckDB answers from
  ``SparkEntry.oracleSql``, or against its own warm-up result where a
  query has no oracle entry.

Timing: the JVM runs one untimed warm-up pass (part of ``setup_s``), then
timed passes, each in a fresh session, until ``--seconds`` have passed and
at least three (word count) or five (registry) passes ran. ``wall_s`` sums
each operation's median latency over the timed passes (an operation is a
registry query, or the whole word-count job); ``throughput_mb_s`` is the
generated input's size over ``wall_s``; ``peak_rss_mb`` is the JVM's peak
resident memory (see ``JVM_OPTS``); ``setup_s`` runs from the JVM's launch
to the end of the warm-up pass.

Every run appends its full record (all passes, host context, checks) to
``perfbench/.results/runs.jsonl``; ``perfbench/diff.py`` compares two such
files. Traced runs also write their spans to ``perfbench/.results/``.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# At this size a registry query's cost is fixed per query (planning, job
# count, eager pins, work outside Spark jobs), so the oracle tier's sf0.01 measures
# the same layers as sf0.1 in a fraction of the generation and DuckDB time.
SCALE = 0.01
TEXT_BYTES = 24 << 20
REDUCERS = 8
# The engine build's maximum heap (build.sbt, SPARK_DRIVER_MEM), with the
# serial collector: it grows the heap from what is live after a
# collection, not from pause-time goals, so peak RSS follows what the
# engine keeps (pins, caches, state) and repeats from run to run; under
# G1 it swung 1.2-2.2 GB between runs of the same code. The 1 GB start
# spares the warm-up the full collections of growing from a small heap.
JVM_OPTS = ["-Xms1g", "-Xmx8g", "-XX:+UseSerialGC"]
RUN_LIMIT_S = 170

# A pass over the whole registry takes minutes and a run may take three,
# so the registry workload runs a fixed slice, one query per layer:
# relational core (Catalyst exchanges and broadcasts), MinHash-LSH dedup
# (pins), quantized search over a MaterializedCache table, a
# copy-on-write upsert (CopyOnWrite, file sinks) and a stateful stream
# replay (StreamingOps).
WORKLOADS = {
    "wordcount_mr": {"kind": "facade"},
    "registry_batch": {"kind": "registry", "queries": [
        "q3_join_agg", "dedup_minhash_lsh", "sim_quantized_probe",
        "cow_upsert", "stream_sessions_fmgws"]},
}

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

STATE = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """The run classpath, building first when the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RunError(f"engine sources not found under {ROOT}/src/main/scala")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp_file = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if os.path.exists(cp_file) and os.path.exists(stamp):
            with open(stamp) as f:
                if f.read() == digest:
                    with open(cp_file) as c:
                        return c.read()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building engine + benchmark harness")
        t = time.time()
        build_log = os.path.join(STATE, "build.log")
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], build_log, 850, cwd=HERE, env=env)
        with open(build_log) as f:
            out = f.read()
        if rc != 0:
            sys.stderr.write(out[-6000:])
            raise RunError(f"build failed (rc {rc})")
        cp = [ln for ln in out.splitlines()
              if os.path.join(HERE, "target") in ln and ":" in ln][-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"built in {time.time() - t:.0f} s")
        return cp


def run_group(cmd, log_path, timeout, **kw):
    """Runs ``cmd`` in its own process group with its output in
    ``log_path``; the whole group is killed and reaped on timeout, and
    anything it left running is killed when it exits."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            raise RunError(f"{cmd[0]} ran past its time limit")
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def run_jvm(cp, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *ADD_OPENS, *JVM_OPTS, "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", "--work", work, *args]
    jvm_log = os.path.join(work, "jvm.log")
    launched = time.time()
    rc = run_group(cmd, jvm_log, deadline - launched, cwd=work)
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RunError(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return launched, json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def prepare_facade(work, seed):
    data = os.path.join(work, "data")
    os.makedirs(data)
    text = os.path.join(data, "text.txt")
    words, lens, counts = gen.zipf_text(text, seed, TEXT_BYTES)
    expected = gen.reference_layout(words, lens, counts, REDUCERS)
    info = {"input_bytes": os.path.getsize(text), "tokens": int(counts.sum()),
            "distinct": len(counts)}
    args = ["--kind", "facade", "--text", text, "--reducers", str(REDUCERS)]
    return args, info, expected


def prepare_registry(work, seed, queries):
    data = os.path.join(work, "data")
    os.makedirs(data)
    names = gen.write_tables(data, SCALE, seed)
    order = sorted(queries)
    random.Random(seed).shuffle(order)
    info = {"input_bytes": sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
                               for t in names), "order": order}
    return ["--kind", "registry", "--data", data, "--queries", ",".join(order)], info, None


def check_facade(work, passes, expected):
    failures = []
    for p in passes:
        problems = gen.check_reference_layout(
            os.path.join(work, "out", f"pass{p['pass']}"), "wc", expected)
        failures += [f"pass {p['pass']}: {x}" for x in problems[:3]]
        p["failed"] = 1 if problems else 0
    return failures


def check_registry(work, passes, data_dir):
    import check  # reads the repository's scripts/check_oracle.py
    with open(os.path.join(work, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = check.oracle_answers(data_dir, json.load(f))
    results = os.path.join(work, "results")
    failures = []
    for p in passes:
        p["failed"] = 0
        for op in p["ops"]:
            name = op["name"]
            got = check.load_result(os.path.join(results, f"pass{p['pass']}"), name,
                                    need_atomic=name in oracle)
            if name in oracle:
                problem = check.compare(got, oracle[name])
            else:
                problem = check.compare(got, check.load_result(
                    os.path.join(results, "pass0"), name, need_atomic=False))
            if problem:
                p["failed"] += 1
                failures.append(f"pass {p['pass']} {name}: {problem}")
    return failures


def run(workload, seed, seconds, trace):
    spec = WORKLOADS[workload]
    deadline = time.time() + RUN_LIMIT_S
    cp = ensure_built()
    deadline = max(deadline, time.time() + 120)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if spec["kind"] == "facade":
            args, info, expected = prepare_facade(work, seed)
        else:
            args, info, expected = prepare_registry(work, seed, spec["queries"])
        cores = os.cpu_count() or 1
        args += ["--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
        launched, res = run_jvm(cp, work, args, deadline)
        passes = res["passes"]
        if spec["kind"] == "facade":
            failures = check_facade(work, passes, expected)
        else:
            failures = check_registry(work, passes, os.path.join(work, "data"))
        if trace:
            os.makedirs(RESULTS, exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.jsonl"),
                            os.path.join(RESULTS, f"trace-{workload}-seed{seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = [op for p in passes for op in p["ops"]]
    attempted = len(ops)
    failed = sum(p["failed"] for p in passes)
    # Each operation's median over the timed passes: a burst of load from
    # elsewhere on the host lands in one pass and is dropped. A pass's
    # wall time is the sum of its operations' latencies.
    per_op = {}
    for op in ops:
        per_op.setdefault(op["name"], []).append(op["latency_s"])
    op_medians = [median(xs) for xs in per_op.values()]
    wall = sum(op_medians)
    e2e = {
        "setup_s": res["main_entry_ms"] / 1000.0 - launched + res["setup_in_jvm_s"],
        "wall_s": wall,
        "throughput_mb_s": info["input_bytes"] / (1 << 20) / wall,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = {}
    if trace:
        keys = sorted({k for p in passes for k in p["layers"]})
        layers = {k: median([p["layers"].get(k, 0.0) for p in passes]) for k in keys}
        layers["operators.cache_builds"] = float(res["cache_builds"])
        if spec["kind"] == "facade":
            layers["facade.input_read_ratio"] = layers["facade.input_bytes"] / info["input_bytes"]
            layers["facade.combine_ratio"] = layers["facade.shuffle_records"] / info["tokens"]
        else:
            # The registry workload never calls the facade.
            layers.update({m["name"]: 0.0 for m in bench["per_layer"]
                           if m["name"].startswith("facade.")})
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    values = layers if trace else e2e
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RunError(f"declared metrics not produced: {', '.join(missing)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in declared}
    record = {"workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
              "metrics": {k: v["value"] for k, v in metrics.items()},
              "attempted": attempted, "failed": failed, "failures": failures[:20],
              "context": res["context"], "cache_builds": res["cache_builds"],
              "input": {k: v for k, v in info.items() if k != "order"},
              "order": info.get("order"), "passes": passes}
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for x in failures[:20]:
        log(f"FAILED {x}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        out = run(a.workload, a.seed, a.seconds, a.trace)
    except (RunError, OSError, subprocess.SubprocessError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
