#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <convert|catalog|ingest_serve>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed, runs one fresh JVM that sets
up, drives the workload for the window and checks every output, then prints
one JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything it writes lives under .bench_build/ in the checkout.
See perfbench/NOTES.md for the workloads, metrics and layer map.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402

WORKLOADS = ("convert", "catalog", "ingest_serve")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")

def spark_home():
    """The Spark installation: SPARK_HOME, else the one whose spark-submit is
    on the PATH."""
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        submit and os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    if not home:
        print("perfbench: no Spark installation (set SPARK_HOME)", file=sys.stderr)
        sys.exit(2)
    return home


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
CATALOG_CFG = os.path.join(BENCH, "data", "catalog.json")
CATALOG_TABLES = os.path.join(BENCH, "data", "sf0.001")
JVM_TIMEOUT_S = 150

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
    ("op2_p50_s", "s")]

FAMILIES = ["relational", "functions", "subquery", "skew", "formats", "dedup",
            "corpus", "hygiene", "training", "similarity", "selection",
            "textops", "multimodal", "etl"]

PER_LAYER = (
    [("engine.jobs", "count"), ("engine.stages", "count"),
     ("engine.tasks", "count"), ("engine.planning_s", "s"),
     ("engine.driver_gap_s", "s"), ("engine.job_busy_s", "s"),
     ("engine.codegen_compile_s", "s"), ("engine.task_cpu_s", "s"),
     ("engine.gc_s", "s"), ("engine.scan_bytes", "bytes"),
     ("engine.shuffle_bytes", "bytes"), ("engine.output_bytes", "bytes"),
     ("engine.result_bytes", "bytes"),
     ("etl.readers.s", "s"), ("etl.readers.jobs", "count"),
     ("etl.converter.s", "s"), ("etl.converter.jobs", "count"),
     ("etl.sinks.s", "s"), ("etl.sinks.jobs", "count"),
     ("etl.scan_amplification", "ratio"),
     ("sources.xlsx.s", "s"), ("sources.xlsx.task_cpu_s", "s")]
    + [(f"catalog.{f}.{m}", u) for f in FAMILIES
       for m, u in (("s", "s"), ("jobs", "count"))]
    + [("warm.selection.s", "s"), ("store.fold.jobs", "count"), ("store.fold.bytes_written", "bytes"),
       ("store.fold.files_written", "count"), ("store.compactions", "count"),
       ("store.compact_fold_s", "s"), ("store.plain_fold_s", "s"),
       ("store.lookup.jobs", "count"),
       ("store.lookup.scan_bytes", "bytes"), ("store.live_files", "count"),
       ("failed_frac", "ratio"), ("convert.rows_per_s", "1/s"),
       ("convert.json_bytes_per_input_byte", "ratio"),
       ("store.bytes_per_doc", "bytes"),
       ("op.samples", "count"), ("op.tail_pct", "pct"),
       ("op2.samples", "count"), ("setup.samples", "count"),
       ("trace.op_p50_s", "s"), ("trace.drain_s", "s")])

# Which timed operations each workload's op/op2/cold metrics read, and how
# samples sharing a key are folded into one value first: a catalog query's
# passes into its median (so the p50/p90 are over queries, not over a mix of
# one query's slow pass and another's fast one), a compaction cycle's two
# folds into their mean (the fold cost amortized over the cycle).
KINDS = {
    "convert": {"op": ("csv", None), "op2": ("xlsx", None), "cold": "cold_csv"},
    "catalog": {"op": ("query", statistics.median), "op2": ("pass", None),
                "cold": "cold_pass"},
    "ingest_serve": {"op": ("lookup", None), "op2": ("fold", statistics.fmean),
                     "cold": "cold_fold"},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles, so a rebuild happens exactly
    when a source changed."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = os.path.join(STATE, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.isdir(CLASSES):
        with open(stamp) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        # products = classes plus resources (the program's DataSourceRegister
        # service file, without which the xlsx source is not found)
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       BENCH, env, out, 840)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def run_child(cmd, cwd, env, out, timeout):
    """Runs a child in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def inputs_for(workload, seed):
    if workload == "catalog":
        return CATALOG_TABLES, {}
    import gen
    d = os.path.join(STATE, "inputs", workload, f"seed{seed}")
    return d, gen.generate(workload, seed, d)


def run_jvm(workload, inputs, seconds, trace, work):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "graft.perfbench.Harness",
            workload, inputs, work, str(seconds), str(trace), result]
    if workload == "catalog":
        cmd.append(CATALOG_CFG)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, dict(os.environ), out, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def ops_of(res, kind):
    return [o for o in res["ops"] if o["kind"] == kind]


def samples(res, kind, per_key):
    """The seconds of every `kind` op, or with `per_key` one value per key."""
    ops = ops_of(res, kind)
    if per_key is None:
        return [o["s"] for o in ops]
    by_key = {}
    for o in ops:
        by_key.setdefault(o["key"], []).append(o["s"])
    return [per_key(v) for v in by_key.values()]


def summarize(workload, res, manifest, trace):
    """Turns the harness's raw samples into (correct, attempted, failed,
    metrics)."""
    k = KINDS[workload]
    timed = [o for o in res["ops"] if o["kind"] not in ("pass", "cold_pass")]
    final_checks = res["facts"].get("final_checks", 0)
    attempted = len(timed) + final_checks
    failed = sum(not o["ok"] for o in timed)
    # failures not tied to a timed op (the final store-equivalence lookups)
    failed += sum(f.startswith("final lookup") for f in res["failures"])
    if not timed:
        fail("no operation ran")
    # warm-up ops carry a "cold_" kind and stay out of op and op2
    op = samples(res, *k["op"])
    op2 = samples(res, *k["op2"])
    if not op or not op2:
        fail("too few operations in the window for the metrics")
    cold = ops_of(res, k["cold"])[0]["s"]
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_s": cold,
        "op_p50_s": statistics.median(op),
        "op_p90_s": stats.percentile(op, 90),
        "op2_p50_s": statistics.median(op2),
    }
    if not trace:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        return failed == 0, attempted, failed, metrics

    facts = res["facts"]
    layer = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    jvm_layers = dict(facts["layers"])
    scan_csv = jvm_layers.pop("etl.scan_bytes_csv", 0.0)
    layer.update(jvm_layers)
    layer["warm.selection.s"] = facts.get("warm.selection.s", 0.0)
    if workload == "convert":
        layer["etl.scan_amplification"] = scan_csv / manifest["csv"]["bytes"]
        layer["convert.rows_per_s"] = facts["rows"] / res["window_s"]
        layer["convert.json_bytes_per_input_byte"] = \
            facts["json_bytes"] / facts["input_bytes"]
    if workload == "ingest_serve":
        mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
        layer["store.fold.bytes_written"] = mean(facts["fold_bytes"])
        layer["store.fold.files_written"] = mean(facts["fold_files"])
        layer["store.compactions"] = facts["compactions"]
        layer["store.compact_fold_s"] = mean(facts["compact_fold_s"])
        layer["store.plain_fold_s"] = mean(facts["plain_fold_s"])
        layer["store.live_files"] = mean(facts["live_files"])
        layer["store.bytes_per_doc"] = facts["store_bytes"] / facts["docs"]
    layer["failed_frac"] = stats.failed_frac(attempted, failed)
    layer["op.samples"] = len(op)
    layer["op.tail_pct"] = stats.tail_percentile(len(op)) or 0
    layer["op2.samples"] = len(op2)
    layer["setup.samples"] = len(res["setup_s"])
    layer["trace.op_p50_s"] = e2e["op_p50_s"]
    layer["trace.drain_s"] = facts.get("drain_s", 0.0)
    metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    return failed == 0, attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still kills and reaps its child (run_child's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}: run from a full checkout")
    build()
    inputs, manifest = inputs_for(a.workload, a.seed)
    work = os.path.join(STATE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(a.workload, inputs, a.seconds, a.trace, work)
        if a.trace:
            # the span ledger of the traced run stays for inspection
            ledger = os.path.join(work, "ledger.jsonl")
            if os.path.exists(ledger):
                shutil.copy(ledger, os.path.join(STATE, f"ledger-{a.workload}.jsonl"))
        for f in res["failures"][:20]:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        correct, attempted, failed, metrics = summarize(
            a.workload, res, manifest, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
