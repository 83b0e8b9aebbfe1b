#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source when they changed, writes the
workload's inputs from the seed, runs the benchmark JVM (closed loop, one
client thread, local[nproc]), checks the outputs, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones, and the span dump is kept under perfbench/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s
HEAP = "2g"
YOUNG = "256m"  # a fixed young generation fills on every workload, so peak RSS is steady

# scale of each workload's generated inputs
WAREHOUSE_SF = 0.01
QUERY_SF, QUERY_DOCS, QUERY_EMBEDS = 0.01, 500, 500
CDC_SF, CDC_BATCHES, CDC_SHARE = 0.01, 40, 0.01

WORKLOADS = ["warehouse_etl", "query_mix", "cdc_incremental"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    build = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(build):
        fail("no build.sbt at the checkout root: the engine is not here")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("the engine's build names no Spark jar directory")
    return m.group(1)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"), os.path.join(ROOT, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when any source changed. The first
    run in a checkout builds; its time limit starts after the build."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail("engine sources not found under src/main/scala/graft")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "compile"], cwd=BENCH, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        fail(f"build failed (rc {rc}), log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def make_inputs(workload, seed, inputs):
    if workload == "warehouse_etl":
        gen.write_warehouse_inputs(inputs, seed, WAREHOUSE_SF)
    elif workload == "query_mix":
        gen.write_query_inputs(inputs, seed, QUERY_SF, QUERY_DOCS, QUERY_EMBEDS)
    else:
        gen.write_cdc_inputs(inputs, seed, CDC_SF, CDC_BATCHES, CDC_SHARE)


def run_jvm(classes, jars, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the run writes nothing outside its checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main"]
           + args)
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM ran out of time")
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"benchmark JVM failed (rc {rc})")


def metric(value, unit):
    return {"value": value, "unit": unit}


TIMED_KINDS = {"query", "apply", "ddl", "write", "job", "meta"}


def end_to_end(res, setup_s):
    """What a user of the workload waits for and holds: start-up, the time
    to finish the round's fixed op set, and peak memory."""
    return {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(stats.median(stats.round_walls(res)), "s"),
        "peak_rss_mb": metric(res["vm_hwm_mb"], "MB"),
    }


SQL_FAMILIES = ["tpch", "agg", "join", "win"]
OPERATOR_FAMILIES = ["dedup", "sim"]
BUILD_STAGES = ["ivf_index"]
LAYERS = ["harness", "meta", "types", "catalog", "run", "queries", "streaming", "spark"]


def per_layer(res, ops):
    samples = res["samples"]
    counters = res["counters"]
    n_rounds = max(1, len(res["rounds"]))

    def p50(name):
        return metric(stats.median(samples.get(name, [])), "ms")

    def per_round(name, unit="count"):
        return metric(counters.get(name, 0.0) / n_rounds, unit)

    m = {}
    for name in ["meta.read", "meta.validate", "meta.write", "types.schema",
                 "catalog.register", "catalog.update", "catalog.unregister", "catalog.infer",
                 "catalog.delete_data", "catalog.refresh_partitions", "catalog.write",
                 "run.session", "run.package", "run.job", "run.infer_sinks",
                 "queries.call", "streaming.snowflake", "streaming.rollup"]:
        m[f"{name}_ms"] = p50(name)
    m["meta.tables"] = per_round("meta.tables")
    for name in ["catalog.partitions_found", "catalog.partitions_expected",
                 "catalog.files_written", "queries.shared_hits", "queries.shared_consumers"]:
        m[name] = per_round(name)
    m["catalog.bytes_written"] = per_round("catalog.bytes_written", "B")
    m["run.job_query_s"] = metric(stats.median(samples.get("run.job_query", [])) / 1000, "s")
    m["run.jobs_failed"] = metric(counters.get("run.jobs_failed", 0.0), "count")
    execs = [x for k, v in samples.items() if k.startswith("queries.exec.") for x in v]
    m["queries.exec_ms"] = metric(stats.median(execs), "ms")
    for fam in SQL_FAMILIES:
        m[f"queries.exec_ms.{fam}"] = p50(f"queries.exec.{fam}")
    for fam in OPERATOR_FAMILIES:
        m[f"operators.{fam}_ms"] = p50(f"queries.exec.{fam}")
    for st in BUILD_STAGES:
        m[f"queries.build_ms.{st}"] = p50(f"queries.build.{st}")

    trig = res["triggers"]
    m["streaming.trigger_ms"] = metric(stats.median([t["triggerMs"] for t in trig]), "ms")
    m["streaming.add_batch_ms"] = metric(stats.median([t["addBatchMs"] for t in trig]), "ms")
    m["streaming.commit_ms"] = metric(stats.median([t["commitMs"] for t in trig]), "ms")
    m["streaming.rows_per_trigger"] = metric(stats.median([t["rows"] for t in trig]), "count")
    m["streaming.state_bytes"] = metric(counters.get("streaming.state_bytes", 0.0), "B")

    per, skews = stats.per_op_spark(res)
    timed = [per[o["id"]] for o in ops]

    def mean(key, scale=1.0):
        return sum(p[key] for p in timed) / len(timed) / scale if timed else 0.0
    m["spark.jobs"] = metric(mean("jobs"), "count")
    m["spark.stages"] = metric(mean("stages"), "count")
    m["spark.tasks"] = metric(mean("tasks"), "count")
    m["spark.wait_ms"] = metric(mean("wait_ms"), "ms")
    m["spark.task_time_s"] = metric(mean("task_time_ms", 1000.0), "s")
    m["spark.shuffle_read_bytes"] = metric(mean("shuffle_read"), "B")
    m["spark.shuffle_write_bytes"] = metric(mean("shuffle_write"), "B")
    m["spark.spill_bytes"] = metric(mean("spill"), "B")
    m["spark.input_bytes"] = metric(mean("input"), "B")
    m["spark.output_bytes"] = metric(mean("output"), "B")
    m["spark.stage_skew"] = metric(stats.percentile(skews, 90) if skews else 1.0, "ratio")
    m["spark.failed_tasks"] = metric(sum(p["failed_tasks"] for p in timed), "count")
    m["jvm.gc_ms"] = metric(res["gc_ms"], "ms")
    m["jvm.heap_peak_mb"] = metric(res["heap_peak_mb"], "MB")

    # op latency; below twenty ops a run has no tail percentile with ten
    # samples beyond it, and the maximum stands in
    times = stats.durations(ops, TIMED_KINDS)
    m["op_p50_ms"] = metric(stats.percentile(times, 50), "ms")
    m["op_tail_ms"] = metric(stats.tail(times)[1], "ms")
    m["op_count"] = metric(len(times), "count")
    m["traced_wall_s"] = metric(stats.median(stats.round_walls(res)), "s")

    # workload-level figures that only some workloads have
    ddl = stats.durations(ops, {"ddl"})
    m["ddl_p50_ms"] = metric(stats.percentile(ddl, 50) if ddl else 0.0, "ms")
    m["ddl_tail_ms"] = metric(stats.tail(ddl)[1] if ddl else 0.0, "ms")
    writes = stats.durations(ops, {"write"})
    m["write_p50_ms"] = metric(stats.percentile(writes, 50) if writes else 0.0, "ms")
    jobs = stats.durations(ops, {"job"})
    m["job_p50_ms"] = metric(stats.percentile(jobs, 50) if jobs else 0.0, "ms")
    builds = stats.durations(ops, {"build"})
    m["build_s"] = metric(sum(builds) / 1000 / n_rounds, "s")
    stored = counters.get("catalog.bytes_written", 0.0) / n_rounds + counters.get("streaming.state_bytes", 0.0)
    inp = counters.get("input_bytes", 0.0)
    m["stored_bytes_ratio"] = metric(stored / inp if inp else 0.0, "ratio")
    m["error_rate"] = metric(stats.error_rate(ops), "ratio")

    # self time per layer, per round, from the span tree
    spans = res["spans"] + stats.spark_spans(res, 1 + max([s["id"] for s in res["spans"]] or [0]))
    own = {}
    for name, ms in stats.self_times(spans).items():
        own[stats.layer_of(name)] = own.get(stats.layer_of(name), 0.0) + ms
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = metric(own.get(layer, 0.0) / n_rounds, "ms")
    return m, spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    jars = spark_jars()
    classes = build()
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    make_inputs(a.workload, a.seed, inputs)
    result_path = os.path.join(work, "result.json")
    run_jvm(classes, jars, [a.workload, inputs, work, str(a.seed), str(a.seconds),
                            str(a.trace), result_path], work, deadline)
    res = json.load(open(result_path))

    ops = res["ops"]
    if a.workload == "query_mix":
        import check
        report = res["report"]
        verdicts = check.check_queries(inputs, report["query_out"], report["oracle_sql"])
        for o in ops:
            why = verdicts.get(o["name"])
            if o["kind"] == "query" and why and o["ok"]:
                o["ok"], o["error"] = False, f"output check: {why}"
        for name, why in sorted(verdicts.items()):
            if why:
                print(f"# FAIL {name}: {why}")
    failed_ops = [o for o in ops if not o["ok"]]
    for o in failed_ops[:5]:
        print(f"# failed op {o['kind']}/{o['name']}: {o['error']}")

    setup_s = (res["first_op_ms"] - res["jvm_start_ms"]) / 1000
    if a.trace:
        metrics, spans = per_layer(res, ops)
        os.makedirs(os.path.join(BENCH, "traces"), exist_ok=True)
        dump = os.path.join(BENCH, "traces", f"{a.workload}-{a.seed}.json")
        with open(dump, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "ops": ops, "spans": spans,
                       "self_ms": stats.self_times(spans)}, f)
        print(f"# spans: {len(spans)} written to {os.path.relpath(dump, ROOT)}")
    else:
        metrics = end_to_end(res, setup_s)
        times = stats.durations(ops, TIMED_KINDS)
        p, tail = stats.tail(times)
        print(f"# {a.workload}: {len(times)} timed ops in {len(res['rounds'])} round(s); "
              f"op p50 {stats.percentile(times, 50):.1f} ms, tail p{p} {tail:.1f} ms; "
              f"wall_s is the median of {len(res['rounds'])} round total(s); "
              f"cpus {res['cpus']}, heap {res['heap_mb']:.0f} MB, Spark {res['spark_version']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed_ops, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
