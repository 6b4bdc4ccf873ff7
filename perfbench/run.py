#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the measuring
program (perfbench/build.sbt, which compiles graft's own sources with it)
into the checkout; later runs reuse the build while the sources are
unchanged. A run generates the workload's inputs from the seed, computes
the oracle's answers with DuckDB, sets up and measures in one JVM, and
prints one JSON line of details and then the result line. It exits 1 when
an output check failed and 2 when it could not run at all.
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

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("pit_training_set", "materialize_serve")
RUN_LIMIT_S = 170   # a run must end within 180 s
BUILD_LIMIT_S = 840

END_TO_END = {"setup_s": "s", "request_p50_ms": "ms", "request_tail_ms": "ms",
              "rows_per_s": "rows/s"}
SELF_LAYERS = ("request", "Engine", "RetrievalJob", "GraftSql", "spark",
               "Materializer", "OnlineStore", "Similarity")
PER_LAYER = {
    "Engine.plan_ms": "ms", "Engine.plan_jobs": "count",
    "RetrievalJob.collect_ms": "ms",
    "GraftSql.arrow_bytes": "bytes", "GraftSql.persist_ms": "ms",
    "plan.exchange_nodes": "count", "plan.window_nodes": "count",
    "plan.sort_nodes": "count", "plan.smj_nodes": "count",
    "plan.bhj_nodes": "count", "plan.asof_exec_nodes": "count",
    "pit.candidate_rows_per_entity_row": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_time_ms": "ms", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.sort_ms": "ms", "exec.max_task_over_median": "ratio",
    "exec.codegen_ms": "ms",
    "scan.rows_read": "count", "scan.files_read": "count",
    "scan.rows_read_per_result_row": "ratio",
    "OnlineStore.write_jobs": "count", "OnlineStore.state_rows": "count",
    "OnlineStore.cached_keys": "count", "OnlineStore.read_spark_jobs": "count",
    "OnlineStore.read_hit_ratio": "ratio", "OnlineStore.read_p50_us": "us",
    "Similarity.train_ms": "ms", "Similarity.train_jobs": "count",
    "Similarity.assign_ms": "ms", "Similarity.search_ms": "ms",
    "Similarity.candidates_per_query": "count", "Similarity.useful_ratio": "ratio",
    "Similarity.index_build_s": "s", "Similarity.recall_at_10": "ratio",
    **{f"self_ms.{layer}": "ms" for layer in SELF_LAYERS},
    "trace.untraced_p50_ms": "ms", "trace.traced_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}
# Counters copied from the spans of a request as they are.
PLAIN_COUNTERS = (
    "GraftSql.arrow_bytes", "GraftSql.persist_ms", "plan.exchange_nodes",
    "plan.window_nodes", "plan.sort_nodes", "plan.smj_nodes", "plan.bhj_nodes",
    "plan.asof_exec_nodes", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_time_ms", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.sort_ms", "exec.max_task_over_median",
    "exec.codegen_ms", "scan.rows_read", "scan.files_read",
    "OnlineStore.state_rows", "OnlineStore.cached_keys")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap_gb():
    """The JVM heap in GiB: half the machine's memory clamped to [2, 8] (the
    rule the repository's test runs size the Spark driver heap by), and at
    most 4, which these inputs need with room to spare. It is fixed
    (-Xms = -Xmx) so heap resizing does not vary between runs."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return min(4, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def source_files(root):
    """Every file the build reads from the checkout."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    return sorted(out)


def source_digest(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, limit, stdout, stderr):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Always waits until the process has ended. Returns the exit code, or
    None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, out):
    """Compile the measuring program with graft's sources; return its
    classpath. Rebuilds only when a source file changed."""
    digest = source_digest(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            os.path.join(root, "perfbench"), os.environ.copy(), BUILD_LIMIT_S,
            log, subprocess.STDOUT)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [ln.strip() for ln in lines if "scala-2.13" in ln and ".jar" in ln
           and not ln.startswith("[")]
    if code != 0 or not cps:
        die(f"build failed (exit {code}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cps[-1], digest


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def layer_metrics(rec, extras):
    """Per-layer metrics of the traced half of a run: per-request values
    from the spans and their counters, reported as medians over requests."""
    spans = rec["spans"]
    reqs = stats.by_request(spans)
    per = []
    for r in rec["traced_requests"]:
        sp = reqs.get(r["i"], [])
        c = stats.counters(sp)
        m = {k: c.get(k, 0.0) for k in PLAIN_COUNTERS}
        m["Engine.plan_ms"] = stats.duration_ms(sp, "Engine.getHistoricalFeatures")
        m["Engine.plan_jobs"] = stats.counters(sp, layer="Engine").get("exec.jobs", 0.0)
        m["RetrievalJob.collect_ms"] = stats.duration_ms(sp, "RetrievalJob.collectAsArrow")
        m["pit.candidate_rows_per_entity_row"] = stats.ratio(
            c.get("pit.pick_input_rows", 0.0), c.get("pit.entity_rows", 0.0))
        m["scan.rows_read_per_result_row"] = stats.ratio(c.get("scan.rows_read", 0.0), r["rows"])
        m["OnlineStore.write_jobs"] = stats.counters(sp, layer="Materializer").get("exec.jobs", 0.0)
        osc = stats.counters(sp, layer="OnlineStore")
        m["OnlineStore.read_spark_jobs"] = osc.get("exec.jobs", 0.0)
        m["OnlineStore.read_hit_ratio"] = stats.ratio(
            osc.get("OnlineStore.read_hits", 0.0), osc.get("OnlineStore.reads", 0.0))
        m["Similarity.search_ms"] = stats.duration_ms(sp, "Similarity.ivfKnnTrained")
        cands = c.get("plan.max_join_rows", 0.0)
        queries = c.get("Similarity.queries", 0.0)
        m["Similarity.candidates_per_query"] = stats.ratio(cands, queries)
        m["Similarity.useful_ratio"] = stats.ratio(c.get("Similarity.k", 0.0) * queries, cands)
        selfs = stats.self_times(sp)
        for layer in SELF_LAYERS:
            m[f"self_ms.{layer}"] = selfs.get(layer, 0.0)
        per.append(m)
    out = {k: stats.median([m[k] for m in per]) for k in per[0]} if per else {}

    # the index build happens in set-up: medians over the set-ups
    setups = [sp for i, sp in reqs.items() if i < 0]
    for key, name in (("train", "Similarity.trainIvfKMeans"), ("assign", "Similarity.assignCells")):
        out[f"Similarity.{key}_ms"] = stats.median(
            [stats.duration_ms(sp, name) for sp in setups])
    out["Similarity.train_jobs"] = stats.median(
        [stats.counters(sp, name="Similarity.trainIvfKMeans").get("exec.jobs", 0.0)
         for sp in setups])
    out["OnlineStore.read_p50_us"] = stats.median(extras.get("read_us", []))
    out["Similarity.index_build_s"] = stats.median(extras.get("index_build_s", []))
    out["Similarity.recall_at_10"] = extras.get("recall_at_10", 0.0)
    untraced = stats.median([r["ms"] for r in rec["requests"]])
    traced = stats.median([r["ms"] for r in rec["traced_requests"]])
    out.update({"trace.untraced_p50_ms": untraced, "trace.traced_p50_ms": traced,
                "trace.overhead_ms": traced - untraced})
    return {k: stats.metric(out.get(k, 0.0), u) for k, u in PER_LAYER.items()}


def end_to_end_metrics(rec, gen_s):
    lat = [r["ms"] for r in rec["requests"]]
    tail_ms, _, _ = stats.tail(lat)
    return {
        "setup_s": stats.metric(gen_s + stats.median(rec["setup_s"]), "s"),
        "request_p50_ms": stats.metric(stats.median(lat), "ms"),
        "request_tail_ms": stats.metric(tail_ms, "ms"),
        "rows_per_s": stats.metric(stats.rows_per_s(rec["requests"]), "rows/s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # on SIGTERM unwind normally, so the JVM's process group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "Engine.scala")):
        die("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if not shutil.which("java") or not shutil.which("sbt"):
        die("java and sbt must be on PATH")
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    cp, digest = build(root, out)
    started = time.monotonic()  # the run's own time limit starts after the build

    work = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, orc, tmp = (os.path.join(work, d) for d in ("data", "oracle", "tmp"))
    for d in (data, orc, tmp):
        os.makedirs(d)
    heap = heap_gb()
    try:
        t0 = time.monotonic()
        inputs = gen.generate(a.workload, a.seed, data, heap << 30)
        gen_s = time.monotonic() - t0
        answers = oracle.compute(a.workload, data, orc)

        record = os.path.join(work, "record.json")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", f"-Xmx{heap}g", f"-Xms{heap}g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graftbench.Main",
                  "--workload", a.workload, "--data", data, "--oracle", orc,
                  "--work", work, "--out", record, "--seconds", str(a.seconds),
                  "--trace", str(a.trace)])
        limit = RUN_LIMIT_S - (time.monotonic() - started)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            code = run_group(cmd, root, env, limit, log, subprocess.STDOUT)
        if code != 0 or not os.path.exists(record):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            die("measuring program " + ("timed out" if code is None else f"exited {code}"))
        with open(record) as f:
            rec = json.load(f)
        snapshot = rec["extras"].pop("snapshot", None)
        if snapshot and rec["run_error"] is None:
            rec["run_error"] = oracle.check_state(data, snapshot, rec["extras"]["final_window"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    all_reqs = sorted(rec["requests"] + rec["traced_requests"], key=lambda r: r["i"])
    attempted, failed, failed_ratio = stats.failures(all_reqs, rec["run_error"])
    correct = failed == 0
    extras = rec["extras"]
    metrics = layer_metrics(rec, extras) if a.trace else end_to_end_metrics(rec, gen_s)
    lat = [r["ms"] for r in rec["requests"]]
    tail_ms, tail_pct, n = stats.tail(lat)
    details = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "failed_ratio": failed_ratio, "run_error": rec["run_error"],
        "errors": sorted({r["error"] for r in all_reqs if r.get("error")})[:5],
        "request_tail": {"percentile": tail_pct, "samples": n, "ms": tail_ms},
        "setup": {"generate_s": gen_s, "jvm_setups_s": rec["setup_s"],
                  "warm_ms": rec["warm_ms"]},
        "latencies_ms": [r["ms"] for r in all_reqs],
        "control_s": rec["control_s"],
        "extras": {k: v for k, v in extras.items() if k != "read_us"},
        "read_p50_us": stats.median(extras.get("read_us", [])),
        "inputs": inputs, "oracle": answers,
        "env": {"nproc": rec["env"]["cpus"], "heap_gb": heap, "git_sha": git_sha(root),
                "source_sha256": digest, **rec["env"]},
    }
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump({"details": details, "metrics": metrics, "spans": rec["spans"]}, f)
    print(json.dumps({"details": details}))
    print(json.dumps(stats.result_line(correct, attempted, failed, metrics)))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
