"""The repository benchmark.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

One run: host probes → set-up (Spark session on local[<cores>], warm-up,
input staging; timed as ``setup_s``) → timed closed loop of the
workload's operation until ``--seconds`` have passed (at least one
operation) → for ``build`` with ``--trace 1``, the ingest-and-search
phase (one batch merged into the last saved graph and committed as a
delta, then hybrid searches over the merged graph) → Spark stopped → every output checked against the DuckDB
oracle. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full run record (host probes, heap settings, per-operation walls,
workload figures and, with ``--trace 1``, the layer spans), which is
also written under ``.bench_work/records/``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions (layers.py), turns on the Spark event log and
reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

# JVM heap: a quarter of the memory the host has free, within bounds.
# The heap is never pre-touched: on a host whose free memory is shared,
# pre-backing it would take memory the run does not need.
HEAP_SHARE = 4
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 3072
# A run must end within 180 s. The ingest-and-search phase (about a
# minute) starts only while the run is younger than PHASE_START_S, and a
# search starts only while it is younger than QUERY_START_S; a skipped
# part is recorded in the run record.
PHASE_START_S, QUERY_START_S = 75.0, 150.0
PLAN_TRUNCATED = re.compile(r"Truncated the string representation of a plan.*?(\d+)")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def heap_mb(available_mb: int) -> int:
    mb = max(HEAP_MIN_MB, min(HEAP_MAX_MB, available_mb // HEAP_SHARE))
    return mb // 256 * 256


def session_conf(work: str, heap: int, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{heap}m",
        # temp files under the run's directory; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            # Spark 4.1 compresses event logs with zstd by default, and
            # the log is parsed here with the standard library only.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def warm_up(spark) -> None:
    """JIT, shuffle and Python-worker spin-up before the clock."""
    from pyspark.sql import functions as F

    from graphiti_spark.functions.embed import make_embed_udf

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().count()
    warm = spark.range(256).select(F.col("id").cast("string").alias("s"))
    warm.select(make_embed_udf()(F.col("s"))).count()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    import probes

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while len(probes.process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probes.process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while True:  # reap anything left
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def plan_truncations(log_path: str) -> dict:
    count, longest = 0, 0
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if "Truncated the string representation of a plan" in line:
                count += 1
                m = PLAN_TRUNCATED.search(line)
                if m:
                    longest = max(longest, int(m.group(1)))
    return {"count": count, "max_chars": longest}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-mismatch", action="store_true",
                    help="expect a wrong digest for the first operation "
                         "(checks that a mismatch is counted as failed)")
    args = ap.parse_args()
    t_process = time.monotonic()

    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "graphiti_spark", "__init__.py")):
        return fail(f"no graphiti_spark package beside {HERE}; run from a full checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return fail("pyspark is not importable")
    sys.path.insert(1, ROOT)

    import corpus
    import probes
    import workloads as wl
    from bench import first_touch_mb_s

    if args.workload not in wl.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")
    workload = wl.WORKLOADS[args.workload]
    with open(os.path.join(HERE, "digests.json")) as fh:
        digests_file = json.load(fh)
    key = corpus.spec(workload.n_docs)
    stored = digests_file.get(key, {})
    oracle = wl.STORED_ORACLES.get(args.workload)
    if oracle and oracle not in stored:
        return fail(f"no stored {oracle} digest for corpus {key}; "
                    f"run {digests_file.get('_command')}")
    trace = bool(args.trace)
    ingest_search = args.workload == "build" and trace

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    for sub in ("tmp", "eventlog", "spark-local", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)

    # ---- host probes and memory sizing (before set-up, not timed) ------
    cpu_before, load_before = probes.cpu_times(), probes.loadavg()
    available = probes.mem_available_mb()
    host = {
        "cores": os.cpu_count(),
        "mem_available_mb": available,
        "first_touch_mb_s": first_touch_mb_s(size_mb=128, budget_s=1.0),
        "cpu_parallel_eff": probes.cpu_parallel_eff(),
    }
    heap = heap_mb(available)
    cores = os.cpu_count() or 1
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_GRAFT_PRETOUCH": "0",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = os.environ["TMPDIR"]

    # The JVM logs to stderr: send it to a file (parsed for plan-string
    # truncation warnings) and keep this process's messages on a copy.
    jvm_log = os.path.join(work, "jvm.log")
    stderr_copy = os.dup(2)
    log_fd = os.open(jvm_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stderr = os.fdopen(stderr_copy, "w", buffering=1)

    # ---- set-up (setup_s) ----------------------------------------------
    t_setup = time.monotonic()
    from graphiti_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=session_conf(work, heap, trace))
    sc = spark.sparkContext
    tracer = None
    ops: list[dict] = []  # every timed operation: kind, wall, jobs, output

    def timed(kind: str, fn, *fn_args) -> dict:
        """Run one operation under its own job group (or root span)."""
        op = {"kind": kind, "name": f"{kind}-{len(ops)}", "error": None, "result": None}
        span = tracer.open("op") if tracer else None
        if not tracer:
            sc.setJobGroup(op["name"], op["name"])
        t0 = time.monotonic()
        try:
            op["result"] = fn(*fn_args)
        except Exception as exc:  # a failed operation is counted, not fatal
            op["error"] = f"{type(exc).__name__}: {exc}"[:500]
        op["wall"] = time.monotonic() - t0
        if tracer:
            tracer.close(span)
            tracer.release()
            op["jobs"] = None
        else:
            op["jobs"] = len(sc.statusTracker().getJobIdsForGroup(op["name"]))
        ops.append(op)
        return op

    try:
        if trace:
            import layers as tracing

            tracer = tracing.Tracer(spark)
            idx = tracer.open("session")
            warm_up(spark)
            tracer.close(idx)
            tracer.spans[idx]["start"] = t_setup  # session = get_spark + warm-up
            tracer.install()
        else:
            warm_up(spark)
        inputs = workload.stage(args.seed, work)
        main_input = next(iter(inputs.values()))
        input_bytes = os.path.getsize(os.path.join(main_input, "documents.parquet"))
        setup_s = time.monotonic() - t_setup

        # ---- timed region ---------------------------------------------
        tree = probes.process_tree()
        probes.reset_peak_rss(tree)
        cpu0 = probes.tree_cpu_s(tree)
        jvm0 = probes.jvm_thread_cpu_s(tree)
        t_start = time.monotonic()
        while True:
            out_dir = os.path.join(work, "out", f"op-{len(ops)}")
            op = timed("op", workload.run, spark, inputs, out_dir)
            op["out"] = None if op["error"] else out_dir
            spark.catalog.clearCache()
            if time.monotonic() - t_start >= args.seconds:
                break
        timed_wall = time.monotonic() - t_start
        n_main = len(ops)
        tree = probes.process_tree()
        cpu1 = probes.tree_cpu_s(tree)
        cpu_by_kind = {k: (v - cpu0.get(k, 0.0)) / n_main for k, v in cpu1.items()}
        jvm_by_role = {k: (v - jvm0.get(k, 0.0)) / n_main
                       for k, v in probes.jvm_thread_cpu_s(tree).items()}
        peak_rss_mb = probes.tree_peak_rss_mb(tree)

        # ---- build's ingest-and-search phase ----------------------------
        snap = next((o["out"] for o in reversed(ops) if o["out"]), None)
        delta = os.path.join(work, "out", "delta")
        skipped = []
        if ingest_search and time.monotonic() - t_process > PHASE_START_S:
            skipped.append(f"ingest-and-search phase: run older than {PHASE_START_S} s")
        elif ingest_search and snap:
            batch = timed("batch", wl.ingest_batch, spark, inputs, snap, delta)
            spark.catalog.clearCache()
            input_bytes_batch = os.path.getsize(
                os.path.join(inputs["batch"], "documents.parquet"))
            if not batch["error"]:
                from graphiti_spark.materialize import load_graph_versions

                state = load_graph_versions(spark, [snap, delta])
                center = None
                recipes = wl.recipes()
                for i, text in enumerate(wl.query_words(args.seed, wl.QUERIES)):
                    if time.monotonic() - t_process > QUERY_START_S:
                        skipped.append(f"queries {i}..: run older than {QUERY_START_S} s")
                        break
                    name, recipe = recipes[i % len(recipes)]
                    q = timed("query", wl.run_query, state, text, recipe,
                              center if "NODE_DISTANCE" in name else None)
                    q.update(recipe=name, text=text, limit=recipe.limit)
                    hits = (q["result"] or {}).get("nodes")
                    if hits:
                        center = hits[0][0]
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)

    # ---- correctness (outside set-up and the timed region) ------------
    checks = []
    for i, op in enumerate(ops):
        try:
            if op["error"]:
                check = {"ok": False, "got": None, "want": None}
            elif op["kind"] == "op":
                check = workload.check(inputs, op["out"], stored)
            elif op["kind"] == "batch":
                check = wl.check_merged(inputs, snap, delta)
            else:
                check = wl.check_query(op["result"], op["limit"], snap, delta)
        except Exception as exc:  # unreadable output fails the operation
            op["error"] = f"check: {type(exc).__name__}: {exc}"[:500]
            check = {"ok": False, "got": None, "want": None}
        if args.plant_mismatch and i == 0 and isinstance(check["want"], dict):
            check["want"] = {**check["want"], "sha256": "0" * 64}
            check["ok"] = check["got"] == check["want"]
        checks.append({"kind": op["kind"], **check})
    failed = sum(not c["ok"] for c in checks)

    cpu_after, load_after = probes.cpu_times(), probes.loadavg()
    host.update({
        "steal_share": probes.steal_share(cpu_before, cpu_after),
        "loadavg_1m": [load_before, load_after],
        "plan_truncations": plan_truncations(jvm_log),
    })

    walls = [o["wall"] for o in ops if o["kind"] == "op"]
    jobs = [o["jobs"] for o in ops if o["kind"] == "op" and o["jobs"] is not None]
    out_rows = next((c["got"]["rows"] for c in checks
                     if c["kind"] == "op" and c["got"]), 0)
    op_p50 = statistics.median(walls)
    n = len(walls)
    figures = {
        "docs_per_s": {"value": workload.n_docs / op_p50, "unit": "1/s", "n": n},
        "op_wall_s": {"value": op_p50, "unit": "s", "n": n},
        f"{workload.unit_rows.replace(' ', '_')}_per_s": {
            "value": out_rows / op_p50, "unit": "1/s", "n": n},
        "failed_frac": {"value": failed / len(ops), "unit": "ratio", "n": len(ops)},
    }
    batches = [o for o in ops if o["kind"] == "batch"]
    queries = [o["wall"] for o in ops if o["kind"] == "query"]
    if batches:
        figures["ingest_s"] = {"value": batches[0]["wall"], "unit": "s", "n": 1}
    if queries:
        figures["search_p50_s"] = {"value": statistics.median(queries), "unit": "s",
                                   "n": len(queries)}
    if trace:
        metrics = tracing.layer_metrics(
            tracer, os.path.join(work, "eventlog"), cores,
            input_bytes * n + (input_bytes_batch if batches else 0))
        metrics["trace.op_wall_s"] = {"value": op_p50, "unit": "s"}
        metrics["trace.coverage"] = {"value": tracer.coverage("op"), "unit": "ratio"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": sum(cpu_by_kind.values()), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "jobs": {"value": statistics.median(jobs), "unit": "count"},
        }

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "corpus": key,
        "input_docs": workload.n_docs,
        "session": {"master": f"local[{cores}]", "heap_mb": heap, "pretouch": False},
        "host": host,
        "setup_s": setup_s,
        "timed_wall_s": timed_wall,
        "op_walls_s": walls,
        "jobs_per_op": jobs,
        "ops": [{k: o.get(k) for k in ("kind", "wall", "jobs", "error", "recipe", "text")}
                for o in ops],
        "cpu_s_per_op": cpu_by_kind,
        "jvm_cpu_s_per_op": jvm_by_role,
        "figures": figures,
        "checks": checks,
        "skipped": skipped,
        "metrics": metrics,
    }
    if tracer:
        record["spans"] = tracer.span_records()
        record["layer_rows"] = tracer.rows
    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "records",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
