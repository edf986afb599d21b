"""Lake benchmark: ``lake`` and ``analytics`` workloads.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 20 --trace 0

Each run starts its own Spark session at ``local[<cpus>]``, builds its
inputs from ``--seed``, measures for about ``--seconds`` seconds in whole
rounds, checks every answer, and prints one JSON object as its last line:
end-to-end metrics with ``--trace 0``, per-layer metrics (from a traced
run) with ``--trace 1``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAKE_OPS = {
    "publish_fhir_r4": "lake.publish", "publish_binary": "lake.publish",
    "retrieve_binary": "lake.retrieve", "binary_exists": "lake.retrieve",
    "retrieve_binary_batch": "lake.retrieve", "retrieve_binary_by_urls": "lake.retrieve",
    "retrieve_fhir": "lake.retrieve",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("lake", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    return ap.parse_args(argv)


def _private_env(work: str) -> None:
    """Spark scratch, temp files and Python workers stay in ``work``."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{sub}")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM (the launcher's too): temp files here, no hsperfdata in
    # /tmp, and a fixed set of JIT compiler threads, so that none exits
    # and takes its CPU out of reach of the JIT exclusion (host.py)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
                                       " -XX:-UseDynamicNumberOfCompilerThreads")
    tempfile.tempdir = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _build_session(work: str, cpus: int):
    from interop_datalake_spark.session import DatalakeSession

    conf = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # the default 1 GiB heap, committed from the start: with a small
        # initial heap, when G1 grows it varied from run to run and moved
        # peak RSS by up to 17% between runs of the same code
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g",
    }
    session = DatalakeSession.build(
        lake_root=f"{work}/lake", master=f"local[{cpus}]",
        app_name="perfbench", conf=conf)
    session.spark.sparkContext.setLogLevel("ERROR")
    return session.spark


def _stop_spark(spark, jvm_pid: int) -> None:
    """Stop Spark, its JVM and Python workers, and wait for them."""
    import host
    from pyspark import SparkContext

    pids = host.process_tree(jvm_pid)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    live = list(pids)
    while live and time.time() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def measure(args, work: str) -> tuple[dict, dict, dict]:
    import core
    import host

    cpus = len(os.sched_getaffinity(0))
    setup_steal = host.StealMeter()
    setup_steal.start()
    t_setup = time.perf_counter()
    spark = _build_session(work, cpus)
    start_s = time.perf_counter() - t_setup
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    run = core.Run(spark, args.seed, args.seconds, tracer=tracer)
    run.setup_parts["session"] = start_s
    try:
        if args.workload == "analytics":
            import analytics

            gen = analytics.analytics(run, work, args.tiny)
        else:
            import lakeload

            gen = lakeload.lake(run, work, lakeload.TINY if args.tiny else lakeload.FULL)
        next(gen)  # set-up
        setup_raw = time.perf_counter() - t_setup
        setup_steal.stop()
        if tracer is not None:
            tracer.install(spark)
        jobs0, stages0 = run.jobs_started(), run.stages_started()
        next(gen)  # measured stage
        jobs1, stages1 = run.jobs_started(), run.stages_started()
        if tracer is not None:
            time.sleep(0.5)  # let listener events still in flight arrive
            tracer.uninstall(spark)
        try:
            next(gen)
            info = {}
        except StopIteration as stop:
            info = stop.value or {}
        if run.attempted == 0:
            raise RuntimeError("no operation was attempted")
        steal_f, probe_f = run.steal_factor(), run.probe.factor()
        wall_f = steal_f ** 2
        setup_f = (1.0 / (1.0 - setup_steal.share())) ** 2
        ops = run.attempted - run.failed
        raw = {
            "ops_per_s": ops / run.phase_s,
            "cpu_ms_per_op": run.cpu_ms() / max(ops, 1),
            "setup_s": setup_raw,
        }
        e2e = {
            "setup_s": (setup_raw / setup_f, "s"),
            "ops_per_s": (raw["ops_per_s"] * wall_f, "op/s"),
            "cpu_ms_per_op": (raw["cpu_ms_per_op"] / steal_f, "ms"),
            "jobs_per_op": ((jobs1 - jobs0) / max(ops, 1), "jobs"),
            "peak_rss_mb": (host.peak_rss_mb(run.jvm_pid), "MB"),
        }
        layers = None
        if tracer is not None:
            layers = per_layer(run, tracer, info, wall_f, steal_f, setup_f,
                               (jobs0, jobs1, stages0, stages1), e2e["ops_per_s"][0])
            os.makedirs(f"{HERE}/out", exist_ok=True)
            tracer.dump(f"{HERE}/out/trace-{args.workload}-seed{args.seed}.jsonl")
        detail = {
            "workload": args.workload, "seed": args.seed, "info": info,
            "probe": run.probe.summary(),
            "steal_share": round(run.steal.share(), 4),
            "setup_steal_share": round(setup_steal.share(), 4),
            "factors": {"cpu": round(steal_f, 5), "wall": round(wall_f, 5),
                        "setup": round(setup_f, 5), "probe": round(probe_f, 5)},
            "raw": {k: round(v, 4) for k, v in raw.items()},
            "raw_cpu_ms": {"jvm": round(run.jvm_cpu_ms), "pyworkers": round(run.workers.cpu_ms),
                           "python": round(run.py_cpu_ms),
                           "meter_overhead": round(run.workers.own_ms)},
            "setup_parts_s": {k: round(v, 3) for k, v in run.setup_parts.items()},
            "normalized": {k: round(v[0], 4) for k, v in e2e.items()},
            # for comparison only: the probe factor is reported, not applied
            "probe_normalized": {"ops_per_s": round(raw["ops_per_s"] * probe_f, 4),
                                 "cpu_ms_per_op": round(raw["cpu_ms_per_op"] / probe_f, 4)},
            "rounds": [{"ops": n, "ops_per_s": round(n / w, 4), "cpu_ms_per_op": round(c / max(n, 1), 1)}
                       for n, w, c in run.round_figs],
            "op_p50_ms": {k: round(core.p50_ms(v, 1.0), 1) for k, v in run.op_wall.items()},
            "attempted": run.attempted, "failed": run.failed,
            "failures": run.failures[:10], "mismatches": run.mismatches[:10],
        }
        return e2e, layers, detail
    finally:
        run.workers.close()
        _stop_spark(spark, run.jvm_pid)


def per_layer(run, tracer, info, factor, cpu_factor, setup_factor, counters, e2e_ops) -> dict:
    """Per-layer figures of a traced run. Wall times are divided by
    ``factor``, CPU times by ``cpu_factor`` (see host.py)."""
    import analytics
    import core

    jobs0, jobs1, stages0, stages1 = counters
    tot = tracer.layer_totals()
    span = lambda name: tot.get(name, {"calls": 0, "ms": 0.0, "self_ms": 0.0})  # noqa: E731
    m = {
        "session.start_s": (run.setup_parts.get("session", 0.0) / setup_factor, "s"),
        "session.warmup_s": (run.setup_parts.get("warmup", 0.0) / setup_factor, "s"),
    }
    for kind, layer in LAKE_OPS.items():
        walls, jobs = run.op_wall.get(kind, []), run.op_jobs.get(kind, [])
        m[f"{layer}.{kind}.p50_ms"] = (core.p50_ms(walls, factor), "ms")
        m[f"{layer}.{kind}.jobs"] = (statistics.mean(jobs) if jobs else 0.0, "jobs")
    append, read = span("lake.txn.append"), span("lake.txn.read")
    m["lake.txn.append.ms"] = (append["ms"] / factor, "ms")
    m["lake.txn.append.self_ms"] = (append["self_ms"] / factor, "ms")
    m["lake.txn.read.ms"] = (read["ms"] / factor, "ms")
    m["lake.txn.read.calls"] = (read["calls"], "count")
    m["lake.txn.current_version.calls"] = (span("lake.txn.current_version")["calls"], "count")
    if "lake" in info:  # the benchmark lake's layout at the end of the run
        lake = info["lake"]
        m["lake.txn.versions"] = (lake["versions"], "count")
        m["lake.txn.files_per_commit"] = (lake["files"] / max(lake["versions"], 1), "files")
        m["lake.txn.bytes_per_doc"] = (lake["bytes"] / max(lake["docs"], 1), "B")
    else:  # roster tables live and die inside each query: count commits
        m["lake.txn.versions"] = (tracer.commits(), "count")
        m["lake.txn.files_per_commit"] = (0.0, "files")
        m["lake.txn.bytes_per_doc"] = (0.0, "B")
    op_ms = sum(sum(w) for w in run.op_wall.values()) * 1000.0
    action_ms = tracer.action_ms()
    with tracer.paused():
        tasks = run.tasks_of_jobs(jobs0, jobs1)
    m["spark.jobs"] = (jobs1 - jobs0, "count")
    m["spark.stages"] = (stages1 - stages0, "count")
    m["spark.tasks"] = (tasks, "count")
    m["spark.action_ms"] = (action_ms / factor, "ms")
    m["driver.self_ms"] = ((op_ms - action_ms) / factor, "ms")
    py4j = span("py4j.send_command")
    m["py4j.calls"] = (py4j["calls"], "count")
    m["py4j.ms"] = (py4j["ms"] / factor, "ms")
    m["jvm.cpu_ms"] = (run.jvm_cpu_ms / cpu_factor, "ms")
    m["pyworkers.cpu_ms"] = (run.workers.cpu_ms / cpu_factor, "ms")
    m["python.cpu_ms"] = (run.py_cpu_ms / cpu_factor, "ms")
    st = tracer.stream_summary()
    m["streaming.startup_ms"] = (st["startup_ms"] / factor, "ms")
    m["streaming.trigger_ms"] = (st["trigger_ms"] / factor, "ms")
    m["streaming.triggers"] = (st["triggers"], "count")
    for q in analytics.ROSTER:
        walls, jobs = run.op_wall.get(f"catalog.{q}", []), run.op_jobs.get(f"catalog.{q}", [])
        m[f"catalog.{q}.ms"] = (core.p50_ms(walls, factor), "ms")
        m[f"catalog.{q}.jobs"] = (statistics.mean(jobs) if jobs else 0.0, "jobs")
    m["trace.ops_per_s"] = (e2e_ops, "op/s")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so Spark is stopped and the
    # run's directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(HERE)
    sys.path.insert(0, ROOT)
    import interop_datalake_spark  # noqa: F401  (fails fast without the program)

    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=_work_root())
    try:
        _private_env(work)
        e2e, layers, detail = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True), flush=True)
    for what in detail["mismatches"]:
        print(f"MISMATCH {what}", file=sys.stderr)
    for what in detail["failures"]:
        print(f"FAILED {what}", file=sys.stderr)
    chosen = layers if args.trace else e2e
    result = {
        "correct": not detail["mismatches"],
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _work_root() -> str:
    path = os.path.join(HERE, ".work")
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
