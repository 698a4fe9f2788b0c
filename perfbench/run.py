#!/usr/bin/env python3
"""pyskudu benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts one local Spark session on
every core, runs the workload's set-up, measures its closed loop for
about ``--seconds``, checks every result, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones in
``metrics.json``; with ``--trace 1`` the per-layer ones, and the spans
are written to ``.perfbench/spans/<workload>-seed<seed>.jsonl``. The
lines before it carry the environment and the workload's own named
figures. A failed check exits 1; a missing engine exits 2.

Everything the run writes stays under ``.perfbench/`` in the checkout,
and its work directory (warehouse, parquet copies, Spark local dirs
and temp files) is removed on exit, failed or not.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def load_catalog() -> dict:
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> str:
    """Keep every file the run makes inside ``work``. Python's temp dir
    gets its own directory, so what the engine leaves there is counted
    (``fs.tmp_entries_left``); returns it."""
    import tempfile

    tmp, jvm_tmp = os.path.join(work, "tmp"), os.path.join(work, "jvm-tmp")
    for d in (tmp, jvm_tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    os.environ["PYSKUDU_DRIVER_MEM"] = DRIVER_MEM
    return tmp


def start_spark(work: str, cpus: int):
    from kudu_spark import session

    jvm_tmp = os.path.join(work, "jvm-tmp")
    return session.get_spark(
        app_name="pyskudu-perfbench", cpus=cpus,
        extra_conf={
            # no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        })


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit; kill the JVM if
    the stop fails (a signal can leave the gateway mid-call)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def spark_env(spark, cpus: int) -> dict:
    from kudu_spark.table import Table

    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes")
    return {"cores": cpus, "spark_version": spark.version,
            "spark_conf": {k: conf.get(k) for k in keys},
            "PYSKUDU_DRIVER_MEM": os.environ["PYSKUDU_DRIVER_MEM"],
            "dirty_cache_max_bytes": Table.DIRTY_CACHE_MAX_BYTES,
            "python": sys.version.split()[0]}


# -- metrics ------------------------------------------------------------------

MUTATIONS = ("upsert", "insert", "delete_sql", "upsert_large", "mutate")
# figures every workload computes (workloads.summarize); the catalog's
# end_to_end list names the gated ones, the rest go to the detail line
FIGURES = ("op_p50_s", "op_vs_parquet", "rows_per_s", "space_amp", "write_amp",
           "scan_vs_parquet")
LAYERS = ("bench", "meta", "table.scan", "table.write", "plans.presence",
          "table.maint", "writer", "engine.sql", "spark")


def figures(ctx, res) -> dict:
    return {"setup_s": statistics.median(ctx.setup_times), **{k: res[k] for k in FIGURES}}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ctx, res, tracer, session_s: float) -> dict:
    from stats import self_times
    from workloads import is_scan

    traced = [r for r in ctx.ops if r.traced and not r.failed]
    ids = {r.op_id for r in traced}
    spans = [s for s in tracer.spans if s["op"] in ids]
    by_id = {s["id"]: s for s in spans}
    n = max(len(traced), 1)

    def dur(s):
        return s["end"] - s["start"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def top(layer):  # spans of a layer not nested in the same layer
        return [s for s in spans if s["layer"] == layer and not (
            s["parent"] in by_id and by_id[s["parent"]]["layer"] == layer)]

    def ancestors(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            yield s

    muts = [r for r in traced if r.kind in MUTATIONS]
    scans = [r for r in traced if is_scan(r.kind)]
    scan_ids = {r.op_id for r in scans}
    commits = [c for r in traced for c in r.log_commits]
    write_commits = [c for c in commits if c[0] in ("insert", "upsert", "update", "delete")]
    maint = top("table.maint")
    stall = [s for s in maint if any(a["layer"] in ("table.write", "writer", "engine.sql")
                                     for a in ancestors(s))]
    inserts = [r for r in traced if r.kind == "insert"]  # writer.Session flushes
    cached = [r.cached for r in scans if r.cached is not None]
    primary = set(res["primary_kinds"])
    on = [r.seconds for r in ctx.ops if r.kind in primary and r.traced and not r.failed]
    off = [r.seconds for r in ctx.ops if r.kind in primary and not r.traced and not r.failed]
    selfs = self_times(spans)
    out = {
        "session.start_s": session_s,
        "meta.replays_per_op": len(named("meta.replay")) / n,
        "meta.replay_s_per_op": sum(map(dur, named("meta.replay"))) / n,
        "meta.log_commits_per_op": len(commits) / n,
        "table.scan.build_s": _mean(map(dur, named("Table.scan"))),
        "table.scan.files_read_frac": (tracer.prune_kept / tracer.prune_total
                                       if tracer.prune_total else 0.0),
        "table.scan.cached_frac": _mean(map(float, cached)),
        "py4j.calls_per_scan": _mean(r.py4j for r in scans),
        "py4j.calls_per_mutation": _mean(r.py4j for r in muts),
        "spark.jobs_per_mutation": _mean(r.jobs for r in muts),
        "spark.stages_per_mutation": _mean(r.stages for r in muts),
        "spark.jobs_per_scan": _mean(r.jobs for r in scans),
        "spark.tasks_per_scan": _mean(r.tasks for r in scans),
        "spark.exec_s_per_scan": sum(dur(s) for s in spans if s["layer"] == "spark"
                                     and s["op"] in scan_ids) / max(len(scans), 1),
        "table.write.s_per_op": _mean(map(dur, top("table.write"))),
        "table.write.files_per_commit": _mean(c[3] for c in write_commits),
        "plans.presence.probe_s": _mean(map(dur, named("Table.present_key_probe"))),
        "plans.presence.hit_frac": (tracer.probe_hits / tracer.probe_calls
                                    if tracer.probe_calls else 0.0),
        "table.maint.s_per_op": sum(map(dur, maint)) / n,
        "table.maint.stall_s_per_mutation": sum(map(dur, stall)) / max(len(muts), 1),
        "table.maint.compactions": sum(1 for c in commits if c[0] == "compact"),
        "table.maint.bytes_rewritten": sum(c[2] for c in commits if c[0] == "compact"),
        "writer.flush_s": _mean(map(dur, named("Session.flush"))),
        "writer.commits_per_flush": _mean(len(r.log_commits) for r in inserts),
        "engine.sql.s_per_stmt": _mean(map(dur, named("Engine.sql"))),
        "fs.bytes_written_per_op": _mean(r.bytes_created for r in traced),
        "fs.files_created_per_op": _mean(r.files_created for r in traced),
        "fs.live_files": res["live_files"],
        "fs.tmp_entries_left": res["tmp_entries_left"],
        "trace.overhead_frac": (statistics.median(on) / statistics.median(off) - 1.0
                                if on and off else 0.0),
    }
    for layer in LAYERS:
        out[f"self_s_per_op.{layer}"] = selfs.get(layer, 0.0) / n
    return out


# -- main ---------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    catalog = load_catalog()
    if args.workload not in catalog["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    try:
        import kudu_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the pyskudu engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    tmp = prepare_env(work)
    # a SIGTERM unwinds through the finally below, so the work dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import workloads
    from tracing import Tracer

    tracer = Tracer() if args.trace else None
    cpus = os.cpu_count() or 1
    spark = None
    try:
        if tracer:
            tracer.install_layers()
            tracer.enabled, tracer.op_id = True, "setup"
        t0 = time.perf_counter()
        spark = start_spark(work, cpus)
        session_s = time.perf_counter() - t0
        if tracer:
            tracer.enabled = False
            tracer.install_spark(spark)
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer)
        ctx.env.update(spark_env(spark, cpus))
        res = workloads.WORKLOADS[args.workload](ctx)
        from kudu_spark.meta import replay

        res["live_files"] = len(replay("t", res["table_root"]).files)
        res["tmp_entries_left"] = len(os.listdir(tmp))
        ctx.env["dirty_cache_budget_bytes"] = workloads.dirty_budget()
        if tracer:
            metrics = per_layer(ctx, res, tracer, session_s)
            tracer.write(os.path.join(ROOT, ".perfbench", "spans",
                                      f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = figures(ctx, res)
        failed = sum(r.failed for r in ctx.ops)
        ctx.detail.update({
            "figures": figures(ctx, res),
            "setup_times_s": ctx.setup_times,
            "ops_failed_frac": failed / max(len(ctx.ops), 1),
            "ops_by_kind": {k: sum(r.kind == k for r in ctx.ops)
                            for k in sorted({r.kind for r in ctx.ops})},
            "failures": ctx.failures[:20],
            "op_seconds": [(r.kind, round(r.seconds, 4),
                            None if r.ref_seconds is None else round(r.ref_seconds, 4))
                           for r in ctx.ops],
            "phase_s": {"session": session_s, "run": time.perf_counter() - t0},
        })
        print(json.dumps({"env": ctx.env}))
        print(json.dumps({"detail": ctx.detail}, default=str))
        units = {m["name"]: m["unit"] for m in
                 catalog["per_layer" if tracer else "end_to_end"]}
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not computed: {sorted(missing)}")
        correct = not ctx.failures
        print(json.dumps({
            "correct": correct,
            "attempted": len(ctx.ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0 if correct else 1
    finally:
        try:
            if tracer:
                tracer.uninstall()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
