"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,river_live}
                             --seed N --seconds S --trace {0,1} [--perturb]

Run from the repository root. Prints, as the last line of standard
output, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json when ``--trace
0``, the per-layer metrics when ``--trace 1``. Everything the run
writes (the corpus, Spark's scratch space, checkpoints, event logs)
stays under ``perfbench/_work``; the run's own directory is removed at
exit. ``--perturb`` changes one collected result before it is checked,
to show that the checks catch it.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up is timed from here: before any import of Spark or the program

import argparse
import json
import os
import shlex
import shutil
import sys
from importlib.util import find_spec
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

WORKLOADS = ("catalog", "river_live")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit; the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def configure_env(run_dir: str, corpus_dir: str, traced: bool) -> str:
    """Point every scratch path of Spark, the JVM and the Python workers
    into the run directory, and pin the local core count. It must run
    before anything imports the program: its session module reads
    SPARK_GRAFT_CPUS when it is loaded."""
    tmp = os.path.join(run_dir, "tmp")
    event_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(tmp)
    os.makedirs(event_dir)
    nproc = len(os.sched_getaffinity(0))
    asked = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(asked, nproc)))
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    os.environ["SPARK_GRAFT_SF_DIR"] = corpus_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        import layers

        conf.update(layers.submit_conf(event_dir))
    # Without -XX:-UsePerfData every JVM, the launcher's too, keeps a
    # file under /tmp while it runs.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp}"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return event_dir


def layer_metrics(ctx, res: dict, workload: str, tracker: dict) -> dict[str, float]:
    """The per-layer figures of a traced run, checked for consistency:
    the status tracker's job counts must equal the event log's."""
    import layers

    tracer = ctx.tracer
    folded = layers.fold_event_log(layers.event_log_file(ctx.event_dir, ctx.app_id), tracer.groups)
    for key in set(tracker) | set(folded):
        if tracker.get(key, 0) != folded.get(key, {}).get("jobs", 0):
            res["errors"].append(
                f"job count of {key}: status tracker {tracker.get(key, 0)}, "
                f"event log {folded.get(key, {}).get('jobs', 0)}"
            )
            res["correct"] = False

    catalog = workload == "catalog"
    per = res["passes"] if catalog else 1
    timed = ("timed.build", "timed.exec") if catalog else ("river",)

    def total(field: str, phases=timed) -> float:
        return sum(v.get(field, 0.0) for (ph, _), v in folded.items() if ph in phases) / per

    out = {
        "session.start_s": ctx.session_start_s,
        "plans.build_s": res["layers"].get("plans.build_s", 0.0),
        "plans.build_jobs": total("jobs", ("timed.build",)),
        "plans.exec_s": res["layers"].get("plans.exec_s", 0.0),
        "staging.memo_entries": res["layers"].get("staging.memo_entries", 0),
        "plans.jobs": total("jobs"),
        "plans.stages": total("stages"),
        "plans.tasks": total("tasks"),
        "plans.aqe_replans": total("aqe_replans"),
        "spark.scan_bytes": total("scan_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": total("fetch_wait_s"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.task_run_s": total("run_s"),
        "spark.task_cpu_s": total("cpu_s"),
        "spark.task_gc_s": total("gc_s"),
        "spark.task_offcpu_s": total("run_s") - total("cpu_s"),
    }
    if not catalog:
        for k in [k for k in out if k.startswith("plans.")]:
            out[k] = 0.0

    runs = {g: key for g, key in tracer.groups.items() if key[0] in timed}
    prog = [p for p in tracer.progress if p["run"] in runs]
    final: dict[str, dict] = {}
    for p in prog:
        if p["run"] not in final or p["batch"] >= final[p["run"]]["batch"]:
            final[p["run"]] = p
    ms = lambda k: sum(p["ms"].get(k, 0) for p in prog) / 1e3 / per  # noqa: E731
    out.update({
        "streaming.state_rows": sum(s[0] for p in final.values() for s in p["state"]) / per,
        "streaming.state_bytes": sum(s[1] for p in final.values() for s in p["state"]) / per,
        "streaming.state_commit_s": sum(s[2] for p in prog for s in p["state"]) / 1e3 / per,
        "streaming.batches": len(prog) / per,
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.query_planning_s": ms("queryPlanning"),
        "streaming.wal_commit_s": ms("walCommit"),
        "streaming.commit_offsets_s": ms("commitOffsets"),
        "streaming.latest_offset_s": ms("latestOffset"),
        "streaming.input_rows_per_reading": 0.0,
        "river.generator_lag_ms": res["layers"].get("river.generator_lag_ms", 0.0),
    })
    if not catalog:
        serving = {g for g, key in runs.items() if key == ("river", "serving")}
        rows = sum(p["rows"] for p in prog if p["run"] in serving)
        out["streaming.input_rows_per_reading"] = rows / res["attempted"]
        res["info"]["source_rows_serving"] = rows
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args()

    # Everything Spark, the JVM or py4j print goes to stderr; only the
    # result line reaches the real stdout.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sys.path.insert(0, ROOT)
    # Fail fast without the program, but do not import it yet (see
    # configure_env).
    if find_spec("bigdata_riveranalysis_spark") is None:
        raise SystemExit("perfbench: the package bigdata_riveranalysis_spark is not in this checkout")

    import corpus

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = SimpleNamespace(seed=args.seed, seconds=args.seconds, run_dir=run_dir)
    spark = None
    try:
        build_s = 0.0
        ctx.corpus_dir = os.path.join(WORK, "corpus")
        if args.workload == "catalog":
            ctx.corpus_digest, build_s = corpus.ensure_corpus(ctx.corpus_dir)
        else:
            ctx.corpus_dir = os.path.join(run_dir, "no-corpus")
        ctx.event_dir = configure_env(run_dir, ctx.corpus_dir, bool(args.trace))

        import layers

        from bigdata_riveranalysis_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench-" + args.workload)
        ctx.session_start_s = time.perf_counter() - t0
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
        if spark.sparkContext.master != master:
            raise RuntimeError(f"session runs on {spark.sparkContext.master}, expected {master}")
        ctx.spark, ctx.app_id = spark, spark.sparkContext.applicationId
        ctx.tracer = layers.Tracer(spark, bool(args.trace))

        if args.workload == "river_live":
            import river

            res = river.run(ctx, perturb=args.perturb)
        else:
            import catalog

            res = catalog.run(ctx, perturb=args.perturb)
        setup_s = res["ready"] - T_START - build_s

        if args.trace:
            ctx.tracer.quiesce()
            tracker = ctx.tracer.tracker_jobs()
            ctx.tracer.stop()
            stop_spark(spark)
            spark = None
            values = layer_metrics(ctx, res, args.workload, tracker)
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        else:
            stop_spark(spark)
            spark = None
            e2e = dict(res["metrics"], setup_s=setup_s)
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
        for e in res["errors"]:
            print("perfbench:", e, file=sys.stderr)
        print("perfbench info:", json.dumps(res["info"]), file=sys.stderr)
        line = json.dumps({
            "correct": bool(res["correct"]),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        })
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    os.write(real_stdout, (line + "\n").encode())
    return 0


E2E = ("setup_s", "pass_s", "latency_p50_ms")
UNITS = {
    "setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms",
    "session.start_s": "s", "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.exec_s": "s", "staging.memo_entries": "count", "plans.jobs": "count",
    "plans.stages": "count", "plans.tasks": "count", "plans.aqe_replans": "count",
    "spark.scan_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s", "spark.task_offcpu_s": "s", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.state_commit_s": "s",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.input_rows_per_reading": "ratio", "river.generator_lag_ms": "ms",
}

if __name__ == "__main__":
    sys.exit(main())
