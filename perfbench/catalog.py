"""The ``catalog`` workload: a fixed query list in closed loop.

One client runs the queries one after another. The first pass is
untimed: it collects every result and compares its canonical hash with
the DuckDB result in ``oracle.json`` (a mismatch or an error is a
failed operation), and it warms the JVM, the Python workers and the
staging memo. The timed passes then run the queries in an order
shuffled from the seed, each as a builder call plus a noop write. A
query's latency is the median of its timed executions; the run reports
the median of those over the query list. The number of timed passes
follows from ``seconds`` and the nominal pass time, not from the clock,
so every run with the same ``seconds`` does the same work.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import queries
from tools.canon import table_hash

HERE = os.path.dirname(os.path.abspath(__file__))
NOMINAL_PASS_S = 7.0  # one timed pass on a quiet 4-core box


def load_oracle(corpus_digest: str) -> dict[str, dict]:
    with open(os.path.join(HERE, "oracle.json")) as fh:
        doc = json.load(fh)
    if doc["corpus_digest"] != corpus_digest:
        raise RuntimeError(
            f"oracle.json was computed for corpus {doc['corpus_digest']}, "
            f"this corpus is {corpus_digest}; rerun perfbench/oracle.py"
        )
    return doc["queries"]


def run(ctx, perturb: bool = False) -> dict:
    """Returns the run's counts and raw samples; ``ctx`` carries the
    session, corpus, tracer, seed and run length."""
    from bigdata_riveranalysis_spark.plans import REGISTRY
    from bigdata_riveranalysis_spark.plans.staging import memo_entries

    spark, sf_dir, tracer = ctx.spark, ctx.corpus_dir, ctx.tracer
    names = queries.CATALOG
    expected = load_oracle(ctx.corpus_digest)
    attempted = failed = 0
    mismatches: list[str] = []
    first_pass_s: dict[str, float] = {}

    for i, name in enumerate(names):
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.call("warm", name):
                df = REGISTRY[name].fn(spark, sf_dir)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a failing query is a failed operation
            failed += 1
            mismatches.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        first_pass_s[name] = round(time.perf_counter() - t0, 3)
        if perturb and i == 0 and rows:
            rows[0] = tuple("perturbed" for _ in rows[0])
        want = expected[name]
        if (table_hash(rows, cols)[0], sorted(cols)) != (want["hash"], want["cols"]):
            failed += 1
            mismatches.append(f"{name}: result differs from the DuckDB oracle")
    memo = memo_entries(spark, sf_dir)
    ready = time.time()

    rng = random.Random(ctx.seed)
    pass_s: list[float] = []
    query_ms: dict[str, list[float]] = {name: [] for name in names}
    build_s = exec_s = 0.0
    for _ in range(max(3, round(ctx.seconds / NOMINAL_PASS_S))):
        order = list(names)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.call("timed.build", name):
                    df = REGISTRY[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.call("timed.exec", name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed += 1
                mismatches.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            t2 = time.perf_counter()
            build_s += t1 - t0
            exec_s += t2 - t1
            query_ms[name].append((t2 - t0) * 1e3)
        pass_s.append(time.perf_counter() - t_pass)

    n = len(pass_s)
    per_query = {k: statistics.median(v) for k, v in query_ms.items() if v}
    return {
        "ready": ready,
        "attempted": attempted,
        "failed": failed,
        "errors": mismatches,
        "correct": not mismatches,
        "passes": n,
        "info": {
            "pass_s": [round(x, 3) for x in pass_s],
            "first_pass_s": first_pass_s,
            "query_ms": {k: round(v, 1) for k, v in per_query.items()},
        },
        "metrics": {
            "pass_s": statistics.median(pass_s),
            "latency_p50_ms": statistics.median(per_query.values()),
        },
        "layers": {
            "plans.build_s": build_s / n,
            "plans.exec_s": exec_s / n,
            "staging.memo_entries": memo,
        },
    }
