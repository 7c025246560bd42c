"""The ``river_live`` workload: a seeded replay of the sensor wire feed.

Each tick is one file of newline-delimited JSON in the reference's wire
format: every value a JSON string, keys verbatim (``Dissolved Oxygen``,
``Conductivity @25°C``), waterbody names with spaces, quotes, brackets
and non-ASCII letters. A waterbody reports at most once per tick, and a
small share of numeric fields is dirty (``NA`` or empty). No line is
malformed JSON.

The pipeline is the program's own: ``parse_readings`` →
``wqi_classify`` → ``start_upsert_sink`` (the serving table, keyed by
sensor) plus the poor-band rows → ``start_parquet_sink`` (the alert
log), both reading the feed directory one file per micro-batch.

A run has three phases:

1. warm-up (part of set-up): the same two sinks drain one file into
   separate tables;
2. closed loop: a backlog of ``BACKLOG_FILES`` files is drained; the
   drain time is the time from starting the queries to the serving
   query's commit of the last backlog batch;
3. open loop: one file every ``1 / RATE_FILES_PER_S`` seconds. A file's
   latency runs from its due time to the commit of the serving query's
   micro-batch that read it, both read from the query's own source and
   commit logs.

The checker recomputes, from the generator's records alone, each
reading's band, the serving table (each sensor's last reading) and the
alert rows, and compares them exactly with ``read_serving_table`` and
the alert log.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import statistics
import time

import numpy as np

BACKLOG_FILES = 10
RATE_FILES_PER_S = 1.0
N_SENSORS = 160
REPORT_P = 0.85
DIRTY_P = 0.02
COMMIT_TIMEOUT_S = 90.0

_STEMS = [
    "CARRIGAHORIG STREAM", "YELLOW (FOXFORD)", "OWENMORE (SLIGO)", "LOUGH O'FLYNN",
    "ÁTHA CLIATH", "ST. JOHN'S BROOK", 'BALLYNAHINCH "UPPER"', "MOY, ESTUARY",
    "SHANNON & SUCK", "GLEN/DERRY", "BRÍDE", "OWENEA\\WEST", "DODDER: LOWER",
    "KILLARNEY {LAKES}", "BANN [TIDAL]", "FÉAL", "SUIR #2", "TOLKA @ GLASNEVIN",
    "SLANEY 50%", "NORE; KILKENNY",
]
_EPOCH = dt.datetime(2007, 1, 1)


class Feed:
    """Seeded generator of ticks; keeps every reading it emits."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        names: set[str] = set()
        while len(names) < N_SENSORS:
            stem = _STEMS[int(self.rng.integers(len(_STEMS)))]
            names.add(f"{stem}_{int(self.rng.integers(1, 100)) * 10:03d}")
        self.sensors = sorted(names)
        self.ticks: list[list[dict]] = []

    def _field(self, value: float, fmt: str) -> str:
        if self.rng.random() < DIRTY_P:
            return "NA" if self.rng.random() < 0.5 else ""
        return fmt % value

    def next_tick(self) -> list[dict]:
        day = (_EPOCH + dt.timedelta(days=len(self.ticks))).strftime("%Y-%m-%d")
        recs = []
        for i in self.rng.permutation(N_SENSORS):
            if self.rng.random() >= REPORT_P:
                continue
            ph = float(np.clip(self.rng.normal(7.55, 0.6), 4.7, 9.8))
            do = float(np.clip(self.rng.normal(58.0, 35.0), 0.0, 198.0))
            tds = float(np.clip(self.rng.lognormal(math.log(300.0), 0.6), 33.0, 4200.0))
            recs.append({
                "FullDate": day,
                "WaterbodyName": self.sensors[i],
                "pH": self._field(ph, "%.2f"),
                "Dissolved Oxygen": self._field(do, "%.1f"),
                "Conductivity @25°C": self._field(tds, "%.1f"),
            })
        self.ticks.append(recs)
        return recs

    def readings(self) -> int:
        return sum(len(t) for t in self.ticks)


def _num(s: str):
    return float(s) if s not in ("", "NA") else None


def expected_row(rec: dict) -> tuple:
    """One reading as the pipeline must land it, by the documented
    WQI rules: pH in [6.5, 8.5], DO >= 80 %sat, conductivity <= 1000;
    no violation -> good, one -> fair, more -> poor; no measurement at
    all -> NULL band. A missing field adds no violation."""
    ph, do, tds = _num(rec["pH"]), _num(rec["Dissolved Oxygen"]), _num(rec["Conductivity @25°C"])
    v = int(ph is not None and (ph < 6.5 or ph > 8.5))
    v += int(do is not None and do < 80.0)
    v += int(tds is not None and tds > 1000.0)
    if ph is None and do is None and tds is None:
        band = None
    else:
        band = ("good", "fair")[v] if v < 2 else "poor"
    ts = dt.datetime.strptime(rec["FullDate"], "%Y-%m-%d")
    return (rec["WaterbodyName"], ts, ph, do, tds, v, band)


def check(feed: Feed, serving_rows: list[tuple], alert_rows: list[tuple]) -> list[str]:
    last: dict[str, tuple] = {}
    alerts: list[tuple] = []
    for tick in feed.ticks:
        for rec in tick:
            row = expected_row(rec)
            last[row[0]] = row
            if row[-1] == "poor":
                alerts.append(row)
    problems = []
    got = {r[0]: r for r in serving_rows}
    if len(got) != len(serving_rows):
        problems.append(f"serving table has {len(serving_rows)} rows for {len(got)} keys")
    if got != last:
        missing = sorted(set(last) - set(got))
        wrong = sorted(k for k in set(last) & set(got) if last[k] != got[k])
        extra = sorted(set(got) - set(last), key=repr)
        problems.append(
            f"serving table differs: {len(missing)} missing, {len(wrong)} wrong, "
            f"{len(extra)} unexpected (e.g. {(missing + wrong + extra)[:2]})"
        )
    if sorted(alert_rows, key=repr) != sorted(alerts, key=repr):
        problems.append(f"alert log differs: {len(alert_rows)} rows, expected {len(alerts)}")
    return problems


class Replay:
    """Writes tick files into the feed directory, each atomically."""

    def __init__(self, feed: Feed, root: str):
        self.feed = feed
        self.incoming = os.path.join(root, "incoming")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.incoming)
        os.makedirs(self.staging)

    def write(self, mtime: float | None = None) -> str:
        recs = self.feed.next_tick()
        name = f"tick-{len(self.feed.ticks) - 1:05d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            fh.write("".join(json.dumps(r) + "\n" for r in recs))
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.replace(tmp, os.path.join(self.incoming, name))
        return name


def _start(ctx, src_dir: str, out: str, phase: str, available_now: bool):
    from pyspark.sql import functions as F

    from bigdata_riveranalysis_spark.operators.river_pipeline import parse_readings, wqi_classify
    from bigdata_riveranalysis_spark.streaming.sinks import start_parquet_sink, start_upsert_sink

    spark = ctx.spark
    readings = wqi_classify(parse_readings(
        spark.readStream.option("maxFilesPerTrigger", "1").text(src_dir)
    ))
    with ctx.tracer.call(phase, "serving"):
        serving = start_upsert_sink(
            readings, os.path.join(out, "serving"), os.path.join(out, "ckpt_serving"),
            ("sensor_id",), trigger_available_now=available_now,
        )
    with ctx.tracer.call(phase, "alerts"):
        alerts = start_parquet_sink(
            readings.filter(F.col("wqi_band") == "poor"), os.path.join(out, "alerts"),
            os.path.join(out, "ckpt_alerts"), trigger_available_now=available_now,
        )
    return serving, alerts


def _commit_mtime(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime_ns / 1e9
    except FileNotFoundError:
        return None


def _wait_commits(ckpts: list[str], batch: int, deadline: float, queries) -> bool:
    while time.time() < deadline:
        if all(_commit_mtime(c, batch) is not None for c in ckpts):
            return True
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
        time.sleep(0.005)
    return False


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def run(ctx, perturb: bool = False) -> dict:
    from bigdata_riveranalysis_spark.streaming.sinks import read_serving_table

    spark, root = ctx.spark, ctx.run_dir
    # Warm-up: the same plans, drained once into tables of their own.
    warm_feed = Feed(ctx.seed + 1_000_003)
    warm = Replay(warm_feed, os.path.join(root, "warm"))
    warm.write()
    for q in _start(ctx, warm.incoming, os.path.join(root, "warm"), "warm", True):
        q.awaitTermination()
    ready = time.time()

    feed = Feed(ctx.seed)
    live = os.path.join(root, "live")
    replay = Replay(feed, live)
    base = time.time() - BACKLOG_FILES
    for i in range(BACKLOG_FILES):
        replay.write(mtime=base + i)  # distinct arrival order, as on the wire
    backlog_readings = feed.readings()
    ckpts = [os.path.join(live, "ckpt_serving"), os.path.join(live, "ckpt_alerts")]

    t_start = time.time()
    serving, alerts = _start(ctx, replay.incoming, live, "river", False)
    queries = (serving, alerts)
    failed_batches: list[int] = []
    try:
        if not _wait_commits(ckpts, BACKLOG_FILES - 1, t_start + COMMIT_TIMEOUT_S, queries):
            raise RuntimeError("backlog was not drained in time")
        drain_s = _commit_mtime(ckpts[0], BACKLOG_FILES - 1) - t_start

        n_open = max(1, int(round(ctx.seconds * RATE_FILES_PER_S)))
        t0 = time.time() + 0.1
        due: dict[str, float] = {}
        lag_ms: list[float] = []
        for i in range(n_open):
            d = t0 + i / RATE_FILES_PER_S
            pause = d - time.time()
            if pause > 0:
                time.sleep(pause)
            due[replay.write()] = d
            lag_ms.append((time.time() - d) * 1e3)
        last = BACKLOG_FILES + n_open - 1
        if not _wait_commits(ckpts, last, time.time() + COMMIT_TIMEOUT_S, queries):
            failed_batches = [
                b for b in range(BACKLOG_FILES, last + 1)
                if any(_commit_mtime(c, b) is None for c in ckpts)
            ]
    finally:
        for q in queries:
            q.stop()

    batches = _file_batches(ckpts[0])
    latency_ms = []
    for name, d in due.items():
        commit = _commit_mtime(ckpts[0], batches[name]) if name in batches else None
        if commit is not None:
            latency_ms.append((commit - d) * 1e3)

    with ctx.tracer.call("check", "outputs"):
        serving_rows = [tuple(r) for r in read_serving_table(spark, os.path.join(live, "serving")).select(
            "sensor_id", "timestamp", "ph_value", "do_value", "tds_value", "n_violations", "wqi_band"
        ).collect()]
        alert_rows = [tuple(r) for r in spark.read.parquet(os.path.join(live, "alerts")).select(
            "sensor_id", "timestamp", "ph_value", "do_value", "tds_value", "n_violations", "wqi_band"
        ).collect()]
    if perturb and serving_rows:
        serving_rows.pop()
    problems = check(feed, serving_rows, alert_rows)
    if failed_batches:
        problems.append(f"micro-batches {failed_batches} never committed")
    lost = sum(len(feed.ticks[b]) for b in failed_batches)
    return {
        "ready": ready,
        "attempted": feed.readings(),
        "failed": lost,
        "errors": problems,
        "correct": not problems,
        "metrics": {
            "pass_s": drain_s,
            "latency_p50_ms": statistics.median(latency_ms),
        },
        "info": {
            "readings_per_s": backlog_readings / drain_s,
            "backlog_readings": backlog_readings,
            "open_loop_files": n_open,
            "latency_ms": sorted(round(x, 1) for x in latency_ms),
        },
        "layers": {
            "river.generator_lag_ms": max(lag_ms),
        },
    }
