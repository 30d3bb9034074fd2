"""``stream_cdc``: the CDC arrivals of ``cdc_medallion`` fed to Structured
Streaming, open loop.

The generator lands one arrival file every ``INTERVAL_S`` seconds on a
fixed schedule that does not wait for the engine. Two streaming queries
read the landing directory through ``streaming.pipeline.read_stream``:

- watermark-bounded ``streaming_dedup`` whose ``foreachBatch`` appends the
  surviving event ids to gold and upserts ``dim_user`` with the same SCD1
  dimension build ``cdc_medallion`` uses;
- a ``tumbling_window_agg`` of events per type and hour into a memory sink.

An arrival's latency runs from when it was due to land to when the
``foreachBatch`` that consumed it returns.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import time
from pathlib import Path

import duckdb

from cdc import DIMS, expected_from_bronze, latest_per_key, load_arrivals, mismatches, silver_transform
from gen import WORKLOAD_SPECS, CdcSpec, arrival_name, cdc_arrivals, write_parquet

# Open-loop schedule. An arrival is committed about 1.2 s after it lands
# on 4 cores at the seed, and up to 2.5 s when the host is slow, so one
# arrival every 3.3 s keeps the backlog (arrivals still uncommitted when
# the next one would be due) at zero. At 2.2 s a slow host made arrivals
# queue, and the latency then grew with the arrival index.
INTERVAL_S = 3.3
SPEC = WORKLOAD_SPECS["stream_cdc"]
WARMUP_SPEC = CdcSpec(arrivals=2, rows=100)
DELAY = "1 hour"
DELAY_US = 3_600_000_000
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
DIM = DIMS[0]  # dim_user


def source_files(checkpoint: Path, batch_id: int) -> list[str]:
    """Files the file source planned into ``batch_id``, from its metadata
    log (plain or compacted entry)."""
    log = checkpoint / "sources" / "0"
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = log / name
        if p.exists():
            lines = p.read_text().splitlines()[1:]
            entries = [json.loads(x) for x in lines if x.strip()]
            return [os.path.basename(e["path"]) for e in entries if e.get("batchId", batch_id) == batch_id]
    return []


def progress_listener(sink: list):
    """A listener that appends every query progress event to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class StreamRun:
    """Landing directory, checkpoints, gold tables and the two queries."""

    def __init__(self, spark, root: Path, tracer):
        from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline

        self.spark = spark
        self.root = root
        self.src = root / "src"
        self.landing = self.src / "events.parquet"
        self.landing.mkdir(parents=True)
        self.pipe = MedallionPipeline(spark, str(root / "lake"))
        self.ids = root / "lake" / "gold" / "event_ids"
        self.ckpt = root / "ckpt"
        self.tracer = tracer
        self.committed: dict[int, float] = {}  # arrival -> commit time
        self.batch_of: dict[int, int] = {}  # arrival -> micro-batch
        self.applies: list[tuple[list[int], float]] = []  # (arrivals, foreachBatch s)
        self.queries = []

    def land(self, k: int, table) -> None:
        write_parquet(table, str(self.landing / arrival_name(k)))

    def _apply(self, batch, epoch: int) -> None:
        files = source_files(self.ckpt / "dedup", epoch)
        if not files:
            return
        t0 = time.perf_counter()
        _, key, attr, sk = DIM
        group = str(self.queries[0].runId)
        with self.tracer.span("stream.scd", "scd", epoch=epoch, job_group=group):
            # Two sinks read the batch: cache it so the stateful dedup
            # above it runs once per micro-batch.
            batch = batch.persist()
            try:
                batch.select("event_id").write.mode("append").parquet(str(self.ids))
                self.pipe.build_gold_dim(
                    DIM[0], latest_per_key(silver_transform(batch), key, attr), [key], [attr], sk
                )
            finally:
                batch.unpersist()
        now = time.perf_counter()
        ks = [int(f.split("-")[1].split(".")[0]) for f in files]
        self.applies.append((ks, now - t0))
        for k in ks:
            self.committed[k] = now
            self.batch_of[k] = epoch

    def start(self) -> None:
        from pyspark.sql import functions as F

        from incremental_data_pipeline_spark.streaming.pipeline import (
            read_stream,
            streaming_dedup,
            tumbling_window_agg,
        )

        deduped = streaming_dedup(read_stream(self.spark, str(self.src), "events"), EVENT_COLS, "ts", DELAY)
        self.queries.append(
            deduped.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", str(self.ckpt / "dedup"))
            .start()
        )
        windows = tumbling_window_agg(
            read_stream(self.spark, str(self.src), "events"), "ts", "1 hour", ["event_type"],
            [F.count(F.lit(1)).alias("n_events")], watermark_delay=DELAY,
        )
        self.queries.append(
            windows.writeStream.format("memory").queryName(f"windows_{os.getpid()}_{id(self)}")
            .outputMode("append")
            .option("checkpointLocation", str(self.ckpt / "windows"))
            .start()
        )

    def drain_and_stop(self) -> None:
        try:
            for q in self.queries:
                q.processAllAvailable()
        finally:
            for q in self.queries:
                q.stop()
                q.awaitTermination()


def run_stream(spark, root: Path, arrivals, tracer, trace_from: int | None, progress: list) -> dict:
    """Land ``arrivals`` on the open-loop schedule and drain. Tracing (spans
    and the progress listener) switches on at arrival ``trace_from``."""
    run = StreamRun(spark, root, tracer)
    due, lateness = {}, []
    run.land(0, arrivals[0])
    t0 = time.perf_counter()
    due[0] = t0
    run.start()
    with contextlib.ExitStack() as traced:
        for k in range(1, len(arrivals)):
            due[k] = t0 + k * INTERVAL_S
            if k == trace_from:
                tracer.enabled = True
                listener = progress_listener(progress)
                spark.streams.addListener(listener)
                traced.callback(spark.streams.removeListener, listener)
                traced.enter_context(tracer.span("stream.run", "stream"))
            time.sleep(max(0.0, due[k] - time.perf_counter()))
            run.land(k, arrivals[k])
            lateness.append(time.perf_counter() - due[k])
        # The backlog when the generator stops: what is still uncommitted
        # when the next arrival would have been due.
        time.sleep(max(0.0, t0 + len(arrivals) * INTERVAL_S - time.perf_counter()))
        backlog = len(arrivals) - len(run.committed)
        run.drain_and_stop()
    return {
        "run": run,
        "latencies": {k: run.committed[k] - due[k] for k in run.committed},
        "backlog_end": backlog,
        "generator_late_max_s": max(lateness, default=0.0),
    }


# -- oracle ------------------------------------------------------------------------

def check_stream(run: StreamRun, n_arrivals: int) -> dict:
    """The final dimension must equal the batch build over the rows the
    stream delivered, and gold must hold exactly those event ids.

    Micro-batch b drops as late the rows at or below the watermark for late
    events, which Spark takes from the previous micro-batch: the largest
    ``ts`` of micro-batches before b-1, minus the delay. Replays collapse on
    the full record. The batch build numbers keys in order of
    (first micro-batch, natural key), as the SCD1 upsert does."""
    con = duckdb.connect()
    try:
        load_arrivals(con, run.landing, n_arrivals)
        con.execute("CREATE TABLE mb (k INTEGER, batch INTEGER)")
        con.executemany("INSERT INTO mb VALUES (?, ?)", sorted(run.batch_of.items()))
        con.execute(f"""
            CREATE TABLE bronze AS
            WITH e AS (SELECT ev.*, mb.batch FROM ev JOIN mb USING (k)),
            w AS (SELECT b.batch, coalesce((SELECT max(ts_us) FROM e WHERE e.batch < b.batch - 1), 0) - {DELAY_US} AS wm
                  FROM (SELECT DISTINCT batch FROM e) b)
            SELECT * EXCLUDE (rn) FROM (
              SELECT e.*, row_number() OVER (PARTITION BY event_id ORDER BY e.batch) AS rn
              FROM e JOIN w USING (batch) WHERE e.ts_us > w.wm)
            WHERE rn = 1
        """)
        expected_from_bronze(con)
        con.execute("CREATE TABLE exp_ids AS SELECT DISTINCT event_id FROM bronze")
        table, key, attr, sk = DIM
        gold = run.root / "lake" / "gold"
        mism = {
            table: mismatches(con, table, f"SELECT {sk}, {key}, {attr} FROM read_parquet('{gold / table}/*.parquet')"),
            "event_ids": mismatches(con, "ids", f"SELECT event_id FROM read_parquet('{run.ids}/*.parquet')"),
        }
        (lost,) = con.execute(
            "SELECT count(DISTINCT event_id) FROM ev WHERE event_id NOT IN (SELECT event_id FROM act_ids)"
        ).fetchone()
        (dim_rows,) = con.execute(f"SELECT count(*) FROM act_{table}").fetchone()
        return {"mismatches": mism, "rows_lost": lost, "dim_rows": dim_rows,
                "committed": len(run.committed), "arrivals": n_arrivals}
    finally:
        con.close()


# -- workload entry points -------------------------------------------------------------

def _session_conf(spark) -> None:
    # A micro-batch per arrival, none for watermark-only progress.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")


def warmup(spark, work: Path, seed: int, tracer) -> None:
    """Two micro-batches on tiny arrivals: the first builds the dimension,
    the second upserts into it, so both paths are compiled."""
    _session_conf(spark)
    arrivals, _ = cdc_arrivals(seed + 1_000_003, WARMUP_SPEC)
    root = work / "warmup-stream"
    run = StreamRun(spark, root, tracer)
    run.land(0, arrivals[0])
    run.start()
    try:
        for k in range(1, len(arrivals) + 1):
            for q in run.queries:
                q.processAllAvailable()
            if k < len(arrivals):
                run.land(k, arrivals[k])
    finally:
        run.drain_and_stop()
    shutil.rmtree(root, ignore_errors=True)


def measure(spark, work: Path, seed: int, seconds: float, tracer, traced: bool) -> dict:
    _session_conf(spark)
    n = 1 + int(seconds // INTERVAL_S)
    arrivals, planted = cdc_arrivals(seed, dataclasses.replace(SPEC, arrivals=n))
    progress: list[dict] = []
    trace_from = n // 2 if traced else None
    if traced:
        tracer.enabled = False  # the first half is the untraced baseline
    res = run_stream(spark, work / "stream", arrivals, tracer, trace_from, progress)
    chk = check_stream(res["run"], n)
    bad = sum(chk["mismatches"].values()) > 0 or chk["committed"] != n
    lat = res["latencies"]
    # Engine time, not the schedule (the generator fixes the run's wall):
    # new rows over foreachBatch time, the median over micro-batches.
    applies = res["run"].applies
    rates = [sum(planted["arrivals"][k]["new"] for k in ks) / dt for ks, dt in applies]
    return {
        "latencies": [lat[k] for k in sorted(lat)],
        "untraced": [lat[k] for k in sorted(lat) if trace_from is not None and k < trace_from],
        "traced_lat": [lat[k] for k in sorted(lat) if trace_from is not None and k >= trace_from],
        "attempted": n,
        "failed": n if bad else 0,
        "checks": [chk],
        "planted": planted,
        "rows_per_s": statistics.median(rates),
        "apply_s": [dt for _, dt in applies],
        "backlog_end": res["backlog_end"],
        "generator_late_max_s": res["generator_late_max_s"],
        "progress": progress,
        "rows_lost": chk["rows_lost"],
        "trace_n": n - trace_from if trace_from is not None else 0,
    }


def _progress_metrics(progress: list[dict]) -> dict:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        return {}

    def mean_duration(key: str) -> float:
        return statistics.mean(p["durationMs"].get(key, 0) for p in data)

    last_state: dict[str, list[dict]] = {}
    for p in data:
        if p.get("stateOperators"):
            last_state[p["id"]] = p["stateOperators"]
    ops = [op for ops in last_state.values() for op in ops]
    commit = [sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])) for p in data]
    return {
        "stream.batches": len(data),
        "stream.trigger_ms": mean_duration("triggerExecution"),
        "stream.add_batch_ms": mean_duration("addBatch"),
        "stream.query_planning_ms": mean_duration("queryPlanning"),
        "stream.wal_commit_ms": mean_duration("walCommit"),
        "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "stream.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
        "stream.state_commit_ms": statistics.mean(commit),
        "stream.state_stores": sum(op.get("numShufflePartitions", 0) for op in ops),
    }


def report(res: dict, setup: dict, rss: float, counters: dict, tracer) -> dict:
    from harness import END_TO_END, PER_LAYER, counter_values, latency_summary, metric_block

    lat = latency_summary(res["latencies"])
    e2e = metric_block(END_TO_END, {
        "setup_s": setup["setup_s"],
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "rows_per_s": res["rows_per_s"],
        "peak_rss_mb": rss,
    })
    chk = res["checks"][-1]
    layer = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "watermark.rows_lost": res["rows_lost"],
        "scd.dim_rows": chk["dim_rows"],
        "stream.backlog_end": res["backlog_end"],
    }
    if res["trace_n"]:
        layer.update(_progress_metrics(res["progress"]))
        layer["trace.overhead_s"] = statistics.median(res["traced_lat"]) - statistics.median(res["untraced"])
        layer.update(counter_values(counters, res["trace_n"]))
    return {
        "end_to_end": e2e,
        "per_layer": metric_block(PER_LAYER, layer),
        "latency": lat,
        "interval_s": INTERVAL_S,
        "generator_late_max_s": res["generator_late_max_s"],
        "planted": res["planted"],
        "checks": res["checks"],
        "progress": res["progress"],
        "outcomes": {
            "rows_lost": {"value": res["rows_lost"], "unit": "count"},
            "backlog_end": {"value": res["backlog_end"], "unit": "count"},
            "error_rate": {"value": res["failed"] / res["attempted"], "unit": "ratio"},
        },
    }
