"""``cdc_medallion``: the paper's watermark-CDC medallion loop, closed loop
with one caller.

A cycle starts from an empty lake. For each arrival k the generator lands
one parquet file in the source directory, then one open-window batch runs
bronze (watermark extract + replay-safe day-partitioned sink) -> silver
(full rewrite) -> the two SCD1 dimensions -> the fact. Arrival k+1 lands
only after the fact commits. Cycles repeat until the time budget is spent;
every completed cycle is checked against a DuckDB recomputation.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import time
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from gen import DAY_US, T0_US, WORKLOAD_SPECS, arrival_name, cdc_arrivals, write_parquet

SPEC = WORKLOAD_SPECS["cdc_medallion"]
INITIAL_WM = datetime.datetime(2023, 12, 31)
INITIAL_WM_US = T0_US - DAY_US
DIMS = (
    ("dim_user", "user_id", "tier", "dim_user_key"),
    ("dim_event_type", "event_type", "channel", "dim_event_type_key"),
)
FACT_COLS = ("event_id", "ts", "value")
# One batch takes about this long on 4 cores at the seed; it sets how many
# cycles fill a run of the requested length.
NOMINAL_BATCH_S = 3.5


def silver_transform(bronze):
    """Silver: the event columns plus the two dimension attributes parsed
    from ``props`` (the day partition column of bronze is dropped)."""
    from pyspark.sql import functions as F

    return bronze.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.get_json_object("props", "$.tier").alias("tier"),
        F.get_json_object("props", "$.channel").alias("channel"),
    )


def latest_per_key(silver, key: str, attr: str):
    """SCD1 source: one row per natural key, carrying the attribute of the
    key's latest event (by ts, then event_id)."""
    from pyspark.sql import functions as F

    return silver.groupBy(key).agg(
        F.max_by(attr, F.struct("ts", "event_id")).alias(attr)
    )


class Lake:
    """One cycle's directories: the landing source and the medallion lake."""

    def __init__(self, root: Path):
        self.root = root
        self.src = root / "src"
        self.landing = self.src / "events.parquet"
        self.lake = root / "lake"
        self.landing.mkdir(parents=True)

    def land(self, k: int, table: pa.Table) -> int:
        path = self.landing / arrival_name(k)
        write_parquet(table, str(path))
        return os.path.getsize(path)


def run_batch(spark, pipe, lake: Lake, tracer) -> int:
    """One open-window batch, bronze -> silver -> dims -> fact. Returns
    rows delivered to bronze."""
    from incremental_data_pipeline_spark.sources.readers import load_table

    # A fresh scan per batch: a DataFrame lists its files once.
    source = load_table(spark, str(lake.src), "events")
    with tracer.span("medallion.bronze", "watermark"):
        delivered = pipe.ingest_bronze(
            source, "events", "ts", ["event_id"], INITIAL_WM, None,
            count_rows=True, partition_daily=True, partition_granularity="day",
        )
    with tracer.span("medallion.silver", "sinks"):
        silver = pipe.build_silver("events", silver_transform)
    dims = {}
    for table, key, attr, sk in DIMS:
        with tracer.span("medallion.dim", "scd", table=table):
            dim = pipe.build_gold_dim(table, latest_per_key(silver, key, attr), [key], [attr], sk)
        dims[sk] = (dim, {key: key})
    with tracer.span("medallion.fact", "scd"):
        pipe.build_gold_fact("fact_events", silver, dims, list(FACT_COLS))
    return delivered


def run_cycle(spark, arrivals: list[pa.Table], root: Path, tracer, trace_detail: dict | None) -> dict:
    """Land and process every arrival once, from an empty lake."""
    from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline

    lake = Lake(root)
    pipe = MedallionPipeline(spark, str(lake.lake))
    latencies, rates, delivered, source_bytes, fact_rows = [], [], 0, 0, 0
    if trace_detail is not None:
        trace_detail["_dims"] = None  # every dimension row is new in batch 0
    t_start = time.perf_counter()
    for k, table in enumerate(arrivals):
        arrival_bytes = lake.land(k, table)
        source_bytes += arrival_bytes
        t_land = time.perf_counter()
        before = _lake_files(lake.lake) if trace_detail is not None else None
        with tracer.span("medallion.batch", "medallion", k=k):
            delivered += run_batch(spark, pipe, lake, tracer)
        latencies.append(time.perf_counter() - t_land)
        # Rows this batch added to the fact, from the parquet footers.
        committed = sum(pq.read_metadata(f).num_rows for f in (lake.lake / "gold" / "fact_events").glob("*.parquet"))
        rates.append((committed - fact_rows) / latencies[-1])
        fact_rows = committed
        if trace_detail is not None:
            _record_batch_io(trace_detail, lake, before, arrival_bytes)
    wall = time.perf_counter() - t_start
    if trace_detail is not None:
        on_disk = sum(size for _, _, size in _lake_files(lake.lake))
        trace_detail.setdefault("space_amp", []).append(on_disk / source_bytes)
    return {"latencies": latencies, "rates": rates, "wall": wall, "delivered": delivered, "lake": lake}


def _lake_files(path: Path) -> set[tuple[str, int, int]]:
    out = set()
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(root, n))
                out.add((os.path.join(root, n), st.st_ino, st.st_size))
    return out


def _record_batch_io(detail: dict, lake: Lake, before: set, arrival_bytes: int) -> None:
    new = _lake_files(lake.lake) - before
    written = sum(size for _, _, size in new)
    detail["bytes_written"] = detail.get("bytes_written", 0) + written
    detail["files_written"] = detail.get("files_written", 0) + len(new)
    detail["arrival_bytes"] = detail.get("arrival_bytes", 0) + arrival_bytes
    dims = [_read_dim(lake, t) for t, *_ in DIMS]
    prev = detail.get("_dims")
    changed = 0
    for i, cur in enumerate(dims):
        old = prev[i] if prev else set()
        changed += len(cur - old)
    detail["_dims"] = dims
    detail["dim_rows_changed"] = detail.get("dim_rows_changed", 0) + changed


def _read_dim(lake: Lake, table: str) -> set[tuple]:
    t = pq.read_table(str(lake.lake / "gold" / table))
    return set(zip(*[t.column(i).to_pylist() for i in range(t.num_columns)]))


# -- oracle ----------------------------------------------------------------------

def load_arrivals(con: duckdb.DuckDBPyConnection, landing: Path, n_arrivals: int) -> None:
    """Table ``ev``: every landed row with its arrival index ``k``."""
    files = [str(landing / arrival_name(k)) for k in range(n_arrivals)]
    con.execute(
        "CREATE OR REPLACE TABLE ev AS SELECT *, epoch_us(ts) AS ts_us, "
        "CAST(regexp_extract(filename, 'arrival-([0-9]+)', 1) AS INTEGER) AS k "
        f"FROM read_parquet({files!r}, filename = true)"
    )


def expected_from_bronze(con: duckdb.DuckDBPyConnection) -> None:
    """Gold recomputed from table ``bronze`` (delivered rows, one per
    ``event_id``, with the index ``batch`` of the batch that delivered
    them): each dimension keeps the attribute of its key's latest event
    and numbers keys densely in order of (first batch, natural key); the
    fact is bronze left-joined to both dimensions."""
    for table, key, attr, sk in DIMS:
        con.execute(f"""
            CREATE OR REPLACE TABLE exp_{table} AS
            WITH s AS (
              SELECT {key}, json_extract_string(props, '$.{attr}') AS {attr},
                     row_number() OVER (PARTITION BY {key} ORDER BY ts_us DESC, event_id DESC) AS rn,
                     min(batch) OVER (PARTITION BY {key}) AS first_batch
              FROM bronze)
            SELECT CAST(row_number() OVER (ORDER BY first_batch, {key}) AS BIGINT) AS {sk}, {key}, {attr}
            FROM s WHERE rn = 1
        """)
    con.execute("""
        CREATE OR REPLACE TABLE exp_fact AS
        SELECT b.event_id, b.ts_us, b.value, u.dim_user_key, t.dim_event_type_key
        FROM bronze b
        LEFT JOIN exp_dim_user u USING (user_id)
        LEFT JOIN exp_dim_event_type t USING (event_type)
    """)


def expected_gold(con: duckdb.DuckDBPyConnection, landing: Path, n_arrivals: int) -> None:
    """Recompute gold under the engine's documented open-window contract.

    Batch k reads every landed row with ``ts > wm`` (the watermark before
    the batch) and moves the watermark to the largest ``ts`` it delivered;
    a row landed with ``ts <= wm`` is never delivered. Bronze is the union
    of delivered rows keyed on ``event_id``."""
    load_arrivals(con, landing, n_arrivals)
    wm, wms = INITIAL_WM_US, []
    for k in range(n_arrivals):
        wms.append((k, wm))
        (m,) = con.execute("SELECT max(ts_us) FROM ev WHERE k <= ? AND ts_us > ?", [k, wm]).fetchone()
        if m is not None:
            wm = m
    con.execute("CREATE OR REPLACE TABLE wms (k INTEGER, wm BIGINT)")
    con.executemany("INSERT INTO wms VALUES (?, ?)", wms)
    con.execute("""
        CREATE OR REPLACE TABLE bronze AS
        SELECT * EXCLUDE (rn) FROM (
          SELECT e.*, e.k AS batch, row_number() OVER (PARTITION BY event_id ORDER BY e.k) AS rn
          FROM ev e JOIN wms w ON e.k = w.k WHERE e.ts_us > w.wm)
        WHERE rn = 1
    """)
    expected_from_bronze(con)


def mismatches(con: duckdb.DuckDBPyConnection, name: str, actual_sql: str) -> int:
    """Rows in ``act_<name>`` (loaded from ``actual_sql``) and ``exp_<name>``
    that the other table lacks, counted as multisets."""
    con.execute(f"CREATE OR REPLACE TABLE act_{name} AS {actual_sql}")
    (n,) = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM act_{name} EXCEPT ALL SELECT * FROM exp_{name})) + "
        f"(SELECT count(*) FROM (SELECT * FROM exp_{name} EXCEPT ALL SELECT * FROM act_{name}))"
    ).fetchone()
    return n


def check_gold(lake_gold: Path, landing: Path, n_arrivals: int) -> dict:
    """Compare the engine's gold tables with the recomputation. Returns
    mismatch counts per table and the generated ids missing from gold."""
    con = duckdb.connect()
    try:
        expected_gold(con, landing, n_arrivals)
        mism = {}
        actual = {
            "fact": f"SELECT event_id, epoch_us(ts) AS ts_us, value, dim_user_key, dim_event_type_key "
                    f"FROM read_parquet('{lake_gold / 'fact_events'}/*.parquet')",
        }
        for table, key, attr, sk in DIMS:
            actual[table] = f"SELECT {sk}, {key}, {attr} FROM read_parquet('{lake_gold / table}/*.parquet')"
        for name, sql in actual.items():
            mism[name] = mismatches(con, name, sql)
        (lost,) = con.execute(
            "SELECT count(DISTINCT event_id) FROM ev WHERE event_id NOT IN (SELECT event_id FROM act_fact)"
        ).fetchone()
        (skipped,) = con.execute(
            "SELECT count(*) FROM ev e JOIN wms w ON e.k = w.k WHERE e.ts_us <= w.wm"
        ).fetchone()
        (fact_rows,) = con.execute("SELECT count(*) FROM act_fact").fetchone()
        (dim_rows,) = con.execute(
            "SELECT (SELECT count(*) FROM act_dim_user) + (SELECT count(*) FROM act_dim_event_type)"
        ).fetchone()
        return {"mismatches": mism, "rows_lost": lost, "rows_skipped": skipped,
                "fact_rows": fact_rows, "dim_rows": dim_rows}
    finally:
        con.close()


# -- workload entry points ---------------------------------------------------------

def warmup(spark, work: Path, seed: int, tracer) -> None:
    """One full-size cycle from another seed. Batch times keep falling over
    the first cycles (JIT); a small cycle leaves the measured one still
    warming, and its median then depends on when compilation lands."""
    arrivals, _ = cdc_arrivals(seed + 1_000_003, SPEC)
    root = work / "warmup-cdc"
    run_cycle(spark, arrivals, root, tracer, None)
    shutil.rmtree(root, ignore_errors=True)


def measure(spark, work: Path, seed: int, seconds: float, tracer, traced: bool) -> dict:
    from harness import reset_session_state

    arrivals, planted = cdc_arrivals(seed, SPEC)
    latencies, walls, rates = [], [], []
    attempted = failed = 0
    detail: dict | None = {} if traced else None
    checks = []
    # The whole cycles that fit the run length at the nominal rate (at
    # least one), so every run does the same work; a traced run adds its
    # untraced baseline cycle.
    cycles = max(1, int(seconds // (NOMINAL_BATCH_S * len(arrivals)))) + traced
    untraced: list[float] = []
    for cycle in range(cycles):
        reset_session_state(spark)
        root = work / f"cdc-cycle-{cycle}"
        if traced and cycle == 0:
            # Baseline cycle with tracing off, for the trace overhead.
            with tracer.suspended():
                res = run_cycle(spark, arrivals, root, tracer, None)
            untraced = res["latencies"]
        else:
            res = run_cycle(spark, arrivals, root, tracer, detail)
        latencies += res["latencies"]
        walls.append(res["wall"])
        rates += res["rates"]
        attempted += len(arrivals)
        chk = check_gold(res["lake"].lake / "gold", res["lake"].landing, len(arrivals))
        chk["delivered"] = res["delivered"]
        bad = sum(chk["mismatches"].values())
        if bad:
            failed += len(arrivals)
        checks.append(chk)
        shutil.rmtree(root, ignore_errors=True)
    last = checks[-1]
    return {
        "latencies": latencies,
        "walls": walls,
        "rows_per_s": statistics.median(rates),
        "attempted": attempted,
        "failed": failed,
        "checks": checks,
        "planted": planted,
        "rows_lost": last["rows_lost"],
        "detail": detail,
        "untraced": untraced,
        "traced_n": len(latencies) - len(untraced),
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
    last = res["checks"][-1]
    layer = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "watermark.rows_lost": last["rows_lost"],
        "watermark.rows_skipped": last["rows_skipped"],
        "watermark.rows_delivered": last["delivered"],
        "scd.dim_rows": last["dim_rows"],
        "scd.fact_rows": last["fact_rows"],
    }
    d = res["detail"]
    if d:
        n = res["traced_n"]
        spans = {name: tracer.total(name) / n for name in
                 ("medallion.batch", "medallion.bronze", "medallion.silver", "medallion.dim", "medallion.fact")}
        cycles = len(d["space_amp"])
        layer.update({
            "watermark.batch_s": spans["medallion.bronze"],
            "medallion.batch_s": spans["medallion.batch"],
            "medallion.bronze_s": spans["medallion.bronze"],
            "medallion.silver_s": spans["medallion.silver"],
            "medallion.dim_s": spans["medallion.dim"],
            "medallion.fact_s": spans["medallion.fact"],
            "medallion.uncovered_s": spans["medallion.batch"] - sum(
                v for k, v in spans.items() if k != "medallion.batch"),
            "sinks.bytes_written": d["bytes_written"] / n,
            "sinks.files_written": d["files_written"] / n,
            "sinks.write_amp": d["bytes_written"] / d["arrival_bytes"],
            "sinks.space_amp": statistics.median(d["space_amp"]),
            "scd.dim_rows_changed": d["dim_rows_changed"] / cycles,
            "trace.overhead_s": statistics.median(res["latencies"][len(res["untraced"]):])
            - statistics.median(res["untraced"]),
        })
        layer.update(counter_values(counters, n))
    return {
        "end_to_end": e2e,
        "per_layer": metric_block(PER_LAYER, layer),
        "latency": lat,
        "planted": res["planted"],
        "checks": res["checks"],
        "outcomes": {
            "rows_lost": {"value": last["rows_lost"], "unit": "count"},
            "error_rate": {"value": res["failed"] / res["attempted"], "unit": "ratio"},
        },
    }
