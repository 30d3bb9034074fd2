"""Self-tests of the benchmark itself (not of the engine):

- a smoke run of every workload at tiny size, plain and traced, checking
  the result is correct and every catalog metric is reported;
- seed determinism: the same seed gives byte-identical inputs, another
  seed different ones;
- the correctness gates trip on deliberately corrupted gold tables.

    python3 perfbench/selftest.py

Exits non-zero on the first failure.
"""

from __future__ import annotations

import filecmp
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402


def check(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        raise SystemExit(1)


def largest_part(table_dir: Path) -> Path:
    """The table's part file with the most rows (Spark may write empty ones)."""
    import pyarrow.parquet as pq

    return max(table_dir.glob("*.parquet"), key=lambda p: pq.read_metadata(p).num_rows)


def determinism(work: Path) -> None:
    import gen

    for name, write, spec in (
        ("cdc", gen.write_cdc, gen.CdcSpec(arrivals=3, rows=200)),
        ("curation", gen.write_curation, gen.CurationSpec(docs=50, vectors=60)),
    ):
        a, b, c = (work / f"det-{name}-{i}" for i in range(3))
        write(str(a), 7, spec)
        write(str(b), 7, spec)
        write(str(c), 8, spec)
        files = sorted(p.name for p in a.iterdir())
        same = filecmp.cmpfiles(a, b, files, shallow=False)[0]
        check(same == files, f"{name}: seed 7 twice gives byte-identical files")
        differ = filecmp.cmpfiles(a, c, files, shallow=False)[1]
        check(bool(differ), f"{name}: seeds 7 and 8 give different files")


def smoke(spark, work: Path) -> None:
    import cdc
    import curation
    import stream
    from gen import CdcSpec, CurationSpec

    cdc.SPEC = CdcSpec(arrivals=2, rows=100)
    curation.SPEC = CurationSpec(docs=60, vectors=80, queries=10, query_lo=20)
    stream.SPEC = CdcSpec(rows=100)
    setup = {"setup_s": 1.0, "start_s": 0.5, "warmup_s": 0.5}
    for mod, seconds in ((cdc, 0), (curation, 0), (stream, 2 * stream.INTERVAL_S)):
        name = mod.__name__
        for traced in (False, True):
            tracer = harness.Tracer(spark, traced)
            res = mod.measure(spark, work / f"smoke-{name}-{traced}", 3, seconds, tracer, traced)
            rep = mod.report(res, setup, harness.peak_rss_mb(spark), tracer.layer_counters(), tracer)
            check(res["failed"] == 0 and res["attempted"] > 0, f"{name} traced={traced}: correct")
            block = rep["per_layer" if traced else "end_to_end"]
            catalog = harness.PER_LAYER if traced else harness.END_TO_END
            check(set(block) == set(catalog), f"{name} traced={traced}: every metric reported")
            if not traced:
                check(all(m["value"] > 0 for m in block.values()), f"{name}: end-to-end metrics are non-zero")


def corrupted_gold(spark, work: Path) -> None:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import cdc
    import curation
    from gen import CdcSpec, CurationSpec, cdc_arrivals, write_curation

    arrivals, _ = cdc_arrivals(5, CdcSpec(arrivals=2, rows=100))
    res = cdc.run_cycle(spark, arrivals, work / "gate-cdc", harness.Tracer(spark, False), None)
    gold, landing = res["lake"].lake / "gold", res["lake"].landing
    check(sum(cdc.check_gold(gold, landing, 2)["mismatches"].values()) == 0, "cdc gate passes on true gold")
    dim = largest_part(gold / "dim_user")
    t = pq.read_table(dim)
    pq.write_table(t.set_column(t.schema.get_field_index("tier"), "tier", pc.utf8_upper(t.column("tier"))), dim)
    check(cdc.check_gold(gold, landing, 2)["mismatches"]["dim_user"] > 0, "cdc gate trips on a corrupted dimension")
    fact = largest_part(gold / "fact_events")
    pq.write_table(pq.read_table(fact).slice(1), fact)
    check(cdc.check_gold(gold, landing, 2)["mismatches"]["fact"] > 0, "cdc gate trips on a fact missing a row")

    data = work / "gate-corpus"
    write_curation(str(data), 5, CurationSpec(docs=60, vectors=80, queries=10, query_lo=20))
    got = curation.fused_pass(spark, data)
    con = curation.duck_for(data)
    expected = curation.oracle_rows(con)
    check(not any(curation.check_pass(expected, got).values()), "curation gate passes on true results")
    cols, rows = got["corpus_curation"]
    i = cols.index("n_docs")
    got["corpus_curation"] = (cols, [tuple(v + 1 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:])
    check(curation.check_pass(expected, got)["corpus_curation"] > 0, "curation gate trips on a corrupted result")
    con.close()


def main() -> int:
    work = harness.prepare_process("selftest")
    try:
        determinism(work)
        spark = harness.start_session(work)
        corrupted_gold(spark, work)
        smoke(spark, work)
    finally:
        try:
            harness.stop_processes()
        finally:
            harness.cleanup(work)
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
