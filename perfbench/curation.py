"""``llm_curation``: one corpus, input to complete result.

A pass copies the generated ``documents`` and ``embeddings`` into a fresh
directory (so no scan or codebook cache carries over between passes) and
runs the curation chain:

- plain run: the registry queries ``corpus_curation`` (text filters, exact
  dedup, MinHash-LSH, connected components) and ``ann_ivf_index_persisted``
  (IVF build -> persist -> probe), each collected as one fused plan;
- traced run: the same registry queries, with each operator they call
  wrapped so that its result is cached and forced on its own (``noop``
  sink) inside a span, so its time and Spark counters belong to one layer.
  It then probes the persisted index for the top 10 of a query window, for
  recall against brute force, and scores near-duplicate recall.

Every pass is checked against the registry's DuckDB ``ORACLE`` SQL over the
same directory. ``semantic_dedup_emb`` is not run: its DuckDB oracle alone
takes 10-30 s, more than a run can spend on its check.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import shutil
import statistics
import time
from pathlib import Path

import duckdb

from gen import WORKLOAD_SPECS, CurationSpec, write_curation

SPEC = WORKLOAD_SPECS["llm_curation"]
# A full-size warm-up pass would add 3-5 s to every set-up and still
# leave the first measured pass the slowest, so the warm-up stays small.
WARMUP_SPEC = CurationSpec(docs=60, vectors=80, queries=10, query_lo=20)
REGISTRY = ("corpus_curation", "ann_ivf_index_persisted")
ANN_K = 10
# One warm fused pass takes about this long on 4 cores at the seed; it sets
# how many passes fill a run of the requested length. The first passes after
# the warm-up are still getting faster (JIT), so a run needs three of them
# for its median to sit on a warm one.
NOMINAL_PASS_S = 4.0


# -- plain pass: the fused registry chain ------------------------------------------

def fused_pass(spark, data: Path) -> dict:
    from incremental_data_pipeline_spark.plans.queries import QUERIES

    out = {}
    for name in REGISTRY:
        df = QUERIES[name](spark, str(data))
        out[name] = (df.columns, [tuple(r) for r in df.collect()])
    return out


# -- traced pass: the same registry chain, one forced stage per span ------------------

# The operator functions the two registry queries call, with the span each
# call is recorded under. ``plans.queries`` looks them up on their modules
# at call time, so replacing the module attribute traces the registry's own
# chain. ``centroid_codebook`` is reached through the registry's codebook
# memo, which misses on every pass (each pass reads a fresh directory).
TRACED_CALLS = (
    ("text", "quality_score", "text.filter"),
    ("text", "gopher_repetition_filter", "text.filter"),
    ("dedup", "exact_dedup", "dedup.exact"),
    ("dedup", "lsh_candidate_pairs", "dedup.lsh"),
    ("dedup", "duplicate_clusters", "dedup.cc"),
    ("similarity", "centroid_codebook", "similarity.ivf_build"),
    ("similarity", "ivf_index_build", "similarity.ivf_build"),
    ("similarity", "ivf_index_upsert", "similarity.ivf_persist"),
    ("similarity", "ivf_index_probe", "similarity.ivf_probe"),
)


@contextlib.contextmanager
def traced_operators(tracer, calls: dict):
    """Trace every call in ``TRACED_CALLS`` for the duration of the block.

    A span covers the call and, when it returns a DataFrame, that
    DataFrame cached and forced through the ``noop`` sink, so the stage's
    jobs run inside its own span and the registry's next stage reads the
    cache. ``calls`` receives each function's last (arguments by name,
    result)."""
    from pyspark.sql import DataFrame

    patched, cached = [], []

    def traced(fn, span: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span(span, span.split(".")[0], call=fn.__name__):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.cache()
                    cached.append(out)
                    out.write.format("noop").mode("overwrite").save()
            bound = inspect.signature(fn).bind(*args, **kwargs)
            bound.apply_defaults()
            calls[fn.__name__] = (bound.arguments, out)
            return out

        return call

    try:
        for module, name, span in TRACED_CALLS:
            mod = importlib.import_module(f"incremental_data_pipeline_spark.operators.{module}")
            patched.append((mod, name, getattr(mod, name)))
            setattr(mod, name, traced(getattr(mod, name), span))
        yield
    finally:
        for mod, name, fn in patched:
            setattr(mod, name, fn)
        for df in cached:
            df.unpersist()


def staged_pass(spark, data: Path, spec: CurationSpec, tracer) -> dict:
    """The registry queries with every operator stage traced. Returns the
    same results as ``fused_pass`` plus what the per-layer metrics read
    from the stages' outputs."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table

    calls: dict[str, tuple] = {}
    with traced_operators(tracer, calls):
        out = fused_pass(spark, data)
        missing = sorted({name for _, name, _ in TRACED_CALLS} - set(calls))
        if missing:
            raise RuntimeError(f"the registry queries no longer call {missing}; update TRACED_CALLS")
        docs = calls["quality_score"][0]["df"]
        surv = calls["exact_dedup"][0]["df"]
        out["counts"] = {"docs_in": docs.count(), "docs_kept": surv.count()}
        out["candidate_pairs"] = [tuple(r) for r in calls["lsh_candidate_pairs"][1].collect()]
        out["clusters"] = [tuple(r) for r in calls["duplicate_clusters"][1].select("doc_id", "cluster_id").collect()]

    # Top 10 of the recall window from the index the registry query built.
    probe = calls["ivf_index_probe"][0]
    path, codebook, nprobe = probe["path"], probe["centroids"], probe["nprobe"]
    emb = load_table(spark, str(data), "embeddings")
    q10 = emb.filter((F.col("vec_id") >= spec.query_lo) & (F.col("vec_id") < spec.query_lo + spec.queries))
    top = sim.ivf_index_probe(spark, path, q10, codebook, k=ANN_K, nprobe=nprobe)
    out["ivf_top10"] = [tuple(r) for r in top.select("query_id", "neighbor_id").collect()]
    out["scored_per_query"] = scored_per_query(path, codebook, q10, nprobe)
    return out


# -- oracle ---------------------------------------------------------------------------

def _canon(v):
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr), sorted(cols)


def duck_for(data: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / (t + '.parquet')}')")
    return con


def oracle_rows(con) -> dict[str, tuple]:
    """Each registry query's ``ORACLE`` SQL run by DuckDB, normalized."""
    from incremental_data_pipeline_spark.plans.queries import ORACLE

    out = {}
    for name in REGISTRY:
        res = con.execute(ORACLE[name])
        out[name] = _normalize([d[0] for d in res.description], res.fetchall())
    return out


def check_pass(expected: dict[str, tuple], got: dict) -> dict[str, int]:
    """Mismatched rows per registry query (0 everywhere when correct)."""
    mism = {}
    for name in REGISTRY:
        s, sc = _normalize(*got[name])
        d, dc = expected[name]
        if sc != dc or len(s) != len(d):
            mism[name] = max(len(s), len(d), 1)
        else:
            mism[name] = sum(1 for a, b in zip(s, d) if a != b)
    return mism


def exact_top10(con, spec: CurationSpec) -> set[tuple[int, int]]:
    """Brute-force cosine top-10 (self excluded) over the raw vectors."""
    rows = con.execute(f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                   WHERE vec_id >= {spec.query_lo} AND vec_id < {spec.query_lo + spec.queries}),
        s AS (SELECT query_id, vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qv, embedding) DESC, vec_id) AS rnk
              FROM q, embeddings WHERE vec_id != query_id)
        SELECT query_id, neighbor_id FROM s WHERE rnk <= {ANN_K}
    """).fetchall()
    return set(rows)


def scored_per_query(index: str, codebook, queries, nprobe: int) -> float:
    """Index rows a probe scores per query: the sizes of each query's
    ``nprobe`` best cells (ranked as the engine ranks them, by cosine to
    the quantized centroids), read from the persisted index layout."""
    import numpy as np
    import pyarrow.dataset as ds

    cells = ds.dataset(index, format="parquet", partitioning="hive").to_table(columns=["cell"])
    size = dict(zip(*np.unique(cells.column("cell").to_numpy(), return_counts=True)))
    cent = np.array([v for _, v in codebook], dtype=float)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    ids = [c for c, _ in codebook]
    q = np.array([r[0] for r in queries.select("embedding").collect()], dtype=float)
    best = np.argsort(-(q @ cent.T), axis=1)[:, :nprobe]
    return float(np.mean([sum(size.get(ids[j], 0) for j in row) for row in best]))


def dup_recall(clusters: list[tuple], near_pairs) -> float:
    """Share of planted near-duplicate pairs, both of whose documents
    reach clustering, that end in one cluster."""
    label = dict(clusters)
    pairs = [(a, b) for a, b in near_pairs if a in label and b in label]
    return sum(label[a] == label[b] for a, b in pairs) / len(pairs) if pairs else 0.0


def pair_precision(pairs: list[tuple], planted: dict) -> float:
    """Candidate pairs that join planted duplicates of one base document."""
    group = {}
    for a, b in planted["exact_pairs"] + planted["near_pairs"]:
        group[b] = group.get(a, a)
        group.setdefault(a, a)
    true = sum(1 for a, b in pairs if a in group and b in group and group[a] == group[b])
    return true / len(pairs) if pairs else 0.0


# -- workload entry points -------------------------------------------------------------

def _fresh_copy(src: Path, dst: Path) -> Path:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


def warmup(spark, work: Path, seed: int, tracer) -> None:
    src = work / "warmup-corpus"
    write_curation(str(src), seed + 1_000_003, WARMUP_SPEC)
    fused_pass(spark, src)
    shutil.rmtree(src, ignore_errors=True)


def measure(spark, work: Path, seed: int, seconds: float, tracer, traced: bool) -> dict:
    from harness import reset_session_state

    src = work / "corpus"
    planted = write_curation(str(src), seed, SPEC)
    con = duck_for(src)
    walls, untraced, checks = [], [], []
    attempted = failed = 0
    last = None
    expected = oracle_rows(con)
    # The whole passes that fit the run length at the nominal rate (at
    # least one), so every run does the same work; a traced run adds its
    # untraced baseline pass.
    passes = max(1, int(seconds // NOMINAL_PASS_S)) + traced
    for i in range(passes):
        reset_session_state(spark)
        data = _fresh_copy(src, work / f"pass-{i}")
        t0 = time.perf_counter()
        if traced and i > 0:
            got = staged_pass(spark, data, SPEC, tracer)
        else:
            got = fused_pass(spark, data)
        wall = time.perf_counter() - t0
        if traced and i == 0:
            untraced.append(wall)  # baseline pass with tracing off
        else:
            walls.append(wall)
        mism = check_pass(expected, got)
        attempted += 1
        failed += any(mism.values())
        checks.append(mism)
        last = got
        shutil.rmtree(data, ignore_errors=True)
    quality = {}
    if traced:
        exact = exact_top10(con, SPEC)
        quality = {
            "dup_recall": dup_recall(last["clusters"], planted["near_pairs"]),
            "ann_recall_at_10": len(exact & set(last["ivf_top10"])) / len(exact),
            "pair_precision": pair_precision(last["candidate_pairs"], planted),
        }
    con.close()
    return {
        "walls": walls or untraced,
        "untraced": untraced,
        "attempted": attempted,
        "failed": failed,
        "checks": checks,
        "planted": {k: v for k, v in planted.items() if not k.endswith("_pairs")},
        **quality,
        "last": last,
        "documents": planted["documents"],
    }


def report(res: dict, setup: dict, rss: float, counters: dict, tracer) -> dict:
    from harness import END_TO_END, PER_LAYER, counter_values, latency_summary, metric_block

    lat = latency_summary(res["walls"])
    e2e = metric_block(END_TO_END, {
        "setup_s": setup["setup_s"],
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "rows_per_s": res["documents"] / lat["p50"],
        "peak_rss_mb": rss,
    })
    layer = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
    }
    outcomes = {"error_rate": {"value": res["failed"] / res["attempted"], "unit": "ratio"}}
    if res["untraced"]:
        n = len(res["walls"])
        counts = res["last"]["counts"]
        layer.update({
            "text.filter_s": tracer.total("text.filter") / n,
            "text.docs_in": counts["docs_in"],
            "text.docs_kept": counts["docs_kept"],
            "dedup.exact_s": tracer.total("dedup.exact") / n,
            "dedup.lsh_s": tracer.total("dedup.lsh") / n,
            "dedup.cc_s": tracer.total("dedup.cc") / n,
            "dedup.candidate_pairs": len(res["last"]["candidate_pairs"]),
            "dedup.pair_precision": res["pair_precision"],
            "dedup.dup_recall": res["dup_recall"],
            "similarity.ann_recall_at_10": res["ann_recall_at_10"],
            "similarity.scored_per_query": res["last"]["scored_per_query"],
            "similarity.ivf_build_s": tracer.total("similarity.ivf_build") / n,
            "similarity.ivf_persist_s": tracer.total("similarity.ivf_persist") / n,
            "similarity.ivf_probe_s": tracer.total("similarity.ivf_probe") / n,
            "trace.overhead_s": statistics.median(res["walls"]) - statistics.median(res["untraced"]),
        })
        layer.update(counter_values(counters, n))
        outcomes["dup_recall"] = {"value": res["dup_recall"], "unit": "ratio"}
        outcomes["ann_recall_at_10"] = {"value": res["ann_recall_at_10"], "unit": "ratio"}
    return {
        "end_to_end": e2e,
        "per_layer": metric_block(PER_LAYER, layer),
        "latency": lat,
        "planted": res["planted"],
        "checks": res["checks"],
        "outcomes": outcomes,
    }
