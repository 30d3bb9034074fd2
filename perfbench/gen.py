"""Seeded input generators for the benchmark workloads.

Every input the engine sees is written here, by one process, from the seed
alone: the same seed gives byte-identical files. The generator also returns
what it planted (which rows are replays, tied or late, which documents are
near duplicates), so the benchmark can score the engine's outputs.

Run standalone to materialize a workload's inputs:

    python3 perfbench/gen.py --workload cdc_medallion --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("ns")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EVENT_TYPES = ("click", "view", "purchase", "cart", "search", "error")
TIERS = ("free", "basic", "plus", "pro", "team")
CHANNELS = ("web", "ios", "android", "email", "partner")


# Fixed shape of every CDC arrival sequence (``cdc_medallion`` and
# ``stream_cdc``): each arrival covers its own window of WINDOW_DAYS, events
# come from USERS users, and each planted kind is an exact share of the
# arrival's new rows. Late rows lie at least LATE_MARGIN_H hours below the
# previous window's start.
WINDOW_DAYS = 2
USERS = 300
REPLAY_SHARE = 0.04
TIED_SHARE = 0.02
LATE_SHARE = 0.03
UPDATE_SHARE = 0.05
LATE_MARGIN_H = 6

# Fixed shape of the curation corpus (``llm_curation``): planted exact and
# near-duplicate documents and near-duplicate vectors as shares of the base
# counts; base vectors of DIM components drawn around CLUSTERS centres.
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_VEC_SHARE = 0.05
CLUSTERS = 12
DIM = 64


@dataclass(frozen=True)
class CdcSpec:
    """Size of a CDC arrival sequence.

    Arrival k carries ``rows`` new events whose ``ts`` falls in its own
    window, plus exact counts of four planted kinds: replays (byte-identical
    copies of already generated rows, half from the previous arrival and
    half from the same one), rows tied at the watermark (``ts`` equal to the
    previous arrivals' maximum), late rows and attribute updates (a new tier
    for a user already seen, and a new channel for one event type)."""

    arrivals: int = 4
    rows: int = 1000


@dataclass(frozen=True)
class CurationSpec:
    """Size of the curation corpus.

    ``docs`` base documents, then exact copies and near duplicates (one or
    two token edits) of randomly chosen base documents; ``vectors`` base
    embeddings plus near-duplicate vectors (a base vector with small
    noise). Queries for the ANN recall probe are the ``queries`` vectors
    starting at id ``query_lo``."""

    docs: int = 400
    vectors: int = 600
    queries: int = 40
    query_lo: int = 100


CDC_SHARES = {
    "window_days": WINDOW_DAYS, "users": USERS, "replay_share": REPLAY_SHARE,
    "tied_share": TIED_SHARE, "late_share": LATE_SHARE, "update_share": UPDATE_SHARE,
    "late_margin_h": LATE_MARGIN_H,
}
CURATION_SHARES = {
    "exact_dup_share": EXACT_DUP_SHARE, "near_dup_share": NEAR_DUP_SHARE,
    "near_dup_vec_share": NEAR_DUP_VEC_SHARE, "clusters": CLUSTERS, "dim": DIM,
}


def _share(n: int, share: float) -> int:
    return int(round(n * share))


def _props(tier: str, channel: str) -> str:
    return json.dumps({"tier": tier, "channel": channel}, sort_keys=True)


def cdc_arrivals(seed: int, spec: CdcSpec) -> tuple[list[pa.Table], dict]:
    """Arrival tables plus the generator's record of what each one planted.

    ``ts`` values are whole microseconds stored as nanoseconds, so the
    engine's ns -> us truncation neither creates nor breaks a tie."""
    rng = np.random.default_rng(seed)
    tier = {u: TIERS[int(rng.integers(len(TIERS)))] for u in range(USERS)}
    channel = {e: CHANNELS[i % len(CHANNELS)] for i, e in enumerate(EVENT_TYPES)}
    # Skewed user popularity: a few users carry most events.
    weights = 1.0 / np.arange(1, USERS + 1) ** 0.8
    weights /= weights.sum()

    next_id = 0
    seen_users: set[int] = set()
    prev_rows: list[dict] = []
    max_ts = None  # max ts of all rows generated so far (the open-window watermark)
    tables, planted = [], []
    for k in range(spec.arrivals):
        lo = T0_US + k * WINDOW_DAYS * DAY_US
        hi = lo + WINDOW_DAYS * DAY_US
        rows: list[dict] = []

        def event(ts_us: int, user: int, etype: str) -> dict:
            nonlocal next_id
            row = {
                "event_id": next_id,
                "ts": ts_us,
                "user_id": user,
                "event_type": etype,
                "value": round(float(rng.gamma(2.0, 15.0)), 2),
                "props": _props(tier[user], channel[etype]),
            }
            next_id += 1
            return row

        kinds = {"new": 0, "replay": 0, "tied": 0, "late": 0, "update": 0}
        if k >= 1 and seen_users:
            # Updates first, so every later row of the user carries the new tier.
            n_upd = _share(spec.rows, UPDATE_SHARE)
            old_users = sorted(seen_users)
            for u in rng.choice(old_users, size=min(n_upd, len(old_users)), replace=False):
                u = int(u)
                tier[u] = TIERS[(TIERS.index(tier[u]) + 1 + int(rng.integers(len(TIERS) - 1))) % len(TIERS)]
                rows.append(event(int(rng.integers(lo, hi)), u, EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]))
                kinds["update"] += 1
            etype = EVENT_TYPES[k % len(EVENT_TYPES)]
            channel[etype] = CHANNELS[(CHANNELS.index(channel[etype]) + 1) % len(CHANNELS)]
            rows.append(event(int(rng.integers(lo, hi)), old_users[0], etype))
            kinds["update"] += 1
        users = rng.choice(USERS, size=spec.rows, p=weights)
        types = rng.integers(len(EVENT_TYPES), size=spec.rows)
        ts = rng.integers(lo, hi, size=spec.rows)
        for t, u, e in zip(ts, users, types):
            rows.append(event(int(t), int(u), EVENT_TYPES[int(e)]))
            kinds["new"] += 1
        if k >= 1:
            old_users = sorted(seen_users)
            for _ in range(_share(spec.rows, TIED_SHARE)):
                u = old_users[int(rng.integers(len(old_users)))]
                rows.append(event(max_ts, u, EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]))
                kinds["tied"] += 1
        late_hi = lo - WINDOW_DAYS * DAY_US - LATE_MARGIN_H * HOUR_US
        if late_hi > T0_US:
            old_users = sorted(seen_users)
            for _ in range(_share(spec.rows, LATE_SHARE)):
                u = old_users[int(rng.integers(len(old_users)))]
                rows.append(event(int(rng.integers(T0_US, late_hi)), u, EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]))
                kinds["late"] += 1
        n_replay = _share(spec.rows, REPLAY_SHARE)
        pool_prev = prev_rows if prev_rows else rows
        for i in range(n_replay):
            src = pool_prev if i % 2 == 0 else rows
            rows.append(dict(src[int(rng.integers(len(src)))]))
            kinds["replay"] += 1

        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        seen_users.update(r["user_id"] for r in rows)
        max_ts = max(max_ts or 0, max(r["ts"] for r in rows))
        prev_rows = list(rows)
        tables.append(_events_table(rows))
        planted.append(kinds)
    return tables, {"spec": {**asdict(spec), **CDC_SHARES}, "arrivals": planted, "event_ids": next_id}


def _events_table(rows: list[dict]) -> pa.Table:
    cols = {name: [r[name] for r in rows] for name in EVENT_SCHEMA.names}
    cols["ts"] = pa.array([t * 1000 for t in cols["ts"]], pa.int64()).cast(pa.timestamp("ns"))
    return pa.table(cols, schema=EVENT_SCHEMA)


def write_parquet(table: pa.Table, path: str) -> None:
    """Write atomically: a file source never sees a half-written arrival
    (names starting with ``.`` are hidden from Spark's file listing)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def arrival_name(k: int) -> str:
    return f"arrival-{k:05d}.parquet"


# -- curation corpus ---------------------------------------------------------

STOPWORDS = ("the", "a", "and", "of", "to", "is", "in")
CONTENT = tuple(
    "table scan join batch stream window merge partition shuffle index query "
    "filter column vector cluster model token corpus record update insert "
    "delete commit ledger replica shard bucket hash sketch sample watermark "
    "offset trigger sink source schema field value metric latency throughput "
    "cache memory disk network driver executor task stage plan optimizer "
    "catalog snapshot version history audit quality filter language source "
    "document sentence paragraph chapter author editor review summary".split()
)
LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "de", "fr")
SOURCES = ("web", "books", "code", "news", "wiki")


def _text(rng: np.random.Generator) -> str:
    n = int(rng.integers(40, 110))
    stop = rng.random(n) < 0.3
    words = [
        STOPWORDS[int(rng.integers(len(STOPWORDS)))] if s else CONTENT[int(rng.integers(len(CONTENT)))]
        for s in stop
    ]
    return " ".join(words)


def _edit(rng: np.random.Generator, text: str) -> str:
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(len(words)))] = CONTENT[int(rng.integers(len(CONTENT)))]
    return " ".join(words)


def curation_corpus(seed: int, spec: CurationSpec) -> tuple[pa.Table, pa.Table, dict]:
    """(documents, embeddings, planted) in the fixture schemas."""
    rng = np.random.default_rng(seed)
    texts = [_text(rng) for _ in range(spec.docs)]
    exact_pairs, near_pairs = [], []
    for _ in range(_share(spec.docs, EXACT_DUP_SHARE)):
        base = int(rng.integers(spec.docs))
        exact_pairs.append((base, len(texts)))
        texts.append(texts[base])
    for _ in range(_share(spec.docs, NEAR_DUP_SHARE)):
        base = int(rng.integers(spec.docs))
        near_pairs.append((base, len(texts)))
        texts.append(_edit(rng, texts[base]))
    n = len(texts)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(i)] for i in rng.integers(len(LANGS), size=n)],
            "source": [SOURCES[int(i)] for i in rng.integers(len(SOURCES), size=n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    centres = rng.normal(0.0, 1.0, size=(CLUSTERS, DIM))
    label = rng.integers(CLUSTERS, size=spec.vectors)
    vecs = centres[label] + rng.normal(0.0, 0.45, size=(spec.vectors, DIM))
    vec_pairs = []
    extra, extra_label = [], []
    for _ in range(_share(spec.vectors, NEAR_DUP_VEC_SHARE)):
        base = int(rng.integers(spec.vectors))
        vec_pairs.append((base, spec.vectors + len(extra)))
        extra.append(vecs[base] + rng.normal(0.0, 0.05, size=DIM))
        extra_label.append(label[base])
    if extra:
        vecs = np.vstack([vecs, np.array(extra)])
        label = np.concatenate([label, np.array(extra_label)])
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )
    planted = {
        "spec": {**asdict(spec), **CURATION_SHARES},
        "documents": n,
        "vectors": len(vecs),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "vec_pairs": vec_pairs,
    }
    return docs, emb, planted


def write_curation(out_dir: str, seed: int, spec: CurationSpec) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    docs, emb, planted = curation_corpus(seed, spec)
    write_parquet(docs, os.path.join(out_dir, "documents.parquet"))
    write_parquet(emb, os.path.join(out_dir, "embeddings.parquet"))
    return planted


def write_cdc(out_dir: str, seed: int, spec: CdcSpec) -> dict:
    """All arrivals at once (the standalone view; the workloads land them
    one at a time)."""
    os.makedirs(out_dir, exist_ok=True)
    tables, planted = cdc_arrivals(seed, spec)
    for k, t in enumerate(tables):
        write_parquet(t, os.path.join(out_dir, arrival_name(k)))
    return planted


# Each workload's inputs. ``stream_cdc`` takes its arrival count from the
# run length (one per interval of its open-loop schedule), so the default
# count here only sizes the standalone view.
WORKLOAD_SPECS = {
    "cdc_medallion": CdcSpec(),
    "stream_cdc": CdcSpec(rows=500),
    "llm_curation": CurationSpec(),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = WORKLOAD_SPECS[args.workload]
    if isinstance(spec, CurationSpec):
        planted = write_curation(args.out, args.seed, spec)
        summary = {k: v for k, v in planted.items() if not k.endswith("_pairs")}
    else:
        summary = write_cdc(args.out, args.seed, spec)
    print(json.dumps(summary, sort_keys=True))


if __name__ == "__main__":
    main()
