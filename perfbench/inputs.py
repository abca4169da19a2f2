"""Seeded inputs for the three benchmark workloads.

Everything is generated inside the work directory of the checkout; no
input is read from outside it.

- ``build_clean``: the bench.py layout — clips and reference tables
  synthesized by the engine's own ``synthesize_clips`` /
  ``synthesize_reference`` and written bucketed by ``clip_id`` — plus the
  manifest, codec registry and a drift baseline frozen from the batch.
- ``build_dirty``: short clips without a reference table, 2% of them
  carrying defects planted from the seed, plus the golden violating
  ``clip_id`` set of every rule.
- ``write_tables``: a TPC-H-like table set shaped like the sf0.1 test
  tables (same schemas, sizes and value domains), generated with numpy
  from a fixed data seed so that the stored result digests stay valid.

``python3 perfbench/inputs.py OUT SCALE [OUT SCALE ...]`` runs
``write_tables`` for each pair in a process of its own, so that the
memory of the generation does not count in the benchmark driver's RSS.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# defects planted into validate_dirty_sink, and the rule that must report
# each one (the tag -> rule mapping of tests/test_validation_run.py)
DIRTY_TAGS = ("1-2", "1-3", "1-5", "1-6", "1-7", "1-10", "1-12", "1-13", "uniq")
TAG_RULE = {
    "1-2": "1-2",
    "1-3": "1-3",
    "1-5": "1-5",
    "1-6": "1-6-nulls",
    "1-7": "1-7",
    "1-10": "1-10",
    "1-12": "1-12-manifest",
    "1-13": "1-13",
    "uniq": "uniq",
}
DIRTY_SHARE = 0.02
DIRTY_DUR_MS = (20, 80)


# ------------------------------------------------------------ validation


def build_clean(spark, work: str, n: int, seed: int, buckets: int) -> tuple:
    """Clean clip batch in the bench.py layout; returns (clips, ctx)."""
    from open_data_linter_spark.audio.synth import (
        synthesize_clips,
        synthesize_reference,
    )
    from open_data_linter_spark.rules.drift import joint_histograms
    from open_data_linter_spark.sources.bucketed import write_bucketed
    from open_data_linter_spark.sources.fixtures import (
        DUR_BIN_EDGES,
        clip_manifest,
        make_fixture,
    )

    parts = buckets * 2
    write_bucketed(synthesize_clips(spark, n, parts, seed=seed), "bench_clips",
                   os.path.join(work, "clips"), buckets=buckets)
    write_bucketed(synthesize_reference(spark, n, parts, seed=seed), "bench_refs",
                   os.path.join(work, "refs"), buckets=buckets)
    clips = spark.table("bench_clips")
    _, ctx = make_fixture(spark, n=64, num_partitions=4, with_reference=False)
    ctx["reference_clips"] = spark.table("bench_refs")
    ctx["clip_manifest"] = clip_manifest(spark, n)
    ctx["baseline_hist"] = joint_histograms(
        clips, [("sr_hz", None), ("dur_ms", DUR_BIN_EDGES)]
    )
    return clips, ctx


def plant(n: int, seed: int) -> dict[int, str]:
    """Seeded defect plant: 2% of the clips, no two planted clips adjacent
    (a ``uniq`` defect copies the id of clip i-1, which must stay clean)."""
    rng = np.random.default_rng((seed, 7001))
    slots = np.arange(1, n // 2) * 2  # even indices >= 2: never adjacent
    k = int(n * DIRTY_SHARE)
    chosen = np.sort(rng.choice(slots, size=k, replace=False))
    tags = rng.choice(len(DIRTY_TAGS), size=k)
    return {int(i): DIRTY_TAGS[int(t)] for i, t in zip(chosen, tags)}


def golden_violations(corrupt: dict[int, str]) -> dict[str, set[str]]:
    """Violating clip_id set per rule implied by the plant."""
    from open_data_linter_spark.audio.synth import clip_id_for

    gold: dict[str, set[str]] = {}
    for i, tag in corrupt.items():
        cid = clip_id_for(i)
        if tag == "1-5" and i % 4 == 3:
            # variant 3 inserts a space into the id itself; the mangled id
            # is also missing from the manifest
            cid = cid[:5] + " " + cid[5:]
            gold.setdefault("1-12-manifest", set()).add(cid)
        elif tag == "uniq":
            cid = clip_id_for(i - 1)
        gold.setdefault(TAG_RULE[tag], set()).add(cid)
    return gold


def build_dirty(spark, work: str, n: int, seed: int, parts: int) -> tuple:
    """Dirty short-clip batch; returns (clips, ctx, golden)."""
    from open_data_linter_spark.audio.synth import codec_registry_pdf, synthesize_clips
    from open_data_linter_spark.rules.audio_rules import GATE_RULES
    from open_data_linter_spark.rules.drift import joint_histograms
    from open_data_linter_spark.sources.fixtures import DUR_BIN_EDGES, clip_manifest

    corrupt = plant(n, seed)
    path = os.path.join(work, "dirty_clips")
    synthesize_clips(
        spark, n, parts, seed=seed, dur_range=DIRTY_DUR_MS, corrupt=corrupt
    ).write.mode("overwrite").parquet(path)
    clips = spark.read.parquet(path)
    excl = {i for i, t in corrupt.items() if t == "1-12"}
    ctx = {
        "codec_registry": spark.createDataFrame(codec_registry_pdf()),
        "clip_manifest": clip_manifest(spark, n, excl),
        "gate_rules": GATE_RULES,
        # frozen from the batch itself, as scripts/run_validation.py does
        # without --baseline: the drift rules pass
        "baseline_hist": joint_histograms(
            clips, [("sr_hz", None), ("dur_ms", DUR_BIN_EDGES)]
        ),
    }
    return clips, ctx, golden_violations(corrupt)


# ---------------------------------------------------------------- tables

DATA_SEED = 20241017
# row counts of the sf0.1 test tables; ``scale`` multiplies them
BASE_ROWS = {
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _days(rng, n: int, start: datetime, end: datetime) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _part(rng, n: int) -> pa.Table:
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [P_TYPES[t] for t in rng.integers(0, len(P_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
    })


def _orders(rng, n: int, customers: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[s] for s in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, n, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n)],
    })


def _lineitem(rng, n: int, orders: int, parts: int) -> pa.Table:
    flags = rng.integers(0, 6, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        # uniform line numbers: natural per-order holes and duplicates
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[f // 2] for f in flags],
        "l_linestatus": [("O", "F")[f % 2] for f in flags],
        "l_shipdate": _days(rng, n, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })


def _events(rng, n: int, users: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    secs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + (secs * 1e6).astype(
        "timedelta64[us]"
    )
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(WORDS, size=int(k)))
             for k in rng.integers(10, 101, n)]
    # 5% near-duplicates (an earlier doc plus one marker token) and a few
    # exact duplicates, as in the test corpus
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(5, size=n, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    x = rng.normal(0.0, 1.0, (n, dim)) + 0.25 * centers[label]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out: str, scale: float) -> dict[str, int]:
    """Write the query tables to ``out``; returns row counts per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    rows = {t: max(8, int(round(r * scale))) for t, r in BASE_ROWS.items()}
    tables = {
        "part": _part(rng, rows["part"]),
        "orders": _orders(rng, rows["orders"], max(1, rows["orders"] // 10)),
        "lineitem": _lineitem(rng, rows["lineitem"], rows["orders"], rows["part"]),
        "events": _events(rng, rows["events"], max(1, int(1500 * scale))),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return rows


if __name__ == "__main__":
    for out_dir, scale in zip(sys.argv[1::2], sys.argv[2::2]):
        write_tables(out_dir, float(scale))
