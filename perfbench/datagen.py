"""Seeded input generators for the benchmark workloads.

Everything the engine reads during a run is produced here from one seed,
before any clock starts:

- :func:`write_corpus` writes the ten corpus tables (TPC-H-style star
  schema plus ``events``, ``documents`` and ``embeddings``) as parquet
  files with the same schemas, value domains and TIMESTAMP(NANOS)
  encoding as the correctness corpus, at a chosen scale factor;
- :func:`write_sensor_jsonl` lands raw sensor-event JSON lines, a fixed
  share of them malformed, split over several files;
- :func:`write_document_jsonl` lands document batches as JSONL files.

The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("large", "hot", "blue", "small", "red", "cold")
PART_NOUNS = ("ring", "bolt", "gear", "nut", "pipe", "valve")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")
SENSOR_TYPES = ("temperature", "humidity", "pressure", "vibration")
SENSOR_UNITS = {"temperature": "celsius", "humidity": "percent",
                "pressure": "hPa", "vibration": "g"}
SENSOR_BASE = {"temperature": (22.0, 5.0), "humidity": (55.0, 15.0),
               "pressure": (1013.0, 20.0), "vibration": (0.5, 0.3)}

_NS = 1_000_000_000
_DAY_NS = 86_400 * _NS


def _ts_ns(date: str) -> int:
    return int(np.datetime64(date, "ns").astype(np.int64))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    d0, d1 = _ts_ns(lo) // _DAY_NS, _ts_ns(hi) // _DAY_NS
    return pa.array(rng.integers(d0, d1 + 1, n) * _DAY_NS, pa.timestamp("ns"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words documents of 10-100 words over :data:`VOCAB`; 1% are
    exact copies and 2% one-word edits of an earlier document, so the
    exact and near-dup operators always have work to find."""
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    kind = rng.random(n)
    for i in range(1, n):
        src = int(rng.integers(0, i))
        if kind[i] < 0.01:
            texts[i] = texts[src]
        elif kind[i] < 0.03:
            words = texts[src].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    return texts


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten corpus tables at scale ``sf`` (lineitem = 6 M x sf
    rows, as in the correctness corpus) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vecs = max(100, int(20_000 * sf))
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    words = rng.integers(0, len(PART_WORDS), n_part)
    nouns = rng.integers(0, len(PART_NOUNS), n_part)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_WORDS[w]} {PART_NOUNS[k]}"
                            for w, k in zip(words, nouns)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})

    t0 = _ts_ns("2024-01-01") // 1000
    ts_us = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_events))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})

    texts = document_texts(rng, n_docs)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.05, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.12, (n_vecs, 64))).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows


def write_sensor_jsonl(
    out_dir: str, n_events: int, n_files: int, seed: int,
    malformed_share: float = 0.01, n_sensors: int = 50,
) -> dict[str, int]:
    """Land ``n_events`` raw sensor events as JSON lines over ``n_files``
    files. Every valid event has a distinct ``(sensor_id, timestamp)``;
    exactly ``round(n_events * malformed_share)`` lines are malformed
    (half truncated JSON, half JSON without the required fields)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_bad = int(round(n_events * malformed_share))
    bad = set(rng.choice(n_events, n_bad, replace=False).tolist())
    types = rng.integers(0, len(SENSOR_TYPES), n_events)
    noise = rng.normal(0.0, 1.0, n_events)
    t0 = int(np.datetime64("2024-06-15T10:00:00", "s").astype(np.int64))
    lines = []
    for i in range(n_events):
        if i in bad:
            lines.append('{"sensor_id": "sensor-0' if i % 2 else '{"note": "heartbeat"}')
            continue
        st = SENSOR_TYPES[types[i]]
        base, sigma = SENSOR_BASE[st]
        ts = np.datetime64(t0 + i // n_sensors, "s").astype(str)
        lines.append(json.dumps({
            "sensor_id": f"sensor-{i % n_sensors:03d}",
            "sensor_type": st,
            "timestamp": f"{ts}+00:00",
            "value": round(float(base + sigma * noise[i]), 2),
            "unit": SENSOR_UNITS[st],
            "location": f"floor-{i % 5 + 1}-zone-{'ABCD'[i % 4]}",
        }))
    per = -(-n_events // n_files)
    for f in range(n_files):
        with open(os.path.join(out_dir, f"events-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
    return {"events": n_events, "valid": n_events - n_bad, "malformed": n_bad}


def write_document_jsonl(
    out_dir: str, n_docs: int, n_files: int, seed: int,
) -> dict[str, int]:
    """Land ``n_docs`` documents as JSONL batches: the documents are dealt
    to ``n_files`` files in a seed-permuted order, so each batch mixes
    early and late doc ids and near-dup pairs straddle batches."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = document_texts(rng, n_docs)
    order = rng.permutation(n_docs)
    for f, chunk in enumerate(np.array_split(order, n_files)):
        with open(os.path.join(out_dir, f"docs-{f:04d}.json"), "w") as fh:
            for i in chunk:
                fh.write(json.dumps({"doc_id": int(i), "text": texts[i]}) + "\n")
    return {"docs": n_docs}
