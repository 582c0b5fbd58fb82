"""Seeded input generators for the benchmark.

``write_tables`` writes the ten query tables (the TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``), one single-row-group
parquet file each. ``LaunchDays`` yields Launch-Library-shaped raw
payloads, one API document per day, built with the pipeline's own
``fixtures.launch_record``, and keeps the truth the pipeline's output is
checked against.

What is matched to the engine's test data (``perfbench/calibrate.py``
prints both side by side): schemas and microsecond timestamps, row
counts per scale factor, the document vocabulary and 10-99 words per
document, one document in 20 repeating an earlier one plus ``" dup"``,
exponential gaps between events over 30 days, uniform foreign keys
(lineitem covers as many distinct orders as the test data does).
What is chosen here and not checked against anything: the duplicate
documents sit at every ``DUP_EVERY``-th position rather than at random
ones, so the duplicate graph's shape does not depend on the seed; the
money, quantity, date and category distributions (uniform); the
embeddings (unit Gaussian vectors); and every share in ``LaunchDays``
(records per day, duplicate ids, null images, null licenses), as no
Launch-Library traffic is in the repository.

Everything is drawn from ``numpy.random.default_rng(seed)``, so one seed
gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from de_project_airflow_etl_spark.pipeline.fixtures import launch_record

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "valve", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMBED_DIM = 64
DUP_EVERY = 20


def _table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; the same ratios as the engine's test data."""
    return {
        "customer": round(150_000 * sf), "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf), "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf), "events": round(1_000_000 * sf),
        "users": round(15_000 * sf), "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _documents(rng, n: int) -> pa.Table:
    # Every DUP_EVERY-th document (after the first few) repeats a distinct
    # earlier original plus a marker word, so the near-duplicate count and
    # the duplicate graph's shape do not depend on the seed.
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i > 10 and i % DUP_EVERY == 0:
            j = originals.pop(int(rng.integers(0, len(originals))))
            texts.append(texts[j] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
            originals.append(i)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = _table_sizes(sf)
    nc, ns, npart, no, nl, ne = (n[k] for k in (
        "customer", "supplier", "part", "orders", "lineitem", "events"))
    keys = lambda k: np.arange(k, dtype=np.int64)  # noqa: E731
    gaps = rng.exponential(1.0, ne)
    span_us = 30 * 86_400_000_000
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)).astype("timedelta64[us]"))
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": keys(nc),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": keys(ns),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)}),
        "part": pa.table({
            "p_partkey": keys(npart),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (npart, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                                pa.string()),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": keys(no),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl)}),
        "events": pa.table({
            "event_id": keys(ne),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n["users"], ne),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                              pa.string())}),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write one parquet file per table into ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class LaunchDays:
    """Seeded Launch-Library payloads for consecutive days.

    The seed sets each day's record count, the share of records that
    repeat an earlier id of the same day, and the shares of records with
    a null ``image`` and with a null ``image.license``. ``truth`` holds,
    per day, the rows the gold zone must hold and the distinct ids the
    daily query must count.
    """

    def __init__(self, seed: int, n_days: int, mean_records: int,
                 start: str = "2024-12-01"):
        rng = np.random.default_rng(seed)
        self.dup_share = float(rng.uniform(0.02, 0.08))
        self.null_image_share = float(rng.uniform(0.05, 0.25))
        self.null_license_share = float(rng.uniform(0.1, 0.4))
        first = dt.date.fromisoformat(start)
        self.days = [(first + dt.timedelta(days=i)).isoformat() for i in range(n_days)]
        counts = rng.integers(mean_records * 9 // 10, mean_records * 11 // 10 + 1, n_days)
        self._payloads: dict[str, dict] = {}
        self.truth: dict[str, tuple[int, int]] = {}
        for day, count in zip(self.days, counts):
            payload = self._day(rng, day, int(count))
            ids = [r["id"] for r in payload["results"]]
            self._payloads[day] = payload
            self.truth[day] = (len(ids), len(set(ids)))

    def _day(self, rng, day: str, n: int) -> dict:
        results = []
        for i in range(n):
            dup = i and rng.random() < self.dup_share
            results.append(launch_record(
                i, day, dup_of=int(rng.integers(0, i)) if dup else None,
                image=bool(rng.random() >= self.null_image_share),
                license_=bool(rng.random() >= self.null_license_share),
                status=("Go", "TBD", "Success", "Failure")[int(rng.integers(0, 4))]))
        return {"count": len(results), "next": None, "previous": None,
                "results": results}

    def fetch(self, day: str) -> dict:
        """The pipeline's ``PayloadFetcher``."""
        return self._payloads[day]
