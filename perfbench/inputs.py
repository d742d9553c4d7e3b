"""Seeded inputs for the benchmark workloads.

The program only ever sees the files written here, so every workload is
reproducible from its seed alone:

- ``write_tables`` writes the ten catalog tables (``tables.TABLES``) with
  the schemas, value domains and row-count ratios of the synthetic
  testdata the catalog queries are written against (TPC-H-like star
  schema, an ``events`` stream, ``documents`` with ~5% near-duplicates,
  unit-norm 64-d ``embeddings`` clustered by label).
- ``write_manifest`` writes the ingest workload's JSON-lines URL manifest
  shaped like the reference's MorphoSource manifest, with a few null-url
  and missing-url rows (the shape ``tests/test_pipeline.py`` uses).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "red", "small", "green"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
CANARY_HEAD = 32


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def table_rows(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (the testdata's sf ratios)."""
    return {
        "customer": int(150_000 * scale),
        "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": int(50_000 * scale),
        "embeddings": max(500, int(20_000 * scale)),
    }


def build_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _days("1995-01-01", "2001-08-01", rng, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    orderkey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days("1995-01-02", "2001-11-04", rng, nl),
        }
    )
    ne = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(1, int(ne * 0.015)), ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random word streams; ~5% of docs copy an earlier doc and append
    'dup' so the near-duplicate operators have clusters to find."""
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, nv * dim + 1, dim, dtype=np.int32)), flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_tables(out_dir: str, scale: float, seed: int) -> str:
    """Write ``<name>.parquet`` per table (one row group each, like the
    testdata); returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir


def manifest_records(n_urls: int, seed: int) -> list[dict]:
    """``n_urls`` media-page records with distinct random 9-digit ids (so
    ~1/17 hit ``fake_transport``'s failure path), plus three null-url and
    three missing-url rows at seeded positions after the canary head."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(np.arange(100_000_000, 1_000_000_000), n_urls, replace=False)
    # run_pipeline's canary fetches the first 10 URLs and aborts the run
    # at an error rate of 20% or more (the reference's gate), so the head
    # of the manifest is drawn from ids that fetch cleanly.
    head = ids[:CANARY_HEAD]
    ids[:CANARY_HEAD] = np.where(head % 17 == 0, head + 1, head)
    records: list[dict] = [
        {"url": f"https://www.morphosource.org/concern/media/{i:09d}?locale=en", "media_id": int(i)}
        for i in ids
    ]
    for pos in sorted(rng.integers(CANARY_HEAD, n_urls, 3).tolist(), reverse=True):
        records.insert(pos, {"url": None, "media_id": None})
    for pos in sorted(rng.integers(CANARY_HEAD, n_urls, 3).tolist(), reverse=True):
        records.insert(pos, {"title": "record without a url field"})
    return records


def write_manifest(path: str, records: list[dict]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in records))
    return path


def url_id(url: str) -> int:
    """The id ``fake_transport`` derives from a URL (its digits)."""
    return int("".join(ch for ch in url if ch.isdigit()) or "0") % 10**9


__all__ = ["build_tables", "manifest_records", "table_rows", "url_id", "write_manifest", "write_tables"]
