"""Seeded benchmark inputs, generated once per (kind, seed, size) and cached
under the work directory.

Run as a child process of ``run.py`` (``python3 perfbench/inputs.py KIND
SEED WORK``) so that generation, JSON parsing and DuckDB never touch the
measured process's memory high-water mark. Each kind writes a ``meta.json``
next to its files; the expected outputs in it are derived without Spark.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ingest_batch: one plain .json in-network file, ~19 MB
INGEST_ITEMS = 8000
INGEST_REFS = 400
# stream_landing: small .json.gz files, ~0.5 MB uncompressed each: one
# to start the stream, four for the restart backlog, six on the schedule
STREAM_FILES = 11
STREAM_ITEMS = 200
STREAM_REFS = 12
# registry_sf0.1: row counts of the sf0.1 star schema
SF01_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}
KEEP_CACHED = 12  # input sets kept per kind; older ones are deleted


SIZES = {
    "ingest": (INGEST_ITEMS, INGEST_REFS),
    "stream": (STREAM_FILES, STREAM_ITEMS, STREAM_REFS),
    "registry": tuple(SF01_ROWS.values()),
}


def cache_dir(work: str, kind: str, seed: int) -> str:
    """Where the inputs of (kind, seed, size) live."""
    size = "x".join(map(str, SIZES[kind]))
    return os.path.join(work, "inputs", kind, f"seed{seed}-{size}")


def _prune(work: str, kind: str) -> None:
    base = os.path.join(work, "inputs", kind)
    sets = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
    )
    for d in sets[:-KEEP_CACHED]:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# in-network MRF files: expected silver counts from a plain JSON parse
# ---------------------------------------------------------------------------


def _mrf_expectations(path: str) -> dict:
    """Silver row counts and a gold-lookup index, from ``json`` alone."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        doc = json.load(f)
    # header fragments: one per maximal run of non-array top-level values
    fragments, in_run = 0, False
    for v in doc.values():
        scalar = not isinstance(v, list)
        fragments += scalar and not in_run
        in_run = scalar
    groups_by_ref = {
        p["provider_group_id"]: p.get("provider_groups") or []
        for p in doc["provider_references"]
    }
    rates = prices = par = 0
    gold: dict[tuple[str, str], int] = {}
    for item in doc["in_network"]:
        for r in item["negotiated_rates"]:
            rates += 1
            refs = r.get("provider_references") or []
            par += len(refs)
            negotiated = sum(
                p["negotiated_type"] == "negotiated"
                for p in r["negotiated_prices"]
            )
            prices += negotiated
            if item["negotiation_arrangement"] != "ffs" or not negotiated:
                continue
            for ref in refs:
                for g in groups_by_ref.get(ref, []):
                    key = (item["billing_code"], g["tin"]["value"])
                    gold[key] = gold.get(key, 0) + negotiated
    return {
        "rows": {
            "provider_header": fragments,
            "provider_references_x_payer": sum(
                len(g) for g in groups_by_ref.values()
            ),
            "in_network_codes": len(doc["in_network"]),
            "in_network_rates": rates,
            "in_network_prices": prices,
            "in_network_par_providers": par,
        },
        "provider_references": len(doc["provider_references"]),
        "gold": gold,
    }


def make_ingest(out: str, seed: int) -> dict:
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    path = os.path.join(out, "in_network.json")
    summary = write_mrf_file(
        path, n_in_network=INGEST_ITEMS, n_provider_refs=INGEST_REFS, seed=seed
    )
    exp = _mrf_expectations(path)
    # gold lookups: (code, TIN) pairs with at least one expected row,
    # drawn by the seed; the loop cycles through them in this order
    pairs = sorted(exp.pop("gold").items())
    rng = random.Random(seed)
    picked = rng.sample(pairs, min(400, len(pairs)))
    return {
        "path": path,
        "bytes": os.path.getsize(path),
        "items": summary["in_network"],
        "lookups": [[c, t, n] for (c, t), n in picked],
        **exp,
    }


def make_stream(out: str, seed: int) -> dict:
    from hls_payer_mrf_sparkstreaming_spark.sources.chunker import scan_chunks
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf

    gz_dir = os.path.join(out, "gz")
    plain_dir = os.path.join(out, "plain")
    os.makedirs(gz_dir)
    os.makedirs(plain_dir)
    files = []
    for i in range(STREAM_FILES):
        name = f"mrf_{i:03d}.json"
        plain = os.path.join(plain_dir, name)
        with open(plain, "w", encoding="utf-8") as f:
            write_mrf(
                f,
                n_in_network=STREAM_ITEMS,
                n_provider_refs=STREAM_REFS,
                seed=seed * 1000 + i,
            )
        with open(plain, "rb") as src, gzip.open(
            os.path.join(gz_dir, name + ".gz"), "wb", compresslevel=1
        ) as dst:
            shutil.copyfileobj(src, dst)
        exp = _mrf_expectations(plain)
        files.append(
            {
                "name": name,
                "bytes": os.path.getsize(plain),
                # what the stream reader will release for this file
                "chunks": sum(1 for _ in scan_chunks(plain)),
                "rows": {
                    **exp["rows"],
                    "provider_references": exp["provider_references"],
                },
            }
        )
    return {"gz_dir": gz_dir, "plain_dir": plain_dir, "files": files}


# ---------------------------------------------------------------------------
# registry tables: the sf0.1 star schema + events/documents/embeddings
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write_tables(out: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = SF01_ROWS

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, n_days, size):
        d = np.datetime64(start, "D") + rng.integers(0, n_days, size)
        return d.astype("datetime64[us]")

    def choice(values, size):
        return np.asarray(values, dtype=object)[
            rng.integers(0, len(values), size)
        ]

    def write(name, cols):
        pq.write_table(
            pa.table(cols), os.path.join(out, f"{name}.parquet")
        )

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        },
    )
    write(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    c = n["customer"]
    write(
        "customer",
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, c),
            "c_mktsegment": choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], c
            ),
        },
    )
    s = n["supplier"]
    write(
        "supplier",
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, s),
        },
    )
    p = n["part"]
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    write(
        "part",
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(choice(adjectives, p), choice(nouns, p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                p,
            ),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2),
        },
    )
    o = n["orders"]
    write(
        "orders",
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": choice(["F", "O", "P"], o),
            "o_totalprice": money(1000, 500000, o),
            "o_orderdate": days("1995-01-01", 2405, o),
            "o_orderpriority": choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], o
            ),
        },
    )
    li = n["lineitem"]
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": money(900, 105000, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": choice(["A", "N", "R"], li),
            "l_linestatus": choice(["F", "O"], li),
            "l_shipdate": days("1995-01-02", 2498, li),
        },
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    write(
        "events",
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, e),
            "event_type": choice(
                ["click", "error", "purchase", "signup", "view"], e
            ),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        },
    )
    d = n["documents"]
    texts = [
        " ".join(choice(_WORDS, int(k))) for k in rng.integers(10, 101, d)
    ]
    # 5% near-duplicates (an earlier text plus " dup"), a few exact copies
    for i in rng.choice(np.arange(1, d), d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, d), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    write(
        "documents",
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": choice(["en", "en", "en", "de", "es", "fr", "zh"], d),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    v = n["embeddings"]
    vecs = rng.normal(size=(v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(
        "embeddings",
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, v).astype(np.int32),
        },
    )


def oracle_counts(sf_dir: str, names: list[str], cache: str) -> dict:
    """DuckDB oracle row count per query, cached by input signature."""
    import duckdb

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        TABLES,
        all_queries,
    )

    h = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    h.update(repr(sorted(names)).encode())
    path = os.path.join(cache, f"oracle_{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    registry = all_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    counts = {
        name: len(con.execute(registry[name].oracle).fetchall())
        for name in names
    }
    con.close()
    os.makedirs(cache, exist_ok=True)
    with open(path, "w") as f:
        json.dump(counts, f)
    return counts


def make_registry(out: str, seed: int) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from registry import QUERIES

    _write_tables(out, seed)
    cache = os.path.join(os.path.dirname(os.path.dirname(out)), "oracle")
    return {
        "sf_dir": out,
        "oracle_rows": oracle_counts(out, list(QUERIES), cache),
    }


MAKERS = {
    "ingest": make_ingest,
    "stream": make_stream,
    "registry": make_registry,
}


def main() -> None:
    kind, seed, work = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    sys.path.insert(0, ROOT)
    out = cache_dir(work, kind, seed)
    if os.path.exists(os.path.join(out, "meta.json")):
        os.utime(out)
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    meta = MAKERS[kind](out, seed)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    _prune(work, kind)


if __name__ == "__main__":
    main()
