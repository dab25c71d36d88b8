"""Deterministic input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten fixture tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``), with the same schemas
  and value distributions as the engine's fixture tables, so the DuckDB
  oracles run over them too; ``iterative_dedup`` reads ``documents`` and
  ``events``. Always seed 42, so query outputs can be checked against
  recorded values.
- ``write_gtfs``: one night of the reference's ETL inputs for a given
  seed: feed and catalog JSON for the catalog run, GTFS zips for the
  stops run, and the previous day's state the stops run syncs against.
  It returns the counts the run must report, so the run can be checked
  exactly.

Pure numpy/pyarrow: no Spark session is needed to build the inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the query tables (the engine's sf0.01 fixture sizes).
TABLE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "wheel", "plate", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh", "zh"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10

_US = np.int64(1_000_000)


def _epoch_us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * int(_US)


def _days(rng: np.random.Generator, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    span = (end - start).days
    us = _epoch_us(start) + rng.integers(0, span + 1, n).astype(np.int64) * 86_400 * _US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    start = _epoch_us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * 86_400 * int(_US), ne).astype(np.int64))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, ne * 15 // 1000, ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about 5% are near-duplicates of an earlier
    document (the same text with ' dup' appended once or twice), which is
    the structure the dedup queries look for."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten weak cluster centres (centre norm ~0.14)."""
    labels = rng.integers(0, EMBED_LABELS, n)
    centres = rng.normal(0.0, 0.14 / np.sqrt(EMBED_DIM), (EMBED_LABELS, EMBED_DIM))
    x = centres[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str) -> None:
    """Write the query tables (seed 42) as one parquet file each.
    Idempotent: a complete directory is kept."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(out_dir, exist_ok=True)
        for name, table in _tables(np.random.default_rng(TABLES_SEED)).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        with open(marker, "w") as f:
            f.write("ok\n")


# ---------------------------------------------------------------- GTFS night

GTFS_FEEDS = 12          # zips in one night's stops run
GTFS_STOPS = 500         # stops per zip
CATALOG_FEEDS = 2_000    # feed records for the catalog run
CATALOG_ENTRIES = 1_500  # existing catalog entries
BAD_LAT_FRAC = 0.03
BAD_LOCTYPE_FRAC = 0.01
STATE_DROP_FRAC = 0.10   # today's stops missing from yesterday's state
STATE_GONE_FRAC = 0.05   # yesterday's stops absent today (deleted)

STATE_COLUMNS = [
    "path", "stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon",
    "zone_id", "location_type", "feed_id", "feed_id_stop_id", "location",
]


def keys_digest(keys) -> str:
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()


def _quote(rng: np.random.Generator, value: str) -> str:
    r = rng.random()
    if r < 0.1:
        return f'"{value}"'
    if r < 0.2:
        return f"'{value}'"
    return value


def write_gtfs(out_dir: str, seed: int) -> dict:
    """Write one night's inputs under ``out_dir`` and return the expected
    outcome: catalog creates/updates, stops synced/quarantined/deleted and
    the digest of the post-sync state key set."""
    rng = np.random.default_rng(seed)
    zips_dir = os.path.join(out_dir, "zips")
    os.makedirs(zips_dir, exist_ok=True)

    # catalog run: consent filter, regex-keyed join, create/update routing
    feeds, consenting = [], []
    for i in range(CATALOG_FEEDS):
        consent = bool(rng.random() < 0.9)
        fid = f"f{seed}-{i:05d}"
        feeds.append(
            {
                "agency_name": f"Agency {i}",
                "feed_id": fid,
                "fetch_link": f"https://feeds{i % 7}.example.com/{fid}/gtfs.zip"
                if rng.random() < 0.95 else "not a url",
                "agency_website": f"https://agency{i}.example.org" if rng.random() < 0.8 else None,
                "have_consent_for_ntm": consent,
            }
        )
        if consent:
            consenting.append(fid)
    listed = rng.choice(CATALOG_FEEDS, CATALOG_ENTRIES, replace=False)
    catalog = []
    for j, i in enumerate(sorted(int(x) for x in listed)):
        catalog.append(
            {
                "id": f"c{j:04d}-{i:04d}",
                "name": f"Agency {i} - f{seed}-{i:05d}",
                "description": f"Stops\nFeed ID: f{seed}-{i:05d}\nGTFS URL: x\nAgency URL: y",
                "tags": ["national transit map"],
            }
        )
    listed_ids = {f"f{seed}-{int(i):05d}" for i in listed}
    updates = sum(1 for f in consenting if f in listed_ids)
    for name, rows in (("feeds.json", feeds), ("catalog.json", catalog)):
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(rows, f)

    # stops run: today's archives + yesterday's state
    quarantined = 0
    input_bytes = 0
    today_keys: list[str] = []
    state_rows: list[list[str]] = []
    for z in range(GTFS_FEEDS):
        feed = f"feed{z:03d}"
        lines = ["stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,location_type"]
        for s in range(GTFS_STOPS):
            stop_id = f"S{z}_{s}"
            lat = f"{rng.uniform(25.0, 49.0):.6f}"
            lon = f"{rng.uniform(-124.0, -67.0):.6f}"
            loc = ["", "0", "1"][int(rng.integers(0, 3))]
            valid = True
            if rng.random() < BAD_LAT_FRAC:
                lat = ["", "abc", "95.5", "-91"][int(rng.integers(0, 4))]
                valid = False
            if rng.random() < BAD_LOCTYPE_FRAC:
                loc = "x"
                valid = False
            name = f"Stop {z} {s}"
            lines.append(
                ",".join(
                    [stop_id, f"C{s}", _quote(rng, name), _quote(rng, lat), lon,
                     f"Z{s % 9}", _quote(rng, loc) if loc else loc]
                )
            )
            if not valid:
                quarantined += 1
                continue
            key = f"{feed}_{stop_id}"
            today_keys.append(key)
            if rng.random() >= STATE_DROP_FRAC:
                state_rows.append(
                    [f"file:{zips_dir}/{feed}.zip", stop_id, f"C{s}", name, lat, lon,
                     f"Z{s % 9}", loc, feed, key, f"POINT({lon} {lat})"]
                )
        n_gone = int(GTFS_STOPS * STATE_GONE_FRAC)
        for g in range(n_gone):
            stop_id = f"G{z}_{g}"
            state_rows.append(
                [f"file:{zips_dir}/{feed}.zip", stop_id, f"C{g}", f"Gone {g}", "40.0",
                 "-100.0", "Z0", "", feed, f"{feed}_{stop_id}", "POINT(-100.0 40.0)"]
            )
        body = ("\n".join(lines) + "\n").encode("utf-8-sig" if z % 3 == 0 else "utf-8")
        input_bytes += len(body)
        with zipfile.ZipFile(os.path.join(zips_dir, f"{feed}.zip"), "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("stops.txt", body)

    state_dir = os.path.join(out_dir, "state_yesterday")
    os.makedirs(state_dir, exist_ok=True)
    cols = list(zip(*state_rows))
    pq.write_table(
        pa.table({c: list(v) for c, v in zip(STATE_COLUMNS, cols)}),
        os.path.join(state_dir, "part-00000.parquet"),
    )
    return {
        "catalog_creates": len(consenting) - updates,
        "catalog_updates": updates,
        "synced": len(today_keys),
        "quarantined": quarantined,
        "deleted": GTFS_FEEDS * int(GTFS_STOPS * STATE_GONE_FRAC),
        "state_digest": keys_digest(today_keys),
        "input_bytes": input_bytes,
    }
