"""Seeded inputs: the sf0.1-shape analytics corpus and the enrichment CSVs.

The analytics corpus has the shape of the engine's sf0.1 fixture: the
same ten tables, schemas, row counts and value distributions (a
TPC-H-like star schema, an events stream, a text corpus with injected
near-duplicates and unit-norm embeddings). It is generated from a FIXED
corpus seed, so every invocation times the same data; the invocation's
``--seed`` drives the query order, the CSV texts, their duplicates and
the failing inputs. Each generated table is
fingerprinted by its row count and values, and a mismatch with the
recorded fingerprint (a changed generator, or a NumPy whose random
stream differs) refuses the run instead of silently timing other data.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
TABLES = [
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
ROWS = {
    "region": 5, "nation": 25, "supplier": 1_000, "customer": 15_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
FINGERPRINTS_FILE = os.path.join(os.path.dirname(__file__), "fingerprints.json")

_DAY_US = 86_400 * 1_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int) -> list[str]:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist()


def _tables(rng) -> dict[str, dict]:
    n = ROWS
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }
    t["customer"] = {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"],
        ),
    }
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = {
        "p_partkey": parts,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(_pick(rng, adjectives, len(parts)), _pick(rng, nouns, len(parts)))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, len(parts))],
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], len(parts)
        ),
        "p_size": rng.integers(1, 51, len(parts)).astype(np.int32),
        "p_retailprice": (9000 + parts % 1000) / 10.0,
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, ne))
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    words = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 101, nd)
    ]
    # near-duplicates (an earlier document plus one token) and a few
    # exact duplicates, so the dedup/LSH queries have pairs to find
    targets = rng.choice(np.arange(1, nd), 258, replace=False)
    for i, d in enumerate(targets):
        src = texts[int(rng.integers(0, d))]
        texts[d] = src + " dup" if i < 250 else src
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(
            ["en", "zh", "es", "fr", "de"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]
        ).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    return t


def _values(arr: pa.Array) -> bytes:
    if pa.types.is_list(arr.type):
        return _values(arr.value_lengths()) + _values(arr.flatten())
    if pa.types.is_string(arr.type):  # offsets rebased to 0, then the text
        off = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset : arr.offset + len(arr) + 1]
        return (off - off[0]).tobytes() + arr.buffers()[2].to_pybytes()[off[0] : off[-1]]
    return arr.to_numpy(zero_copy_only=False).tobytes()


def content_sha256(path: str) -> str:
    """sha256 of a parquet file's schema and values as read back, not
    of its bytes: those also carry the writer's version and defaults."""
    table = pq.read_table(path)
    h = hashlib.sha256(str(table.schema.remove_metadata()).encode())
    for name in table.column_names:
        h.update(_values(table[name].combine_chunks()))
    return h.hexdigest()


def build_sf01(out_dir: str) -> dict[str, dict]:
    """Generate the analytics corpus into ``out_dir``, one
    single-row-group parquet file per table; return
    ``{table: {"rows": n, "sha256": content_sha256}}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    prints = {}
    for table, cols in _tables(rng).items():
        path = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(pa.table(cols), path, row_group_size=1 << 30)
        prints[table] = {"rows": pq.read_metadata(path).num_rows, "sha256": content_sha256(path)}
    return prints


def spark_fingerprint(spark, corpus_dir: str) -> dict[str, dict]:
    """Per-table row count and an order-independent content hash (the
    decimal sum of every row's xxhash64), for corpora Spark wrote as
    many part files."""
    from pyspark.sql import functions as F

    prints = {}
    for table in TABLES:
        df = spark.read.parquet(os.path.join(corpus_dir, f"{table}.parquet"))
        rows, digest = df.agg(
            F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        ).first()
        prints[table] = {"rows": rows, "sha256": hashlib.sha256(str(digest).encode()).hexdigest()}
    return prints


def check_fingerprint(name: str, prints: dict[str, dict]) -> None:
    """Refuse to run on a corpus other than the recorded one."""
    with open(FINGERPRINTS_FILE) as f:
        expected = json.load(f)[name]
    bad = [
        f"{t}: rows {prints.get(t, {}).get('rows')} vs {v['rows']}"
        if prints.get(t, {}).get("rows") != v["rows"]
        else f"{t}: content hash differs"
        for t, v in expected.items()
        if prints.get(t) != v
    ]
    if bad:
        raise SystemExit(
            f"corpus {name} differs from its recorded fingerprint "
            f"({FINGERPRINTS_FILE}): " + "; ".join(bad)
        )


# -- enrichment inputs --------------------------------------------------

SYSTEM_PROMPT = "Classify the spreadsheet row."


def write_enrich_csv(
    path: str, rng: np.random.Generator, rows: int, dup_share: float
) -> list[str]:
    """Write a two-column CSV (``row``, ``text``) and return its texts.
    About ``dup_share`` of the rows repeat an earlier row's text. Texts
    are lower-case words plus a row tag, so the CSV round trip and
    Spark's schema inference keep them verbatim."""
    words = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(rows):
        if i and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(3, 12))
            texts.append(f"w{i} " + " ".join(words[rng.integers(0, len(words), k)]))
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["row", "text"])
        w.writerows(enumerate(texts))
    return texts
