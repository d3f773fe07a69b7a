"""Seeded inputs for the benchmark and the reference answers they are checked against.

Everything here is a pure function of the workload size and ``--seed``:

- change ledgers come from the engine's own generator (``cdc.gen``);
- the query tables (lineitem, orders, events, documents, embeddings) are
  written with numpy + pyarrow in the shapes of the parity suite's fixtures;
- the expected ledger state is computed on a separate code path (a window
  rank over the raw ledger files plus the reference HTML extractor), and the
  expected query answers come from DuckDB running the suite's oracle SQL.

Generated inputs and reference answers are cached under the work directory,
keyed by everything they depend on, so a repeated seed skips regeneration.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00

LEAF_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


@dataclass(frozen=True)
class LedgerSize:
    n_events: int
    events_per_url: int = 10
    n_parts: int = 4
    hot_url_rate: float = 0.01

    def spec(self, seed: int):
        from data_warehouse_etl_spark.cdc import LedgerSpec

        return LedgerSpec(
            n_urls=max(self.n_events // self.events_per_url, 1),
            n_events=self.n_events,
            n_parts=self.n_parts,
            seed=seed,
            dup_rate=0.05,
            delete_rate=0.05,
            out_of_order_rate=0.10,
            hot_url_rate=self.hot_url_rate,
            evolve_at_seq=self.n_events // 2,
        )

    def key(self, seed: int) -> str:
        raw = json.dumps({**asdict(self), "seed": seed}, sort_keys=True)
        return hashlib.sha1(raw.encode()).hexdigest()[:12]


def _cache_json(path: str, compute):
    """Return the JSON value cached at ``path``, computing and storing it once."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


# ------------------------------------------------------------------ ledgers


def ledger(cache_dir: str, size: LedgerSize, seed: int) -> str:
    """Path of the generated ledger table (generated on first use)."""
    from data_warehouse_etl_spark.cdc import generate_ledger

    path = os.path.join(cache_dir, f"ledger-{size.key(seed)}")
    generate_ledger(path, size.spec(seed))
    return path


def ledger_reference(spark, cache_dir: str, size: LedgerSize, seed: int, ledger_path: str) -> dict:
    """The live pages the full ledger must replay to: their ``state_hash``
    (as a string, ``"hash"``) and their row count per language, as sorted
    ``[language, rows]`` pairs (``"languages"``).

    Computed without the engine: the raw ledger parquet files are read
    directly (the renamed ``lang``/``language`` column is coalesced by hand),
    each url keeps its row of greatest ``(warc_ts, seq)`` by a window rank,
    delete winners are dropped, and text comes from the reference extractor.
    """
    path = os.path.join(cache_dir, f"ref-{size.key(seed)}.json")
    return _cache_json(path, lambda: _ledger_reference(spark, ledger_path))


def language_counts(rows) -> list[list]:
    """``(language, rows)`` pairs in the canonical order of the reference."""
    return sorted(([lang, int(n)] for lang, n in rows), key=lambda p: (p[0] is None, p[0] or ""))


def _ledger_reference(spark, ledger_path: str) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_warehouse_etl_spark.cdc.extract import _extract_text_bytes_reference
    from data_warehouse_etl_spark.lake import state_hash

    files = sorted(glob.glob(os.path.join(ledger_path, "data", "gen", "*.parquet")))
    old = [f for f in files if "language" not in pq.read_schema(f).names]
    new = [f for f in files if f not in old]
    frames = []
    if old:
        frames.append(
            spark.read.parquet(*old)
            .withColumnRenamed("lang", "language")
            .withColumn("fetch_status", F.lit(None).cast("int"))
        )
    if new:
        frames.append(spark.read.parquet(*new))
    events = frames[0]
    for f in frames[1:]:
        events = events.unionByName(f)
    rank = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("seq").desc())
    extract = F.udf(_extract_text_bytes_reference, T.StringType())
    live = (
        events.withColumn("_rn", F.row_number().over(rank))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(
            "url",
            "warc_ts",
            "html",
            extract("html").alias("text"),
            "language",
            "fetch_status",
        )
    ).cache()
    try:
        langs = language_counts(tuple(r) for r in live.groupBy("language").count().collect())
        return {"hash": str(state_hash(live)), "languages": langs}
    finally:
        live.unpersist()


# ------------------------------------------------------------- query tables


def _dates(rng, n: int, base_us: int, days: int) -> np.ndarray:
    return base_us + rng.integers(0, days, n).astype(np.int64) * _DAY_US


def _doc_texts(rng, n: int) -> list[str]:
    """Random word sequences; about one doc in six is a light edit of an
    earlier one, so the dedup leaves have real candidate pairs."""
    words = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.17:
            src = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(src), max(len(src) // 20, 1)):
                src[int(j)] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 96)))]))
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the five leaf tables at scale ``sf`` (0.1 ~ 600k lineitems).
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    n_orders = max(int(1_500_000 * sf), 100)
    n_items = 4 * n_orders
    n_events = max(int(1_000_000 * sf), 100)
    n_docs = max(int(50_000 * sf), 50)
    n_vecs = max(int(20_000 * sf), 20)
    ts = pa.timestamp("us")
    tables = {
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, max(int(150_000 * sf), 10), n_orders),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
                "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
                "o_orderdate": pa.array(_dates(rng, n_orders, _EPOCH_1995_US, 2404), ts),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
                ).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_orders, n_items),
                "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_items),
                "l_suppkey": rng.integers(0, max(int(10_000 * sf), 10), n_items),
                "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105_000, n_items), 2),
                "l_discount": rng.integers(0, 11, n_items) / 100.0,
                "l_tax": rng.integers(0, 9, n_items) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_items).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n_items).tolist(),
                "l_shipdate": pa.array(_dates(rng, n_items, _EPOCH_1995_US + _DAY_US, 2498), ts),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pa.array(
                    _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n_events)), ts
                ),
                "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_events),
                "event_type": rng.choice(
                    ["signup", "click", "error", "view", "purchase"], n_events
                ).tolist(),
                "value": np.round(rng.uniform(0, 560, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
    }
    texts = _doc_texts(rng, n_docs)
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n_docs).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(0, 0.12, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def tables(cache_dir: str, seed: int, sf: float) -> tuple[str, dict[str, int]]:
    """Directory of the leaf tables for (seed, sf) and their row counts."""
    out = os.path.join(cache_dir, f"tables-sf{sf:g}-s{seed}")
    meta = os.path.join(out, "rows.json")
    if not os.path.exists(meta):
        shutil.rmtree(out, ignore_errors=True)
        rows = write_tables(out, seed, sf)
        with open(meta, "w") as fh:
            json.dump(rows, fh)
    with open(meta) as fh:
        return out, json.load(fh)


# ----------------------------------------------------------- leaf answers


def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "\x00" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    """Order-insensitive hash of a result set: columns sorted by name,
    floats to 6 significant digits (the parity suite's comparison rule)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(r.encode("utf-8", "replace"))
        h.update(b"\x02")
    return h.hexdigest()[:16]


def oracle_hashes(cache_dir: str, table_dir: str, names: list[str], sqls: dict[str, str]) -> dict[str, str]:
    """DuckDB answers of the oracle SQL for each leaf, as value hashes."""

    def compute() -> dict[str, str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in LEAF_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
            out = {}
            for n in names:
                res = con.execute(sqls[n])
                cols = [d[0] for d in res.description]
                out[n] = value_hash(res.fetchall(), cols)
            return out
        finally:
            con.close()

    path = os.path.join(cache_dir, f"oracle-{os.path.basename(table_dir)}.json")
    return _cache_json(path, compute)
