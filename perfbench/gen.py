"""Seed-driven benchmark inputs.

Two generators, both pure functions of their seed (same seed, same bytes):

* ``warehouse(out_dir, seed, sf)`` writes the ten parquet tables that the
  query registry scans (``gmt_dbt_spark.catalog.TABLES``). Schemas, value
  domains and the ~5 % planted near-duplicate documents follow the
  TPC-H-ish synthetic warehouse the registry's oracles were written
  against; row counts scale with ``sf`` like it (lineitem = 6M x sf).
* ``elt(out_dir, seed, copies, batches)`` derives Yelp-shaped ingest
  inputs from ``fixtures/`` for the ELT write path: ``copies`` copies of
  each ``ELT_TABLES`` fixture with keys offset per copy and text tokens
  perturbed per copy (so joins and merges do not degenerate into exact
  replicas), one array-layout JSON file, the precipitation CSV with its
  quoted newline and jagged rows, an upsert target and ``batches`` merge
  batches, each a seed-chosen mix of updates and inserts.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
import re
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

# ---------------------------------------------------------------- warehouse

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["small", "large", "red", "hot", "old", "new", "blue", "steel"]
_PART_NOUN = ["ring", "rod", "plate", "widget", "bolt", "gear", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMBED_DIM = 64


def _days(start: datetime, n: int, n_days: int, rng: np.random.Generator) -> pa.Array:
    """``n`` midnight timestamp[us] values in the ``n_days`` days from ``start``."""
    base = int(start.timestamp()) * 1_000_000
    return pa.array(base + rng.integers(0, n_days, n) * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse(out_dir: str, seed: int, sf: float, only: tuple[str, ...] | None = None) -> None:
    """Write the ten warehouse tables for scale factor ``sf`` under ``out_dir``
    (or just the tables named in ``only``; the others are still drawn, so a
    table's rows do not depend on which tables are written)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(_dir: str, name: str, cols: dict) -> None:
        if only is None or name in only:
            pq.write_table(pa.table(cols), os.path.join(_dir, f"{name}.parquet"))

    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 50), max(int(1_500_000 * sf), 200)
    n_line, n_ev = 4 * n_ord, max(int(1_000_000 * sf), 500)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 50)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(datetime(1995, 1, 1, tzinfo=timezone.utc), n_ord, 2404, rng),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist()})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _days(datetime(1995, 1, 2, tzinfo=timezone.utc), n_line, 2499, rng)})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000 + ev_ts,
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_DOC_WORDS, int(k))) for k in rng.integers(10, 100, n_doc)]
    # ~5 % near-duplicates: an earlier document plus one marker token, the
    # candidate pairs the dedup operators exist to find.
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ---------------------------------------------------------------------- ELT

# Fixture file → ingested table name. The business table is written in the
# array layout so that the multi-line JSON reader path runs.
# Three of the reference's eight sources: the two tables the mart joins, one
# in each JSON layout, and the CSV with quoted newlines.
ELT_TABLES = {
    "yelp_business.ndjson": "yelp_business.json",
    "yelp_review.ndjson": "yelp_review.ndjson",
    "lv_precipitation.csv": "lv_precipitation.csv",
}
_KEY_RE = re.compile(r"\b([bur])(\d{21})\b")
_KEY_STRIDE = 10_000_000
_TEXT_FIELDS = ("text", "highlights", "Covid Banner")
_UPSERT_STRIDE = 100_000


def _read_ndjson(name: str) -> list[dict]:
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _offset_keys(value: str, block: int) -> str:
    """Shift every Yelp key (b/u/r + 21 digits) in ``value`` into key block ``block``."""
    return _KEY_RE.sub(lambda m: f"{m.group(1)}{int(m.group(2)) + block * _KEY_STRIDE:021d}", value)


def _perturb(text: str, rng: random.Random, vocab: list[str]) -> str:
    return " ".join(rng.choice(vocab) if rng.random() < 0.2 else w for w in text.split(" "))


def _copy_row(row: dict, block: int, rng: random.Random, vocab: list[str]) -> dict:
    out = {}
    for k, v in row.items():
        if isinstance(v, str):
            v = _offset_keys(v, block)
            if k in _TEXT_FIELDS:
                v = _perturb(v, rng, vocab)
        out[k] = v
    return out


def _copy_csv(name: str, copies: int, rng: random.Random) -> str:
    """Concatenate ``copies`` copies of a climate CSV, each shifted by whole
    years and with numeric cells jittered; jagged rows and quoted newlines
    are kept as they are."""
    with open(os.path.join(FIXTURES, name), newline="", encoding="utf-8") as f:
        header, *rows = list(csv.reader(f))
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(header)
    for c in range(copies):
        for r in rows:
            d = datetime.strptime(r[0], "%Y%m%d") + timedelta(days=366 * c)
            cells = [d.strftime("%Y%m%d")]
            for cell in r[1:]:
                try:
                    x = float(cell)
                except ValueError:
                    cells.append(cell)
                    continue
                x = round(x * (1 + rng.uniform(-0.1, 0.1)), 1 if "." in cell else 0)
                cells.append(f"{x:.{len(cell.split('.')[1])}f}" if "." in cell else str(int(x)))
            if len(cells) < len(header):
                # jagged row: written raw, as the fixture does, because
                # csv.writer would not drop the trailing separator
                buf.write(",".join(cells) + "\r\n")
            else:
                w.writerow(cells)
    return buf.getvalue()


def elt(out_dir: str, seed: int, copies: int, batches: int) -> dict:
    """Write the ELT inputs under ``out_dir`` and return their manifest:
    ``{"src": ingest dir, "target": upsert target file, "batches": [files],
    "tables": {table: file}}``."""
    rng = random.Random(seed)
    # each copy gets its own block of keys; where the blocks start depends on the seed
    first_block = rng.randrange(1000)
    src = os.path.join(out_dir, "src")
    os.makedirs(src, exist_ok=True)
    vocab = sorted({w for r in _read_ndjson("yelp_review.ndjson") for w in r["text"].split()
                    if w.isalpha()})
    tables = {}
    for fixture, out_name in ELT_TABLES.items():
        path = os.path.join(src, out_name)
        tables[os.path.splitext(out_name)[0]] = path
        if fixture.endswith(".csv"):
            with open(path, "w", newline="", encoding="utf-8") as f:
                f.write(_copy_csv(fixture, copies, rng))
            continue
        base = _read_ndjson(fixture)
        rows = [_copy_row(r, first_block + c, rng, vocab) for c in range(copies) for r in base]
        with open(path, "w", encoding="utf-8") as f:
            if out_name.endswith(".json"):
                json.dump(rows, f, indent=1)
            else:
                f.writelines(json.dumps(r) + "\n" for r in rows)

    up = os.path.join(out_dir, "upsert")
    os.makedirs(up, exist_ok=True)
    target = [
        {"id": f"k{(first_block + c) * _UPSERT_STRIDE + int(r['id'][1:]):09d}",
         "val": r["val"], "updated_at": r["updated_at"]}
        for c in range(copies) for r in _read_ndjson("upsert_target.ndjson")
    ]
    keys = [r["id"] for r in target]
    batch_paths = []
    next_key = (first_block + copies) * _UPSERT_STRIDE
    for b in range(batches):
        n = len(target) // 2
        n_upd = rng.randint(n // 4, 3 * n // 4)
        upd = rng.sample(keys, n_upd)
        ins = [f"k{next_key + i:09d}" for i in range(n - n_upd)]
        next_key += n - n_upd
        keys += ins
        stamp = f"2024-{b + 2:02d}-01 00:00:00"
        rows = [{"id": k, "val": f"b{b}_{rng.randrange(1000)}", "updated_at": stamp}
                for k in upd + ins]
        rng.shuffle(rows)
        path = os.path.join(up, f"batch_{b}.ndjson")
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        batch_paths.append(path)
    target_path = os.path.join(up, "target.ndjson")
    with open(target_path, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(r) + "\n" for r in target)
    return {"src": src, "target": target_path, "batches": batch_paths, "tables": tables}
