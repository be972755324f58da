"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy`` seed and writes the same bytes for the
same seed. Each one also returns the outcome the program must produce
from those bytes, computed in plain Python, so the benchmark can check
the program's results without trusting the program.

- ``small_files``: many small JSON files with key drift, a nested
  subdirectory and a fixed set of hostile files, plus the expected CLI
  report and table content (``cli_small_files``).
- ``tables``: the ten parquet tables the query members read, in the
  shape of the sf-scaled test corpus (``member_queries``).
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np

SOURCE_COL = "_source_file"

# ---------------------------------------------------------------- CLI inputs

SMALL_FILES = 10
SMALL_RECORDS = 50
_CITIES = ["Lyon", "Oslo", "Kyiv", "Lima", "Pune", "Graz", "Cork", "Nara"]


def _text(v) -> str | None:
    """The all-TEXT value the CLI's parity projection stores for one
    top-level JSON value (``normalize.normalize_text_parity``):
    null/[]/{} become "", nested values become compact JSON with the
    keys sorted (Spark infers struct fields in sorted order), booleans
    are lower case."""
    if v is None or v == [] or v == {}:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"), sort_keys=True, ensure_ascii=False)
    return str(v)


def _small_record(rng: np.random.Generator, file_no: int, i: int) -> dict:
    """One record of the small-files corpus. Which optional keys a file
    carries depends on the file number, so the column set drifts across
    files; value types never change for a key, so no column is widened."""
    rec = {
        "id": file_no * 1000 + i,
        "name": f"user_{int(rng.integers(0, 10_000))}",
        "active": bool(rng.integers(0, 2)),
        "score": int(rng.integers(0, 1000)) / 4,
    }
    if file_no % 2 == 0:
        rec["city"] = _CITIES[int(rng.integers(0, len(_CITIES)))]
    if file_no % 3 == 0:
        rec["address"] = {
            "street": f"{int(rng.integers(1, 400))} Main St",
            "zip": int(rng.integers(10_000, 99_999)),
        }
    if file_no % 4 == 1:
        rec["tags"] = [f"t{int(x)}" for x in rng.integers(0, 9, int(rng.integers(0, 3)))]
    if file_no % 5 == 2:
        rec["note"] = None if i % 3 == 0 else f"n{i}"
    return rec


def _write_json(path: Path, payload: str, encoding: str = "utf-8") -> int:
    path.parent.mkdir(parents=True, exist_ok=True)
    data = payload.encode(encoding)
    path.write_bytes(data)
    return len(data)


def _expected_rows(records_by_file: dict[str, list[dict]]) -> tuple[list[str], list[tuple]]:
    """Sorted column list and the expected table rows in that column
    order. A key absent from a whole file stays NULL after the union; a
    key present with a null value is normalized to ""."""
    keys = sorted({k for recs in records_by_file.values() for r in recs for k in r})
    rows = []
    for name, recs in records_by_file.items():
        present = {k for r in recs for k in r}
        for r in recs:
            rows.append(
                tuple(_text(r.get(k)) if k in present else None for k in keys) + (name,)
            )
    return keys + [SOURCE_COL], rows


def small_files(root: Path, seed: int) -> dict:
    """Write the ``cli_small_files`` directory; return its expectation."""
    rng = np.random.default_rng([seed, 1])
    records_by_file: dict[str, list[dict]] = {}
    input_bytes = 0
    for f in range(SMALL_FILES):
        recs = [_small_record(rng, f, i) for i in range(SMALL_RECORDS)]
        sub = "nested/deeper" if f % 4 == 3 else ""
        name = f"part_{f:04d}.json"
        input_bytes += _write_json(root / sub / name, json.dumps(recs))
        records_by_file[name] = recs

    # hostile files: each takes a different branch of the parity reader
    mixed = [_small_record(rng, 100, i) for i in range(6)]
    mixed_payload = [mixed[0], 7, mixed[1], "x", mixed[2], None, mixed[3], mixed[4], 3.5, mixed[5]]
    input_bytes += _write_json(root / "hostile_mixed.json", json.dumps(mixed_payload))
    records_by_file["hostile_mixed.json"] = mixed
    dropped = sum(1 for x in mixed_payload if not isinstance(x, dict))

    input_bytes += _write_json(root / "hostile_broken.json", '[{"id": 1, "name": "tru')
    input_bytes += _write_json(root / "hostile_empty.json", "[]")

    latin = [_small_record(rng, 101, i) | {"city": c} for i, c in enumerate(["Zürich", "Málaga", "Besançon"])]
    input_bytes += _write_json(
        root / "nested" / "hostile_latin1.json",
        json.dumps(latin, ensure_ascii=False),
        encoding="iso-8859-1",
    )
    records_by_file["hostile_latin1.json"] = latin

    lines = [_small_record(rng, 102, i) for i in range(20)]
    input_bytes += _write_json(
        root / "hostile_lines.jsonl", "\n".join(json.dumps(r) for r in lines) + "\n"
    )
    records_by_file["hostile_lines.jsonl"] = lines

    columns, rows = _expected_rows(records_by_file)
    return {
        "files_processed": len(records_by_file),
        "files_failed": 1,
        "total_records": len(rows),
        "dropped_non_dict": dropped,
        "columns": columns,
        "rows": rows,
        "input_bytes": input_bytes,
    }


# ------------------------------------------------------------ member tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_LANGS = ["en", "en", "en", "fr", "zh", "de", "es"]
EMBED_DIM = 64


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(root: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten parquet tables at scale factor ``sf`` (lineitem
    holds 6M*sf rows); return the row count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # events: distinct microsecond timestamps over January 2024, in order
    month_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.choice(month_us, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev), i64),
        "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: ~5% are an earlier document plus a " dup" suffix
    texts: list[str] = []
    for d in range(n_doc):
        if d > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    # embeddings: unit vectors around one weak centroid per label
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = rng.normal(0, 1, (n_vec, EMBED_DIM)) + 1.2 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })

    root.mkdir(parents=True, exist_ok=True)
    for name, tbl in out.items():
        pq.write_table(tbl, root / f"{name}.parquet")
    return {name: tbl.num_rows for name, tbl in out.items()}
