"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive multiset of stringified rows.

Usage: python tools/check_oracles.py [--members] [--strict] [--json OUT]
       [--rotate-full SEED] [sf_dir] [query_name ...]

``--json OUT`` additionally writes a CORRECTNESS-shaped artifact (one
record per query: rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err / secs) — used to produce CORRECTNESS_SF1.json, the
value-check of the sf1 decade-up corpus.

``--members`` checks the FULL member registry (every query folded into
a family composite, individually) instead of the registered surface.

``--strict`` disables the integral-float collapse in value
normalization (``54.0`` stays ``"54.0"``, never ``"54"``): the
driver's hashing may be stricter than ours, so a gate-red row that
passes here should be re-run with --strict before suspecting
session-state. The default (registered, no filter) run is already
gate-shaped: ONE shared session, entries executed in REGISTER_ORDER.

Sweep-cost controls (the sf1 value check was 19 min in r10, with two
members >60 s — almost all of it NOT engine compute):

- The Spark query and its DuckDB oracle run CONCURRENTLY (two threads;
  both engines release the GIL), so a member's wall is max(spark, duck)
  instead of their sum. Results and diagnostics are unchanged.
- Members in ``DIGEST_MEMBERS`` (≥ ~50k output rows at sf1) compare
  ENGINE-SIDE digests — ``composite.block_digest`` on Spark vs
  ``composite._oracle_block`` on DuckDB, the exact (n, checksum) fold
  the driver gate already trusts for composite members — instead of
  materializing ~1M rows into Python on both sides and sorting two
  multisets. ``--full-rows`` (or ``--strict``) restores full-row
  comparison for them.
- ``--rotate-full SEED`` (pass the round number) promotes 5
  deterministically-chosen DIGEST_MEMBERS to full-row comparison —
  digest-collision safety: every digest member gets a row-level check
  every ~7 rounds on average. The selection is recorded in the
  ``--json`` artifact.
- With ``--json``, the artifact also carries a drift probe (q6 timed
  at sweep start/end) and per-member ``secs_probe_units`` — member
  times in probe units, comparable across rounds on a drifting host.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from pathlib import Path

import duckdb

# the checkout this file sits in, whatever the working directory
REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from generic_data_ingestor_framework_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


STRICT = False  # --strict: no integral-float collapse (driver-style hashing)

# Members whose outputs are row-heavy at sf1 (≥ ~50k rows): compared via
# engine-side (n, checksum) digests — the same portable fold their
# family composites already ship through the driver gate — so the sweep
# pays engine compute, not Python row materialization. Values still
# flip the checksum at the canon grain (strings/ints exact, doubles at
# 1e-4 — every member rounds its float outputs coarser than that).
DIGEST_MEMBERS = {
    "agg_having_distinct", "array_funcs", "case_null_funcs",
    "chunk_documents_overlap", "correlated_subquery", "date_funcs",
    "dedup_minhash_accuracy", "dedup_minhash_lsh_pairs",
    "dedup_minhash_lsh_pairs_wide", "dedup_ngram_jaccard",
    "dedup_semantic_clusters", "events_asof_join",
    "events_range_window_1h", "graph_triangle_count", "join_anti",
    "join_inner", "join_left_agg", "join_semi", "math_funcs",
    "multimodal_frame_sample", "multimodal_resize_buckets",
    "pseudonymize_users", "rcte_order_chain", "regexp_funcs", "session_window_10m",
    "stream_session_windows", "string_funcs", "subquery_cte",
    "tfidf_top_terms", "top_k_per_group", "union_all_missing_cols",
    "unpivot_part_measures", "window_frames", "window_navigation",
    "window_rank",
}


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if not STRICT and v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(norm_value(r[i]) for i in order) for r in rows)


def main():
    global STRICT
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    rotate_seed = None
    if "--rotate-full" in args:
        i = args.index("--rotate-full")
        rotate_seed = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    argv = [a for a in args if a not in ("--members", "--strict", "--full-rows")]
    members = "--members" in args
    STRICT = "--strict" in args
    full_rows = "--full-rows" in args or STRICT
    # Digest-collision safety (r12): the ~34 DIGEST_MEMBERS compare
    # engine-side (n, checksum) folds only — a fold-level bug class
    # could hide indefinitely. --rotate-full SEED (the round number)
    # deterministically promotes 5 of them to full-row comparison per
    # sweep, so every digest member gets a row-level check every ~7
    # rounds. Recorded in the JSON artifact.
    rotate_members: list[str] = []
    if rotate_seed is not None:
        import hashlib

        ordered = sorted(
            DIGEST_MEMBERS,
            key=lambda n: hashlib.md5(f"{rotate_seed}:{n}".encode()).hexdigest(),
        )
        rotate_members = ordered[:5]
        print(f"rotate-full seed={rotate_seed}: full-row check for {rotate_members}")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    records: dict[str, dict] = {}

    # Spark's Python workers import the package too: they inherit
    # PYTHONPATH from the JVM, which inherits it when it starts here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (e.g. the
        # _scale/sf1 decade-up corpus); glob them for DuckDB
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    if members:
        qs, oracles = entry_mod.member_queries(), entry_mod.member_oracles()
    else:
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    from concurrent.futures import ThreadPoolExecutor

    from generic_data_ingestor_framework_spark import composite

    def _spark_side(fn, digest, tag):
        sdf = fn(spark, sf_dir)
        if digest:
            sdf = composite.block_digest(sdf, tag)
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    def _duck_side(sql, digest, tag):
        if digest:
            from generic_data_ingestor_framework_spark._composite_manifest import (
                MANIFEST,
            )

            sql = composite._oracle_block(tag, sql, MANIFEST[tag])
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    passed, failed, rows_only = [], [], []
    pool = ThreadPoolExecutor(max_workers=2)
    def _probe_secs() -> float:
        """Fixed linear reference (q6 scan+agg) timed median-of-3: the
        sweep artifact carries member times in PROBE UNITS so per-member
        time targets stay comparable across rounds regardless of host
        drift (r11: same-code member walls spread 27-105 s)."""
        fn = (entry_mod.member_queries())["q6_forecast_revenue"]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        return round(sorted(runs)[1], 3)

    probe_start = _probe_secs() if json_out else None
    for name, fn in qs.items():
        if only and name not in only:
            continue
        digest = (
            name in DIGEST_MEMBERS
            and name in oracles
            and not full_rows
            and name not in rotate_members
        )
        t0 = time.time()
        # Spark and DuckDB run CONCURRENTLY (independent engines, both
        # release the GIL) — a member's wall is max of the two sides.
        sfut = pool.submit(_spark_side, fn, digest, name)
        dfut = (
            pool.submit(_duck_side, oracles[name], digest, name)
            if name in oracles
            else None
        )
        try:
            scols, srows = sfut.result()
        except Exception as ex:
            if dfut is not None:
                try:
                    dfut.result()
                except Exception:
                    pass
            failed.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            records[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": f"spark: {str(ex)[:300]}"}
            continue
        n_spark = srows[0][1] if digest else len(srows)
        if dfut is None:
            rows_only.append(name)
            print(f"ROWS  {name}: {n_spark} rows (no oracle, rows-only check)")
            records[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": n_spark,
                             "oracle_rows": None, "err": None, "rows_only": True}
            continue
        try:
            dcols, drows = dfut.result()
        except Exception as ex:
            failed.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            records[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": n_spark,
                             "oracle_rows": None, "err": f"duckdb: {str(ex)[:300]}"}
            continue

        n_duck = drows[0][1] if digest else len(drows)
        problems = []
        if len(srows) != len(drows) or n_spark != n_duck:
            problems.append(f"rowcount spark={n_spark} duckdb={n_duck}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sm = rows_to_multiset(srows, scols)
            dm = rows_to_multiset(drows, dcols)
            if sm != dm:
                diffs = [(a, b) for a, b in zip(sm, dm) if a != b]
                problems.append(
                    ("digest mismatch: " if digest else "")
                    + f"values differ in {len(diffs)}/{len(sm)} rows; first: "
                    f"spark={diffs[0][0][:200]!r} duckdb={diffs[0][1][:200]!r}"
                )
        dt = time.time() - t0
        records[name] = {
            "rows_match": n_spark == n_duck,
            "schema_match": sorted(scols) == sorted(dcols),
            "hash_match": not problems,
            "spark_rows": n_spark,
            "oracle_rows": n_duck,
            "err": "; ".join(problems)[:500] if problems else None,
            "secs": round(dt, 2),
        }
        if digest:
            records[name]["digest"] = True
        if problems:
            failed.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)[:500]}")
        else:
            passed.append(name)
            tag = "PASSd" if digest else "PASS "
            print(f"{tag} {name} ({n_spark} rows, {dt:.1f}s)")
    pool.shutdown()

    if json_out:
        import json

        probe_end = _probe_secs()
        probe_mean = round((probe_start + probe_end) / 2, 3)
        if probe_mean > 0:
            for rec in records.values():
                if rec.get("secs") is not None:
                    rec["secs_probe_units"] = round(rec["secs"] / probe_mean, 1)
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "members": members,
                    "strict": STRICT,
                    "probe": {
                        "query": "q6_forecast_revenue",
                        "start_secs": probe_start,
                        "end_secs": probe_end,
                        "mean_secs": probe_mean,
                    },
                    "rotate_full": (
                        {"seed": rotate_seed, "members": rotate_members}
                        if rotate_seed is not None
                        else None
                    ),
                    "n_pass": len(passed),
                    "n_fail": len(failed),
                    "n_rows_only": len(rows_only),
                    "results": records,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    print(f"\n== {len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only ==")
    if failed:
        print("Failed:", [n for n, _ in failed])
        sys.exit(1)


if __name__ == "__main__":
    main()
