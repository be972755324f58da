"""Composite-layer invariants: registry fits the driver window, covers
every member exactly once, the static DuckDB manifest matches live
Spark schemas, and a composite's checksum rows agree with DuckDB.
"""

from __future__ import annotations

import duckdb
import pytest

from generic_data_ingestor_framework_spark import composite
from generic_data_ingestor_framework_spark._composite_manifest import MANIFEST

from conftest import SF_SMALL as SF_DIR

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def test_registered_surface_fits_driver_window():
    regs = composite.REGISTER_ORDER
    assert len(regs) <= 50, f"{len(regs)} registered queries exceed the 50-entry gate"
    assert len(regs) == len(set(regs))


def test_members_partition_exactly():
    """Every member is registered standalone XOR via exactly one composite."""
    composed: list[str] = []
    for members in composite.COMPOSITES.values():
        composed.extend(members)
    assert len(composed) == len(set(composed)), "member in two composites"
    standalone = [n for n in composite.REGISTER_ORDER if n not in composite.COMPOSITES]
    for s in standalone:
        assert s in composite.MEMBER_QUERIES
        assert s not in composed, f"{s} registered both standalone and composed"
    assert set(standalone) | set(composed) == set(composite.MEMBER_QUERIES)


def test_manifest_covers_all_members():
    assert set(MANIFEST) == set(composite.MEMBER_QUERIES)


def test_doc_member_counts_match_registry():
    """Stale-doc guard (r11 verdict): any doc that quotes a member
    count must say len(MEMBER_QUERIES). COVERAGE.md and the entry
    docstring stop quoting literal counts; this pins the invariant the
    registry itself must keep — every member has an oracle (or is an
    explicitly rows-only member)."""
    n = len(composite.MEMBER_QUERIES)
    n_oracles = len(composite.MEMBER_ORACLES)
    rows_only = set(composite.MEMBER_QUERIES) - set(composite.MEMBER_ORACLES)
    assert n == n_oracles + len(rows_only)
    assert not rows_only, f"rows-only members (weaker gate): {sorted(rows_only)}"


def test_doc_member_count_literals_match_registry():
    """The r10/r11/r12 stale-count class, finally pinned at the source:
    any CURRENT-STATE member count quoted in README/COVERAGE carries a
    ``<!-- member-count -->`` marker immediately before the number, and
    this test asserts every marked number equals the live registry.
    Historical per-round rows stay unmarked (they describe immutable
    artifacts); a new current-state literal without the marker is a
    review problem, but the marked ones can never go stale silently."""
    import re
    from pathlib import Path

    n = len(composite.MEMBER_QUERIES)
    n_entries = len(composite.registered_queries())
    found = found_entries = 0
    for doc in ("README.md", "COVERAGE.md"):
        text = Path(__file__).resolve().parents[1].joinpath(doc).read_text()
        for m in re.finditer(r"<!-- member-count -->(\d+)(?:/(\d+))?", text):
            found += 1
            assert int(m.group(1)) == n, f"{doc} quotes {m.group(1)} members; registry holds {n}"
            if m.group(2):
                assert int(m.group(2)) == n, f"{doc} quotes /{m.group(2)} members; registry holds {n}"
        # same discipline for the registered-entry count (r13 verdict #8)
        for m in re.finditer(r"<!-- entry-count -->(\d+)", text):
            found_entries += 1
            assert int(m.group(1)) == n_entries, (
                f"{doc} quotes {m.group(1)} registered entries; "
                f"registry holds {n_entries}"
            )
    assert found >= 2, "member-count markers missing from README/COVERAGE"
    assert found_entries >= 1, "entry-count marker missing from README"


@pytest.mark.parametrize(
    "member",
    [  # cheap representatives, one per module family
        "preview_limit", "window_rank", "approx_sketches", "date_funcs",
        "dedup_exact", "token_stats", "sample_hash_mod",
        "window_tumbling_hourly", "udf_text_normalize",
    ],
)
def test_manifest_matches_live_schema(spark, member):
    df = composite.MEMBER_QUERIES[member](spark, SF_DIR)
    live = [(c, composite.kind_of(dt)) for c, dt in df.dtypes]
    assert live == MANIFEST[member], f"manifest drift for {member}: regenerate via tools/gen_manifest.py"


def test_composite_checksums_match_duckdb(spark):
    """End-to-end: one composite's (fam, n, checksum) rows equal DuckDB's."""
    name = "set_ops"
    q = composite.registered_queries()[name]
    srows = {tuple(r) for r in q(spark, SF_DIR).collect()}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    drows = {tuple(r) for r in con.execute(composite.registered_oracles()[name]).fetchall()}
    assert srows == drows
    assert len(srows) == len(composite.COMPOSITES[name])


def test_sampled_audit_members_embed_rows(spark):
    """Composites containing SAMPLED_MEMBERS carry a ``sample`` column
    whose sampled rows join with ';' (self-describing red rows); other
    members in the same composite carry ''."""
    from generic_data_ingestor_framework_spark import composite

    qs = composite.registered_queries()
    rows = {r["fam"]: r for r in qs["dedup_minhash_sig"](spark, SF_DIR).collect()}
    audit = rows["lsh_scurve_audit"]
    assert audit["sample"].count(";") == audit["n"] - 1 and audit["n"] > 1
    assert rows["dedup_minhash_sig"]["sample"] == ""
