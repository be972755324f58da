"""Query members the benchmark runs, and their DuckDB oracle check.

The member list is the benchmark's own copy, so a later change to the
repository's other harnesses cannot change what this benchmark measures.
It takes the cheapest headline member of each of the ten modules that
define headline members, sized so a run fits the benchmark's time
budget: a memo-cleared pass of the full 87-member headline takes about
50 s even on the smallest corpus. No index build is run: the cheapest,
``band_index_pressure``, takes 4 to 7 s warm and varied by 20% between
runs; the ANN builds take 7 to 10 s warm and 16 s or more cold.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

MEMBER_QUERIES = [
    "q1_pricing_summary",  # relational
    "session_window_10m",  # streaming
    "dedup_exact",  # llm.dedup
    "pack_context_windows",  # llm.curate
    "token_stats",  # llm.textstats
    "ann_cosine_topk",  # llm.similarity
    "quality_weighted_sample",  # llm.sampling
    "multimodal_png_decode",  # llm.multimodal
    "nb_holdout_confusion",  # llm.classify
    "bpe_train_merges_batched",  # llm.tokenize
]


def _oracle_tool(repo_root: Path):
    """The repository's own oracle comparator (``tools/check_oracles.py``),
    loaded by path so its value normalization is shared, not copied."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracles", repo_root / "tools" / "check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleChecker:
    """Compares a member's Spark result with its DuckDB oracle the way
    ``tools/check_oracles.py --members`` does: row count, sorted column
    names, and an order-insensitive multiset of normalized rows; members
    with very large outputs compare engine-side (n, checksum) digests."""

    def __init__(self, repo_root: Path, sf_dir: Path):
        import duckdb

        self.tool = _oracle_tool(repo_root)
        self.con = duckdb.connect()
        for t in self.tool.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir / t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def check(self, spark, name: str, fn, sql: str, sf_dir: str) -> str | None:
        """None when the member matches its oracle, else the problem."""
        from generic_data_ingestor_framework_spark import composite
        from generic_data_ingestor_framework_spark._composite_manifest import MANIFEST

        digest = name in self.tool.DIGEST_MEMBERS
        sdf = fn(spark, sf_dir)
        if digest:
            sdf = composite.block_digest(sdf, name)
            sql = composite._oracle_block(name, sql, MANIFEST[name])
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        res = self.con.execute(sql)
        dcols, drows = [d[0] for d in res.description], res.fetchall()
        n_spark = srows[0][1] if digest else len(srows)
        n_duck = drows[0][1] if digest else len(drows)
        if n_spark != n_duck or len(srows) != len(drows):
            return f"rowcount spark={n_spark} duckdb={n_duck}"
        if sorted(scols) != sorted(dcols):
            return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
        if self.tool.rows_to_multiset(srows, scols) != self.tool.rows_to_multiset(drows, dcols):
            return "values differ"
        return None
