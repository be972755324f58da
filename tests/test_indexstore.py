"""The versioned index store (``llm/indexstore.py``): probe plans that
read the index in place, and writes sized to a bounded file count."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF_SMALL as SF


def _paths_to_scans(df, marker: str) -> list[tuple[str, list[str]]]:
    """For every file scan whose location contains ``marker``, the
    location and the operator names from the scan up to the plan root
    (nearest first), through AQE wrappers and query stages. Run ``df``
    first: the final adaptive plan is the one walked."""
    paths = []

    def walk(node, above: list[str]) -> None:
        name = node.getClass().getSimpleName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(node.executedPlan(), [name, *above])
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), [name, *above])
        if name.startswith("FileSourceScan"):
            loc = str(node.relation().location().rootPaths().mkString(","))
            if marker in loc:
                paths.append((loc, above))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), [name, *above])

    walk(df._jdf.queryExecution().executedPlan(), [])
    return paths


def _in_place(above: list[str]) -> bool:
    """No Exchange between the scan and the first aggregate above it,
    and a broadcast join on the way: the scanned rows are joined where
    they are read."""
    below_agg = above[: next(i for i, n in enumerate(above) if "Aggregate" in n)]
    moved = [n for n in below_agg if "Exchange" in n or "QueryStage" in n]
    return not moved and "BroadcastHashJoinExec" in below_agg


def test_band_probe_reads_the_index_in_place(spark, tmp_path):
    """The band probe scans the index (base, append and supersede
    batches alike) and meets the batch in a broadcast join: no Exchange
    between any index scan and that join — the index never shuffles.
    Above the join only the batch-sized hit ids move."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        dedup_against_band_index_versioned,
        portable_hash32,
        save_band_index_versioned,
        supersede_band_index,
    )
    from generic_data_ingestor_framework_spark.relational import load_table

    d = load_table(spark, SF, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"))
    root = str(tmp_path / "band_plan")
    save_band_index_versioned(spark, d.filter(h % 3 == 0), root)
    supersede_band_index(spark, d.filter(h % 3 == 2), root, "b0", gen=0)
    supersede_band_index(spark, d.filter(h % 15 == 0), root, "b1", gen=1)
    probe = dedup_against_band_index_versioned(spark, d.filter(h % 3 == 1), root)
    probe.collect()
    by_loc: dict[str, list[list[str]]] = {}
    for loc, above in _paths_to_scans(probe, "/bands"):
        by_loc.setdefault(loc.rsplit(root, 1)[-1], []).append(above)
    # the base and the append batch are only ever read in place
    for rel in ("/bands", "/batches/b0/bands"):
        assert by_loc[rel] and all(_in_place(a) for a in by_loc[rel]), by_loc
    # the supersede batch's rows are too; its generation marks are the
    # batch-sized relation the view resolves and broadcasts
    assert any(_in_place(a) for a in by_loc["/batches/b1/bands"]), by_loc
    assert set(by_loc) == {"/bands", "/batches/b0/bands", "/batches/b1/bands"}


def test_index_writes_leave_a_bounded_file_count(spark, tmp_path):
    """Every relation a save, batch or compaction writes holds at most
    min(cpus, ceil(bytes / 128 MB)) files — one here, where every
    relation is far below 128 MB — per relation directory, and per cell
    directory for the cell-partitioned ANN assignment (a bucketed write
    left up to 32 files per write task). Sizing the write runs no Spark
    job. The band family, whose probe checks no meta, writes none."""
    from generic_data_ingestor_framework_spark.llm import indexstore, similarity
    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_INDEX,
        save_band_index_versioned,
        supersede_band_index,
    )
    from generic_data_ingestor_framework_spark.relational import load_table

    d = load_table(spark, SF, "documents")
    band_root = str(tmp_path / "band_files")
    save_band_index_versioned(spark, d, band_root)
    supersede_band_index(spark, d.limit(20), band_root, "b1", gen=1)
    ann_root = str(tmp_path / "ann_files")
    similarity.save_ann_index(spark, SF, ann_root)
    vecs = similarity._vectors(spark, SF).filter(F.col("vec_id") % 9 == 0)
    similarity.supersede_ann_index(spark, vecs, ann_root, "s1", gen=1)

    def files_per_dir(root: str) -> dict[str, int]:
        return {
            path: n
            for path, _, files in os.walk(root)
            if (n := sum(f.startswith("part-") for f in files))
        }

    for root, family in ((band_root, BAND_INDEX), (ann_root, similarity.ANN_INDEX)):
        mutated = files_per_dir(root)
        assert max(mutated.values()) == 1, mutated
        family.compact(spark, root)
        compacted = files_per_dir(root)
        assert max(compacted.values()) == 1, compacted
        # only a family whose loader checks meta writes it
        assert os.path.isdir(f"{root}/meta") == (family.meta is not None)
    cells = [p for p in os.listdir(f"{ann_root}/ivf_assigned") if p.startswith("cell=")]
    assert len(cells) > 1

    sc = spark.sparkContext
    sc.setJobGroup("indexstore_sizing", "sizing only")
    try:
        assert indexstore._files_for(spark, spark.range(10)) == 1
        huge = spark.range(10**12)  # 8 TB estimated: capped at the cores
        assert indexstore._files_for(spark, huge) == sc.defaultParallelism
        assert list(sc.statusTracker().getJobIdsForGroup("indexstore_sizing")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
