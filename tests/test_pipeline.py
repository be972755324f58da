"""End-to-end declarative pipeline runner tests."""

from __future__ import annotations

import json
import sqlite3

import pytest

from generic_data_ingestor_framework_spark.pipeline import run_pipeline

from conftest import SF_SMALL


def test_pipeline_directory_to_sqlite(spark, tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    docs = [
        {"doc_id": i, "text": f"doc number {i} contact admin@site{i}.example.org", "lang": "en"}
        for i in range(10)
    ] + [{"doc_id": 100, "text": "dup", "lang": "en"}, {"doc_id": 101, "text": "dup", "lang": "en"}]
    (d / "docs.json").write_text(json.dumps(docs))
    db = tmp_path / "out.db"
    spec = {
        "source": {"type": "directory", "path": str(d), "text_parity": True},
        "steps": [
            {"op": "redact_pii", "column": "text"},
            {"op": "dedup_exact", "key": "text", "order_by": "doc_id"},
            {"op": "with_column", "name": "n_chars", "expr": "length(text)"},
            {"op": "filter", "where": "lang = 'en'"},
            {"op": "select", "columns": ["doc_id", "text", "n_chars"]},
        ],
        "sink": {"type": "sqlite", "path": str(db), "table": "corpus"},
    }
    df, manifest = run_pipeline(spark, spec, profile=True)
    assert [s["op"] for s in manifest["steps"]] == [
        "redact_pii", "dedup_exact", "with_column", "filter", "select"
    ]
    # dedup_exact dropped one of the two 'dup' rows
    assert manifest["steps"][1]["rows"] == 11
    con = sqlite3.connect(db)
    rows = con.execute("SELECT doc_id, text FROM corpus ORDER BY CAST(doc_id AS INT)").fetchall()
    con.close()
    assert len(rows) == 11
    assert all("<EMAIL>" in t for _, t in rows[:10])
    assert all("@" not in t for _, t in rows)


def test_pipeline_sql_step_and_lazy_result(spark, tmp_path):
    src = str(tmp_path / "p")
    spark.range(100).withColumnRenamed("id", "k").write.parquet(src)
    spec = {
        "source": {"type": "parquet", "path": src},
        "steps": [
            {"op": "sample_hash", "key": "k", "mod": 4, "keep": 1},
            {"op": "sql", "query": "SELECT count(*) AS n FROM __df__"},
        ],
    }
    df, manifest = run_pipeline(spark, spec)
    n = df.collect()[0]["n"]
    assert 0 < n < 100
    assert "sink" not in manifest


def test_pipeline_unknown_op_raises(spark, tmp_path):
    src = str(tmp_path / "p2")
    spark.range(3).write.parquet(src)
    import pytest

    with pytest.raises(ValueError, match="unknown pipeline op"):
        run_pipeline(spark, {"source": {"type": "parquet", "path": src},
                             "steps": [{"op": "nope"}]})


def test_pipeline_via_cli(spark, tmp_path, capsys):
    import json as _json

    d = tmp_path / "src2"
    d.mkdir()
    (d / "r.json").write_text(_json.dumps([{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]))
    out = tmp_path / "out_parquet"
    spec = {
        "source": {"type": "directory", "path": str(d)},
        "steps": [{"op": "filter", "where": "id = '1'"}],
        "sink": {"type": "parquet", "path": str(out)},
    }
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(_json.dumps(spec))
    from generic_data_ingestor_framework_spark.__main__ import main

    assert main(["ignored", "--pipeline", str(spec_file)]) == 0
    assert spark.read.parquet(str(out)).count() == 1


def test_pipeline_join_and_union_steps(spark, tmp_path):
    facts = str(tmp_path / "facts")
    dims = str(tmp_path / "dims")
    extra = str(tmp_path / "extra")
    spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k bigint, v bigint").write.parquet(facts)
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, name string").write.parquet(dims)
    spark.createDataFrame([(9, 90)], "k bigint, v bigint").write.parquet(extra)
    spec = {
        "source": {"type": "parquet", "path": facts},
        "steps": [
            {"op": "union", "source": {"type": "parquet", "path": extra}},
            {"op": "join", "source": {"type": "parquet", "path": dims},
             "on": ["k"], "how": "left", "broadcast": True},
        ],
    }
    df, _ = run_pipeline(spark, spec)
    rows = {(r["k"], r["v"], r["name"]) for r in df.collect()}
    assert rows == {(1, 10, "a"), (2, 20, "b"), (3, 30, None), (9, 90, None)}
    # the broadcast hint must reach the physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pipeline_curation_steps(spark):
    """End-to-end curation pipeline: quality gate -> decontaminate
    against a benchmark parquet -> chunk with overlap; one lazy plan."""
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    spec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "quality_filter", "column": "text", "min_words": 5},
            {
                "op": "decontaminate",
                "column": "text",
                "id": "doc_id",
                "k": 13,
                # self-benchmark: every doc shares its own grams -> all dropped
                "benchmark": {"type": "parquet", "path": f"{sf}/documents.parquet"},
            },
        ],
    }
    df, manifest = run_pipeline(spark, spec)
    # docs long enough to have a 13-gram are all contaminated vs themselves;
    # only sub-13-token docs (no grams) can survive
    for r in df.collect():
        assert len([t for t in r["text"].split() if t]) < 13
    assert [s["op"] for s in manifest["steps"]] == ["quality_filter", "decontaminate"]

    chunk_spec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [{"op": "chunk_overlap", "column": "text", "chunk": 16, "stride": 12}],
    }
    chunks, _ = run_pipeline(spark, chunk_spec)
    rows = chunks.limit(200).collect()
    assert all(len(r["text"].split()) <= 16 for r in rows)
    assert any(r["chunk_idx"] > 0 for r in rows)


def test_pipeline_paragraph_dedup_step(spark):
    """paragraph_dedup rewrites text to the surviving segments: two
    rows sharing a 10-token prefix keep it only in the lower id, and a
    fully-duplicated row is dropped entirely."""
    shared = " ".join(f"tok{i}" for i in range(10))
    uniq = " ".join(f"own{i}" for i in range(10))
    rows = [
        (1, f"{shared} {uniq}"),
        (2, f"{shared} {uniq}"),   # full duplicate of id=1 -> dropped
        (3, f"{shared} extra words here"),  # shared prefix stripped
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    spec = {"op": "paragraph_dedup", "id": "id", "column": "text"}
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    out = {r["id"]: r["text"] for r in STEP_REGISTRY["paragraph_dedup"](df, spec).collect()}
    assert out == {1: f"{shared} {uniq}", 3: "extra words here"}


def test_pipeline_paragraph_dedup_passes_blank_rows_through(spark):
    """NULL/blank-text rows carry no segments: they must pass through
    UNCHANGED, not be silently dropped (the size(null)->-1 descending
    sequence() bug class)."""
    shared = " ".join(f"tok{i}" for i in range(10))
    rows = [
        (1, shared),
        (2, None),      # NULL text -> unchanged
        (3, ""),        # empty text -> unchanged
        (4, "   "),     # whitespace-only -> unchanged
        (5, shared),    # full duplicate of id=1 -> dropped
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    spec = {"op": "paragraph_dedup", "id": "id", "column": "text"}
    out = {r["id"]: r["text"] for r in STEP_REGISTRY["paragraph_dedup"](df, spec).collect()}
    assert out == {1: shared, 2: None, 3: "", 4: "   "}


@pytest.mark.parametrize("idc", ["n_kept", "__seg", "kept_text", "n_segments"])
def test_pipeline_paragraph_dedup_rejects_reserved_id(spark, idc):
    """An id column named like one of ``paragraph_segments``' outputs or
    working columns fails up front with a clear error, not at analysis
    with an ambiguous-reference plan error."""
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")], f"`{idc}` bigint, text string")
    spec = {"op": "paragraph_dedup", "id": idc, "column": "text"}
    with pytest.raises(ValueError, match="collides"):
        STEP_REGISTRY["paragraph_dedup"](df, spec).collect()


def test_pipeline_lm_filter_drops_token_soup(spark):
    """lm_filter fits a unigram LM over the dataset and drops rows
    whose token cross-entropy exceeds the threshold: a fluent row of
    common tokens survives, a row of corpus-unique gibberish does not."""
    common = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(i, common) for i in range(8)]
    rows.append((100, "zxqv9 kqpw7 mmtr3 yyel2 bbnn8 ccdd4 eeff6 gghh1"))
    df = spark.createDataFrame(rows, "id bigint, text string")
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    out = STEP_REGISTRY["lm_filter"](df, {"id": "id", "max_xent": 4.0})
    ids = {r["id"] for r in out.collect()}
    assert 100 not in ids and ids == set(range(8))


def test_pipeline_bpe_tokenize_step(spark, tmp_path):
    """bpe_tokenize learns merges from the flowing frame and adds a
    lossless subword column; merges learned from a separate corpus
    source produce the same encoding when the corpora match."""
    src = str(tmp_path / "docs")
    rows = [(i, "the cat sat on the mat " * 3) for i in range(6)]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(src)
    spec = {
        "source": {"type": "parquet", "path": src},
        "steps": [{"op": "bpe_tokenize", "column": "text", "n_merges": 5}],
    }
    df, manifest = run_pipeline(spark, spec)
    out = df.collect()
    assert manifest["steps"][0]["op"] == "bpe_tokenize"
    for r in out:
        joined = "".join(r["bpe_tokens"]).replace("</w>", " ").strip()
        assert joined == r["text"].lower().strip()
    # corpus-sourced merges give the identical encoding
    spec2 = {
        "source": {"type": "parquet", "path": src},
        "steps": [
            {
                "op": "bpe_tokenize",
                "column": "text",
                "n_merges": 5,
                "corpus": {"type": "parquet", "path": src},
            }
        ],
    }
    df2, _ = run_pipeline(spark, spec2)
    assert sorted(map(tuple, (r["bpe_tokens"] for r in df2.collect()))) == sorted(
        map(tuple, (r["bpe_tokens"] for r in out))
    )


def test_pipeline_remove_dup_spans_step(spark):
    """A span shared by two rows is cut from both; unique rows are
    untouched; fully-duplicated rows are dropped; blanks pass through."""
    shared = " ".join(f"s{i}" for i in range(20))
    unique = " ".join(f"u{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (0, shared),
            (1, shared),
            (2, f"head0 head1 {shared} tail0"),
            (3, unique),
            (4, None),
        ],
        "doc_id bigint, text string",
    )
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    out = STEP_REGISTRY["remove_dup_spans"](
        df, {"id": "doc_id", "column": "text"}
    ).collect()
    got = {r["doc_id"]: r["text"] for r in out}
    # 0 and 1 are fully duplicated -> dropped entirely
    assert set(got) == {2, 3, 4}
    assert got[2] == "head0 head1 tail0"
    assert got[3] == unique
    assert got[4] is None


def test_pipeline_select_budget_step(spark):
    """Selection keeps the highest-quality rows within the token
    budget and preserves original columns."""
    from generic_data_ingestor_framework_spark.llm import textstats
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    stop = " ".join(textstats.STOPWORDS)
    rows = [
        # high quality: long + stopword-dense
        (0, f"{stop} {stop} {stop} {stop} extra tokens here", "keepish"),
        (1, f"{stop} {stop} {stop} more filler words now", "keepish"),
        # low quality: short, no stopwords
        (2, "zz", "dropish"),
        (3, "qq ww", "dropish"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, tag string")
    out = STEP_REGISTRY["select_budget"](
        df, {"id": "doc_id", "column": "text", "frac": 0.95}
    ).collect()
    kept = {r["doc_id"] for r in out}
    assert kept == {0, 1}, kept
    assert {r["tag"] for r in out} == {"keepish"}


def test_pipeline_select_budget_passes_blank_rows_through(spark):
    """NULL/blank-text rows can't be quality-scored: they must pass
    through UNCHANGED (not poison the token total via size(NULL),
    not be silently dropped) — same contract as the sibling steps."""
    from generic_data_ingestor_framework_spark.llm import textstats
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    stop = " ".join(textstats.STOPWORDS)
    df = spark.createDataFrame(
        [
            (0, f"{stop} {stop} {stop} {stop} extra tokens here"),
            (1, f"{stop} {stop} {stop} more filler words now"),
            (2, "zz"),
            (3, None),
            (4, "   "),
        ],
        "doc_id bigint, text string",
    )
    out = STEP_REGISTRY["select_budget"](
        df, {"id": "doc_id", "column": "text", "frac": 0.999}
    ).collect()
    got = {r["doc_id"]: r["text"] for r in out}
    # blanks pass through; the budget is computed over scoreable rows only
    assert got[3] is None and got[4] == "   "
    assert {0, 1} <= set(got) and 2 not in got


def test_pipeline_select_budget_all_blank_rows(spark):
    """A frame with ONLY unscoreable rows must pass them all through
    (empty band stats → zero budget → empty selection → blanks union)."""
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "  ")], "doc_id bigint, text string"
    )
    out = STEP_REGISTRY["select_budget"](
        df, {"id": "doc_id", "column": "text", "frac": 0.5}
    ).collect()
    assert {r["doc_id"] for r in out} == {0, 1, 2}


def test_pipeline_repetition_and_weighted_sample_steps(spark):
    """repetition_filter drops phrase-looping rows and keeps natural
    ones; weighted_sample membership equals the member operator's
    salted-hash contract."""
    from generic_data_ingestor_framework_spark.llm.sampling import (
        quality_weighted_sample,
    )
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    # synthetic frame: one looping doc, one natural doc, one short doc
    df = spark.createDataFrame(
        [
            (1, "spam ham " * 50),           # top bigram ~half of positions
            (2, "the quick brown fox jumps over the lazy dog again and again ok"),
            (3, "hi"),                        # <2 tokens after split? 1 token
        ],
        "doc_id bigint, text string",
    )
    df.write.mode("overwrite").parquet("/tmp/rep_test_src.parquet")
    spec = {
        "source": {"type": "parquet", "path": "/tmp/rep_test_src.parquet"},
        "steps": [
            {"op": "repetition_filter", "column": "text", "id": "doc_id",
             "max_top_bigram_frac": 0.2},
        ],
    }
    out, _ = run_pipeline(spark, spec)
    kept = {r["doc_id"] for r in out.collect()}
    assert 1 not in kept      # looping doc dropped
    assert 2 in kept          # natural doc kept
    assert 3 in kept          # no bigrams -> passes

    spec2 = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [{"op": "weighted_sample", "column": "text", "id": "doc_id"}],
    }
    out2, _ = run_pipeline(spark, spec2)
    got = {r["doc_id"] for r in out2.collect()}
    want = {r["doc_id"] for r in quality_weighted_sample(spark, sf).collect()}
    assert got == want and 0 < len(got)


def test_pipeline_repetition_filter_rejects_reserved_and_bad_cap(spark):
    """Reserved internal column names and out-of-range caps must fail
    loudly up front, not as a confusing duplicate-column plan error."""
    import pytest

    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    base = {"source": {"type": "parquet", "path": f"{sf}/documents.parquet"}}
    with pytest.raises(ValueError, match="collides"):
        run_pipeline(spark, {**base, "steps": [
            {"op": "repetition_filter", "column": "text", "id": "__tot"}]})
    with pytest.raises(ValueError, match="max_top_bigram_frac"):
        run_pipeline(spark, {**base, "steps": [
            {"op": "repetition_filter", "column": "text", "id": "doc_id",
             "max_top_bigram_frac": 0.0}]})


def test_pipeline_dedup_near_index_crawl_loop(spark, tmp_path):
    """The crawl loop as a pipeline step: run 1 admits against the
    seeded index and appends its bands; run 2 (same spec, same data,
    disjoint ids) must then reject every near-dup of run 1's
    admissions and equal the library-call result."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_INDEX,
        save_band_index_versioned,
    )
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    root = str(tmp_path / "pipe_band_idx")
    admitted_table = f"pipe_band_idx_admitted_{tmp_path.name}"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    seed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    save_band_index_versioned(spark, seed, root)

    spec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "filter", "where": "doc_id % 3 = 1"},
            {"op": "dedup_near_index", "root": root, "update": True,
             "admitted_table": admitted_table},
        ],
    }
    df1, _ = run_pipeline(spark, spec)
    got1 = {r["doc_id"] for r in df1.select("doc_id").collect()}
    assert len(got1) > 0

    # retry contract: re-running the same update-mode spec must return
    # the recorded admissions, NOT recompute (which would reject every
    # previously-admitted doc and wipe the durable output) — and must
    # NOT grow the index: the re-append replaces its own batch (tag =
    # the admitted table), so the effective rows stay the same
    idx_rows = BAND_INDEX.view(spark, root, "bands").count()
    df1b, _ = run_pipeline(spark, spec)
    assert {r["doc_id"] for r in df1b.select("doc_id").collect()} == got1
    assert BAND_INDEX.view(spark, root, "bands").count() == idx_rows

    # run 2: re-crawl run-1's docs under shifted ids — every signed doc
    # is a near-dup of an admitted run-1 doc (bands appended), so the
    # step must admit NOTHING that carries a signature
    spec2 = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "filter", "where": "doc_id % 3 = 1"},
            {"op": "with_column", "name": "doc_id", "expr": "doc_id + 1000000"},
            {"op": "dedup_near_index", "root": root},
        ],
    }
    df2, _ = run_pipeline(spark, spec2)
    got2 = {r["doc_id"] for r in df2.select("doc_id").collect()}
    # admitted run-2 docs can only be ones whose original was NOT
    # admitted in run 1 AND whose bands are still unclaimed — but every
    # run-1 signed doc's bands are claimed (by history or the run-1
    # winner), so the re-crawl admits nothing
    assert got2 == set()


def test_pipeline_dedup_near_index_rerun_after_compaction(spark, tmp_path):
    """A completed crawl step re-run after ``band_auto_compact`` has
    folded its batch into the base: the re-run returns the recorded
    admissions and re-appends rows the base already holds. Probes are
    unchanged by those duplicates, and the next compaction drops them,
    so the compacted index does not grow."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_INDEX,
        dedup_against_band_index_versioned,
        save_band_index_versioned,
    )
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    root = str(tmp_path / "band_idx_rerun")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    save_band_index_versioned(
        spark, docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text"), root
    )
    source = {"type": "parquet", "path": f"{sf}/documents.parquet"}
    crawl = {
        "source": source,
        "steps": [
            {"op": "filter", "where": "doc_id % 3 = 1"},
            {"op": "dedup_near_index", "root": root, "update": True,
             "admitted_table": f"rerun_admitted_{tmp_path.name}"},
        ],
    }
    # pages gone since the seed: the tombstones give the auto-compact
    # policy its pressure, and the compaction folds the crawl's batch
    gone = {
        "source": source,
        "steps": [
            {"op": "filter", "where": "doc_id % 3 = 0 AND doc_id % 7 = 0"},
            {"op": "band_delete", "root": root, "batch_tag": "gone1", "gen": 1},
            {"op": "band_auto_compact", "root": root, "max_delta_ratio": 0.0},
        ],
    }
    first = sorted(r["doc_id"] for r in run_pipeline(spark, crawl)[0].collect())
    assert first
    run_pipeline(spark, gone)[0].count()
    assert not BAND_INDEX.batch_paths(spark, root, "bands")
    compacted = spark.read.parquet(f"{root}/bands").count()
    probe = docs.filter(F.col("doc_id") % 3 == 2)

    def admitted() -> set[int]:
        return {
            r["doc_id"]
            for r in dedup_against_band_index_versioned(spark, probe, root).collect()
        }

    before = admitted()
    assert sorted(r["doc_id"] for r in run_pipeline(spark, crawl)[0].collect()) == first
    assert BAND_INDEX.view(spark, root, "bands").count() > compacted  # re-appended
    assert admitted() == before
    assert BAND_INDEX.compact(spark, root) == compacted
    assert admitted() == before


def test_pipeline_dedup_near_index_reruns_in_fresh_processes(spark, tmp_path):
    """The crawl step of ``examples/pipeline_crawl_dedup.json`` run in
    two fresh processes sharing a warehouse: the second process finds
    the first one's admitted table (``sink.attach_table``; its catalog
    starts empty), returns the same admitted rows, and the re-written
    batch (tag = the admitted table) leaves the index's effective rows
    unchanged."""
    import subprocess
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_INDEX,
        save_band_index_versioned,
    )

    sf = SF_SMALL
    root = str(tmp_path / "corpus_band_index")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    save_band_index_versioned(
        spark, docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text"), root
    )
    spec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "filter", "where": "doc_id % 3 = 1"},
            {"op": "dedup_near_index", "root": root, "update": True,
             "admitted_table": "crawl_admitted"},
        ],
    }
    repo = str(Path(__file__).resolve().parents[1])
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.warehouse.dir", {str(tmp_path / "wh")!r})
         .getOrCreate())
from generic_data_ingestor_framework_spark.pipeline import run_pipeline
df, _ = run_pipeline(spark, json.loads({json.dumps(spec)!r}))
print("RESULT::" + json.dumps(sorted(r["doc_id"] for r in df.collect())))
"""

    def run() -> list[int]:
        out = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        payload = [l for l in out.stdout.splitlines() if l.startswith("RESULT::")]
        assert payload, out.stdout[-2000:]
        return json.loads(payload[0][len("RESULT::"):])

    first = run()
    assert first
    rows = BAND_INDEX.view(spark, root, "bands").count()
    assert run() == first
    assert BAND_INDEX.view(spark, root, "bands").count() == rows


def test_pipeline_ann_append_step(spark, tmp_path):
    """The ann_append pipeline step: admitted embedding rows append to
    a persisted ANN index (saved-quantizer encode, pass-through frame);
    re-running the same spec with the same batch_tag replaces its own
    batch instead of duplicating rows."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import similarity
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    root = str(tmp_path / "ann_idx_pipe")
    similarity.save_ann_index(spark, sf, root)
    n0 = spark.read.parquet(f"{root}/meta").collect()[0]["n_candidates"]

    spec = {
        "source": {"type": "parquet", "path": f"{sf}/embeddings.parquet"},
        "steps": [
            {"op": "filter", "where": f"vec_id >= {similarity.N_QUERY} AND vec_id % 13 = 0"},
            {"op": "with_column", "name": "vec_id", "expr": "vec_id + 1000000"},
            {"op": "ann_append", "root": root, "batch_tag": "crawl_t1"},
        ],
    }
    df, _ = run_pipeline(spark, spec)
    n_new = df.count()
    assert n_new > 0
    assert (
        similarity.ANN_INDEX.view(spark, root, "ivf_assigned").count()
        == n0 + n_new
    )
    # same spec, same batch_tag: the rerun REPLACES its batch (no dups)
    run_pipeline(spark, spec)
    assert (
        similarity.ANN_INDEX.view(spark, root, "ivf_assigned").count()
        == n0 + n_new
    )
    meta = spark.read.parquet(f"{root}/meta").collect()[0]
    assert meta["n_candidates"] == n0 + n_new


def test_pipeline_ann_supersede_delete_steps(spark, tmp_path):
    """The ann_supersede / ann_delete pipeline steps: a re-crawl spec
    supersedes changed vectors at a new generation and tombstones gone
    ids; the effective index reflects both immediately, re-running the
    same spec is a no-op (per-tag overwrite), and compaction drops the
    stale rows physically."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import similarity
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    root = str(tmp_path / "ann_idx_pipe_sup")
    similarity.save_ann_index(spark, sf, root)
    n0 = spark.read.parquet(f"{root}/meta").collect()[0]["n_candidates"]

    nq = similarity.N_QUERY
    spec = {
        "source": {"type": "parquet", "path": f"{sf}/embeddings.parquet"},
        "steps": [
            {"op": "filter", "where": f"vec_id >= {nq} AND vec_id % 11 = 0"},
            # changed content: reversed dims at gen 1
            {"op": "with_column", "name": "embedding", "expr": "reverse(embedding)"},
            {"op": "ann_supersede", "root": root, "batch_tag": "re_b1", "gen": 1},
        ],
    }
    df, _ = run_pipeline(spark, spec)
    n_changed = df.count()
    assert n_changed > 0
    # supersede replaces, never grows: effective count unchanged
    eff = similarity.ANN_INDEX.view(spark, root, "ivf_assigned")
    assert eff.count() == n0
    run_pipeline(spark, spec)  # retry: per-tag overwrite, still n0
    assert similarity.ANN_INDEX.view(spark, root, "ivf_assigned").count() == n0

    gone_spec = {
        "source": {"type": "parquet", "path": f"{sf}/embeddings.parquet"},
        "steps": [
            {"op": "filter", "where": f"vec_id >= {nq} AND vec_id % 17 = 2"},
            {"op": "ann_delete", "root": root, "batch_tag": "re_b2", "gen": 2},
        ],
    }
    gone_df, _ = run_pipeline(spark, gone_spec)
    n_gone = gone_df.count()
    assert n_gone > 0
    eff2 = similarity.ANN_INDEX.view(spark, root, "ivf_assigned")
    assert eff2.count() == n0 - n_gone

    similarity.ANN_INDEX.compact(spark, root)
    raw = spark.read.parquet(f"{root}/ivf_assigned")
    assert raw.count() == n0 - n_gone
    assert raw.groupBy("point_id").count().filter(F.col("count") > 1).count() == 0


def test_pipeline_band_supersede_delete_steps(spark, tmp_path):
    """The band_supersede / band_delete pipeline steps against a band
    index: changed docs' old bands die, gone docs stop claiming bands,
    and compaction (after a retried supersede) leaves exactly one copy
    of each live band row."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_INDEX,
        dedup_against_band_index_versioned,
        portable_hash32,
        save_band_index_versioned,
    )
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline
    from generic_data_ingestor_framework_spark.relational import load_table

    sf = SF_SMALL
    root = str(tmp_path / "band_pipe")
    d = load_table(spark, sf, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"))
    corpus = d.filter(h % 2 == 0)
    save_band_index_versioned(spark, corpus.select("doc_id", "text"), root)
    spec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "sql", "query": (
                "SELECT doc_id, concat_ws(' ', reverse(split(text, '\\\\s+')))"
                " AS text FROM __df__ WHERE"
                " CAST(conv(substring(md5(CAST(doc_id AS STRING)),1,8),16,10)"
                " AS BIGINT) % 2 = 0 AND doc_id % 3 = 0"
            )},
            {"op": "band_supersede", "root": root, "batch_tag": "re_b1", "gen": 1},
        ],
    }
    changed, _ = run_pipeline(spark, spec)
    n_changed = changed.count()
    assert n_changed > 0
    run_pipeline(spark, spec)  # retry: replaces its own batch
    gone_spec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "sql", "query": (
                "SELECT doc_id FROM __df__ WHERE"
                " CAST(conv(substring(md5(CAST(doc_id AS STRING)),1,8),16,10)"
                " AS BIGINT) % 2 = 0 AND doc_id % 5 = 1"
            )},
            {"op": "band_delete", "root": root, "batch_tag": "re_b2", "gen": 2},
        ],
    }
    gone, _ = run_pipeline(spark, gone_spec)
    assert gone.count() > 0
    # old-content copies of the changed docs now admit against the
    # effective view (their stale bands are dead)
    copies = corpus.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    adm = dedup_against_band_index_versioned(spark, copies, root)
    assert adm.count() > 0
    BAND_INDEX.compact(spark, root)
    base_rows = spark.read.parquet(f"{root}/bands")
    # retried supersede left no duplicate rows after compaction
    dup = (
        base_rows.groupBy("doc_id", "band_key").count()
        .filter(F.col("count") > 1)
    )
    assert dup.count() == 0
    assert base_rows.join(gone, "doc_id", "semi").count() == 0


def test_pipeline_scd2_apply_step(spark):
    """The scd2_apply pipeline step: seeds an absent history table,
    merges change/delete/insert batches at later generations, and a
    re-run of the SAME spec is a no-op by merge semantics (identical
    update -> no version churn; delete of a closed key closes nothing)
    — the dimension twin of the index supersede/delete steps."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.pipeline import run_pipeline

    sf = SF_SMALL
    tbl = "dim_scd2_step_test"
    seed = {
        "source": {"type": "parquet", "path": f"{sf}/customer.parquet"},
        "steps": [
            {"op": "sql", "query": (
                "SELECT c_custkey, c_mktsegment, false AS is_deleted"
                " FROM __df__ WHERE c_custkey <= 40"
            )},
            {"op": "scd2_apply", "table": tbl, "key": "c_custkey",
             "attrs": ["c_mktsegment"], "gen": 0},
        ],
    }
    upd = {
        "source": {"type": "parquet", "path": f"{sf}/customer.parquet"},
        "steps": [
            {"op": "sql", "query": (
                "SELECT c_custkey,"
                " CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment || '_v2'"
                "      ELSE c_mktsegment END AS c_mktsegment,"
                " c_custkey % 5 = 1 AS is_deleted"
                " FROM __df__ WHERE c_custkey <= 40"
            )},
            {"op": "scd2_apply", "table": tbl, "key": "c_custkey",
             "attrs": ["c_mktsegment"], "gen": 1},
        ],
    }
    try:
        run_pipeline(spark, seed)
        hist0 = spark.table(tbl)
        n_keys = hist0.count()
        assert n_keys > 0
        assert hist0.filter(F.col("valid_to").isNotNull()).count() == 0

        run_pipeline(spark, upd)
        hist1 = spark.table(tbl).collect()
        open_rows = [r for r in hist1 if r["valid_to"] is None]
        closed = [r for r in hist1 if r["valid_to"] == 1]
        # changed evens (not deleted) reopened as _v2; deleted odds closed
        assert any(r["c_mktsegment"].endswith("_v2") for r in open_rows)
        assert all(
            not r["c_mktsegment"].endswith("_v2") for r in closed
        )
        assert len(closed) > 0

        # retry the SAME spec: merge semantics make it a no-op
        run_pipeline(spark, upd)
        hist2 = spark.table(tbl).collect()
        assert sorted(map(tuple, hist2)) == sorted(map(tuple, hist1))

        # a STALE generation (below the table's newest valid_from)
        # must refuse loudly instead of writing inverted history rows
        import pytest

        stale = dict(upd)
        stale["steps"] = [
            upd["steps"][0],
            {"op": "scd2_apply", "table": tbl, "key": "c_custkey",
             "attrs": ["c_mktsegment"], "gen": 0},
        ]
        with pytest.raises(Exception, match="stale generation"):
            run_pipeline(spark, stale)
        hist3 = spark.table(tbl).collect()
        assert sorted(map(tuple, hist3)) == sorted(map(tuple, hist1))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_pipeline_auto_compact_steps(spark, tmp_path):
    """The ann_auto_compact / band_auto_compact policy steps: below the
    delta-ratio threshold they are metadata-probe no-ops; above it they
    drain the delta in the same spec run — so a crawl spec with the
    policy appended can never accumulate a driver-sized broadcast mask
    (r12 verdict #1)."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import similarity
    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_INDEX,
        portable_hash32,
        save_band_index_versioned,
    )
    from generic_data_ingestor_framework_spark.pipeline import run_pipeline
    from generic_data_ingestor_framework_spark.relational import load_table

    sf = SF_SMALL
    # --- ANN side: supersede ~9% of ids, policy at 20% -> no-op;
    # policy at 5% -> compacts
    root = str(tmp_path / "ann_idx_autoc")
    similarity.save_ann_index(spark, sf, root)
    nq = similarity.N_QUERY
    spec = {
        "source": {"type": "parquet", "path": f"{sf}/embeddings.parquet"},
        "steps": [
            {"op": "filter", "where": f"vec_id >= {nq} AND vec_id % 11 = 0"},
            {"op": "with_column", "name": "embedding", "expr": "reverse(embedding)"},
            {"op": "ann_supersede", "root": root, "batch_tag": "ac_b1", "gen": 1},
            {"op": "ann_auto_compact", "root": root, "max_delta_ratio": 0.20},
        ],
    }
    run_pipeline(spark, spec)
    st = similarity.ANN_INDEX.pressure_stats(spark, root)
    assert st["delta_ids"] > 0, "20% policy must not fire at ~9% pressure"
    spec["steps"][-1]["max_delta_ratio"] = 0.05
    run_pipeline(spark, spec)
    st2 = similarity.ANN_INDEX.pressure_stats(spark, root)
    assert st2["delta_ids"] == 0, "5% policy must drain the ~9% delta"

    # --- band side: same shape through band_auto_compact
    broot = str(tmp_path / "band_idx_autoc")
    d = load_table(spark, sf, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"))
    corpus = d.filter(h % 2 == 0)
    save_band_index_versioned(spark, corpus.select("doc_id", "text"), broot)
    bspec = {
        "source": {"type": "parquet", "path": f"{sf}/documents.parquet"},
        "steps": [
            {"op": "sql", "query": (
                "SELECT doc_id, concat_ws(' ', reverse(split(text, '\\\\s+')))"
                " AS text FROM __df__ WHERE"
                " CAST(conv(substring(md5(CAST(doc_id AS STRING)),1,8),16,10)"
                " AS BIGINT) % 2 = 0 AND doc_id % 3 = 0"
            )},
            {"op": "band_supersede", "root": broot, "batch_tag": "ac_b1", "gen": 1},
            {"op": "band_auto_compact", "root": broot, "max_delta_ratio": 0.95},
        ],
    }
    run_pipeline(spark, bspec)
    assert BAND_INDEX.pressure_stats(spark, broot)["delta_ids"] > 0
    bspec["steps"][-1]["max_delta_ratio"] = 0.01
    run_pipeline(spark, bspec)
    assert BAND_INDEX.pressure_stats(spark, broot)["delta_ids"] == 0


def test_quality_filter_keeps_what_the_gopher_member_passes(spark, tmp_path):
    """10,000 distinct 12-character words plus one 13-character word:
    the mean word length is 12 + 1/10001, which the member floors to
    12.0 (4 dp) and passes. The step runs the member's rule, so it
    keeps the row too. A row with no words has no mean: it fails the
    gate, and fails neither query."""
    from generic_data_ingestor_framework_spark.llm.curate import gopher_quality_flags
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    text = " ".join([f"w{i:011d}" for i in range(10000)] + ["x" * 13])
    df = spark.createDataFrame(
        [(1, text, "en"), (2, "", "en"), (3, "   ", "en")],
        "doc_id bigint, text string, lang string",
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    member = gopher_quality_flags(spark, str(tmp_path)).orderBy("doc_id").collect()
    assert [(r["n_words"], r["mean_word_len"], r["passes_gopher"]) for r in member] == [
        (10001, 12.0, True), (0, None, False), (0, None, False)
    ]
    kept = STEP_REGISTRY["quality_filter"](df, {"op": "quality_filter", "column": "text"})
    assert [r["doc_id"] for r in kept.collect()] == [1]


_EMPTY_MD5 = "d41d8cd98f00b204e9800998ecf8427e"


def _member_keeps(spark, op: str, doc_ids: set) -> dict:
    """The rows ``op``'s member says the step keeps over SF_SMALL's
    ``documents``: doc_id → md5 of the rewritten text, or None for a
    step that only filters."""
    from generic_data_ingestor_framework_spark.llm import curate, sampling, textstats

    if op == "paragraph_dedup":
        rows = curate.paragraph_dedup_corpus(spark, SF_SMALL).collect()
        return {r["doc_id"]: r["kept_md5"] for r in rows if r["kept_md5"] != _EMPTY_MD5}
    if op == "redact_pii":
        return {r["doc_id"]: r["redacted_md5"] for r in sampling.redact_pii(spark, SF_SMALL).collect()}
    if op == "quality_filter":
        rows = curate.gopher_quality_flags(spark, SF_SMALL).collect()
        return {r["doc_id"]: None for r in rows if r["passes_gopher"]}
    # repetition_filter: rows without bigrams are absent from the member and pass
    dropped = {
        r["doc_id"]
        for r in textstats.doc_topgram_mass(spark, SF_SMALL).collect()
        if r["top_count"] / r["n_bigrams"] > 0.2
    }
    return {i: None for i in doc_ids - dropped}


@pytest.mark.parametrize(
    "op", ["paragraph_dedup", "redact_pii", "quality_filter", "repetition_filter"]
)
def test_curation_step_keeps_its_members_rows(spark, op):
    """Each step runs its member's operator: over the same documents it
    keeps exactly the rows the member keeps, with the same text."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY
    from generic_data_ingestor_framework_spark.relational import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    out = STEP_REGISTRY[op](docs, {"op": op, "id": "doc_id", "column": "text"})
    rewrites = op in ("paragraph_dedup", "redact_pii")
    got = {
        r["doc_id"]: r["m"] if rewrites else None
        for r in out.select("doc_id", F.md5("text").alias("m")).collect()
    }
    want = _member_keeps(spark, op, {r["doc_id"] for r in docs.select("doc_id").collect()})
    assert got == want and got


@pytest.mark.parametrize(
    "op",
    ["chunk_overlap", "paragraph_dedup", "remove_dup_spans", "select_budget",
     "weighted_sample", "quality_filter", "redact_pii"],
)
def test_curation_step_reads_brace_named_columns(spark, op):
    """JSON keys may hold braces: a step over columns named ``i{d}`` and
    ``t{x}`` keeps the rows, and writes the text, that it does over the
    same frame with plain names (the braces must not reach a Spark SQL
    text's ``{table}`` formatter as a field)."""
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY
    from generic_data_ingestor_framework_spark.relational import load_table

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    plain = STEP_REGISTRY[op](docs, {"op": op, "id": "doc_id", "column": "text"})
    braced = STEP_REGISTRY[op](
        docs.toDF("i{d}", "t{x}"), {"op": op, "id": "i{d}", "column": "t{x}"}
    )
    assert braced.columns[:2] == ["i{d}", "t{x}"]
    want = sorted(map(tuple, plain.collect()), key=repr)
    assert sorted(map(tuple, braced.collect()), key=repr) == want and want


def test_chunk_overlap_twice_replaces_chunk_idx(spark):
    """A second chunk_overlap re-chunks the chunks: its ``chunk_idx``
    replaces the first step's instead of making the name ambiguous."""
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))], "doc_id bigint, text string"
    )
    spec = {"op": "chunk_overlap", "column": "text"}
    from generic_data_ingestor_framework_spark.pipeline import STEP_REGISTRY

    step = STEP_REGISTRY["chunk_overlap"]
    once = step(df, {**spec, "chunk": 16, "stride": 12})
    twice = step(once, {**spec, "chunk": 8, "stride": 8})
    assert twice.columns == ["doc_id", "text", "chunk_idx"]
    got = sorted((r["chunk_idx"], r["text"]) for r in twice.collect())
    # first pass: w0..15, w12..27, w24..39 (16 tokens each); second: 2 chunks of 8 each
    assert [len(t.split()) for _, t in got] == [8] * 6
    assert [i for i, _ in got] == [0, 0, 0, 1, 1, 1]
