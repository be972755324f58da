"""Sanity tests for the LLM-pipeline operators (full correctness is the
DuckDB oracle gate, tools/check_oracles.py)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.llm import dedup, similarity, textstats

SF = "/root/testdata/sf0.001"


def test_minhash_contains_jaccard_pairs(spark):
    """High-Jaccard pairs must appear among LSH candidates (recall)."""
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, SF).filter(F.col("jaccard") > 0.9).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh_pairs(spark, SF).collect()
    }
    assert jac, "corpus should contain planted near-duplicates"
    missed = jac - cand
    assert len(missed) <= max(1, len(jac) // 5), f"LSH missed too many: {missed}"


def test_minhash_signature_deterministic(spark):
    a = dedup.dedup_minhash_sig(spark, SF).orderBy("doc_id").limit(5).collect()
    b = dedup.dedup_minhash_sig(spark, SF).orderBy("doc_id").limit(5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_simhash_identical_for_same_token_set(spark):
    sh = dedup.dedup_simhash(spark, SF)
    fp = textstats.doc_fingerprint(spark, SF)
    joined = sh.join(fp, "doc_id").groupBy("fingerprint").agg(
        F.countDistinct("simhash").alias("n_sim")
    )
    # same token set ⇒ same simhash (simhash is a function of the set)
    assert joined.filter(F.col("n_sim") > 1).count() == 0


def test_cosine_topk_bounds(spark):
    rows = similarity.ann_cosine_topk(spark, SF).collect()
    assert len(rows) == similarity.N_QUERY * similarity.TOP_K
    for r in rows:
        assert -1.0 <= r["cos_sim"] <= 1.0
        assert r["neighbor_id"] >= similarity.N_QUERY


def test_quality_score_range(spark):
    rows = textstats.quality_score(spark, SF).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)


def test_exact_dedup_partitions_docs(spark):
    d = dedup.dedup_exact(spark, SF)
    assert d.agg(F.sum("n_copies")).collect()[0][0] == 500


def test_ngram_jaccard_hot_shingle_cap_rides_join_shuffle(spark):
    """The DF_CAP must be a count window over the shingle partitioning
    the self-join already needs — no extra groupBy/anti-join round trip
    to remove hot shingles."""
    from generic_data_ingestor_framework_spark.scale import explain_string

    plan = explain_string(dedup.dedup_ngram_jaccard(spark, SF))
    assert "Window" in plan, plan
    assert "LeftAnti" not in plan, plan


def test_ngram_jaccard_cap_drops_hot_shingles(spark):
    """With the cap forced to 1, every shared shingle is 'hot' and the
    candidate set must be empty; with the default cap the planted
    near-duplicates survive."""
    orig = dedup.DF_CAP
    try:
        dedup.DF_CAP = 1
        assert dedup.dedup_ngram_jaccard(spark, SF).count() == 0
    finally:
        dedup.DF_CAP = orig
    assert dedup.dedup_ngram_jaccard(spark, SF).count() > 0


def test_embedding_dedup_pairs_clear_threshold(spark):
    from generic_data_ingestor_framework_spark.llm.similarity import (
        EMB_DUP_THRESHOLD,
        dedup_embedding_pairs,
    )

    rows = dedup_embedding_pairs(spark, SF).collect()
    assert all(r["cos_sim"] >= EMB_DUP_THRESHOLD for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_nb_classifier_beats_majority_class(spark):
    """Self-train NB must beat the majority-class baseline — the
    sanity gate that the model learned token evidence, not priors."""
    from generic_data_ingestor_framework_spark.llm.classify import nb_lang_predictions

    preds = nb_lang_predictions(spark, SF).collect()
    n = len(preds)
    acc = sum(r["lang"] == r["pred_lang"] for r in preds) / n
    from collections import Counter

    majority = Counter(r["lang"] for r in preds).most_common(1)[0][1] / n
    assert acc > majority, (acc, majority)


def test_redact_pii_masks_planted_pii(spark):
    from generic_data_ingestor_framework_spark.llm.sampling import (
        _EMAIL_RE,
        _PHONE_RE,
        _SSN_RE,
    )

    df = spark.createDataFrame(
        [("call +1 (555) 123-4567 or mail bob.smith+x@corp.example.com ssn 123-45-6789",)],
        "text string",
    )
    red = df.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _SSN_RE, "<SSN>"),
                _EMAIL_RE,
                "<EMAIL>",
            ),
            _PHONE_RE,
            "<PHONE>",
        ).alias("red")
    ).collect()[0]["red"]
    assert "<EMAIL>" in red and "<PHONE>" in red and "<SSN>" in red
    assert "example.com" not in red and "555" not in red and "6789" not in red


def test_connected_components_long_chain_converges_log(spark):
    """Pointer jumping must collapse a 300-node chain within the
    12-iteration bound (pure propagation would need 300) — no
    non-convergence warning, single cluster labeled by the min id."""
    import warnings as w

    from generic_data_ingestor_framework_spark.llm.dedup import connected_components

    n = 300
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)
        labels = connected_components(docs, chain, "doc_a", "doc_b").collect()
    assert len(labels) == n
    assert all(r["cluster_id"] == 0 for r in labels)


def test_dedup_against_corpus_incremental(spark):
    """Cross-run dedup: previously-seen content must not be re-admitted,
    and the admitted batch itself is hash-unique."""
    from generic_data_ingestor_framework_spark.llm.dedup import dedup_against_corpus

    corpus = spark.createDataFrame([("a",), ("b",)], "text string").select(
        F.md5("text").alias("content_hash")
    )
    batch = spark.createDataFrame(
        [(1, "a"), (2, "c"), (3, "c"), (4, "d")], "doc_id bigint, text string"
    )
    out = dedup_against_corpus(batch, corpus)
    rows = {(r["doc_id"], r["text"]) for r in out.collect()}
    assert rows == {(2, "c"), (4, "d")}


def test_connected_components_vs_union_find(spark):
    """Random graphs: Spark CC must equal a reference union-find."""
    from generic_data_ingestor_framework_spark.llm.dedup import connected_components

    def uf_components(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min label per component
        comp_min = {}
        for i in range(n):
            r = find(i)
            comp_min[r] = min(comp_min.get(r, i), i)
        return {i: comp_min[find(i)] for i in range(n)}

    n = 60
    for seed in (1, 2, 3):
        # deterministic pseudo-random edges (no RNG state dependency)
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for k in range(45)
                for a, b in [((k * k * seed + 7 * k) % n, (k * 13 * seed + 5) % n)]
                if a != b
            }
        )
        docs = spark.range(n).withColumnRenamed("id", "doc_id")
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(docs, pairs, "doc_a", "doc_b").collect()
        }
        assert got == uf_components(n, edges), f"seed {seed}"


def test_shingle_storage_level_parameterized(spark):
    """100 TB policy knob: the shared shingle relation accepts an
    explicit StorageLevel (DISK_ONLY for corpus-scale runs)."""
    from pyspark import StorageLevel

    from generic_data_ingestor_framework_spark.llm.dedup import _exploded_shingles

    # earlier dedup tests may have cached the identical plan at the
    # default level; Spark keeps the first level for a cached plan
    spark.catalog.clearCache()
    df = _exploded_shingles(spark, "/root/testdata/sf0.001", storage=StorageLevel.DISK_ONLY)
    try:
        assert df.storageLevel == StorageLevel.DISK_ONLY
        assert df.count() > 0
    finally:
        df.unpersist()


def test_chunk_overlap_covers_all_tokens(spark):
    """Chunking invariant: stride-aligned chunks cover every token and
    consecutive chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE."""
    from generic_data_ingestor_framework_spark.llm import curate

    rows = curate.chunk_documents_overlap(spark, "/root/testdata/sf0.001").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_chunk_tokens"]))
    for doc, chunks in by_doc.items():
        chunks.sort()
        assert chunks[0][0] == 0
        # every chunk except (possibly) the last is full-size
        for idx, n in chunks[:-1]:
            assert n == curate.CHUNK_TOKENS
        last_idx, last_n = chunks[-1]
        covered = last_idx * curate.CHUNK_STRIDE + last_n
        assert covered >= last_n  # sanity
        assert 1 <= last_n <= curate.CHUNK_TOKENS


def test_pack_windows_conserve_tokens(spark):
    """Packing invariant: per-lang packed token totals equal the raw
    per-lang token totals (no doc lost or double-packed)."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import curate
    from generic_data_ingestor_framework_spark.relational import load_table

    sf = "/root/testdata/sf0.001"
    packed = (
        curate.pack_context_windows(spark, sf)
        .groupBy("lang").agg(F.sum("n_tokens").alias("t"))
    )
    raw = (
        load_table(spark, sf, "documents")
        .select("lang", F.size(F.split(F.lower("text"), r"\s+")).alias("n"))
        .groupBy("lang").agg(F.sum("n").alias("t"))
    )
    assert {(r["lang"], r["t"]) for r in packed.collect()} == {
        (r["lang"], r["t"]) for r in raw.collect()
    }


def test_decontaminate_excludes_benchmark_docs(spark):
    from generic_data_ingestor_framework_spark.llm import curate

    out = curate.decontaminate_against_benchmark(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    flagged = [r for r in rows if r["is_contaminated"]]
    # synthetic docs share common shingles → some contamination expected
    assert all(r["n_contaminated_grams"] >= 1 for r in flagged)


def test_paragraph_dedup_invariants(spark):
    """Corpus-wide paragraph dedup: the number of surviving segment
    occurrences must equal the number of DISTINCT segment contents
    (exactly one canonical occurrence each), and per-doc kept counts
    never exceed segment counts."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm.curate import (
        SEG_TOKENS,
        paragraph_dedup_corpus,
    )
    from generic_data_ingestor_framework_spark.llm.dedup import tokens_col
    from generic_data_ingestor_framework_spark.relational import load_table

    sf = "/root/testdata/sf0.001"
    out = paragraph_dedup_corpus(spark, sf)
    rows = out.collect()
    assert all(0 <= r["n_kept"] <= r["n_segments"] for r in rows)

    d = load_table(spark, sf, "documents").select("doc_id", tokens_col().alias("ts"))
    n_segs = F.ceil(F.size("ts") / F.lit(float(SEG_TOKENS))).cast("int")
    distinct_segs = (
        d.select("ts", F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("pos"))
        .select(
            F.array_join(
                F.slice("ts", F.col("pos") * SEG_TOKENS + 1, SEG_TOKENS), " "
            ).alias("seg")
        )
        .distinct()
        .count()
    )
    assert sum(r["n_kept"] for r in rows) == distinct_segs


def test_pack_context_windows_invariants(spark):
    """Two-level packing must conserve tokens (per-lang token sums
    equal the corpus), produce contiguous corpus-unique seq ids per
    lang, and report fill consistent with its own token counts."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm.curate import (
        PACK_WINDOW,
        pack_context_windows,
    )
    from generic_data_ingestor_framework_spark.llm.dedup import tokens_col
    from generic_data_ingestor_framework_spark.relational import load_table

    sf = "/root/testdata/sf0.001"
    rows = pack_context_windows(spark, sf).collect()
    got_tokens = {}
    seqs_by_lang = {}
    for r in rows:
        got_tokens[r["lang"]] = got_tokens.get(r["lang"], 0) + r["n_tokens"]
        seqs_by_lang.setdefault(r["lang"], set()).add(r["seq_id"])
        assert r["fill_bp"] == r["n_tokens"] * 10000 // PACK_WINDOW
        assert r["n_docs"] >= 1
    want_tokens = {
        r["lang"]: r["t"]
        for r in load_table(spark, sf, "documents")
        .select("lang", F.size(tokens_col()).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").alias("t"))
        .collect()
    }
    assert got_tokens == want_tokens
    for lang, seqs in seqs_by_lang.items():
        assert seqs == set(range(len(seqs))), f"{lang}: seq ids not contiguous"


def test_connected_components_matches_union_find(spark):
    """Pointer-jumping min-label propagation vs a plain union-find on a
    seeded random graph (chains, triangles, singletons): every node's
    cluster_id must be the min doc_id of its component."""
    import random

    from generic_data_ingestor_framework_spark.llm.dedup import connected_components

    rng = random.Random(42)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(200)]
    # a long chain to exercise pointer jumping's log-diameter claim
    edges += [(i, i + 1) for i in range(260, 299)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(docs, pairs, "doc_a", "doc_b").collect()
    }
    assert got == want


def test_cachemgr_shared_value_memoizes_per_session(spark):
    """shared_value runs its builder once per (session, key); a NEW
    session taking over the registry purges the old session's entries
    (releasing the old session — cached DataFrames pin their session,
    so weak keying alone could never free anything)."""
    from generic_data_ingestor_framework_spark import cachemgr

    calls = []

    def build():
        calls.append(1)
        return {"x": 42}

    v1 = cachemgr.shared_value(spark, ("t", "k"), build)
    v2 = cachemgr.shared_value(spark, ("t", "k"), build)
    assert v1 is v2 and v1["x"] == 42 and len(calls) == 1


def test_cachemgr_clear_unpersists_shared_value_dataframes(spark):
    """clear_caches must RELEASE executor storage held by DataFrames
    memoized through shared_value (the rcte members memoize
    localCheckpointed frames there — r12 ADVICE: dropping only the dict
    reference leaves the checkpoint blocks to ContextCleaner GC during
    long sweeps)."""
    from generic_data_ingestor_framework_spark import cachemgr

    released = []

    class FakeCkpt:
        def unpersist(self):
            released.append(1)

    cachemgr.shared_value(spark, ("ckpt-probe",), FakeCkpt)
    cachemgr.clear_caches()
    assert released == [1]
    # scalars without .unpersist() pass through clear_caches untouched
    cachemgr.shared_value(spark, ("scalar-probe",), lambda: 7)
    cachemgr.clear_caches()


def test_cachemgr_evict_prefix_releases_only_matching_entries(spark):
    """evict_prefix drops (and unpersists) every memoized entry whose
    key tuple starts with the prefix, and nothing else — the eviction
    load_ann_index uses so superseded (epoch, fingerprint) versions of
    a mutated index don't accumulate for the session's lifetime."""
    from generic_data_ingestor_framework_spark import cachemgr

    released = []

    class FakeCkpt:
        def unpersist(self):
            released.append(1)

    cachemgr.shared_value(spark, ("fam", "r1", 0), FakeCkpt)
    cachemgr.shared_value(spark, ("fam", "r1", 1), FakeCkpt)
    keep = cachemgr.shared_value(spark, ("fam", "r2", 0), lambda: {"v": 9})
    cachemgr.evict_prefix(spark, ("fam", "r1"))
    assert released == [1, 1]
    assert cachemgr.has_value(spark, ("fam", "r2", 0))
    assert not cachemgr.has_value(spark, ("fam", "r1", 0))
    # the surviving entry still memoizes
    assert cachemgr.shared_value(spark, ("fam", "r2", 0), dict) is keep
    cachemgr.clear_caches()


def test_load_ann_index_memo_evicts_superseded_epochs(spark):
    """After a writer mutates the index, the memo for the OLD
    (epoch, fingerprint) is gone — only the current version's entry
    stays registered for the root."""
    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import similarity as S

    root = S._ann_index_root(spark, SF)
    S.load_ann_index(spark, SF)
    n_before = sum(
        1
        for (_, k) in cachemgr._VALUES
        if isinstance(k, tuple) and k[:3] == ("ann_index_loaded", SF, root)
    )
    S._bump_ann_epoch(root)  # what every writer does after committing
    S.load_ann_index(spark, SF)
    n_after = sum(
        1
        for (_, k) in cachemgr._VALUES
        if isinstance(k, tuple) and k[:3] == ("ann_index_loaded", SF, root)
    )
    assert n_before == 1 and n_after == 1


def test_multimodal_real_codecs_roundtrip(spark):
    """The real-codec path end-to-end: fixture BMP/WAV bytes are valid
    (stdlib wave reads the WAV; the BMP parser recovers the header
    formulas), the binaryFile source reads them file-per-task, and the
    mapInPandas decoders reproduce the doc_id-derived features."""
    from generic_data_ingestor_framework_spark.llm import multimodal as mm

    # codec round-trip, no Spark: encode then parse
    w, h, bpp, mean = mm.parse_bmp(mm._bmp_bytes(37))
    assert (w, h, bpp) == (16 + 37 % 16, 8 + 37 % 8, 24)
    exp_mean = round(
        sum((37 + y) % 256 for y in range(h)) / h / 255.0, 6
    )
    assert mean == exp_mean

    nch, rate, n, dur_us, _ = mm.parse_wav(mm._wav_bytes(37))
    assert (nch, rate, n) == (1, 8000 + (37 % 3) * 4000, 100 + 37 % 50)
    assert dur_us == n * 1_000_000 // rate

    # production read path: binaryFile scan → decode
    sf = "/root/testdata/sf0.001"
    bmp = {r["doc_id"]: r for r in mm.multimodal_bmp_decode(spark, sf).collect()}
    assert len(bmp) == 20 and all(
        r["width"] == 16 + d % 16 and r["height"] == 8 + d % 8
        for d, r in bmp.items()
    )
    wav = {r["doc_id"]: r for r in mm.multimodal_wav_decode(spark, sf).collect()}
    assert len(wav) == 20 and all(
        r["sample_rate"] == 8000 + (d % 3) * 4000 and r["n_frames"] == 100 + d % 50
        for d, r in wav.items()
    )


def test_nb_classifier_tolerates_hostile_lang_values(spark, tmp_path):
    """Data-derived lang values must never be spliced into SQL text:
    a lang containing quotes/backticks/newlines has to train and
    predict like any other label (the round-5 rewrite keeps langs as
    lit values — conditional aggregation + sort_array argmax, no
    stack()/pivot identifier strings)."""
    from generic_data_ingestor_framework_spark.llm.classify import nb_lang_predictions

    hostile = "x`y'z\"w"
    rows = [(i, hostile if i % 2 else "en",
             "alpha beta gamma" if i % 2 else "one two three")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    preds = nb_lang_predictions(spark, str(tmp_path)).collect()
    assert len(preds) == 40
    by_lang = {r["lang"]: r["pred_lang"] for r in preds}
    # perfectly separable vocabulary: both labels round-trip, hostile included
    assert by_lang == {hostile: hostile, "en": "en"}


def _py_jaccard_pairs(texts: dict[int, str], k: int = 3, cap: int | None = None, tau: float = 0.2):
    """Pure-Python mirror of dedup_ngram_jaccard's contract: hashed
    distinct word-k-gram sets, DF cap, pairwise exact Jaccard >= tau."""
    import hashlib
    import re as _re

    cap = cap if cap is not None else 10**9
    sets: dict[int, set[int]] = {}
    for i, t in texts.items():
        toks = _re.split(r"\s+", t.lower())
        grams = {
            " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
        } if len(toks) >= k else set()
        sets[i] = {int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams}
    df: dict[int, int] = {}
    for s in sets.values():
        for h in s:
            df[h] = df.get(h, 0) + 1
    capped = {i: {h for h in s if df[h] <= cap} for i, s in sets.items()}
    out = {}
    ids = sorted(capped)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(capped[a] & capped[b])
            union = len(capped[a]) + len(capped[b]) - inter
            if union and round(inter / union, 6) >= tau:
                out[(a, b)] = inter
    return out


def test_groupjoin_jaccard_matches_bruteforce_random_corpora(spark, tmp_path):
    """The GroupJoin rewrite (identical-set collapse + hashed keys +
    length filter) must be RESULT-IDENTICAL to all-pairs brute force —
    across random corpora with planted exact duplicates, near
    duplicates, and unrelated docs."""
    import random

    from generic_data_ingestor_framework_spark.llm import dedup

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        vocab = [f"w{v}" for v in range(12)]
        texts: dict[int, str] = {}
        base = " ".join(rng.choices(vocab, k=20))
        for i in range(14):
            r = rng.random()
            if r < 0.3:
                texts[i] = base  # exact duplicate group
            elif r < 0.6:
                toks = base.split()
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                texts[i] = " ".join(toks)  # near duplicate
            else:
                texts[i] = " ".join(rng.choices(vocab, k=rng.randint(4, 25)))
        rows = [(i, "en", t) for i, t in sorted(texts.items())]
        d = tmp_path / f"corpus_{seed}"
        spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.mode(
            "overwrite"
        ).parquet(str(d / "documents.parquet"))
        got = {
            (r["doc_a"], r["doc_b"]): r["n_inter"]
            for r in dedup.dedup_ngram_jaccard(spark, str(d)).collect()
        }
        expected = _py_jaccard_pairs(texts, cap=dedup.DF_CAP, tau=dedup.JACCARD_TAU)
        assert got == expected, f"seed {seed}: {got} != {expected}"


def test_cluster_assign_collapse_matches_unionfind(spark, tmp_path):
    """Signature-collapse CC must produce exactly the components that
    union-find over the doc-level LSH pairs produces: identical docs
    share a cluster, keeper is the component minimum, singletons keep
    their own id."""
    import random

    from generic_data_ingestor_framework_spark.llm import dedup

    rng = random.Random(5)
    vocab = [f"w{v}" for v in range(10)]
    base = " ".join(rng.choices(vocab, k=18))
    texts = {}
    for i in range(16):
        r = rng.random()
        if r < 0.4:
            texts[i] = base
        elif r < 0.7:
            toks = base.split()
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts[i] = " ".join(toks)
        else:
            texts[i] = " ".join(rng.choices(vocab, k=rng.randint(4, 20)))
    rows = [(i, "en", t) for i, t in sorted(texts.items())]
    d = tmp_path / "cc_corpus"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh_pairs(spark, str(d)).collect()
    ]
    parent = {i: i for i in texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in texts}

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_cluster_assign(spark, str(d)).collect()
    }
    assert got == expected


def test_multimodal_decoders_null_out_corrupt_payloads(spark, tmp_path):
    """A corrupt payload must yield NULL features, not a failed task
    (record-level continue-on-error in the codec stage)."""
    import pandas as pd

    from generic_data_ingestor_framework_spark.llm import multimodal as mm

    good = mm._bmp_bytes(3)
    batch = pd.DataFrame({"doc_id": [1, 2, 3], "content": [good, b"BMgarbage", b""]})
    out = pd.concat(list(mm._decode_bmp_batches(iter([batch]))))
    assert out.loc[out.doc_id == 1, "width"].iloc[0] == 16 + 3 % 16
    assert out.loc[out.doc_id == 2, "width"].isna().all()
    assert out.loc[out.doc_id == 3, "width"].isna().all()

    wav = pd.DataFrame({"doc_id": [1, 2], "content": [mm._wav_bytes(5), b"RIFFjunk"]})
    wout = pd.concat(list(mm._decode_wav_batches(iter([wav]))))
    assert wout.loc[wout.doc_id == 1, "n_frames"].iloc[0] == 100 + 5 % 50
    assert wout.loc[wout.doc_id == 2, "n_frames"].isna().all()

    png = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "content": [
                mm._png_bytes(7),
                mm._PNG_SIG + b"truncated-after-signature",
                b"\x89PNGnope",
            ],
        }
    )
    pout = pd.concat(list(mm._decode_png_batches(iter([png]))))
    assert pout.loc[pout.doc_id == 1, "width"].iloc[0] == 12 + 7 % 12
    assert pout.loc[pout.doc_id == 2, "width"].isna().all()
    assert pout.loc[pout.doc_id == 3, "width"].isna().all()


def test_png_codec_exercises_all_five_filters():
    """The fixture encoder cycles filter types per scanline (y % 5) and
    the decoder must reverse every one — including the Paeth
    predictor — to reproduce the pixel formula. Heights are >= 6, so
    every fixture contains all five filter types; this pins the
    round-trip across the id space plus an unsupported-profile
    refusal (RGB PNGs must surface as the NULL row, never a silently
    wrong mean)."""
    import struct
    import zlib

    import pytest

    from generic_data_ingestor_framework_spark.llm import multimodal as mm

    for i in (0, 3, 25, 150, 526, 999):
        w, h, depth, color, mean = mm.parse_png(mm._png_bytes(i))
        ew, eh = 12 + i % 12, 6 + i % 6
        assert (w, h, depth, color) == (ew, eh, 8, 0)
        pix = [(i + 3 * y + 7 * x) % 256 for y in range(eh) for x in range(ew)]
        assert mean == round(sum(pix) / len(pix) / 255.0, 6)
        assert eh >= 5  # all five filter types present
    # unsupported profile: a 2x1 RGB (color type 2) image
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"\x00" + b"\x01\x02\x03\x04\x05\x06")
    rgb = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", idat)
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG profile"):
        mm.parse_png(rgb)


def test_jpeg_codec_entropy_paths_and_fixture_exactness():
    """The real baseline-JPEG codec: (a) coefficient-level round trips
    through the full entropy coder — nonzero ACs, run lengths, ZRL,
    negative DC/AC magnitudes, EOB — must reproduce the encoder's own
    dequantize+IDCT reference bit-exactly (the paths SQL oracles cannot
    reach); (b) the constant-block gate fixtures decode exactly to the
    doc_id formula across the id space, through restart markers and
    byte unstuffing; (c) non-baseline payloads refuse loudly."""
    import numpy as np
    import pandas as pd
    import pytest

    from generic_data_ingestor_framework_spark.llm import multimodal as mm

    # (a) nonzero-AC round trip at the coefficient level
    blocks = []
    for t in range(6):
        blk = [0] * 64
        blk[0] = t * 61 - 150
        for j in (1, 5, 17, 33, 62, 63):
            blk[j] = ((t * 13 + j * 7) % 21) - 10
        if t == 2:
            blk = [0] * 64
            blk[0], blk[63] = 30, -4  # 62 zeros: ZRL (16-zero runs) path
        if t == 3:
            blk = [0] * 64
            blk[0] = -1000  # large negative DC diff (high category)
        blocks.append(blk)
    payload = mm._encode_jpeg(24, 16, blocks)
    px, ncomp, dri = mm.decode_jpeg_pixels(payload)
    assert (ncomp, dri) == (1, mm._JPEG_DRI)
    n = np.arange(8)
    C = 0.5 * np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    C[0, :] *= 1 / np.sqrt(2.0)
    for i, blk in enumerate(blocks):
        Fm = np.array(blk, dtype=float).reshape(8, 8)
        ref = np.rint(C.T @ Fm @ C + 128).clip(0, 255).astype(np.uint8)
        by, bx = divmod(i, 3)
        assert (px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == ref).all()

    # (b) fixture exactness: the lossy pipeline is bit-exact on
    # block-constant pixels, so the decode must equal the formula —
    # including through predictor resets at restart markers
    saw_rst = saw_stuff = False
    for i in (0, 3, 25, 150, 526, 975, 999):
        b = mm._jpeg_bytes(i)
        scan = b[b.index(b"\xff\xda") :]
        saw_rst |= any(bytes([0xFF, 0xD0 + k]) in scan for k in range(8))
        saw_stuff |= b"\xff\x00" in scan
        w, h, nc, d, mean = mm.parse_jpeg(b)
        bw, bh = 2 + i % 3, 1 + i % 2
        assert (w, h, nc, d) == (bw * 8, bh * 8, 1, mm._JPEG_DRI)
        vals = [
            (i * 17 + bx * 29 + by * 53) % 256
            for by in range(bh)
            for bx in range(bw)
        ]
        assert mean == round(sum(vals) / len(vals) / 255.0, 6)
    assert saw_rst  # restart handling is actually exercised
    assert saw_stuff  # FF00 unstuffing is actually exercised

    # (c) loud refusal: progressive (SOF2) and corrupt payloads
    good = mm._jpeg_bytes(25)
    with pytest.raises(ValueError, match="non-baseline"):
        mm.decode_jpeg_pixels(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    with pytest.raises(ValueError):
        mm.decode_jpeg_pixels(b"not a jpeg")

    # record-level continue-on-error in the batch decoder
    batch = pd.DataFrame(
        {"doc_id": [1, 2, 3], "content": [good, good[:30], b"\xff\xd8junk"]}
    )
    out = pd.concat(list(mm._decode_jpeg_batches(iter([batch]))))
    assert out.loc[out.doc_id == 1, "width"].iloc[0] == (2 + 25 % 3) * 8
    assert out.loc[out.doc_id == 2, "width"].isna().all()
    assert out.loc[out.doc_id == 3, "width"].isna().all()


def test_jpeg_decode_production_path(spark):
    """binaryFile scan → mapInPandas decode over the fixture corpus:
    every fixture id decodes (no NULL rows) and widths obey the
    formula."""
    from generic_data_ingestor_framework_spark.llm import multimodal as mm

    sf = "/root/testdata/sf0.001"
    rows = {r["doc_id"]: r for r in mm.multimodal_jpeg_decode(spark, sf).collect()}
    assert len(rows) == 20
    assert all(
        r["width"] == (2 + d % 3) * 8
        and r["height"] == (1 + d % 2) * 8
        and r["restart_interval"] == mm._JPEG_DRI
        and r["mean_intensity"] is not None
        for d, r in rows.items()
    )


def test_randomized_response_debias_identities(spark):
    """The local-DP randomized-response member must satisfy the exact
    algebraic identities of the mechanism: reported counts are a
    permutation of mass (Σ reported = Σ true = n), and the debiased
    estimates sum EXACTLY to n (Σ n̂_c = (4k·n − k·n)/(3k) = n —
    independent of the draws), with each estimate tracking its true
    count within the mechanism's noise envelope."""
    from generic_data_ingestor_framework_spark.llm.sampling import (
        randomized_response_lang,
    )

    rows = randomized_response_lang(spark, "/root/testdata/sf0.001").collect()
    assert rows, "empty RR output"
    k = rows[0]["k_categories"]
    assert k == len(rows)  # one row per alphabet lang
    n = sum(r["true_cnt"] for r in rows)
    assert sum(r["reported_cnt"] for r in rows) == n
    est_sum = sum(r["est_count"] for r in rows)
    assert abs(est_sum - n) < 0.01 * len(rows)  # exact up to per-row rounding
    # noise envelope: reported ~ Binomial mixture; at sf0.001 (n≈1000)
    # a 6-sigma bound on |est - true| is ~6·sqrt(n·p(1-p))·4/3 ≈ 120
    for r in rows:
        assert abs(r["est_count"] - r["true_cnt"]) < 6 * (n ** 0.5) * 1.34 + 5, r
    # determinism: a second run is bit-identical (hash-derived draws)
    again = randomized_response_lang(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_cachemgr_releases_previous_session_on_takeover():
    """The registry must not pin a stopped session once a new session
    starts using it: entries (which strongly reference their session
    via the cached DataFrames) are purged on takeover."""
    import gc
    import weakref

    from generic_data_ingestor_framework_spark import cachemgr

    class FakeDF:
        def __init__(self, sess):
            self._session = sess

        def persist(self, *_a):
            return self

        def unpersist(self):
            pass

    class FakeSession:
        pass

    s1 = FakeSession()
    ref1 = weakref.ref(s1)
    cachemgr.shared_persist(s1, ("probe",), lambda: FakeDF(s1))
    del s1
    gc.collect()
    assert ref1() is not None  # pinned while registered — by design
    s2 = FakeSession()
    cachemgr.shared_persist(s2, ("probe",), lambda: FakeDF(s2))
    gc.collect()
    assert ref1() is None, "previous session still pinned after takeover"
    cachemgr.clear_caches()


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    """Pure-python BPE reference: greedy left-to-right merge, argmax
    pair by (count desc, pair-string asc) — the engine's contract."""
    vocab: dict[tuple, int] = {}
    for w, c in word_counts.items():
        k = tuple(list(w) + ["</w>"])
        vocab[k] = vocab.get(k, 0) + c
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        merges.append((rank, f"{a} {b}", a + b, c))
        newv: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            newv[k] = newv.get(k, 0) + cnt
        vocab = newv
    return merges, vocab


def test_bpe_matches_python_reference(spark, tmp_path):
    """The distributed BPE trainer must learn exactly the merges (and
    final vocabulary) of the sequential reference algorithm, including
    the hazard cases: overlapping runs ('aaaa'), consecutive pair
    occurrences ('abab'), and count ties (lexicographic break)."""
    from collections import Counter

    from generic_data_ingestor_framework_spark.llm import tokenize

    texts = {
        0: "aaaa abab the cat sat",
        1: "the cat abab aaaa aaaa",
        2: "sat the the cat mat tie tie",
        3: "abab abab mat cat aaaa",
    }
    rows = [(i, "en", t) for i, t in sorted(texts.items())]
    d = tmp_path / "bpe_corpus"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.parquet(
        str(d / "documents.parquet")
    )

    word_counts = Counter(w for t in texts.values() for w in t.lower().split())
    ref_merges, ref_vocab = _py_bpe(dict(word_counts), tokenize.BPE_MERGES)

    got = [
        (r["rank"], r["pair"], r["merged"], r["n_occ"])
        for r in tokenize.bpe_train_merges(spark, str(d)).collect()
    ]
    assert got == ref_merges

    ref_sym_counts: dict[str, int] = {}
    for syms, c in ref_vocab.items():
        for s in syms:
            ref_sym_counts[s] = ref_sym_counts.get(s, 0) + c
    exp_top = sorted(ref_sym_counts.items(), key=lambda kv: (-kv[1], kv[0]))
    exp_top = exp_top[: tokenize.VOCAB_TOPK]
    got_top = [
        (r["symbol"], r["n"]) for r in tokenize.bpe_vocab_topk(spark, str(d)).collect()
    ]
    assert got_top == exp_top


def test_bpe_greedy_disjoint_selection_rule():
    """The batched trainer's driver-side admission rule, pinned against
    hand-computed cases: a pair is skipped when either symbol was
    touched this round, INCLUDING by an earlier admission's merged
    string; admission stops at m; ranks continue from next_rank."""
    from generic_data_ingestor_framework_spark.llm.tokenize import _greedy_disjoint

    cand = [("a b", 10), ("b c", 9), ("x y", 8), ("ab c", 7), ("p q", 6)]
    # "b c" collides on b; "ab c" collides on the merged string "ab"
    got = _greedy_disjoint(cand, m=3, next_rank=5)
    assert got == [(5, "a b", "ab", 10), (6, "x y", "xy", 8), (7, "p q", "pq", 6)]
    # m caps admissions; empty pool admits nothing
    assert len(_greedy_disjoint(cand, m=1, next_rank=1)) == 1
    assert _greedy_disjoint([], m=4, next_rank=1) == []


def test_bpe_batched_batch1_identical_and_job_reduction(spark, tmp_path):
    """``batch_m=1`` must be byte-identical to sequential BPE (the
    soundness anchor), and the gate operating point (batch_m=4) must
    learn its 8 merges in ~8/4 count-collect rounds — the job-count
    reduction that motivates batching (r12 verdict #6: sequential is
    one driver round-trip PER MERGE, 32k jobs at production vocab)."""
    from collections import Counter

    from generic_data_ingestor_framework_spark.llm import tokenize

    texts = {
        0: "aaaa abab the cat sat",
        1: "the cat abab aaaa aaaa",
        2: "sat the the cat mat tie tie",
        3: "abab abab mat cat aaaa",
    }
    rows = [(i, "en", t) for i, t in sorted(texts.items())]
    d = tmp_path / "bpe_corpus_b"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.parquet(
        str(d / "documents.parquet")
    )
    words = tokenize._word_freqs(spark, str(d))
    seq = tokenize.train_from_words(words, tokenize.BPE_MERGES)
    stats1: dict = {}
    b1 = tokenize.train_from_words_batched(
        words, tokenize.BPE_MERGES, batch_m=1, stats=stats1
    )
    assert b1 == seq
    assert stats1["rounds"] == len(seq)
    # python-reference check of the batch_m=1 path too
    word_counts = Counter(w for t in texts.values() for w in t.lower().split())
    ref_merges, _ = _py_bpe(dict(word_counts), tokenize.BPE_MERGES)
    assert b1 == ref_merges

    # real corpus at the gate operating point: 8 merges in 2 rounds
    stats4: dict = {}
    got = tokenize.train_from_words_batched(
        tokenize._word_freqs(spark, "/root/testdata/sf0.001"),
        tokenize.BATCH_MERGES,
        batch_m=tokenize.BATCH_M,
        stats=stats4,
    )
    assert [m[0] for m in got] == list(range(1, tokenize.BATCH_MERGES + 1))
    assert stats4["rounds"] < tokenize.BATCH_MERGES  # strictly fewer jobs
    assert stats4["rounds"] == 2  # 4 disjoint admissions per round here


def test_bpe_encode_reconstructs_text(spark):
    """encode_with_merges is lossless: stripping the </w> markers and
    re-joining the subword symbols reproduces the lowercased words."""
    from generic_data_ingestor_framework_spark.llm import tokenize

    df = spark.createDataFrame(
        [(1, "The cat SAT"), (2, "abab aaaa cat")], "id bigint, text string"
    )
    merges = [(1, "a b", "ab", 0), (2, "ab ab", "abab", 0), (3, "c a", "ca", 0)]
    out = {r["id"]: r["bpe_tokens"] for r in tokenize.encode_with_merges(df, merges).collect()}
    for i, text in [(1, "the cat sat"), (2, "abab aaaa cat")]:
        rejoined = "".join(out[i]).replace("</w>", " ").strip()
        assert rejoined == text
        # every word ends with exactly one marker-terminated symbol
        assert "".join(out[i]).count("</w>") == len(text.split())


def test_span_duplication_ratio_planted_extremes(spark, tmp_path):
    """Exact duplicate docs must report dup_ratio 1.0; a doc with no
    13-gram in common with the rest reports 0.0; a too-short doc
    reports n_grams = 0."""
    from generic_data_ingestor_framework_spark.llm import curate

    shared = " ".join(f"s{i}" for i in range(20))
    unique = " ".join(f"u{i}" for i in range(20))
    rows = [
        (0, "en", shared),
        (1, "en", shared),          # exact duplicate of 0
        (2, "en", unique),          # no gram shared with anyone
        (3, "en", "too short"),     # < 13 tokens: no grams
    ]
    d = tmp_path / "span_corpus"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.parquet(
        str(d / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_shared_grams"], r["dup_ratio"])
        for r in curate.span_duplication_ratio(spark, str(d)).collect()
    }
    assert got[0] == (8, 8, 1.0) and got[1] == (8, 8, 1.0)
    assert got[2] == (8, 0, 0.0)
    assert got[3] == (0, 0, 0.0)


def test_bpe_oracle_parity_on_degenerate_corpus(spark, tmp_path):
    """A corpus that exhausts its adjacent pairs before BPE_MERGES must
    produce the SAME early-stopped merge table from the engine and the
    unrolled DuckDB oracle (empty b_k stages no-op instead of
    cascading NULL)."""
    import duckdb

    from generic_data_ingestor_framework_spark.llm import tokenize

    d = tmp_path / "degenerate"
    # one distinct word: merges stop after "a </w>" -> "a</w>" (1 merge)
    spark.createDataFrame(
        [(0, "en", "a a a"), (1, "en", "a")], "doc_id bigint, lang string, text string"
    ).write.parquet(str(d / "documents.parquet"))

    got_m = [
        (r["rank"], r["pair"], r["merged"], r["n_occ"])
        for r in tokenize.bpe_train_merges(spark, str(d)).collect()
    ]
    assert got_m == [(1, "a </w>", "a</w>", 4)]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d / 'documents.parquet'}/*.parquet'"
    )
    ora_m = con.execute(tokenize.ORACLES["bpe_train_merges"]).fetchall()
    assert [tuple(r) for r in ora_m] == got_m
    ora_v = con.execute(tokenize.ORACLES["bpe_vocab_topk"]).fetchall()
    got_v = [
        (r["symbol"], r["n"]) for r in tokenize.bpe_vocab_topk(spark, str(d)).collect()
    ]
    assert [tuple(r) for r in ora_v] == got_v == [("a</w>", 4)]


def test_bpe_hostile_tokens_match_reference(spark, tmp_path):
    """Merge patterns are literal-bound (F.replace, not SQL splicing),
    so tokens full of quotes, backslashes, regex metachars and unicode
    must train and encode exactly like the python reference."""
    from collections import Counter

    from generic_data_ingestor_framework_spark.llm import tokenize

    texts = {
        0: """a"b a"b x\\y x\\y $^.* $^.* ééé""",
        1: """a"b x\\y $^.* ééé ééé '';-- '';--""",
    }
    rows = [(i, "en", t) for i, t in sorted(texts.items())]
    d = tmp_path / "hostile_bpe"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.parquet(
        str(d / "documents.parquet")
    )
    word_counts = Counter(w for t in texts.values() for w in t.lower().split())
    ref_merges, _ = _py_bpe(dict(word_counts), tokenize.BPE_MERGES)
    got = [
        (r["rank"], r["pair"], r["merged"], r["n_occ"])
        for r in tokenize.bpe_train_merges(spark, str(d)).collect()
    ]
    assert got == ref_merges


def test_semantic_dedup_cell_count_scales_with_corpus(spark, tmp_path):
    """The SemDeDup cell count must grow with the candidate count
    (k = max(16, ceil(n/32))) so within-cell pair work stays bounded —
    the fixed-k variant measured 38x superlinear at the sf1 decade-up."""
    import math
    import random

    from generic_data_ingestor_framework_spark.llm import similarity

    rng = random.Random(11)
    n, dim = 600, 4
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)], i % 3)
        for i in range(n)
    ]
    d = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))

    k = similarity._sem_k(spark, str(d))
    assert k == max(
        similarity.N_CENTROIDS, math.ceil((n - similarity.N_QUERY) / similarity.SEM_TARGET_CELL)
    )
    assert k > similarity.N_CENTROIDS  # 595 candidates -> 19 cells

    out = similarity.dedup_semantic_clusters(spark, str(d))
    cells = {r["cell"] for r in out.select("cell").distinct().collect()}
    assert cells and all(0 <= c < k for c in cells)


def test_bpe_matches_reference_random_corpora(spark, tmp_path):
    """Randomized cross-validation of the distributed BPE trainer: a
    small alphabet maximizes merge collisions (runs, shared prefixes,
    count ties), and the engine must match the sequential reference
    merge-for-merge on every corpus."""
    import random
    from collections import Counter

    from generic_data_ingestor_framework_spark.llm import tokenize

    for seed in (3, 17, 41):
        rng = random.Random(seed)
        words = [
            "".join(rng.choices("ab", k=rng.randint(1, 6))) for _ in range(40)
        ]
        texts = {
            i: " ".join(rng.choices(words, k=12)) for i in range(5)
        }
        d = tmp_path / f"rand_bpe_{seed}"
        spark.createDataFrame(
            [(i, "en", t) for i, t in sorted(texts.items())],
            "doc_id bigint, lang string, text string",
        ).write.parquet(str(d / "documents.parquet"))
        word_counts = Counter(w for t in texts.values() for w in t.lower().split())
        n_merges = 6
        ref_merges, _ = _py_bpe(dict(word_counts), n_merges)
        got = tokenize.train_merges(spark, str(d), n_merges)
        assert got == ref_merges, f"seed {seed}: {got} != {ref_merges}"


def test_bpe_256_merges_matches_reference(spark, tmp_path):
    """Deep-vocab training: 256 merges with chunked checkpointing
    (CHUNK_MERGES-bounded plans) must still match the sequential python
    reference merge-for-merge — the round-6 proof that the trainer's
    scale path changes the plan, never the contract."""
    import random
    from collections import Counter

    from generic_data_ingestor_framework_spark.llm import tokenize

    rng = random.Random(99)
    words = [
        "".join(rng.choices("abcdefgh", k=rng.randint(3, 10))) for _ in range(300)
    ]
    texts = {i: " ".join(rng.choices(words, k=40)) for i in range(20)}
    d = tmp_path / "deep_bpe"
    spark.createDataFrame(
        [(i, "en", t) for i, t in sorted(texts.items())],
        "doc_id bigint, lang string, text string",
    ).write.parquet(str(d / "documents.parquet"))
    word_counts = Counter(w for t in texts.values() for w in t.lower().split())
    ref_merges, _ = _py_bpe(dict(word_counts), 256)
    assert len(ref_merges) == 256, "corpus too small to exercise 256 merges"
    got = tokenize.train_merges(spark, str(d), 256)
    assert got == ref_merges


def test_bpe_encode_join_path_matches_projection(spark):
    """encode_with_merges' distinct-word-join strategy (forced via
    chain_max=0) must produce byte-identical subword arrays to the pure
    projection path, including empty-text rows."""
    from generic_data_ingestor_framework_spark.llm import tokenize

    df = spark.createDataFrame(
        [(1, "The cat SAT on the mat"), (2, "abab aaaa cat"), (3, ""), (4, "   ")],
        "id bigint, text string",
    )
    merges = [(1, "a b", "ab", 0), (2, "ab ab", "abab", 0), (3, "c a", "ca", 0)]
    proj = {
        r["id"]: r["bpe_tokens"]
        for r in tokenize.encode_with_merges(df, merges).collect()
    }
    joined = {
        r["id"]: r["bpe_tokens"]
        for r in tokenize.encode_with_merges(df, merges, chain_max=0).collect()
    }
    assert proj == joined
    assert joined[3] == [] and joined[4] == []


def test_pagerank_doc_graph_invariants(spark):
    """Isolated docs sit exactly at the base rank, connected docs above
    it, and total mass stays <= 1 (dangling mass leaks by contract)."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        PR_DAMP,
        pagerank_doc_graph,
        dedup_minhash_lsh_pairs,
    )

    ranks = {r["doc_id"]: r["pagerank"] for r in pagerank_doc_graph(spark, SF).collect()}
    n = len(ranks)
    base = round(round(0.15 / n, 9), 6)
    connected = set()
    for r in dedup_minhash_lsh_pairs(spark, SF).collect():
        connected.add(r["doc_a"]); connected.add(r["doc_b"])
    assert connected, "corpus should contain planted near-duplicates"
    for d, p in ranks.items():
        if d in connected:
            assert p > base, (d, p, base)
        else:
            assert p == base, (d, p, base)
    assert sum(ranks.values()) <= 1.0 + 1e-6


def test_semantic_clusters_adaptive_k_oracle_parity(spark, tmp_path):
    """dedup_semantic_clusters with a corpus big enough that _sem_k
    EXCEEDS N_CENTROIDS (the adaptive-k scale path) must match the
    DuckDB oracle row-for-row — pinning that the engine's centroid
    labels (vec_id - N_QUERY seeding) and the oracle's scalar-subquery
    k stay in lockstep beyond the gate corpus's k=16."""
    import math
    import random

    import duckdb

    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import similarity

    rng = random.Random(7)
    dim = 16
    n = 5 + 560  # 560 candidates -> k = ceil(560/32) = 18 > N_CENTROIDS
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)], i % 3)
        for i in range(n)
    ]
    d = tmp_path / "adaptive_k"
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))

    k = similarity._sem_k(spark, str(d))
    assert k == math.ceil(560 / 32) > similarity.N_CENTROIDS

    got = sorted(
        (r["cell"], r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in similarity.dedup_semantic_clusters(spark, str(d)).collect()
    )
    assert got, "corpus should yield at least one within-cell near-dup pair"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d / 'embeddings.parquet'}/*.parquet'"
    )
    ora = sorted(tuple(r) for r in
                 con.execute(similarity.ORACLES["dedup_semantic_clusters"]).fetchall())
    assert got == ora
    # engine-side hygiene for other tests sharing the session registry
    similarity._KMEANS_CACHE.clear()
    cachemgr.clear_caches()


def test_kmeans_seeding_rejects_vec_id_gaps(spark, tmp_path):
    """A candidate id gap below N_QUERY + k would silently desync the
    engine's centroid labels from the oracle's vec_id - N_QUERY
    contract; the trainer must refuse instead."""
    import pytest

    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import similarity

    rows = [
        (i, [float(i % 7), 1.0, -0.5], 0)
        for i in range(5 + 20)
        if i != 9  # hole inside the seed range
    ]
    d = tmp_path / "gapped"
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))
    with pytest.raises(ValueError, match="contiguous"):
        similarity._kmeans_centroids(spark, str(d), k=8)
    similarity._KMEANS_CACHE.clear()
    cachemgr.clear_caches()


def test_qlm_matches_python_reference(spark, tmp_path):
    """Dirichlet query-likelihood ranking must equal a naive python
    recompute of the FULL (non-decomposed) formula with the same
    integer-scaled contributions — pinning the sparse decomposition
    qconst − Lq·ln(dl+μ) + corrections against first principles."""
    import math
    from collections import Counter

    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import textstats

    rows = [
        (0, "en", "alpha beta gamma"),                      # query doc
        (1, "en", "beta beta delta"),                       # query doc
        (2, "en", "zeta only here"),                        # query with OOV terms
        (3, "en", "alpha beta beta gamma delta epsilon"),
        (4, "en", "unrelated words entirely different here"),
        (5, "en", "alpha alpha alpha beta"),
        (6, "en", "gamma delta gamma delta gamma"),
        (7, "en", "beta"),
    ]
    d = tmp_path / "qlm_corpus"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.parquet(
        str(d / "documents.parquet")
    )
    cachemgr.clear_caches()
    try:
        got = [
            (r["query_id"], r["doc_id"], r["rank"])
            for r in textstats.retrieval_qlm_topk(spark, str(d))
            .orderBy("query_id", "rank")
            .collect()
        ]
        nq, mu, scale = textstats.BM25_N_QUERIES, textstats.QLM_MU, textstats.QLM_SCALE
        docs = {i: Counter(t.lower().split()) for i, _, t in rows}
        corpus = {i: c for i, c in docs.items() if i >= nq}
        cf = Counter()
        for c in corpus.values():
            cf.update(c)
        t = sum(cf.values())
        want = []
        for q in sorted(i for i in docs if i < nq):
            qterms = {tok: n for tok, n in docs[q].items() if cf[tok] > 0}
            scores = {}
            for did, c in corpus.items():
                if not any(tok in c for tok in qterms):
                    continue  # OR semantics: must share >=1 term
                s = 0
                # decomposed integer scaling: three separately rounded
                # term groups, exactly as the engine sums them
                for tok, qtf in qterms.items():
                    tf = c.get(tok, 0)
                    s += round(qtf * math.log(mu * cf[tok] / t) * scale)
                    if tf:
                        s += round(
                            qtf * math.log(1.0 + tf * float(t) / (mu * cf[tok])) * scale
                        )
                dl = sum(c.values())
                s -= sum(qterms.values()) * round(math.log(dl + mu) * scale)
                scores[did] = s
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[
                : textstats.BM25_TOP_K
            ]
            for rk, (did, _) in enumerate(ranked, 1):
                want.append((q, did, rk))
        assert got == want
    finally:
        cachemgr.clear_caches()


def test_rrf_fusion_matches_rankers(spark):
    """The fused list must be exactly reconstructible from the two
    rankers' top-k outputs with integer 1e6//(60+rank) contributions."""
    from collections import defaultdict

    from generic_data_ingestor_framework_spark.llm import textstats

    bm = textstats.bm25_topk(spark, SF).collect()
    ql = textstats.retrieval_qlm_topk(spark, SF).collect()
    acc = defaultdict(lambda: [0, 0])
    for r in list(bm) + list(ql):
        key = (r["query_id"], r["doc_id"])
        acc[key][0] += textstats.QLM_SCALE // (textstats.RRF_RANK_K + r["rank"])
        acc[key][1] += 1
    want = []
    by_q = defaultdict(list)
    for (q, did), (s, n) in acc.items():
        by_q[q].append((s, did, n))
    for q in sorted(by_q):
        ranked = sorted(by_q[q], key=lambda x: (-x[0], x[1]))[: textstats.RRF_TOP_K]
        for rk, (s, did, n) in enumerate(ranked, 1):
            want.append((q, did, round(s / float(textstats.QLM_SCALE), 6), n, rk))
    got = [
        (r["query_id"], r["doc_id"], r["rrf"], r["n_rankers"], r["rank"])
        for r in textstats.retrieval_rrf_fusion(spark, SF)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == want
    assert any(n == 2 for *_, n, _rk in got), "some doc should appear in both rankers"


def test_corpus_select_budget_is_greedy_prefix(spark):
    """Selection must be the exact greedy prefix of (quality DESC,
    doc_id) whose cumulative tokens fit the 40% budget — and the
    banded two-level cumsum must produce the same cum_tokens/ranks as
    a naive global recompute."""
    from generic_data_ingestor_framework_spark.llm import curate, textstats

    qs = [
        (r["doc_id"], r["quality"], r["n_tokens"])
        for r in textstats.quality_score(spark, SF).collect()
    ]
    total = sum(n for _, _, n in qs)
    budget = total * curate.BUDGET_NUM // curate.BUDGET_DEN
    ordered = sorted(qs, key=lambda x: (-x[1], x[0]))
    want, cum = [], 0
    for rk, (did, q, n) in enumerate(ordered, 1):
        cum += n
        if cum > budget:
            break
        want.append((did, q, n, cum, rk))
    got = [
        (r["doc_id"], r["quality"], r["n_tokens"], r["cum_tokens"], r["sel_rank"])
        for r in curate.corpus_select_budget(spark, SF).orderBy("sel_rank").collect()
    ]
    assert got == want
    assert want and want[-1][3] <= budget


def test_remove_duplicated_spans_planted(spark, tmp_path):
    """Planted span duplication: exact-duplicate docs are fully
    removed; a doc embedding the shared span keeps only its unique
    prefix/suffix; unique and too-short docs are untouched."""
    import hashlib

    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import curate

    shared = [f"s{i}" for i in range(20)]
    prefix = [f"p{i}" for i in range(5)]
    suffix = [f"x{i}" for i in range(5)]
    unique = [f"u{i}" for i in range(20)]
    rows = [
        (0, "en", " ".join(shared)),
        (1, "en", " ".join(shared)),                      # exact dup of 0
        (2, "en", " ".join(prefix + shared + suffix)),    # embeds the span
        (3, "en", " ".join(unique)),                      # untouched
        (4, "en", "too short for grams"),                 # < 13 tokens
    ]
    d = tmp_path / "span_removal"
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.parquet(
        str(d / "documents.parquet")
    )
    cachemgr.clear_caches()
    try:
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["n_removed"], r["removed_ratio"], r["cleaned_md5"]
            )
            for r in curate.remove_duplicated_spans(spark, str(d)).collect()
        }
    finally:
        cachemgr.clear_caches()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[0] == (20, 20, 1.0, md5(""))
    assert got[1] == (20, 20, 1.0, md5(""))
    # doc 2: only grams fully inside the shared 20 tokens are duplicated
    assert got[2] == (
        30, 20, 0.6666, md5(" ".join(prefix + suffix))
    )
    assert got[3] == (20, 0, 0.0, md5(" ".join(unique)))
    assert got[4] == (4, 0, 0.0, md5("too short for grams"))


def test_shard_export_assignment_invariants(spark):
    """Every doc lands in exactly one shard; positions are contiguous
    1..n within each shard; the layout is deterministic across runs."""
    from collections import defaultdict

    from generic_data_ingestor_framework_spark.llm import sampling

    rows = sampling.shard_export_assignment(spark, SF).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_shard = defaultdict(list)
    for r in rows:
        assert 0 <= r["shard"] < sampling.N_EXPORT_SHARDS
        by_shard[r["shard"]].append(r["pos_in_shard"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    again = sampling.shard_export_assignment(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_mix_resample_membership_matches_python(spark):
    """Resample membership must equal a python recompute of the hash
    threshold from the per-language equalize rates."""
    import hashlib

    from generic_data_ingestor_framework_spark.llm import sampling
    from generic_data_ingestor_framework_spark.relational import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "lang", "text").collect()
    tok_per_lang, ppm = {}, {}
    for r in docs:
        tok_per_lang[r["lang"]] = tok_per_lang.get(r["lang"], 0) + len(
            r["text"].lower().split()
        )
    tot, n_langs = sum(tok_per_lang.values()), len(tok_per_lang)
    import math

    for lang, n in tok_per_lang.items():
        ppm[lang] = int(math.floor(min(1.0, tot / (n_langs * n)) * sampling.RESAMPLE_PPM))
    h32 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16)  # noqa: E731
    want = {
        r["doc_id"]
        for r in docs
        if h32(str(r["doc_id"])) % sampling.RESAMPLE_PPM < ppm[r["lang"]]
    }
    got = {
        r["doc_id"] for r in sampling.mix_resample_equalized(spark, SF).collect()
    }
    assert got == want and 0 < len(got) < len(docs)


def test_ann_quantized_rerank_recall_and_exactness(spark):
    """Phase-2 scores must be EXACT cosines (identical to brute force
    for shared pairs) and the int8 shortlist must recover most of the
    true top-k on the test corpus."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.ann_cosine_topk(spark, SF).collect()
    }
    got = similarity.ann_quantized_rerank(spark, SF).collect()
    assert len(got) == similarity.N_QUERY * similarity.TOP_K
    hits = 0
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            hits += 1
            assert r["cos_sim"] == exact[key], key
    assert hits >= len(exact) * 2 // 3, (hits, len(exact))


def test_dedup_keep_best_quality_argmax(spark):
    """Each near-dup cluster appears exactly once, and the keeper is
    the quality-argmax of its members (doc_id tiebreak)."""
    from generic_data_ingestor_framework_spark.llm import curate, dedup as ddp

    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in ddp.dedup_cluster_assign(spark, SF).collect()
    }
    quality = {
        r["doc_id"]: r["quality"] for r in textstats.quality_score(spark, SF).collect()
    }
    best, size = {}, {}
    for did, cid in clusters.items():
        size[cid] = size.get(cid, 0) + 1
        cur = best.get(cid)
        key = (-quality[did], did)
        if cur is None or key < cur[0]:
            best[cid] = (key, did)
    got = {
        r["cluster_id"]: (r["keep_id"], r["quality"], r["n_members"])
        for r in curate.dedup_keep_best_quality(spark, SF).collect()
    }
    assert set(got) == set(best)
    for cid, (_, did) in best.items():
        assert got[cid] == (did, quality[did], size[cid]), cid


def test_select_budget_plan_has_no_global_sort(spark):
    """The banded decomposition's point: no single-partition exchange
    (global window/sort) anywhere in the selection plan, at any SF."""
    from generic_data_ingestor_framework_spark.llm import curate
    from generic_data_ingestor_framework_spark.scale import explain_string

    plan = explain_string(curate.corpus_select_budget(spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan  # the per-band windows are still there


def test_span_removal_matches_python_random_corpora(spark, tmp_path):
    """Whole-algorithm cross-validation on pseudo-random corpora: the
    engine's surviving text must equal a sequential python reference
    (find duplicated k-grams, mark covered positions, cut)."""
    import hashlib

    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import curate

    k = curate.SPAN_K

    def py_reference(texts):
        toks = {i: t.lower().split() for i, t in texts.items()}
        occ = {}
        for i, ts in toks.items():
            for p in range(len(ts) - k + 1):
                occ.setdefault(" ".join(ts[p : p + k]), []).append((i, p))
        covered = {i: set() for i in toks}
        for gram, posts in occ.items():
            if len(posts) >= 2:
                for i, p in posts:
                    covered[i].update(range(p, p + k))
        out = {}
        for i, ts in toks.items():
            kept = [t for j, t in enumerate(ts) if j not in covered[i]]
            out[i] = (
                len(ts),
                len(covered[i]),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        return out

    vocab = [f"w{j}" for j in range(30)]
    for seed in (3, 7):
        texts = {}
        for i in range(24):
            # deterministic pseudo-random words; low vocab → many
            # colliding k-grams, some within-doc repeats
            n = 8 + (i * seed) % 30
            words = [vocab[(i * 31 + j * seed * 7 + j * j) % len(vocab)] for j in range(n)]
            if i % 5 == 0 and n > k:
                words = words[:k] + words[:k] + words[2 * k :]  # within-doc repeat
            texts[i] = " ".join(words)
        d = tmp_path / f"span_rand_{seed}"
        spark.createDataFrame(
            [(i, "en", t) for i, t in texts.items()],
            "doc_id bigint, lang string, text string",
        ).write.parquet(str(d / "documents.parquet"))
        cachemgr.clear_caches()
        try:
            got = {
                r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_md5"])
                for r in curate.remove_duplicated_spans(spark, str(d)).collect()
            }
        finally:
            cachemgr.clear_caches()
        assert got == py_reference(texts), f"seed {seed}"


def test_qlm_matches_python_random_corpora(spark, tmp_path):
    """QLM ranking equality with the naive python recompute across
    pseudo-random corpora (low vocab → shared terms, OOV queries,
    varied doc lengths)."""
    import math
    from collections import Counter

    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import textstats

    nq, mu, scale = textstats.BM25_N_QUERIES, textstats.QLM_MU, textstats.QLM_SCALE
    vocab = [f"t{j}" for j in range(25)] + ["rare1", "rare2"]
    for seed in (2, 9):
        rows = []
        for i in range(20):
            n = 3 + (i * seed * 5) % 18
            words = [vocab[(i * 17 + j * seed * 11 + 3 * j * j) % len(vocab)] for j in range(n)]
            rows.append((i, "en", " ".join(words)))
        d = tmp_path / f"qlm_rand_{seed}"
        spark.createDataFrame(
            rows, "doc_id bigint, lang string, text string"
        ).write.parquet(str(d / "documents.parquet"))
        cachemgr.clear_caches()
        try:
            got = [
                (r["query_id"], r["doc_id"], r["rank"])
                for r in textstats.retrieval_qlm_topk(spark, str(d))
                .orderBy("query_id", "rank")
                .collect()
            ]
        finally:
            cachemgr.clear_caches()
        docs = {i: Counter(t.lower().split()) for i, _, t in rows}
        corpus = {i: c for i, c in docs.items() if i >= nq}
        cf = Counter()
        for c in corpus.values():
            cf.update(c)
        t = sum(cf.values())
        want = []
        for q in sorted(i for i in docs if i < nq):
            qterms = {tok: n for tok, n in docs[q].items() if cf[tok] > 0}
            scores = {}
            for did, c in corpus.items():
                if not any(tok in c for tok in qterms):
                    continue
                s = 0
                for tok, qtf in qterms.items():
                    tf = c.get(tok, 0)
                    s += round(qtf * math.log(mu * cf[tok] / t) * scale)
                    if tf:
                        s += round(
                            qtf * math.log(1.0 + tf * float(t) / (mu * cf[tok])) * scale
                        )
                dl = sum(c.values())
                s -= sum(qterms.values()) * round(math.log(dl + mu) * scale)
                scores[did] = s
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[
                : textstats.BM25_TOP_K
            ]
            want.extend((q, did, rk) for rk, (did, _) in enumerate(ranked, 1))
        assert got == want, f"seed {seed}"


# ---------------------------------------------------------------------------
# MinHash width configuration (minhash_coeffs / wide members)
# ---------------------------------------------------------------------------


def test_minhash_coeffs_default_backcompat():
    """The generated coefficient family must reproduce the historical
    fixed constants at n_perm=8 — signatures (and every downstream
    gate checksum) are pinned to them."""
    a, b = dedup.minhash_coeffs(8)
    assert a == [2, 3, 5, 7, 11, 13, 17, 19]
    assert b == [7919 * (j + 1) for j in range(8)]
    a128, b128 = dedup.minhash_coeffs(128)
    assert a128[:8] == a and b128[:8] == b
    assert len(set(a128)) == 128 and a128[-1] == 719  # 128th prime


def test_banded_rejects_uneven_split(spark):
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        dedup._banded_df(spark, SF, n_perm=8, bands=3)


def _make_similarity_corpus(spark, d, rng, n_pairs=36):
    """Pairs (2i, 2i+1) engineered across the similarity spectrum with
    pair-disjoint vocabularies (cross-pair Jaccard is exactly 0)."""
    texts = {}
    levels = []
    for i in range(n_pairs):
        vocab = [f"p{i}w{v}" for v in range(60)]
        base = [rng.choice(vocab) for _ in range(40)]
        # replace a suffix: longer replacement -> lower Jaccard
        m = [2, 10, 30][i % 3]
        other = list(base)
        other[-m:] = [f"p{i}x{v}" for v in range(m)]
        texts[2 * i] = " ".join(base)
        texts[2 * i + 1] = " ".join(other)
        levels.append(i % 3)
    rows = [(i, "en", t) for i, t in sorted(texts.items())]
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    return texts, levels


def _true_jaccard(ta: str, tb: str) -> float:
    def sh(t):
        ts = t.lower().split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    sa, sb = sh(ta), sh(tb)
    return len(sa & sb) / len(sa | sb)


def test_band_collision_probability_tracks_jaccard(spark, tmp_path):
    """Empirical band-collision rates must track the LSH S-curve
    p = 1 - (1 - s^r)^b against brute-force shingle Jaccard, at BOTH
    the default (8 perm / 4 band) and wide (16 perm / 8 band) configs,
    and cross-pair false positives (J = 0) must be rare."""
    import random

    rng = random.Random(1234)
    d = tmp_path / "simcorpus"
    texts, levels = _make_similarity_corpus(spark, d, rng)
    sf = str(d)

    for fn, bands in (
        (dedup.dedup_minhash_lsh_pairs, 4),
        (dedup.dedup_minhash_lsh_pairs_wide, 8),
    ):
        got = {(r["doc_a"], r["doc_b"]) for r in fn(spark, sf).collect()}
        # engineered pairs, bucketed by level
        hits = {0: [], 1: [], 2: []}
        theo = {0: [], 1: [], 2: []}
        for i, lvl in enumerate(levels):
            s = _true_jaccard(texts[2 * i], texts[2 * i + 1])
            hits[lvl].append((2 * i, 2 * i + 1) in got)
            theo[lvl].append(1 - (1 - s**2) ** bands)
        rates = {k: sum(v) / len(v) for k, v in hits.items()}
        expect = {k: sum(v) / len(v) for k, v in theo.items()}
        for k in (0, 1, 2):
            assert abs(rates[k] - expect[k]) <= 0.3, (
                f"bands={bands} level={k}: empirical {rates[k]:.2f} "
                f"vs theory {expect[k]:.2f}"
            )
        assert rates[0] >= rates[2], f"bands={bands}: S-curve not monotone"
        # false positives across disjoint-vocab pairs
        engineered = {(2 * i, 2 * i + 1) for i in range(len(levels))}
        fp = [p for p in got - engineered]
        assert len(fp) <= 3, f"bands={bands}: too many J=0 collisions: {fp}"


def test_pq_codebook_shape_and_codes(spark):
    """PQ sub-codebooks cover every (subspace, sub-centroid) slot with
    ds-dim centroids; every candidate encodes to exactly PQ_M codes in
    [0, PQ_K)."""
    books = similarity._pq_codebooks(spark, SF)
    assert [(m, j) for m, j, _ in books] == [
        (m, j) for m in range(similarity.PQ_M) for j in range(similarity.PQ_K)
    ]
    dims = {len(cv) for _, _, cv in books}
    assert dims == {64 // similarity.PQ_M}


def test_ann_pq_exactness_and_recall_floor(spark):
    """Reranked scores must be EXACT cosines (identical to brute force
    for shared pairs), and the ADC shortlist must recover >=13/15 of
    the true top-k at the default operating point — the measured floor
    the PQ_M/PQ_K/PQ_RERANK constants were picked against."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.ann_cosine_topk(spark, SF).collect()
    }
    got = similarity.ann_pq_topk(spark, SF).collect()
    assert len(got) == similarity.N_QUERY * similarity.TOP_K
    hits = 0
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            hits += 1
            assert r["cos_sim"] == exact[key], key
    assert hits >= 13, (hits, len(exact))
    recall = {
        r["query_id"]: (r["k"], r["n_hits"])
        for r in similarity.ann_pq_recall(spark, SF).collect()
    }
    assert sum(k for k, _ in recall.values()) == len(exact)
    assert sum(h for _, h in recall.values()) == hits


def test_quality_weighted_sample_membership_matches_python(spark):
    """Quality-weighted membership must equal a python recompute of the
    integer basis-point weight and the salted hash threshold — and the
    weight must actually modulate the keep rate (it is not a constant)."""
    import hashlib
    import math

    from generic_data_ingestor_framework_spark.llm.sampling import quality_weighted_sample
    from generic_data_ingestor_framework_spark.llm.textstats import STOPWORDS
    from generic_data_ingestor_framework_spark.relational import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    stop = set(STOPWORDS)

    def weight_bp(text):
        ts = text.lower().split()
        n = len(ts)
        n_stop = sum(1 for t in ts if t in stop)
        return int(math.floor(min(n, 100) * 50 * (n + n_stop) / n))

    h32 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16)  # noqa: E731
    want = {
        r["doc_id"]: weight_bp(r["text"])
        for r in docs
        if h32("q" + str(r["doc_id"])) % 10000 < weight_bp(r["text"])
    }
    got = {
        r["doc_id"]: r["weight_bp"]
        for r in quality_weighted_sample(spark, SF).collect()
    }
    assert got == want and 0 < len(got) < len(docs)
    # weights span a real range (both saturated-length and short docs exist)
    assert len({weight_bp(r["text"]) for r in docs}) > 1


def test_lm_bigram_score_matches_python(spark):
    """Bigram cross-entropy must equal a python recompute of the
    JM-interpolated model on a handful of docs, and must order fluent
    (common-bigram) text below shuffled/rare text."""
    import math
    from collections import Counter

    from generic_data_ingestor_framework_spark.llm.textstats import (
        LM_LAMBDA,
        LM_ONE_MINUS,
        lm_bigram_score,
    )
    from generic_data_ingestor_framework_spark.relational import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    uni, c12, c1 = Counter(), Counter(), Counter()
    doc_bigrams = {}
    for r in docs:
        ts = r["text"].lower().split()
        uni.update(t for t in ts if t != "")
        bgs = [(ts[i], ts[i + 1]) for i in range(len(ts) - 1)]
        doc_bigrams[r["doc_id"]] = bgs
        c12.update(bgs)
        for w1, _ in bgs:
            c1[w1] += 1
    denom = float(sum(uni.values()) + len(uni))
    want = {}
    for doc_id, bgs in doc_bigrams.items():
        if not bgs:
            continue
        lps = [
            math.log(
                LM_LAMBDA * (c12[(w1, w2)] / c1[w1])
                + LM_ONE_MINUS * ((uni[w2] + 1.0) / denom)
            )
            for (w1, w2) in bgs
        ]
        want[doc_id] = (len(bgs), round(-sum(lps) / len(lps), 4))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent2"])
        for r in lm_bigram_score(spark, SF).collect()
    }
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id][0] == want[doc_id][0], doc_id
        assert abs(got[doc_id][1] - want[doc_id][1]) < 2e-4, doc_id


def test_graph_triangle_count_closed_form(spark):
    """Every reported triangle participation must be consistent: a node's
    n_triangles ≤ C(degree, 2), coefficient in (0, 1], and the global
    triangle count from per-node participation is divisible by 3."""
    from generic_data_ingestor_framework_spark.llm.dedup import graph_triangle_count

    rows = graph_triangle_count(spark, SF).collect()
    assert rows, "similarity graph at this SF is known to contain triangles"
    total = 0
    for r in rows:
        d, t, c = r["degree"], r["n_triangles"], r["clustering_coeff"]
        assert 1 <= t <= d * (d - 1) // 2
        assert 0 < c <= 1
        assert abs(c - round(2 * t / (d * (d - 1)), 6)) < 1e-12
        total += t
    assert total % 3 == 0


def test_dedup_minhash_accuracy_bounds_and_python_exact(spark):
    """Estimate and exact must sit in [0,1], the estimate must be a
    multiple of 1/N_PERM, and the exact Jaccard must equal a python
    recompute over the distinct hashed shingle sets."""
    import hashlib

    from generic_data_ingestor_framework_spark.llm.dedup import (
        N_PERM,
        dedup_minhash_accuracy,
    )
    from generic_data_ingestor_framework_spark.relational import load_table

    rows = dedup_minhash_accuracy(spark, SF).collect()
    assert rows
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }

    def sh_set(text):
        ts = text.lower().split()
        grams = {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}
        return {int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams}

    import math

    for r in rows:
        assert 0 <= r["est_jaccard"] <= 1 and 0 <= r["exact_jaccard"] <= 1
        # est is m/N_PERM floored at 4dp
        m = round(r["est_jaccard"] * N_PERM)
        assert abs(r["est_jaccard"] - math.floor(m / N_PERM * 10000) / 10000) < 1e-9
        a, b = sh_set(docs[r["doc_a"]]), sh_set(docs[r["doc_b"]])
        exact = len(a & b) / len(a | b)
        assert abs(r["exact_jaccard"] - math.floor(exact * 10000) / 10000) < 1e-9, (
            r["doc_a"],
            r["doc_b"],
        )


def test_lsh_scurve_audit_shape(spark):
    """The S-curve audit must be internally consistent: candidates never
    exceed pairs, the zero-overlap mass equals C(n,2) minus enumerated
    pairs, and capture rate is (weakly) higher in the top bucket than in
    bucket 0 — the knee the banding config exists to produce."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        SCURVE_DOC_MOD,
        lsh_scurve_audit,
        portable_hash32,
    )
    from generic_data_ingestor_framework_spark.relational import load_table
    from pyspark.sql import functions as F

    rows = {r["bucket"]: r for r in lsh_scurve_audit(spark, SF).collect()}
    assert -1 in rows
    for r in rows.values():
        assert 0 <= r["n_candidates"] <= r["n_pairs"]
        assert 0.0 <= r["cand_rate"] <= 1.0 and 0.0 <= r["theo_rate"] <= 1.0
    n = (
        load_table(spark, SF, "documents")
        .filter(
            portable_hash32(F.concat(F.lit("s"), F.col("doc_id").cast("string")))
            % SCURVE_DOC_MOD
            == 0
        )
        .count()
    )
    assert sum(r["n_pairs"] for r in rows.values()) == n * (n - 1) // 2
    top = max(b for b in rows if b >= 0)
    assert rows[top]["cand_rate"] >= rows.get(0, rows[top])["cand_rate"]


def test_band_index_cross_run_dedup(spark, tmp_path):
    """The SAVED band index (cross-run near-dup history) must make
    dedup_against_band_index reproduce dedup_incremental_near exactly;
    the bucketed history side must read WITHOUT a shuffle; and after
    update_band_index with the admitted docs, re-running the same
    batch admits nothing (idempotent re-crawl)."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        dedup_against_band_index,
        dedup_incremental_near,
        portable_hash32,
        save_band_index,
        update_band_index,
    )
    from generic_data_ingestor_framework_spark.relational import load_table
    from generic_data_ingestor_framework_spark.scale import count_exchanges

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 2
    corpus = d.filter(bucket == 0)
    batch = d.filter(bucket == 1)
    table = "band_index_t1"
    try:
        save_band_index(spark, corpus, table)
        admitted = dedup_against_band_index(spark, batch, table)
        got = {(r["doc_id"], r["lang"]) for r in admitted.select("doc_id", "lang").collect()}
        want = {
            (r["doc_id"], r["lang"])
            for r in dedup_incremental_near(spark, sf).collect()
        }
        assert got == want and len(got) > 0

        # history side of the semi probe is bucketed: exactly ONE
        # exchange in the probe plan (the batch side), never two
        from generic_data_ingestor_framework_spark.llm.dedup import bands_per_row

        probe = bands_per_row(batch.select("doc_id", "text")).join(
            spark.table(table), "band_key", "semi"
        )
        assert count_exchanges(probe) <= 1

        # crawl loop: append admitted docs' bands, re-run same batch
        update_band_index(spark, admitted.select("doc_id", "text"), table)
        again = dedup_against_band_index(spark, batch, table)
        assert again.count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_index_versioned_supersede_delete(spark, tmp_path):
    """The VERSIONED band index's delete/supersede lifecycle: an
    old-content near-dup is rejected before a supersede and admitted
    after it; deleted docs stop claiming bands; the effective view
    pre-compaction equals the raw base post-compaction; compaction
    PHYSICALLY drops every superseded/tombstoned row and preserves the
    bucketed (shuffle-free) probe layout."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        bands_per_row,
        compact_band_index_versioned,
        dedup_against_band_index_versioned,
        delete_band_index_docs,
        portable_hash32,
        save_band_index_versioned,
        supersede_band_index,
    )
    from generic_data_ingestor_framework_spark.relational import load_table
    from generic_data_ingestor_framework_spark.scale import count_exchanges

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"))
    corpus = d.filter(h % 3 == 0)
    changed = corpus.filter(h % 5 == 0)
    deleted_ids = corpus.filter(h % 7 == 0).select("doc_id")
    modified = F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+")))
    copies = changed.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "text"
    )
    base_tbl, delta_tbl = "band_vtest_base", "band_vtest_delta"
    try:
        save_band_index_versioned(
            spark, corpus.select("doc_id", "text"), base_tbl, delta_tbl
        )
        n_changed = changed.count()
        assert n_changed > 0 and deleted_ids.count() > 0

        # before any supersede, old-content copies are near-dups of the
        # index and every signed copy is rejected
        pre = dedup_against_band_index_versioned(spark, copies, base_tbl, delta_tbl)
        assert pre.count() == 0

        supersede_band_index(
            spark, changed.select("doc_id", modified.alias("text")), delta_tbl, gen=1
        )
        delete_band_index_docs(spark, deleted_ids, delta_tbl, gen=2)

        # now the changed docs' OLD bands are dead: copies admit unless
        # their bands collide with some other live doc or an earlier
        # copy (min-id rule) — at this SF a nonzero admitted set
        post = dedup_against_band_index_versioned(spark, copies, base_tbl, delta_tbl)
        adm_effective = {r["doc_id"] for r in post.select("doc_id").collect()}
        assert len(adm_effective) > 0

        compact_band_index_versioned(spark, base_tbl, delta_tbl)

        # raw base post-compaction == effective view pre-compaction
        raw = dedup_against_band_index_versioned(spark, copies, base_tbl, None)
        assert {r["doc_id"] for r in raw.select("doc_id").collect()} == adm_effective

        # physical drop: no deleted doc survives; changed docs carry
        # ONLY gen-1 rows; their old (gen-0) bands are gone unless some
        # UNREMOVED doc also owns that band key
        base_rows = spark.table(base_tbl)
        assert base_rows.join(deleted_ids, "doc_id", "semi").count() == 0
        changed_rows = base_rows.join(changed.select("doc_id"), "doc_id", "semi")
        assert changed_rows.filter(F.col("gen") != 1).count() == 0
        old_bands = bands_per_row(changed.select("doc_id", "text")).select("band_key")
        survivors = base_rows.join(
            old_bands.distinct(), "band_key", "semi"
        ).join(changed.select("doc_id"), "doc_id", "semi")
        assert survivors.count() == 0

        # compaction preserved bucketing: raw probe plan has at most
        # one exchange (the batch side)
        probe = bands_per_row(copies.select("doc_id", "text")).join(
            base_rows, "band_key", "semi"
        )
        assert count_exchanges(probe) <= 1

        # delta is truncated (schema intact, zero rows)
        assert spark.table(delta_tbl).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {base_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {delta_tbl}")


def test_band_delta_gen_tie_tombstone_wins(spark):
    """A delete and a supersede at the SAME generation must resolve to
    the delete on the band side (r12 ADVICE): the ANN family documents
    tombstone-wins-a-gen-tie (`_load_index_relation` orders by desc
    gen, desc tombstone), so `_band_delta_live` resolving the same tie
    to the supersede would silently resurrect a deleted doc's bands for
    a caller following the documented rule. Checked at both probe time
    (effective view) and compaction (physical rows)."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        _band_delta_live,
        compact_band_index_versioned,
        delete_band_index_docs,
        save_band_index_versioned,
        supersede_band_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    base_tbl, delta_tbl = "band_tie_base", "band_tie_delta"
    try:
        save_band_index_versioned(spark, docs, base_tbl, delta_tbl, n_buckets=2)
        changed = docs.select(
            "doc_id",
            F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+"))).alias("text"),
        )
        # SAME generation: supersede then delete
        supersede_band_index(spark, changed, delta_tbl, gen=1)
        delete_band_index_docs(spark, docs.select("doc_id"), delta_tbl, gen=1)

        # effective view: the doc carries NO live bands
        assert _band_delta_live(spark.table(delta_tbl)).count() == 0
        # compaction: the doc's rows are physically gone
        compact_band_index_versioned(spark, base_tbl, delta_tbl, n_buckets=2)
        assert spark.table(base_tbl).filter(F.col("doc_id") == 1).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {base_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {delta_tbl}")


def test_band_index_pressure_policy_and_guard(spark):
    """The batch-sized-delta contract, ENFORCED (r12 verdict #1): with
    the broadcast budget shrunk below the delta's estimated size, the
    probe refuses LOUDLY (RuntimeError naming the compaction fix)
    instead of silently broadcasting; ``maybe_compact_band_index``
    fires on the broadcast-budget trigger (ratio not exceeded), drains
    the delta, and the probe serves again."""
    from generic_data_ingestor_framework_spark.llm import dedup as dd
    from generic_data_ingestor_framework_spark.relational import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    h = dd.portable_hash32(F.col("doc_id").cast("string"))
    corpus = d.filter(h % 3 == 0)
    changed = corpus.filter(h % 50 == 0).select(
        "doc_id",
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+"))).alias("text"),
    )
    batch = d.filter(h % 3 == 1).select("doc_id", "lang", "text")
    base_tbl, delta_tbl = "band_ptest_base", "band_ptest_delta"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        dd.save_band_index_versioned(
            spark, corpus.select("doc_id", "text"), base_tbl, delta_tbl
        )
        dd.supersede_band_index(spark, changed, delta_tbl, gen=1)
        n_changed = changed.count()
        assert n_changed > 0
        # shrink the budget below the delta's estimate -> loud refusal
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16b")
        with pytest.raises(RuntimeError, match="compact_band_index_versioned"):
            dd.dedup_against_band_index_versioned(
                spark, batch, base_tbl, delta_tbl
            ).count()
        # the policy's broadcast trigger fires at a ratio that would NOT
        # (h%50 cohort is ~2% of the base, under the 10% default)
        stats = dd.band_index_pressure_stats(spark, base_tbl, delta_tbl)
        assert stats["over_broadcast_budget"] and stats["pressure_bp"] < 1000
        dec = dd.maybe_compact_band_index(spark, base_tbl, delta_tbl)
        assert dec["compacted"] and dec["reason"] == "broadcast_budget"
        # drained: pressure zero, probe serves under the tiny budget
        after = dd.band_index_pressure_stats(spark, base_tbl, delta_tbl)
        assert after["delta_docs"] == 0 and after["pressure_bp"] == 0
        assert (
            dd.dedup_against_band_index_versioned(
                spark, batch, base_tbl, delta_tbl
            ).count()
            >= 0
        )
        # and an under-budget, under-ratio delta does NOT compact
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        dd.supersede_band_index(spark, changed, delta_tbl, gen=2)
        dec2 = dd.maybe_compact_band_index(spark, base_tbl, delta_tbl)
        assert not dec2["compacted"] and dec2["reason"] == ""
        assert dd.band_index_pressure_stats(spark, base_tbl, delta_tbl)[
            "delta_docs"
        ] == n_changed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {base_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {delta_tbl}")


def test_ann_index_pressure_policy_and_guard(spark, tmp_path):
    """ANN twin of the band pressure test: an oversized delta makes the
    effective view refuse loudly; ``maybe_compact_ann_index`` drains it
    (compaction itself runs guard-free with AQE-decided joins); plain
    appends never count as delta pressure."""
    root = str(tmp_path / "ann_pidx")
    similarity.save_ann_index(spark, SF, root)
    vecs = similarity._vectors(spark, SF)
    changed = vecs.filter(
        (F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 11 == 0)
    ).select("vec_id", F.reverse(F.col("v")).alias("v"))
    n_changed = changed.count()
    assert n_changed > 0
    similarity.supersede_ann_index(spark, changed, root, "p1", gen=1)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16b")
        with pytest.raises(RuntimeError, match="compact_ann_index"):
            similarity._load_index_relation(spark, root, "ivf_assigned").count()
        stats = similarity.ann_index_pressure_stats(spark, root)
        assert stats["delta_ids"] == n_changed and stats["over_broadcast_budget"]
        dec = similarity.maybe_compact_ann_index(spark, root)
        assert dec["compacted"] and dec["reason"] == "broadcast_budget"
        after = similarity.ann_index_pressure_stats(spark, root)
        assert after["delta_ids"] == 0 and after["pressure_bp"] == 0
        # effective view serves again under the tiny budget (no delta)
        assert (
            similarity._load_index_relation(spark, root, "ivf_assigned").count()
            == stats["base_ids"]
        )
        # plain appends are unioned, not broadcast-masked: no pressure
        app = vecs.filter(F.col("vec_id") < similarity.N_QUERY).crossJoin(
            similarity._crawl_off(vecs)
        ).select((F.col("vec_id") + F.col("__off")).alias("vec_id"), "v")
        similarity.append_ann_index(spark, app, root, "p2")
        st2 = similarity.ann_index_pressure_stats(spark, root)
        assert st2["delta_ids"] == 0 and not st2["over_broadcast_budget"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_ann_retrain_decision_policy(spark):
    """The retrain policy over the two health gauges: quiet on a
    balanced, high-recall index; fires on cell skew OR recall drift
    with the offending gauge named; works over the REAL gauge outputs
    (ann_index_stats + ann_recall_after_append rows) as well as plain
    tuples."""
    ok = similarity.ann_retrain_decision(
        [(0, 100, 900), (1, 110, 1000)], [(0, 1000, 15, 15, 9500)]
    )
    assert not ok["retrain"] and ok["reasons"] == []
    skew = similarity.ann_retrain_decision(
        [(0, 900, 8000), (1, 20, 200)], [(0, 1000, 15, 15, 9500)]
    )
    assert skew["retrain"] and skew["reasons"][0].startswith("cell_skew")
    drift = similarity.ann_retrain_decision(
        [(0, 100, 900)], [(0, 1000, 15, 15, 9500), (1, 2000, 15, 11, 7333)]
    )
    assert drift["retrain"] and drift["reasons"][0].startswith("recall_drift")
    # real gauge outputs at the gate SF
    stats = similarity.ann_index_stats(spark, SF).collect()
    recall = similarity.ann_recall_after_append(spark, SF).collect()
    dec = similarity.ann_retrain_decision(stats, recall)
    assert set(dec) == {
        "retrain", "reasons", "hottest_cell_share_bp", "worst_wave_recall_bp"
    }
    assert dec["hottest_cell_share_bp"] == max(r["share_bp"] for r in stats)
    assert dec["worst_wave_recall_bp"] == min(r["recall_bp"] for r in recall)


def test_ann_index_persist_load_equals_session(spark, tmp_path):
    """save→load must reproduce the session-built IVF and PQ results
    exactly; a stale index (wrong candidate count in the meta) must
    rebuild on load instead of being probed."""
    root = str(tmp_path / "ann_idx")
    similarity.save_ann_index(spark, SF, root)

    idx = similarity.load_ann_index(spark, SF, root)
    got_ivf = sorted(
        map(tuple, similarity._ivf_topk(
            spark, SF, similarity.N_PROBES,
            cdf=idx["ivf_centroids"], assigned=idx["ivf_assigned"],
        ).collect())
    )
    want_ivf = sorted(map(tuple, similarity.ann_ivf_topk(spark, SF).collect()))
    assert got_ivf == want_ivf and len(got_ivf) > 0

    got_pq = sorted(
        map(tuple, similarity._pq_rerank(
            spark, SF,
            similarity._pq_adc(spark, SF, codes=idx["pq_codes"], cdf=idx["pq_codebook"]),
        ).collect())
    )
    want_pq = sorted(map(tuple, similarity.ann_pq_topk(spark, SF).collect()))
    assert got_pq == want_pq and len(got_pq) > 0

    # stale meta (foreign candidate count) -> load_ann_index rebuilds
    spark.createDataFrame(
        [(similarity.ANN_INDEX_VERSION, 1)], "version int, n_candidates bigint"
    ).write.mode("overwrite").parquet(f"{root}/index_meta")
    idx2 = similarity.load_ann_index(spark, SF, root)
    meta = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta["n_candidates"] != 1  # rebuilt, not trusted
    got2 = sorted(
        map(tuple, similarity._ivf_topk(
            spark, SF, similarity.N_PROBES,
            cdf=idx2["ivf_centroids"], assigned=idx2["ivf_assigned"],
        ).collect())
    )
    assert got2 == want_ivf


def test_ann_index_append_encodes_with_saved_quantizers(spark, tmp_path):
    """append_ann_index must grow the saved index WITHOUT retraining:
    an appended copy of an indexed vector (new id, same coordinates)
    gets the identical IVF cell and PQ codes the original got, and the
    meta candidate count advances by the batch size."""
    root = str(tmp_path / "ann_idx_append")
    similarity.save_ann_index(spark, SF, root)
    before_assigned = spark.read.parquet(f"{root}/ivf_assigned").count()
    meta0 = spark.read.parquet(f"{root}/index_meta").collect()[0]

    # "new crawl batch": every 5th indexed candidate, re-crawled with a
    # shifted id but byte-identical vector
    SHIFT = 1_000_000
    batch = (
        similarity._vectors(spark, SF)
        .filter((F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 5 == 0))
        .select((F.col("vec_id") + SHIFT).alias("vec_id"), "v")
    )
    n_new = similarity.append_ann_index(spark, batch, root, "crawl_b1")
    assert n_new == batch.count() > 0
    # retry idempotency: the batch subdirectory overwrites itself, the
    # meta count is recomputed from the stored assignment — a rerun
    # must not duplicate rows or double-count
    n_again = similarity.append_ann_index(spark, batch, root, "crawl_b1")
    assert n_again == n_new

    assigned = similarity._load_index_relation(spark, root, "ivf_assigned")
    assert assigned.count() == before_assigned + n_new
    # identical vector -> identical cell, regardless of which write it
    # came from (deterministic encoding against the SAVED centroids)
    mism = (
        assigned.filter(F.col("point_id") >= SHIFT)
        .select((F.col("point_id") - SHIFT).alias("point_id"), F.col("cell").alias("new_cell"))
        .join(assigned.filter(F.col("point_id") < SHIFT), "point_id")
        .filter(F.col("new_cell") != F.col("cell"))
        .count()
    )
    assert mism == 0

    codes = similarity._load_index_relation(spark, root, "pq_codes")
    cmism = (
        codes.filter(F.col("point_id") >= SHIFT)
        .select((F.col("point_id") - SHIFT).alias("point_id"), "m", F.col("code").alias("new_code"))
        .join(codes.filter(F.col("point_id") < SHIFT), ["point_id", "m"])
        .filter(F.col("new_code") != F.col("code"))
        .count()
    )
    assert cmism == 0

    meta1 = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta1["n_candidates"] == meta0["n_candidates"] + n_new


def test_ann_index_supersede_delete_compact(spark, tmp_path):
    """The ANN delete/supersede lifecycle: a superseded id serves its
    NEW vector's cell/codes immediately (latest-generation-wins), a
    tombstoned id stops serving, a supersede retry is idempotent, and
    compaction physically drops every stale row (raw relations ==
    effective view, tombstone dir cleared, meta = effective count)."""
    root = str(tmp_path / "ann_idx_supersede")
    similarity.save_ann_index(spark, SF, root)
    n0 = spark.read.parquet(f"{root}/ivf_assigned").count()

    vecs = similarity._vectors(spark, SF)
    cand = F.col("vec_id") >= similarity.N_QUERY
    changed = vecs.filter(cand & (F.col("vec_id") % 5 == 0)).select(
        "vec_id", F.reverse(F.col("v")).alias("v")
    )
    deleted = vecs.filter(cand & (F.col("vec_id") % 7 == 3)).select("vec_id")
    n_changed, n_deleted = changed.count(), deleted.count()
    overlap = changed.select("vec_id").join(deleted, "vec_id", "semi").count()
    assert n_changed > 0 and n_deleted > 0

    n_sup = similarity.supersede_ann_index(spark, changed, root, "re_b1", gen=1)
    assert n_sup == n_changed
    # retry idempotency: same tag+gen overwrites itself
    assert similarity.supersede_ann_index(spark, changed, root, "re_b1", gen=1) == n_sup
    n_eff = similarity.delete_ann_index_ids(spark, deleted, root, "re_b2", gen=2)
    assert n_eff == n0 - n_deleted

    assigned = similarity._load_index_relation(spark, root, "ivf_assigned")
    # effective view: no deleted id serves; every surviving changed id
    # has exactly ONE row and it is the reversed vector's row
    assert assigned.join(deleted, assigned["point_id"] == deleted["vec_id"], "semi").count() == 0
    ch_live = assigned.join(
        changed.select("vec_id"), assigned["point_id"] == changed["vec_id"], "semi"
    )
    assert ch_live.count() == n_changed - overlap
    # reversed vector actually serves: pv equals reversed corpus vector
    one = (
        ch_live.alias("a")
        .join(changed.alias("c"), F.col("a.point_id") == F.col("c.vec_id"))
        .filter(F.col("a.pv") != F.col("c.v"))
        .count()
    )
    assert one == 0

    eff_rows = assigned.count()
    eff_codes = similarity._load_index_relation(spark, root, "pq_codes").count()
    assert eff_rows == n0 - n_deleted
    assert eff_codes == eff_rows * similarity.PQ_M

    n_comp = similarity.compact_ann_index(spark, root)
    assert n_comp == eff_rows
    raw = spark.read.parquet(f"{root}/ivf_assigned")
    raw_codes = spark.read.parquet(f"{root}/pq_codes")
    assert "gen" not in raw.columns
    assert raw.count() == eff_rows and raw_codes.count() == eff_codes
    assert raw.join(deleted, raw["point_id"] == deleted["vec_id"], "semi").count() == 0
    # per-id uniqueness: no superseded duplicate survived the fold
    assert raw.groupBy("point_id").count().filter(F.col("count") > 1).count() == 0
    from generic_data_ingestor_framework_spark.fileops import hadoop_exists

    assert not hadoop_exists(spark, f"{root}/tombstones")
    meta = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta["n_candidates"] == eff_rows


def test_ann_index_supersede_crash_triggers_retrain(spark, tmp_path):
    """A crash between a SUPERSEDE's two batch writes is invisible to
    the count probes (supersedes replace rows — both effective counts
    still match the corpus), so load_ann_index's batch-tag SYMMETRY
    check must catch it: assigned batch present, codes batch missing,
    meta recreated with a matching count -> retrain anyway."""
    import warnings

    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_list_dirs,
    )

    root = str(tmp_path / "ann_idx_sup_crash")
    similarity.save_ann_index(spark, SF, root)
    n0 = spark.read.parquet(f"{root}/index_meta").collect()[0]["n_candidates"]

    changed = (
        similarity._vectors(spark, SF)
        .filter((F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 5 == 0))
        .select("vec_id", F.reverse(F.col("v")).alias("v"))
    )
    similarity.supersede_ann_index(spark, changed, root, "sup_crash", gen=1)
    # simulate the crash: the codes half never landed, and a foreign
    # actor recreated a COUNT-CONSISTENT meta (worst case for probes)
    hadoop_delete(spark, f"{root}/pq_codes_batches")
    spark.createDataFrame(
        [(similarity.ANN_INDEX_VERSION, int(n0))], "version int, n_candidates bigint"
    ).write.mode("overwrite").parquet(f"{root}/index_meta")
    # sanity: both effective counts WOULD pass — only tag symmetry fails
    assert similarity._load_index_relation(spark, root, "ivf_assigned").count() == n0
    assert (
        similarity._load_index_relation(spark, root, "pq_codes").count()
        == n0 * similarity.PQ_M
    )

    with warnings.catch_warnings(record=True) as wrec:
        warnings.simplefilter("always")
        idx = similarity.load_ann_index(spark, SF, root)
    assert any("discards" in str(w.message) for w in wrec)
    assert not hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches")
    assert idx["ivf_assigned"].count() == n0
    assert idx["pq_codes"].count() == n0 * similarity.PQ_M


def test_ann_index_append_crash_triggers_retrain(spark, tmp_path):
    """load_ann_index's consistency probe: a crash between an append's
    two relation writes (assigned batch written, codes batch not, meta
    gone or disagreeing) must trigger a retrain — and discarding
    non-empty append batches must WARN, never be silent."""
    import warnings

    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_list_dirs,
    )

    root = str(tmp_path / "ann_idx_crash")
    similarity.save_ann_index(spark, SF, root)
    n_base = spark.read.parquet(f"{root}/index_meta").collect()[0]["n_candidates"]

    SHIFT = 1_000_000
    batch = (
        similarity._vectors(spark, SF)
        .filter((F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 7 == 0))
        .select((F.col("vec_id") + SHIFT).alias("vec_id"), "v")
    )
    similarity.append_ann_index(spark, batch, root, "crash_b1")

    # simulate the mid-append crash: the codes batch never landed and
    # the meta claims the base count (the append had invalidated it;
    # a concurrent reader recreated... any meta/relations disagreement
    # must be treated as foreign) — assigned count n+k vs meta n
    hadoop_delete(spark, f"{root}/pq_codes_batches")
    spark.createDataFrame(
        [(similarity.ANN_INDEX_VERSION, int(n_base))],
        "version int, n_candidates bigint",
    ).write.mode("overwrite").parquet(f"{root}/index_meta")
    assert hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches")  # batch present

    with warnings.catch_warnings(record=True) as wrec:
        warnings.simplefilter("always")
        idx = similarity.load_ann_index(spark, SF, root)
    assert any("discards" in str(w.message) for w in wrec)  # loud, not silent
    # retrained: batch dirs cleared, meta back to the corpus count,
    # relations internally consistent again
    assert not hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches")
    meta = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta["n_candidates"] == n_base
    assert idx["ivf_assigned"].count() == n_base
    assert idx["pq_codes"].count() == n_base * similarity.PQ_M

    # and the true mid-append shape (meta deleted first) also retrains
    similarity.append_ann_index(spark, batch, root, "crash_b2")
    hadoop_delete(spark, f"{root}/index_meta")
    hadoop_delete(spark, f"{root}/pq_codes_batches")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        similarity.load_ann_index(spark, SF, root)
    meta2 = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta2["n_candidates"] == n_base
    assert not hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches")


def test_ann_index_fresh_process_serves_without_retrain(spark, tmp_path):
    """The 'train once, probe forever' contract CROSS-PROCESS: a brand
    new Python/JVM process loads the saved index and serves IVF + PQ
    results identical to the session-trained ones WITHOUT retraining
    (pinned by the index_meta file mtimes — a retrain rewrites them)."""
    import json as _json
    import os
    import subprocess
    import sys

    root = str(tmp_path / "ann_idx_fresh")
    similarity.save_ann_index(spark, SF, root)
    want_ivf = sorted(map(list, similarity.ann_ivf_topk(spark, SF).collect()))
    want_pq = sorted(map(list, similarity.ann_pq_topk(spark, SF).collect()))

    def _meta_mtimes() -> dict:
        d = f"{root}/index_meta"
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    before = _meta_mtimes()
    repo = str(Path(__file__).resolve().parents[1])
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.warehouse.dir", {str(tmp_path / "wh2")!r})
         .getOrCreate())
from generic_data_ingestor_framework_spark.llm import similarity
idx = similarity.load_ann_index(spark, {SF!r}, {root!r})
ivf = similarity._ivf_topk(spark, {SF!r}, similarity.N_PROBES,
                           cdf=idx["ivf_centroids"], assigned=idx["ivf_assigned"])
pq = similarity._pq_rerank(spark, {SF!r},
        similarity._pq_adc(spark, {SF!r}, codes=idx["pq_codes"],
                           cdf=idx["pq_codebook"]))
print("RESULT::" + json.dumps({{
    "ivf": sorted(map(list, (tuple(r) for r in ivf.collect()))),
    "pq": sorted(map(list, (tuple(r) for r in pq.collect()))),
}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = [l for l in out.stdout.splitlines() if l.startswith("RESULT::")]
    assert payload, out.stdout[-2000:]
    got = _json.loads(payload[0][len("RESULT::"):])
    assert got["ivf"] == want_ivf and len(got["ivf"]) > 0
    assert got["pq"] == want_pq and len(got["pq"]) > 0
    assert _meta_mtimes() == before  # no retrain: meta untouched


def test_ann_index_compaction_is_layout_only(spark, tmp_path):
    """compact_ann_index folds batch subdirs into the base relations:
    row-identical assigned/codes, batch dirs gone, meta recounted from
    stored data — a pure layout change with the meta-last protocol."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_exists,
        hadoop_list_dirs,
    )

    root = str(tmp_path / "ann_idx_compact")
    similarity.save_ann_index(spark, SF, root)
    SHIFT = 1_000_000
    batch = (
        similarity._vectors(spark, SF)
        .filter((F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 9 == 0))
        .select((F.col("vec_id") + SHIFT).alias("vec_id"), "v")
    )
    n_new = similarity.append_ann_index(spark, batch, root, "compact_b1")
    assert n_new > 0
    before_assigned = sorted(
        map(tuple, similarity._load_index_relation(spark, root, "ivf_assigned")
            .select("point_id", "cell").collect())
    )
    before_codes = sorted(
        map(tuple, similarity._load_index_relation(spark, root, "pq_codes").collect())
    )
    meta_before = spark.read.parquet(f"{root}/index_meta").collect()[0]

    n_total = similarity.compact_ann_index(spark, root)
    assert n_total == meta_before["n_candidates"] == len(before_assigned)
    assert not hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches")
    assert not hadoop_exists(spark, f"{root}/pq_codes_batches")

    after_assigned = sorted(
        map(tuple, spark.read.parquet(f"{root}/ivf_assigned")
            .select("point_id", "cell").collect())
    )
    after_codes = sorted(
        map(tuple, spark.read.parquet(f"{root}/pq_codes").collect())
    )
    assert after_assigned == before_assigned
    assert after_codes == before_codes
    meta_after = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta_after["n_candidates"] == n_total
    # the compacted assignment keeps the cell-partitioned layout (the
    # probe-pruning contract): cell is a partition column on disk
    subdirs = hadoop_list_dirs(spark, f"{root}/ivf_assigned")
    assert any("cell=" in s for s in subdirs)


def test_compact_band_index_dedups_and_preserves_probes(spark):
    """compact_band_index rewrites the history table as DISTINCT band
    keys in fresh bucketed files: duplicate band rows (accumulated by
    pre-skip_existing re-appends) disappear, the probe result is
    identical, and the history side of the probe stays shuffle-free."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        _reset_managed_table,
        bands_per_row,
        compact_band_index,
        dedup_against_band_index,
        portable_hash32,
        save_band_index,
        update_band_index,
    )
    from generic_data_ingestor_framework_spark.relational import load_table
    from generic_data_ingestor_framework_spark.scale import count_exchanges

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 2
    corpus = d.filter(bucket == 0)
    batch = d.filter(bucket == 1)
    table = "band_index_compact_t"
    _reset_managed_table(spark, table)
    try:
        save_band_index(spark, corpus, table)
        # materialize the admissions BEFORE appending: the relation is
        # lazy, and re-evaluating it after the first append would see
        # its own bands in the index and admit nothing
        admitted = dedup_against_band_index(spark, batch, table).localCheckpoint(
            eager=True
        )
        # two non-skip appends of the SAME admissions -> duplicate rows
        update_band_index(spark, admitted.select("doc_id", "text"), table)
        update_band_index(spark, admitted.select("doc_id", "text"), table)
        rows_dup = spark.table(table).count()
        distinct_keys = spark.table(table).select("band_key").distinct().count()
        assert rows_dup > distinct_keys  # duplicates really accumulated

        probe_before = {
            r["doc_id"]
            for r in dedup_against_band_index(spark, batch, table).collect()
        }

        n = compact_band_index(spark, table)
        assert n == distinct_keys
        assert spark.table(table).count() == distinct_keys
        probe_after = {
            r["doc_id"]
            for r in dedup_against_band_index(spark, batch, table).collect()
        }
        assert probe_after == probe_before  # layout/dedup change only

        probe = bands_per_row(batch.select("doc_id", "text")).join(
            spark.table(table), "band_key", "semi"
        )
        assert count_exchanges(probe) <= 1  # bucketing survived the rewrite
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ann_retrain_execute_ab_invariants(spark):
    """The retrain A/B member's shape contract: one row per query
    wave; the corpus is exactly 3x the candidate set (both waves are
    1:1 transforms); truth size is n_queries x top_k; both recalls are
    valid basis points. The VALUES are pinned cross-engine by the
    DuckDB oracle (dual Lloyd trajectories) — this test pins the shape
    invariants that make the values meaningful."""
    rows = {r["batch"]: r for r in similarity.ann_retrain_execute(spark, SF).collect()}
    assert sorted(rows) == [0, 1, 2]
    from generic_data_ingestor_framework_spark.relational import load_table

    n_cand = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") >= similarity.N_QUERY)
        .count()
    )
    for r in rows.values():
        assert r["corpus_n"] == 3 * n_cand
        assert r["k"] == similarity.N_QUERY * similarity.TOP_K
        for c in ("recall_frozen_bp", "recall_retrained_bp"):
            assert 0 <= r[c] <= 10000


def test_t_closeness_threshold_monotonicity(spark):
    """Groups above a TVD threshold can only shrink as the threshold
    rises; at any threshold at or past the reported corpus-wide max
    TVD the violating set must be empty; risk share is exact integer
    basis points of the violating rows."""
    from generic_data_ingestor_framework_spark.llm.sampling import t_closeness_audit

    rows = t_closeness_audit(spark, SF).collect()
    ts = [r["t_bp"] for r in rows]
    assert ts == sorted(ts)
    above = [r["groups_above_t"] for r in rows]
    assert all(a >= b for a, b in zip(above, above[1:]))  # monotone down
    for r in rows:
        assert r["max_tvd_bp"] == rows[0]["max_tvd_bp"]  # one corpus max
        if r["t_bp"] >= r["max_tvd_bp"]:
            assert r["groups_above_t"] == 0 and r["rows_above_t"] == 0


def test_arrow_scorer_bit_identity(spark):
    """The vectorized Arrow scorers must be BIT-identical to the
    sequential left-to-right binary64 fold the HOF expressions compute
    (the r14 rewrite moved raw dot/L2 scoring into NumPy; ranking and
    rounding stayed in the JVM, so any scorer drift would silently
    flip oracle rows). Reference: the same fold in CPython floats."""
    from generic_data_ingestor_framework_spark.llm import similarity

    # awkward, non-representable values exercising cancellation
    vecs = [
        [0.1 + 0.3 * i * (-1) ** i for i in range(8)],
        [1e-9, -3.7, 0.30000000000000004, 2.5, -1e9, 7.1, 0.0, -0.1],
        [float(i) / 7.0 for i in range(8)],
    ]
    cents = [[0.1 * (j + 1) + 0.7 * i for i in range(8)] for j in range(5)]
    df = spark.createDataFrame([(v,) for v in vecs], "pv array<double>")

    def fold(v, c, mode):
        acc = 0.0
        for x, y in zip(v, c):
            acc = acc + (x * y if mode == "dot" else (x - y) * (x - y))
        return acc

    for mode in ("dot", "l2sq"):
        got = [
            list(r[0])
            for r in df.select(
                similarity._mat_scores(cents, mode)("pv")
            ).collect()
        ]
        want = [[fold(v, c, mode) for c in cents] for v in vecs]
        assert got == want  # exact float equality == bit identity

    # PQ scorer: M=2 subspaces of 4 dims, K=3 sub-centroids, m-major out
    books = [
        [[0.1, -0.2, 0.3, 0.7], [1.1, 2.2, -3.3, 0.4], [0.0, 0.5, 0.25, -0.125]],
        [[-0.7, 0.9, 1.3, -2.1], [0.6, 0.0, 0.1, 0.2], [3.14, -2.72, 1.41, 0.58]],
    ]
    for mode in ("dot", "l2sq"):
        got = [
            list(r[0])
            for r in df.select(
                similarity._pq_mat_scores(books, mode)("pv")
            ).collect()
        ]
        want = [
            [
                fold(v[m * 4 : (m + 1) * 4], c, mode)
                for m in range(2)
                for c in books[m]
            ]
            for v in vecs
        ]
        assert got == want

    # driver-side norm helper used for the held centroids
    import math

    for v in vecs:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        assert similarity._py_norm(v) == math.sqrt(acc)


def test_pairwise_wave_scores_matches_hof_crossjoin(spark):
    """The r15 Arrow pairwise scorer must produce EXACTLY the pair rows
    the broadcast-crossJoin + interpreted-HOF form produced — same
    (wave, query_id) fan-out, bit-identical rounded cos_sim (the
    recall/retrain members' window ordering rides on it)."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import similarity as sim

    pts_rows = [
        (10, [0.1, -3.7, 2.5, 0.3]),
        (11, [1e-9, 0.30000000000000004, -1.1, 7.0]),
        (12, [4.2, -0.001, 123.456, 0.125]),
    ]
    pts = spark.createDataFrame(
        pts_rows, "point_id bigint, pv array<double>"
    ).withColumn("pn", sim._norm(F.col("pv")))
    qrows = [
        (w, qid, v, sim._py_norm(v))
        for w, qid, v in [
            (0, 0, [0.5, 0.25, -0.125, 3.0]),
            (1, 0, [-0.5, -0.25, 0.125, -3.0]),
            (2, 1, [1.0 / 3.0, 0.7, -2.2, 0.9]),
        ]
    ]
    got = sorted(
        tuple(r)
        for r in sim._pairwise_wave_scores(pts, qrows, ["point_id"]).collect()
    )
    q = spark.createDataFrame(
        [(w, qid, v, qn) for w, qid, v, qn in qrows],
        "wave int, query_id bigint, qv array<double>, qn double",
    )
    hof = (
        pts.crossJoin(F.broadcast(q))
        .withColumn(
            "cos_sim",
            F.round(
                sim._dot(F.col("qv"), F.col("pv"))
                / (F.col("qn") * F.col("pn")),
                6,
            ),
        )
        .select("point_id", "wave", "query_id", "cos_sim")
    )
    want = sorted(tuple(r) for r in hof.collect())
    assert got == want  # exact equality == bit identity after rounding


def test_nearest_cells_tie_breaks_on_lowest_centroid_id(spark):
    """Duplicate centroids produce exactly tied rounded sims; the
    argmax must keep the LOWEST centroid id (the ordering the replaced
    desc(sim), centroid_id window used, and what the oracle replays)."""
    from generic_data_ingestor_framework_spark.llm import similarity

    c = [1.0, 2.0, -1.0, 0.5]
    cents = [(0, c, similarity._py_norm(c)),
             (1, [9.0, -3.0, 2.0, 4.0], similarity._py_norm([9.0, -3.0, 2.0, 4.0])),
             (2, c, similarity._py_norm(c))]  # dup of 0 → tie
    df = spark.createDataFrame(
        [(7, c)], "point_id bigint, pv array<double>"
    ).withColumn("pn", F.expr(
        "sqrt(aggregate(transform(pv, x -> x*x), 0.0d, (a, x) -> a + x))"
    ))
    out = similarity._nearest_cells(
        None, df, "pv", "pn", "point_id", 2, cents=cents
    ).collect()
    assert [r["cell"] for r in out] == [0, 2]


def test_ann_write_meta_deferred_commit(spark, tmp_path):
    """r14 opt contract: ``write_meta=False`` leaves the index
    UNCOMMITTED (meta absent — exactly the mid-writer crash state), the
    following mutation's default commit recomputes meta from the stored
    effective view, and the final state equals the all-default
    sequence's."""
    from generic_data_ingestor_framework_spark.fileops import hadoop_exists

    root = str(tmp_path / "ann_idx_wm")
    similarity.save_ann_index(spark, SF, root)
    n0 = spark.read.parquet(f"{root}/ivf_assigned").count()

    vecs = similarity._vectors(spark, SF)
    cand = F.col("vec_id") >= similarity.N_QUERY
    changed = vecs.filter(cand & (F.col("vec_id") % 5 == 0)).select(
        "vec_id", F.reverse(F.col("v")).alias("v")
    )
    deleted = vecs.filter(cand & (F.col("vec_id") % 7 == 3)).select("vec_id")

    similarity.supersede_ann_index(
        spark, changed, root, "wm_b1", gen=1, write_meta=False
    )
    # uncommitted between the two mutations: meta was invalidated and
    # NOT rewritten — a crash here is the already-handled retrain case
    assert not hadoop_exists(spark, f"{root}/index_meta")
    # deferred-commit delete returns -1 (no recount) and stays uncommitted
    assert (
        similarity.delete_ann_index_ids(
            spark, deleted.limit(0), root, "wm_b0", gen=2, write_meta=False
        )
        == -1
    )
    assert not hadoop_exists(spark, f"{root}/index_meta")
    n_eff = similarity.delete_ann_index_ids(spark, deleted, root, "wm_b2", gen=3)
    assert n_eff == n0 - deleted.count()
    meta = spark.read.parquet(f"{root}/index_meta").collect()[0]
    assert meta["n_candidates"] == n_eff


def test_supersede_band_marker_token_rule(spark, tmp_path):
    """r14 opt: NULL-band markers now derive from the token-count rule
    (size(tokens) < 3 ⟺ bands_per_row emits nothing) instead of a
    second minhash pass + anti join — a superseded doc whose new
    content is unshingleable must still kill its old bands."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        _reset_managed_table,
        dedup_against_band_index_versioned,
        save_band_index_versioned,
        supersede_band_index,
    )

    base_tbl, delta_tbl = "t_marker_base", "t_marker_delta"
    for t in (base_tbl, delta_tbl):
        _reset_managed_table(spark, t)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
        "doc_id bigint, text string",
    )
    save_band_index_versioned(spark, docs, base_tbl, delta_tbl)
    # doc 1 re-crawled as a two-token text: no shingle, no bands —
    # ONLY the marker row can retire its old bands
    short = spark.createDataFrame([(1, "too short")], "doc_id bigint, text string")
    supersede_band_index(spark, short, delta_tbl, gen=1)
    delta = spark.table(delta_tbl)
    markers = delta.filter(F.col("band_key").isNull() & ~F.col("tombstone"))
    assert [r["doc_id"] for r in markers.collect()] == [1]
    # probing doc 1's ORIGINAL text is now admitted (its old bands are
    # dead); a near-dup of the untouched doc 2 is still rejected
    probe = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),
            (11, "zeta eta theta iota kappa"),
        ],
        "doc_id bigint, text string",
    )
    adm = dedup_against_band_index_versioned(spark, probe, base_tbl, delta_tbl)
    assert sorted(r["doc_id"] for r in adm.collect()) == [10]


def test_query_vecs_empty_corpus_is_an_empty_relation(spark, tmp_path):
    """An embeddings table with no query vectors gives an empty
    (vec_id, v) relation of the usual types, not a SQL ``VALUES``
    clause with no rows (a parse error)."""
    empty = str(tmp_path / "empty_sf")
    spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(f"{empty}/embeddings.parquet")
    got = similarity._query_vecs(spark, empty)
    assert got.collect() == []
    assert got.dtypes == similarity._query_vecs(spark, SF).dtypes
