"""Edge cases for the round-4 LLM-data operators (queries/llmdata.py)
beyond the sf-fixture oracle parity: degenerate documents, shingle
guard behavior, and decontamination semantics on crafted corpora."""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.queries.llmdata import _shingles


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_short_doc_guard(spark):
    """Docs shorter than n yield [], never a descending-sequence
    artifact; exactly-n docs yield one shingle."""
    df = _docs(
        spark,
        [(0, "a"), (1, "a b"), (2, "a b c"), (3, "a b c d")],
    ).select("doc_id", _shingles(F.split("text", " "), 3).alias("sh"))
    got = {r["doc_id"]: r["sh"] for r in df.collect()}
    assert got[0] == []
    assert got[1] == []
    assert got[2] == ["a b c"]
    assert got[3] == ["a b c", "b c d"]


def test_shingles_match_slice_formulation(spark):
    """The zip_with fold is bit-identical to the O(n·w) slice form on
    arbitrary real text (the optimization must not change semantics)."""
    from ibd_pipeline_spark.catalog import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    toks = F.split("text", " ")
    naive = F.when(
        F.size(toks) >= 4,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 3),
            lambda i: F.array_join(F.slice(toks, i, 4), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_diff = (
        d.select((naive != _shingles(toks, 4)).alias("x")).filter("x").count()
    )
    assert n_diff == 0


def test_repetition_ratio_extremes(spark, tmp_path):
    """A fully-repeated doc scores ~1 trigram repetition; an all-unique
    doc scores 0 on both ratios and is not flagged."""
    import ibd_pipeline_spark.queries.llmdata as L

    docs = _docs(
        spark,
        [
            (0, " ".join(["spam"] * 30)),            # one token repeated
            (1, " ".join(f"t{i}" for i in range(30))),  # all distinct
        ],
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    )
    out_dir = str(tmp_path / "docs")
    docs.write.parquet(out_dir + "/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in L.text_repetition_ratio(spark, out_dir).collect()
    }
    assert rows[0]["token_repetition"] > 0.9
    assert rows[0]["trigram_repetition"] > 0.9
    assert rows[0]["flagged"] is True
    assert rows[1]["token_repetition"] == 0.0
    assert rows[1]["trigram_repetition"] == 0.0
    assert rows[1]["flagged"] is False


def test_decontaminate_flags_planted_overlap(spark, tmp_path):
    """A train doc sharing a 5-gram with an eval doc is flagged; a
    disjoint one is not. (doc_id % 10 == 0 is the eval slice.)"""
    import ibd_pipeline_spark.queries.llmdata as L

    secret = "alpha beta gamma delta epsilon"
    docs = _docs(
        spark,
        [
            (10, f"eval doc containing {secret} inside"),   # eval (10 % 10 == 0)
            (11, f"train doc leaking {secret} verbatim"),   # contaminated
            (12, "completely unrelated clean training text here"),
        ],
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    )
    out_dir = str(tmp_path / "docs")
    docs.write.parquet(out_dir + "/documents.parquet")
    got = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in L.text_decontaminate_ngram_overlap(spark, out_dir).collect()
    }
    assert 11 in got and got[11] >= 1
    assert 12 not in got


def test_cross_corpus_dedup_drops_exact_normalized_dupes(spark, tmp_path):
    """Whitespace/case-variant copies of reference docs are dropped;
    novel docs survive."""
    import ibd_pipeline_spark.queries.llmdata as L

    docs = spark.createDataFrame(
        [
            (0, "The Quick Brown Fox", "src0"),
            (1, "  the   quick brown fox ", "srcA"),  # normalized dupe of 0
            (2, "an entirely new document", "srcA"),
        ],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text"))
    out_dir = str(tmp_path / "docs")
    docs.write.parquet(out_dir + "/documents.parquet")
    row = {
        r["source"]: r
        for r in L.dedup_cross_corpus_anti(spark, out_dir).collect()
    }["srcA"]
    assert row["n_candidates"] == 2
    assert row["n_dropped"] == 1
    assert row["n_survivors"] == 1


def test_chunking_covers_and_reconstructs(spark, tmp_path):
    """Chunk invariants: stride-aligned prefixes reconstruct the doc,
    every chunk except the last is full-width, token accounting adds
    up, and a short doc yields exactly one unpadded chunk."""
    import ibd_pipeline_spark.queries.llmdata as L

    texts = {
        0: " ".join(f"w{i}" for i in range(137)),  # 137 tokens → 5 chunks
        1: " ".join(f"w{i}" for i in range(50)),   # exactly one chunk
        2: "solo",                                  # 1 token
    }
    docs = _docs(spark, list(texts.items())).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn("n_chars", F.length("text"))
    out_dir = str(tmp_path / "docs")
    docs.write.parquet(out_dir + "/documents.parquet")

    rows = L.train_chunk_documents(spark, out_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    assert [r["n_tokens"] for r in by_doc[1]] == [50]
    assert [r["n_tokens"] for r in by_doc[2]] == [1]

    chunks = sorted(by_doc[0], key=lambda r: r["chunk_idx"])
    assert len(chunks) == 5  # ceil((137-50)/25)+1
    # all but the last are full-width; the last is the remainder
    assert [c["n_tokens"] for c in chunks[:-1]] == [50] * 4
    assert chunks[-1]["n_tokens"] == 137 - 25 * 4
    # reconstruction: chunk i's first 25 tokens == original[25i:25i+25]
    orig = texts[0].split(" ")
    for c in chunks:
        toks = c["chunk_text"].split(" ")
        assert toks == orig[25 * c["chunk_idx"] : 25 * c["chunk_idx"] + 50]


def test_dsir_target_language_ranks_first(spark, sf_dir):
    """DSIR self-consistency: the target domain (lang='en') must have
    the highest mean importance weight — by construction its docs
    look most like the target distribution."""
    from ibd_pipeline_spark.queries.training2 import train_dsir_importance

    rows = train_dsir_importance(spark, sf_dir).collect()
    by_lang = {r["lang"]: r for r in rows}
    assert "en" in by_lang
    best = max(rows, key=lambda r: r["mean_logw"])
    assert best["lang"] == "en"
    # a majority of target docs should score positive (the corpus is
    # tiny and synthetic, so demand majority, not near-totality)
    en = by_lang["en"]
    assert en["n_selected"] >= en["n_docs"] * 0.5
