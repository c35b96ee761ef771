"""Round-14 operator tests: the r13 ADVICE fixes (unigram OOV guard,
2^40 score-encoding assert, lifecycle temp-dir sweep) plus the round's
registrations — the tokenizer artifact-inference lifecycles and the
incremental crawl-ingestion state machine — and the three-
implementations pin on the scale-safe unigram vocab delivery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _uni_trained_vocab(spark, sf_dir):
    from flod_spark.catalog.text import _UNI_ROUNDS, _unigram_rounds

    _, vocab = _unigram_rounds(spark, sf_dir, _UNI_ROUNDS)
    return vocab


def test_unigram_vocab_delivery_forms_are_bit_identical(spark, sf_dir, tmp_path):
    """The r13 verdict item-3 pin (fingerprint_winnow's three-
    implementations discipline): the JOIN-form vocab delivery
    (_uni_vmap_by_join — production, no literal ceiling) must produce
    the registered literal form's segmentation counts bit-for-bit at
    gate scale. Compares full (doc_id, n_words, n_pieces) outputs of
    unigram_apply (literal) vs unigram_apply_from_table (join, via the
    saved artifact)."""
    from flod_spark.catalog.text import (
        unigram_apply,
        unigram_apply_from_table,
        unigram_save_vocab,
    )
    from flod_spark.io import load

    lit_rows = sorted(map(tuple, unigram_apply(spark, sf_dir).collect()))
    vocab = _uni_trained_vocab(spark, sf_dir)
    vdir = str(tmp_path / "univocab")
    unigram_save_vocab(vocab, spark, vdir + "/v")
    docs = load(spark, sf_dir, "documents")
    join_rows = sorted(
        map(tuple, unigram_apply_from_table(docs, spark, vdir + "/v").collect())
    )
    assert join_rows == lit_rows and lit_rows


def test_unigram_saved_vocab_pins_alphabet_and_segments_oov(spark, sf_dir, tmp_path):
    """r13 ADVICE (medium): a word containing a letter absent from the
    training corpus used to NULL the DP and silently corrupt n_pieces
    via size(split(NULL)) = -1. unigram_save_vocab now pins the full
    a-z alphabet (cnt 0), so OOV words segment into single chars — and
    the pin is invisible to in-corpus text (previous test: the saved
    artifact reproduces the literal path bit-for-bit)."""
    from flod_spark.catalog.text import unigram_apply_from_table, unigram_save_vocab

    # tiny trained vocab whose alphabet misses most letters
    vocab = [("ab", 7), ("a", 5), ("b", 4)]
    p = str(tmp_path / "v")
    unigram_save_vocab(vocab, spark, p)
    saved = {r.piece for r in spark.read.parquet(p).collect()}
    assert {chr(c) for c in range(ord("a"), ord("z") + 1)} <= saved
    docs = spark.createDataFrame([(1, "ab zq")], "doc_id long, text string")
    got = unigram_apply_from_table(docs, spark, p).collect()
    assert len(got) == 1
    # 'ab' -> 1 piece (count 7 beats a+b), 'zq' -> z q via the pin
    assert (got[0].n_words, got[0].n_pieces) == (2, 3)


def test_unigram_unpinned_vocab_raises_instead_of_corrupting(spark, tmp_path):
    """Defense in depth behind the pin: a HAND-BUILT table that omits
    single chars (bypassing unigram_save_vocab) could dead-end the DP —
    the fail-fast coverage check must RAISE before any segmentation,
    never return a negative n_pieces contribution."""
    from flod_spark.catalog.text import unigram_apply_from_table

    spark.createDataFrame(
        [("ab", 7), ("a", 5), ("b", 4)], "piece string, cnt bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "v"))
    docs = spark.createDataFrame([(1, "ab zq")], "doc_id long, text string")
    with pytest.raises(ValueError, match="missing single-char"):
        unigram_apply_from_table(docs, spark, str(tmp_path / "v"))


def test_unigram_count_overflow_asserts_loudly(spark, tmp_path):
    """r13 ADVICE (low): a piece count >= 2^40 breaks the BIGINT score
    encoding (and the oracle's printf('%020d') string order inverts on
    the now-possible negatives) — every driver-side vocabulary
    materialization must fail loudly instead of silently diverging.
    The guard raises ValueError, not AssertionError (r14 ADVICE:
    ``python -O`` strips asserts exactly at the scale the guard is
    for)."""
    from flod_spark.catalog.text import (
        _UNI_BIG,
        _uni_vocab_map,
        unigram_apply_from_table,
        unigram_save_vocab,
    )

    bad = [("a", _UNI_BIG), ("b", 1)]
    with pytest.raises(ValueError, match="2\\^40"):
        _uni_vocab_map(bad)
    with pytest.raises(ValueError, match="2\\^40"):
        unigram_save_vocab(bad, spark, str(tmp_path / "v1"))
    # a hand-built overflowing table is caught at load too
    spark.createDataFrame(bad, "piece string, cnt bigint").write.parquet(
        str(tmp_path / "v2")
    )
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="2\\^40"):
        unigram_apply_from_table(docs, spark, str(tmp_path / "v2"))


def test_bpe_merge_artifact_round_trip(spark, sf_dir, tmp_path):
    """The BPE artifact-inference lifecycle: save the trained merge
    table, load it back (training order restored from the round
    column), apply — bit-identical to applying the in-memory merges,
    and the loaded rows equal the trained rows exactly."""
    from flod_spark.catalog.text import (
        _bpe_merge_list,
        bpe_apply_merges,
        bpe_load_merges,
        bpe_save_merges,
    )
    from flod_spark.io import load

    merges = _bpe_merge_list(spark, sf_dir)
    p = str(tmp_path / "merges")
    bpe_save_merges(merges, spark, p)
    loaded = bpe_load_merges(spark, p)
    assert loaded == [(r, pr, c) for r, pr, c in merges]
    docs = load(spark, sf_dir, "documents")
    direct = sorted(map(tuple, bpe_apply_merges(docs, merges).collect()))
    via_table = sorted(map(tuple, bpe_apply_merges(docs, loaded).collect()))
    assert via_table == direct and direct


def test_serve_and_cleanup_result_survives_source_removal(spark, tmp_path):
    """serve_and_cleanup must materialize: the returned DataFrame stays
    collectable after its source parquet is removed (the scoped temp
    root a gate serves from goes when its ``with`` exits)."""
    import shutil

    from flod_spark.io import serve_and_cleanup

    d = str(tmp_path / "state")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(d)
    out = serve_and_cleanup(spark.read.parquet(d).filter("id < 10"))
    shutil.rmtree(d)
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == [(i, 2 * i) for i in range(10)]


def test_crawl_incremental_matches_oneshot_and_is_nonvacuous(spark, sf_dir):
    """The incremental crawl chain's verdicts must equal the ONE-SHOT
    crawl_pipeline verdicts restricted to its slice (doc_id > mid):
    persisted claim state across build/advance/compact is admission-
    invisible (dedup_incremental's N-advances==one-shot law, through
    the crawl chain). Also pins every admission path non-vacuous at
    gate scale: claimed-fp rejections, within-slice rejections, and
    admissions all present; no thin page survives quality."""
    from flod_spark.catalog.surface import (
        _CRAWL_REFETCH,
        _CRAWL_THIN_MOD,
        crawl_pipeline,
        crawl_pipeline_incremental,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents")
    mm = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")).first()
    mid = (mm.mn + mm.mx) // 2
    one = {
        r.doc_id: (r.fp, r.n_chars, r.admitted)
        for r in crawl_pipeline(spark, sf_dir).collect()
        if r.doc_id > mid
    }
    inc_rows = crawl_pipeline_incremental(spark, sf_dir).collect()
    inc = {r.doc_id: (r.fp, r.n_chars, r.admitted) for r in inc_rows}
    assert inc == one and inc
    # non-vacuity of the three admission paths within the slice
    admitted = [r for r in inc_rows if r.admitted]
    refetch_of_first_half = [
        r
        for r in inc_rows
        if r.doc_id >= _CRAWL_REFETCH and r.doc_id - _CRAWL_REFETCH <= mid
    ]
    refetch_of_second_half = [
        r
        for r in inc_rows
        if r.doc_id >= _CRAWL_REFETCH and r.doc_id - _CRAWL_REFETCH > mid
    ]
    assert admitted  # unclaimed slice-firsts (second-half originals)
    assert refetch_of_first_half and not any(
        r.admitted for r in refetch_of_first_half
    )  # claimed-fp rejections
    assert refetch_of_second_half and not any(
        r.admitted for r in refetch_of_second_half
    )  # within-slice rejections
    assert not any(
        r.doc_id % _CRAWL_THIN_MOD == 0 for r in inc_rows if r.doc_id < _CRAWL_REFETCH
    )  # thin originals never pass quality


def test_crawl_claim_state_representations_agree(spark, sf_dir):
    """The three claim-state representations must produce identical
    admitted sets: the batch window rank (crawl_pipeline's admitted
    rows), the in-memory stream state (stream_crawl_extract_live), and
    the persisted parquet claim table advanced per micro-batch
    (stream_crawl_claims_live). The live pair also share an oracle
    verbatim; this pins the engine side directly."""
    from flod_spark.catalog.surface import (
        crawl_pipeline,
        stream_crawl_claims_live,
        stream_crawl_extract_live,
    )

    batch = {
        (r.doc_id, r.fp, r.n_chars)
        for r in crawl_pipeline(spark, sf_dir).collect()
        if r.admitted
    }
    mem = {
        (r.doc_id, r.fp, r.n_chars)
        for r in stream_crawl_extract_live(spark, sf_dir).collect()
    }
    durable = {
        (r.doc_id, r.fp, r.n_chars)
        for r in stream_crawl_claims_live(spark, sf_dir).collect()
    }
    assert batch == mem == durable and batch


def test_tiny_df_matches_parallelize_form(spark):
    """tiny_df is now load-bearing (replay sentinels, queue spool,
    tokenizer artifacts): pin that the Arrow LocalTableScan form equals
    the classic createDataFrame(list) form row-for-row across the value
    shapes those call sites use — ints, doubles, strings, naive
    timestamps, and NULLs — and that it plans WITHOUT a PythonRDD."""
    import datetime

    from flod_spark.io import tiny_df

    rows = [
        (1, 1.5, "a", datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (2, -0.0, None, datetime.datetime(2024, 6, 1)),
        (None, None, "", None),
    ]
    ddl = "i long, x double, s string, ts timestamp_ntz"
    got = tiny_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema

    def canon(df):
        return sorted((tuple(r) for r in df.collect()), key=str)

    assert canon(got) == canon(want)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "PythonRDD" not in plan
    # StructType schema form (the sentinel path)
    got2 = tiny_df(spark, rows, want.schema)
    assert got2.schema == want.schema and canon(got2) == canon(want)
    # the one representational hole is guarded loudly: pandas would
    # coerce a float NaN VALUE to NULL, so tiny_df refuses it
    with pytest.raises(ValueError, match="NaN"):
        tiny_df(spark, [(1, float("nan"), "a", None)], ddl)
