"""Pin for the composed daily-batch pipeline (plans/daily.py).

The registered query is rows-only (the modality stage rides the
binary pHash decode), so this pin carries its correctness: every
stage is recomputed here INDEPENDENTLY of the parquet store — the
indexes are built in memory from the same history frame, the JSONL
round-trip is replaced by the delta frame itself plus the analytic
damage-recipe constants — and the pipeline's summary rows must match
the recompute exactly. What survives only in the pipeline (or only
in the recompute) shows up as an id_sum/count mismatch, so a broken
store→read→join contract (schema drift, an index silently re-derived
from the corpus, a stage reorder) cannot pass.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.plans import QUERIES
from prisma_migrator_spark.plans.daily import (
    _DMG_JUNK,
    _DMG_TRUNCATED,
    MINHASH_DROP_AT,
    pair_drops,
    split_history_delta,
)


def _summ(df, id_col, val_col):
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(id_col), F.lit(0)).alias("i"),
        F.coalesce(F.sum(val_col), F.lit(0)).alias("v"),
    ).collect()[0]
    return (int(r["n"]), int(r["i"]), int(r["v"]))


def _row(rows, stage):
    r = rows[stage]
    return (int(r["n_rows"]), int(r["id_sum"]), int(r["val_sum"]))


@pytest.mark.slow  # multi-minute: default-deselected tier (pytest.ini)
def test_daily_batch_pipeline_matches_stage_recompute(spark, sf_dir):
    from prisma_migrator_spark.llm.dedup import (
        hamming_band_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from prisma_migrator_spark.llm.multimodal import (
        attach_image_variant_payload,
        image_phash,
    )
    from prisma_migrator_spark.llm.packing import pack_stream
    from prisma_migrator_spark.llm.text import (
        content_fingerprint,
        quality_score,
        token_count,
    )
    from prisma_migrator_spark.llm.urls import canonicalize_url
    from prisma_migrator_spark.plans.llm import _dirty_urls, _sig_band_arity

    rows = {
        r["stage"]: r
        for r in QUERIES["daily_batch_pipeline"](spark, sf_dir).collect()
    }
    assert len(rows) == 8

    docs = load_table(spark, sf_dir, "documents")
    history, delta = split_history_delta(docs)
    delta = delta.withColumn(
        "n_tokens", token_count(F.col("text")).cast("bigint")
    ).localCheckpoint()

    # 1. ingest: good == the delta exactly (the JSONL round-trip must
    # not lose, duplicate, or mutate a doc); quarantine == the two
    # injected literals, analytically
    assert _row(rows, "1_ingested") == _summ(
        delta, F.col("doc_id"), F.length("text")
    )
    assert _row(rows, "1_quarantined") == (
        2,
        0,
        len(_DMG_TRUNCATED) + len(_DMG_JUNK),
    )

    # 2. URL canonicalization over the same dirty-URL schedule
    canon = _dirty_urls(delta).select(
        "doc_id", canonicalize_url(F.col("url")).alias("cu")
    )
    assert _row(rows, "2_url_canon") == _summ(
        canon, F.col("doc_id"), F.length("cu")
    )

    # 3. quality gate
    kept = delta.where(
        F.round(quality_score(F.col("text")), 6) >= 0.3
    ).localCheckpoint()
    assert _row(rows, "3_quality_kept") == _summ(
        kept, F.col("doc_id"), F.col("n_tokens")
    )

    # 4. exact dedup vs an IN-MEMORY history fingerprint set
    hist_fp = history.select(
        content_fingerprint(F.col("text")).alias("fp")
    ).distinct()
    keep4 = (
        kept.select("doc_id", content_fingerprint(F.col("text")).alias("fp"))
        .join(hist_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    after_exact = kept.join(keep4, "doc_id", "left_semi").localCheckpoint()
    assert _row(rows, "4_after_exact") == _summ(
        after_exact, F.col("doc_id"), F.col("n_tokens")
    )

    # 5. MinHash vs IN-MEMORY history signatures
    hist_sigs = minhash_signatures(
        shingles(history, k=3, distinct=False), num_hashes=8
    )
    delta_sigs = minhash_signatures(
        shingles(after_exact, k=3, distinct=False), num_hashes=8
    )
    mh_pairs = lsh_candidate_pairs(delta_sigs, index=hist_sigs).where(
        F.col("jaccard_est") >= MINHASH_DROP_AT
    )
    mh_drops = pair_drops(mh_pairs, after_exact.select("doc_id"))
    after_mh = after_exact.join(
        mh_drops, "doc_id", "left_anti"
    ).localCheckpoint()
    assert _row(rows, "5_after_minhash") == _summ(
        after_mh, F.col("doc_id"), F.col("n_tokens")
    )

    # 6. modality vs IN-MEMORY history pHash signatures
    arity, maxham, cap = _sig_band_arity(docs)
    hist_ph = image_phash(attach_image_variant_payload(history))
    surv_ph = image_phash(attach_image_variant_payload(after_mh))
    ham_pairs = hamming_band_pairs(
        surv_ph,
        id_col="doc_id",
        sig_col="phash",
        n_bits=64,
        band_bits=8,
        max_hamming=maxham,
        band_arity=arity,
        max_bucket=cap,
        index=hist_ph,
    )
    ham_drops = pair_drops(ham_pairs, after_mh.select("doc_id"))
    survivors = after_mh.join(
        ham_drops, "doc_id", "left_anti"
    ).localCheckpoint()
    assert _row(rows, "6_after_modality") == _summ(
        survivors, F.col("doc_id"), F.col("n_tokens")
    )
    # the modality stage must be doing real work on this corpus:
    # pure-delta variant groups collapse to their min id
    n5 = int(rows["5_after_minhash"]["n_rows"])
    n6 = int(rows["6_after_modality"]["n_rows"])
    assert 0 < n6 < n5

    # 7. pack the survivors
    packed = pack_stream(
        survivors.select("doc_id", "n_tokens"), ctx=512, n_buckets=16
    )
    assert _row(rows, "7_packed_spans") == _summ(
        packed, F.col("pack_id"), F.col("span_len")
    )
    # packed token mass == survivor token mass (no span lost at a
    # context boundary)
    assert int(rows["7_packed_spans"]["val_sum"]) == int(
        rows["6_after_modality"]["val_sum"]
    )


def test_pair_drops_history_wins_and_min_id(spark):
    # pairs: (1,2) both delta -> drop 2; (3,10) 3=history, 10=delta ->
    # drop 10; (4,9) 9=history, 4=delta -> drop 4 (history wins even
    # as the greater id); (5,6) neither delta -> no drop
    pairs = spark.createDataFrame(
        [(1, 2), (3, 10), (4, 9), (5, 6)], "id_a long, id_b long"
    )
    delta = spark.createDataFrame(
        [(1,), (2,), (10,), (4,)], "doc_id long"
    )
    got = sorted(r["doc_id"] for r in pair_drops(pairs, delta).collect())
    assert got == [2, 4, 10]
