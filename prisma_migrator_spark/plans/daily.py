"""The composed "daily batch" — every incremental operator chained
end-to-end against STORED indexes (VERDICT r8 item 4).

Each stage here is individually driver-gated elsewhere
(`jsonl_shard_ingest`, `url_canonicalize`, `clean_corpus`,
`incremental_lsh_dedup`, `incremental_image_near_dup`,
`pack_stream_512`); this query gates the COMPOSITION, which is where
stored-index contracts actually break in production — schema drift
between the index writer and the join that consumes it, an index
read that silently re-derives from the corpus instead of the store,
a stage reordering that changes which docs ever reach the decode
step. The pipeline:

1. **Delta ingest** — the day's batch (``doc_id % 4 == 0``, 25% of
   ``documents``) is exported as JSONL shards by the audited writer,
   two corrupt lines are injected (the fixed damage recipe), and the
   batch re-enters through `sources.jsonl.read_jsonl` — good rows
   proceed, corrupt lines quarantine.
2. **URL canonicalization** — the synthesized dirty URL per doc
   (same schedule as `url_canonicalize`) is canonicalized map-side.
3. **Quality gate** — ``round(quality_score, 6) >= 0.3``, the
   `clean_corpus` predicate.
4. **Exact dedup vs the stored fingerprint index** — the history
   corpus's content fingerprints are PERSISTED to parquet and read
   back; survivors are delta docs whose fp is absent from the index,
   collapsed to the min-id copy per in-batch fp group.
5. **MinHash dedup vs the stored signature index** — history MinHash
   signatures (8 hashes) persisted and read back;
   `lsh_candidate_pairs(delta, index=)` bands index ∪ delta through
   the one banded candidate join (`llm/dedup._band_pairs`), building
   only pairs with a delta member; a delta doc drops if it agrees on
   >= 4/8 hashes with any history doc or with a lower-id delta doc.
6. **Modality dedup vs the stored pHash index** — history image
   signatures persisted at "ingest time" and read back (history
   media is NEVER re-decoded — only the |delta| survivors are
   decoded); `hamming_band_pairs` against the stored index supplies
   the pairs, same history-wins/min-id drop rule.
7. **Pack** — survivors stream-packed into 512-token contexts
   (`pack_stream`, the two-level distributed prefix sum).

Output: one (stage, n_rows, id_sum, val_sum) row per stage — counts
catch lost/duplicated docs, id sums catch substituted survivors, and
the stage-specific value sum (text chars, canonical-URL chars,
token counts, packed span lengths) catches payload corruption.
Registered rows-only: stage 6 rests on the binary pHash decode (the
same no-oracle reason as every modality query, see NO_ORACLE.md);
the pytest pin (`test_daily_batch_pipeline_matches_stage_recompute`)
rebuilds every stage independently from the primitive functions
WITHOUT the parquet store and requires identical rows, so the
composed store→read→join plumbing is exactly what the pin isolates.

Scale: the history side contributes only its three index tables
(fp, 8-long signatures, 64-bit pHash strings — each ~1/1000th of
the corpus bytes); the per-day work is proportional to |delta| for
ingest/canon/quality/decode and delta-touching for both banded
joins. No stage re-reads history text or media.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.plans.registry import query

#: jaccard_est cut for stage 5 (>= 4 of 8 MinHash agreements).
MINHASH_DROP_AT = 0.5

# damage recipe injected into shard 0 of the delta export (stage 1);
# both lines are non-parseable -> exactly 2 quarantine rows
_DMG_TRUNCATED = '{"doc_id": -7, "text": "tru'
_DMG_JUNK = "daily batch junk line"


def _scratch(sf_dir: str) -> str:
    """Deterministic per-sf scratch root (same discipline as
    plans/ingest._ingest_dir: stable across the build->collect gap
    and across --twice reruns; every run atomically rewrites)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    base = f"/tmp/pm_spark_daily/{tag}"
    os.makedirs(base, exist_ok=True)
    return base


def split_history_delta(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(history, delta): the day's batch is the NEWEST quarter of the
    id range (``doc_id > floor(3/4 * max)``) — the shape a crawl
    actually has, and the same broadcast-cut idiom as
    `incremental_image_near_dup`. An interleaved split (e.g. ``% 4``)
    would make every delta doc share its 4-id image-variant group
    with history, so the modality stage would vacuously drop 100% of
    the batch; a contiguous tail keeps the variant groups mostly
    pure-delta (min-id survives per group) with only the straddling
    boundary group mixed."""
    cut = docs.agg(
        F.floor(F.max("doc_id") * 3 / 4.0).cast("long").alias("__cut")
    )
    with_cut = docs.crossJoin(F.broadcast(cut))
    history = with_cut.where(F.col("doc_id") <= F.col("__cut")).drop("__cut")
    delta = with_cut.where(F.col("doc_id") > F.col("__cut")).drop("__cut")
    return history, delta


def pair_drops(
    pairs: DataFrame, delta_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Delta doc_ids to drop given near-dup ``(id_a, id_b)`` pairs:
    history always wins (a delta doc paired with ANY history doc
    drops regardless of id order), and within the delta the min-id
    copy wins (same greedy canonical rule as exact dedup). One
    column of drops out; duplicates collapsed."""
    d = delta_ids.select(F.col(id_col).alias("__d")).distinct()
    marked = (
        pairs.join(
            d.select(F.col("__d").alias("id_a"), F.lit(True).alias("__da")),
            "id_a",
            "left",
        ).join(
            d.select(F.col("__d").alias("id_b"), F.lit(True).alias("__db")),
            "id_b",
            "left",
        )
    )
    a_delta = F.coalesce("__da", F.lit(False))
    b_delta = F.coalesce("__db", F.lit(False))
    # both delta -> drop the greater (id_b, since id_a < id_b);
    # delta + history -> drop the delta member
    drop = (
        F.when(a_delta & b_delta, F.col("id_b"))
        .when(a_delta & ~b_delta, F.col("id_a"))
        .when(~a_delta & b_delta, F.col("id_b"))
    )
    return (
        marked.select(drop.alias(id_col))
        .where(F.col(id_col).isNotNull())
        .distinct()
    )


def _stage(
    df: DataFrame, stage: str, id_col, val_col
) -> DataFrame:
    """(stage, n_rows, id_sum, val_sum) summary of one frame."""
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(id_col), F.lit(0)).cast("bigint").alias("id_sum"),
        F.coalesce(F.sum(val_col), F.lit(0)).cast("bigint").alias("val_sum"),
    ).select(F.lit(stage).alias("stage"), "n_rows", "id_sum", "val_sum")


def _write_fp_index(
    spark: SparkSession, history: DataFrame, path: str
) -> DataFrame:
    from prisma_migrator_spark.llm.text import content_fingerprint

    history.select(
        content_fingerprint(F.col("text")).alias("fp")
    ).distinct().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _write_sig_index(
    spark: SparkSession, history: DataFrame, path: str
) -> DataFrame:
    from prisma_migrator_spark.llm.dedup import minhash_signatures, shingles

    minhash_signatures(
        shingles(history, k=3, distinct=False), num_hashes=8
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _write_phash_index(
    spark: SparkSession, history: DataFrame, path: str
) -> DataFrame:
    from prisma_migrator_spark.llm.multimodal import (
        attach_image_variant_payload,
        image_phash,
    )

    image_phash(attach_image_variant_payload(history)).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


@query("daily_batch_pipeline")  # rows-only: the modality stage rides
# the binary pHash decode (no SQL oracle, same reason as
# image_near_dup_pairs); the full composition is pinned in pytest
# against a stage-by-stage recompute that bypasses the parquet store.
def daily_batch_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring — the end-to-end composed daily batch."""
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
    from prisma_migrator_spark.plans.llm import (
        _dirty_urls,
        _sig_band_arity,
    )
    from prisma_migrator_spark.sources.jsonl import read_jsonl
    from prisma_migrator_spark.writers.export import write_jsonl_shards

    from concurrent.futures import ThreadPoolExecutor

    docs = load_table(spark, sf_dir, "documents")
    history, delta = split_history_delta(docs)
    base = _scratch(sf_dir)

    # The three history-index writes and the delta JSONL export are
    # four INDEPENDENT jobs over disjoint paths; launched together
    # from a driver thread pool (guide §2.6) so they overlap instead
    # of running back-to-back — the index builds were 42% of the
    # pipeline wall, serial. Each future is awaited exactly where its
    # output is consumed (fp before stage 4, sig before stage 5,
    # phash before stage 6), so the pHash decode — the heaviest
    # build — overlaps the whole ingest/exact/minhash chain. Bytes
    # written and every stage row are identical to the serial form.
    pool = ThreadPoolExecutor(max_workers=5)
    try:
        fut_fp = pool.submit(
            _write_fp_index, spark, history, os.path.join(base, "fp_index")
        )
        fut_sig = pool.submit(
            _write_sig_index, spark, history, os.path.join(base, "sig_index")
        )
        fut_phash = pool.submit(
            _write_phash_index, spark, history, os.path.join(base, "phash_index")
        )
        # the banded-join sizing probe (docs.count) is independent of
        # every stage; run it on the pool too instead of blocking the
        # chain between stage 5 and the phash await (r10)
        fut_arity = pool.submit(_sig_band_arity, docs)

        # 1. delta ingest: export -> damage -> read back through the reader
        shards = os.path.join(base, "delta_jsonl")
        fut_export = pool.submit(
            write_jsonl_shards,
            delta.select(
                "doc_id",
                "text",
                "lang",
                "source",
                token_count(F.col("text")).alias("n_tokens"),
            ),
            shards,
            tokens_per_shard=50_000,
        )
        fut_export.result()
        shard0 = os.path.join(shards, "shard_id=0")
        os.makedirs(shard0, exist_ok=True)
        with open(os.path.join(shard0, "zzz_damage.json"), "w") as f:
            f.write(f"{_DMG_TRUNCATED}\n{_DMG_JUNK}\n")
        good, quar = read_jsonl(
            spark,
            shards,
            "doc_id bigint, text string, lang string, source string,"
            " n_tokens bigint",
        )
        # the banded joins and pack branch good several times; checkpoint
        # once so the text scan + JSON parse doesn't re-run per branch
        good = good.localCheckpoint()

        # 2. URL canonicalization (map-side; nothing filtered)
        canon = _dirty_urls(good).select(
            "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
        )

        # 3. quality gate
        kept = good.where(F.round(quality_score(F.col("text")), 6) >= 0.3)

        # 4. exact dedup vs the stored fingerprint index + in-batch min-id
        fp_index = fut_fp.result()
        with_fp = kept.select(
            "doc_id", "n_tokens", content_fingerprint(F.col("text")).alias("fp")
        )
        fresh = with_fp.join(fp_index, "fp", "left_anti")
        exact_ids = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        after_exact = kept.join(
            exact_ids.select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint()

        # 5. MinHash dedup vs the stored signature index
        sig_index = fut_sig.result()
        delta_sigs = minhash_signatures(
            shingles(after_exact, k=3, distinct=False), num_hashes=8
        )
        mh_pairs = lsh_candidate_pairs(delta_sigs, index=sig_index).where(
            F.col("jaccard_est") >= MINHASH_DROP_AT
        )
        mh_drops = pair_drops(mh_pairs, after_exact.select("doc_id"))
        after_minhash = after_exact.join(
            mh_drops, "doc_id", "left_anti"
        ).localCheckpoint()

        # 6. modality dedup vs the stored pHash index: decode ONLY the
        # |delta| survivors; history contributes signatures from the store
        arity, maxham, cap = fut_arity.result()
        phash_index = fut_phash.result()
    finally:
        pool.shutdown(wait=True)
    survivor_phash = image_phash(
        attach_image_variant_payload(after_minhash)
    )
    ham_pairs = hamming_band_pairs(
        survivor_phash,
        id_col="doc_id",
        sig_col="phash",
        n_bits=64,
        band_bits=8,
        max_hamming=maxham,
        band_arity=arity,
        max_bucket=cap,
        index=phash_index,
    )
    ham_drops = pair_drops(ham_pairs, after_minhash.select("doc_id"))
    survivors = after_minhash.join(
        ham_drops, "doc_id", "left_anti"
    ).localCheckpoint()

    # 7. pack the survivors into 512-token contexts
    packed = pack_stream(
        survivors.select("doc_id", "n_tokens"), ctx=512, n_buckets=16
    )

    return (
        _stage(good, "1_ingested", F.col("doc_id"), F.length("text"))
        .unionByName(
            _stage(
                quar, "1_quarantined", F.lit(0), F.length("corrupt_line")
            )
        )
        .unionByName(
            _stage(
                canon,
                "2_url_canon",
                F.col("doc_id"),
                F.length("canonical_url"),
            )
        )
        .unionByName(
            _stage(kept, "3_quality_kept", F.col("doc_id"), F.col("n_tokens"))
        )
        .unionByName(
            _stage(
                after_exact, "4_after_exact", F.col("doc_id"), F.col("n_tokens")
            )
        )
        .unionByName(
            _stage(
                after_minhash,
                "5_after_minhash",
                F.col("doc_id"),
                F.col("n_tokens"),
            )
        )
        .unionByName(
            _stage(
                survivors, "6_after_modality", F.col("doc_id"), F.col("n_tokens")
            )
        )
        .unionByName(
            _stage(packed, "7_packed_spans", F.col("pack_id"), F.col("span_len"))
        )
    )
