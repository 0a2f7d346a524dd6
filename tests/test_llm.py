"""Extension-library tests: behavior the oracle queries can't show —
recall floors, constructed duplicates, real multilingual text,
Pandas-UDF batch shapes, streaming-vs-batch equivalence."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.llm.dedup import (
    dedupe_exact,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash16,
)
from prisma_migrator_spark.llm.similarity import topk_bruteforce, topk_lsh
from prisma_migrator_spark.llm.text import lang_id, text_stats


def test_dedupe_exact_removes_constructed_dups(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox"),
            Row(doc_id=2, text="  THE   quick brown  fox "),  # same after norm
            Row(doc_id=3, text="something else entirely"),
        ]
    )
    out = dedupe_exact(docs)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3]  # min-id canonical survives


def test_minhash_lsh_finds_near_duplicate(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("delta", "DELTA-CHANGED", 1)
    far = "one two three four five six seven eight nine ten " * 5
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=far)]
    )
    sh = shingles(docs, k=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, num_hashes=16, band_size=2).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # near-dup pair surfaces via a shared band
    assert all(p != (1, 3) and p != (2, 3) for p in found)
    jac = ngram_jaccard_pairs(sh, min_jaccard=0.0)
    j12 = {(r.id_a, r.id_b): r.jaccard for r in jac.collect()}[(1, 2)]
    assert j12 > 0.5  # exact verification confirms


def test_simhash_near_dup_hamming(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("delta", "changed", 1)
    far = "one two three four five six seven eight nine ten " * 5
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=far)]
    )
    sigs = {r.doc_id: r.simhash for r in simhash16(docs).collect()}

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_lang_id_on_real_text(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog sat of the mat to rest"),
            Row(doc_id=2, text="der hund und die katze das ist gut und schön"),
            Row(doc_id=3, text="el perro y la casa que es los gatos"),
            Row(doc_id=4, text="le chien et les chats des oiseaux est une belle"),
            Row(doc_id=5, text="zzz qqq www"),
        ]
    )
    got = {r.doc_id: r.p for r in docs.select("doc_id", lang_id(F.col("text")).alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "und"}


def test_stateful_running_totals_matches_batch(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.streaming.jobs import read_events_stream, run_to_memory
    from prisma_migrator_spark.streaming.stateful import running_user_totals

    # stage as micros-timestamp parquet for a stream-compatible schema
    src = str(tmp_path / "events_stream")
    load_table(spark, sf_dir, "events").write.parquet(src)
    stream = read_events_stream(spark, src)
    run_to_memory(running_user_totals(stream), "running_totals", output_mode="update")
    # last emission per user == full-history batch aggregate
    mem = spark.sql(
        "SELECT user_id, MAX(n_events) AS n, MAX(total_value) AS t"
        " FROM running_totals GROUP BY user_id"
    )
    got = {r.user_id: (r.n, round(r.t, 6)) for r in mem.collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
    )
    exp = {r.user_id: (r.n, round(r.t, 6)) for r in batch.collect()}
    assert got == exp


def test_streaming_dedup_first_seen(spark, tmp_path):
    from prisma_migrator_spark.llm.text import content_fingerprint
    from prisma_migrator_spark.streaming.jobs import run_to_memory
    from prisma_migrator_spark.streaming.stateful import streaming_dedup_first_seen

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox"),
            Row(doc_id=2, text="  THE   quick brown  fox "),  # dup of 1
            Row(doc_id=3, text="something else"),
        ]
    ).select("doc_id", content_fingerprint(F.col("text")).alias("fingerprint"))
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    run_to_memory(
        streaming_dedup_first_seen(stream), "dedup_seen", output_mode="update"
    )
    rows = spark.sql("SELECT * FROM dedup_seen").collect()
    by_fp: dict[str, list] = {}
    for r in rows:
        by_fp.setdefault(r.fingerprint, []).append(r.first_seen)
    assert len(rows) == 3 and len(by_fp) == 2
    for flags in by_fp.values():
        assert sum(flags) == 1  # exactly one canonical per fingerprint


def test_checkpointed_sink_resumes_exactly_once(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_parquet,
        streaming_dedup_events,
    )

    ev = load_table(spark, sf_dir, "events")
    batch1 = ev.where(F.col("event_id") < 100)
    batch2_new = ev.where((F.col("event_id") >= 100) & (F.col("event_id") < 150))
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1.write.parquet(src)
    run_to_parquet(
        streaming_dedup_events(read_events_stream(spark, src)), out, ckpt
    )
    assert spark.read.parquet(out).count() == 100

    # second run: re-deliver batch1 AND add new rows; resume from the
    # same checkpoint -> committed input skipped, dedup state restored,
    # only the 50 new events land
    batch1.unionByName(batch2_new).write.mode("append").parquet(src)
    run_to_parquet(
        streaming_dedup_events(read_events_stream(spark, src)), out, ckpt
    )
    got = spark.read.parquet(out)
    assert got.count() == 150
    assert got.select("event_id").distinct().count() == 150


def test_streaming_interval_join_matches_batch(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory,
        streaming_interval_join,
    )

    ev = load_table(spark, sf_dir, "events").limit(300)
    src = str(tmp_path / "events_ij")
    ev.write.parquet(src)
    s1 = read_events_stream(spark, src)
    s2 = read_events_stream(spark, src)
    run_to_memory(
        streaming_interval_join(s1, s2, lookback="30 minutes"),
        "ev_interval",
        output_mode="append",
    )
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM ev_interval").collect()
    }
    # batch reference: same interval condition over the static frame
    b = ev.select("user_id", "ts", "event_id")
    exp = {
        (r.l, r.r)
        for r in b.alias("a")
        .join(
            ev.select("user_id", "ts", "event_id").alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") <= F.col("a.ts"))
            & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("a.event_id") != F.col("b.event_id")),
        )
        .select(F.col("a.event_id").alias("l"), F.col("b.event_id").alias("r"))
        .collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_dedup_events_drops_redelivery(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory,
        streaming_dedup_events,
    )

    ev = load_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "events_dup")
    # stage the events TWICE: the second file simulates re-delivery
    ev.write.parquet(src)
    ev.write.mode("append").parquet(src)
    stream = read_events_stream(spark, src)
    run_to_memory(
        streaming_dedup_events(stream), "ev_dedup", output_mode="append"
    )
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS n FROM ev_dedup").collect()[0].n
    total = spark.sql("SELECT COUNT(*) AS n FROM ev_dedup").collect()[0].n
    assert n == ev.count()
    assert total == n  # each id emitted exactly once despite re-delivery


def test_connected_components_path_and_clique(spark):
    from prisma_migrator_spark.llm.dedup import connected_components

    # path 1-2-3-4 (diameter 3 -> needs several propagation rounds),
    # clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
            Row(id_a=10, id_b=11), Row(id_a=10, id_b=12), Row(id_a=11, id_b=12),
            Row(id_a=20, id_b=21),
        ]
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_ivf_ann_recall_floor(spark, sf_dir):
    from prisma_migrator_spark.llm.similarity import topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 20)
    exact = topk_bruteforce(emb, probes, k=5).collect()
    approx = topk_ivf(emb, probes, k=5, n_centroids=8, nprobe=3).collect()
    exact_set = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_set = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # searching 3/8 clusters: recall well above the 3/8 neighbor-
    # co-residence baseline because near neighbors cluster together
    assert recall > 0.3, f"recall={recall}"
    # determinism: same call twice -> identical result
    again = topk_ivf(emb, probes, k=5, n_centroids=8, nprobe=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, approx))


def test_lsh_ann_recall_floor(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 20)
    exact = topk_bruteforce(emb, probes, k=5).collect()
    approx = topk_lsh(emb, probes, k=5, num_planes=4).collect()
    exact_set = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_set = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 planes -> 16 buckets over 500 vecs; random data so the floor is
    # modest, but it must beat random chance (5/500 = 1%) by a lot
    assert recall > 0.15, f"recall={recall}"
    # every approx result must be a genuine cosine (spot check ordering)
    by_probe = {}
    for r in approx:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.cosine))
    for ranks in by_probe.values():
        ordered = sorted(ranks)
        assert all(
            ordered[i][1] >= ordered[i + 1][1] for i in range(len(ordered) - 1)
        )


def test_multimodal_feature_extraction(spark, sf_dir):
    """extract_features is REAL: image payloads (any of the three
    formats) produce normalized luma histograms from actual decoded
    pixels; non-image payloads (raw text bytes) NULL-isolate."""
    from prisma_migrator_spark.llm.multimodal import (
        attach_binary_payload,
        attach_bmp_payload,
        decode_image,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    feats = extract_features(attach_bmp_payload(docs))
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-9  # normalized histogram
        assert r.n_bytes > 0
    # text payloads are not images: NULL features, n_bytes still real
    null_rows = extract_features(attach_binary_payload(docs)).collect()
    assert len(null_rows) == 20
    assert all(r.features is None and r.n_bytes > 0 for r in null_rows)
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG...")  # bad magic tail: malformed PNG


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    from prisma_migrator_spark.llm.multimodal import (
        attach_binary_payload,
        attach_png_payload,
        parse_bmp_metadata,
        resize_images,
        sample_frames,
    )

    base = load_table(spark, sf_dir, "documents").limit(10)
    # REAL resize: PNG in -> decoded -> 8x8 -> BMP out, re-parseable
    resized = resize_images(attach_png_payload(base), width=8, height=8)
    rr = resized.collect()
    assert len(rr) == 10
    assert all(r.payload[:2] == b"BM" and r.width == 8 for r in rr)
    meta = parse_bmp_metadata(
        resized.select("doc_id", "payload")
    ).collect()
    assert all(m.width == 8 and m.height == 8 for m in meta)
    # non-image payloads NULL-isolate
    docs = attach_binary_payload(base)
    assert all(
        r.payload is None for r in resize_images(docs, width=8, height=8).collect()
    )

    # sample_frames is REAL now (AVI container walk): text payloads
    # are not valid AVI, so fault isolation emits ZERO rows for every
    # doc — never a task failure. Real-frame fan-out is covered by
    # test_avi_frame_sampling_pins_against_bmp_recipes /
    # test_avi_fault_isolation_and_index_fallback.
    frames = sample_frames(docs, n_frames=4)
    rows = frames.collect()
    assert rows == []


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory,
        streaming_event_counts,
    )
    from prisma_migrator_spark.streaming.windows import tumbling_windows

    # stage events as a stream-source directory (micros timestamps so
    # the file-source schema is stream-compatible)
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_stream")
    ev.write.parquet(src)

    stream = read_events_stream(spark, src)
    run_to_memory(streaming_event_counts(stream), "ev_counts")
    got = {
        (r.w.start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM ev_counts").collect()
    }
    batch = tumbling_windows(
        spark.read.parquet(src),
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[F.count("*").alias("n_events"), F.sum("value").alias("total_value")],
    )
    want = {
        (r.w.start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_sessionize_with_state_matches_session_window(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_parquet,
    )
    from prisma_migrator_spark.streaming.stateful import sessionize_with_state
    from prisma_migrator_spark.streaming.windows import session_windows

    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.percentile_approx("ts", 0.5).cast("timestamp").alias("m")
    ).collect()[0].m
    # sentinel far past every real session end + gap: its batch's
    # watermark update lets EVERY real session time out
    flush = spark.createDataFrame(
        [Row(event_id=-1, user_id=-1, event_type="flush", value=0.0, props="")]
    ).withColumn("ts", F.expr("timestamp'2024-06-01'"))
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def drain(chunk):
        chunk.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).write.mode("append").parquet(src)
        run_to_parquet(
            sessionize_with_state(read_events_stream(spark, src, watermark="1 second")),
            out,
            ckpt,
        )

    drain(ev.where(F.col("ts") < mid))
    drain(ev.where(F.col("ts") >= mid))
    drain(flush)
    got = spark.read.parquet(out).where(F.col("user_id") >= 0)

    # exactly one emission per session, each closed exactly once
    assert got.groupBy("user_id", "session_start").count().where("count > 1").count() == 0
    exp = session_windows(
        ev,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count("*").alias("n"), F.sum("value").alias("t")],
    )
    g = {
        (r.user_id, r.session_start, r.n_events, round(r.total_value, 6))
        for r in got.collect()
    }
    e = {
        (r.user_id, r.w.start, r.n, round(r.t, 6)) for r in exp.collect()
    }
    assert g == e and len(g) > 20

    # the ordered payload: path steps == n_events (up to the cap), in
    # event-time order within the session
    for r in got.where(F.col("n_events") <= 24).collect():
        assert len(r.event_path.split(">")) == r.n_events


def test_decontaminate_constructed(spark):
    from prisma_migrator_spark.llm.decontam import decontaminate, eval_gram_set

    ev = spark.createDataFrame(
        [Row(doc_id=100, text="the secret eval answer is forty two")]
    )
    tr = spark.createDataFrame(
        [
            # shares two distinct 3-grams with eval doc ("secret eval
            # answer", "eval answer is") — note duplicated occurrence
            # counts once
            Row(doc_id=1, text="a secret eval answer is a secret eval answer is"),
            Row(doc_id=2, text="completely unrelated clean text"),
            Row(doc_id=3, text="to be"),  # < k tokens: no grams
        ]
    )
    got = {
        r.doc_id: (r.n_eval_grams_hit, r.contaminated)
        for r in decontaminate(tr, eval_gram_set(ev, k=3), k=3).collect()
    }
    assert got == {1: (2, True), 2: (0, False), 3: (0, False)}


def test_contamination_by_eval_doc_constructed(spark):
    """Reverse attribution: the compromised eval doc reports the
    distinct train docs and distinct grams that leaked (duplicated
    occurrences count once); the clean eval doc reports zeros, not
    absence."""
    from prisma_migrator_spark.llm.decontam import contamination_by_eval_doc

    ev = spark.createDataFrame(
        [
            Row(doc_id=100, text="the secret eval answer is forty two"),
            Row(doc_id=101, text="pristine benchmark nothing leaked here"),
        ]
    )
    tr = spark.createDataFrame(
        [
            # shares "secret eval answer" + "eval answer is" with 100
            Row(doc_id=1, text="a secret eval answer is a secret eval answer is"),
            # shares only "secret eval answer" with 100
            Row(doc_id=2, text="my secret eval answer here"),
            Row(doc_id=3, text="completely unrelated clean text"),
        ]
    )
    got = {
        r.eval_id: (r.n_train_docs_sharing, r.n_shared_grams)
        for r in contamination_by_eval_doc(tr, ev, k=3).collect()
    }
    assert got == {100: (2, 2), 101: (0, 0)}


def test_redact_pii_constructed(spark):
    from prisma_migrator_spark.llm.text import redact_pii

    rows = spark.createDataFrame(
        [
            Row(i=1, t="mail a.b+c@sub.example.org now"),
            Row(i=2, t="from 192.168.0.1 to 10.0.0.255."),
            Row(i=3, t="ssn 123-45-6789 ok 12-34-5678 no"),
            Row(i=4, t="none here"),
        ]
    ).select("i", redact_pii(F.col("t")).alias("r"))
    got = {r.i: r.r for r in rows.collect()}
    assert got == {
        1: "mail <EMAIL> now",
        2: "from <IP> to <IP>.",
        3: "ssn <SSN> ok 12-34-5678 no",
        4: "none here",
    }


def test_pack_stream_invariants(spark, sf_dir):
    from prisma_migrator_spark.llm.packing import (
        global_running_offset,
        pack_stream,
    )
    from prisma_migrator_spark.llm.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))

    # distributed prefix sum == the naive unpartitioned window
    from pyspark.sql import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = lens.where("n_tokens >= 1").withColumn(
        "exp", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    dist = global_running_offset(lens.where("n_tokens >= 1"), "n_tokens", n_buckets=7)
    joined = naive.join(dist.select("doc_id", "start_off"), "doc_id")
    assert joined.where(F.col("exp") != F.col("start_off")).count() == 0

    packs = pack_stream(lens, ctx=512, n_buckets=7).cache()
    total = lens.where("n_tokens >= 1").agg(F.sum("n_tokens")).first()[0]
    # spans cover the stream exactly
    assert packs.agg(F.sum("span_len")).first()[0] == total
    # every doc's spans cover [0, n) of the doc contiguously
    per_doc = packs.groupBy("doc_id").agg(
        F.sum("span_len").alias("s"), F.min("tok_start").alias("t0")
    )
    bad = per_doc.join(lens, "doc_id").where(
        (F.col("s") != F.col("n_tokens")) | (F.col("t0") != 0)
    )
    assert bad.count() == 0
    # every pack except the last is exactly full, none overflows
    per_pack = packs.groupBy("pack_id").agg(F.sum("span_len").alias("s"))
    last = per_pack.agg(F.max("pack_id")).first()[0]
    assert per_pack.where((F.col("s") != 512) & (F.col("pack_id") != last)).count() == 0
    assert per_pack.where(F.col("s") > 512).count() == 0
    packs.unpersist()


def test_pack_greedy_invariants(spark, sf_dir):
    from prisma_migrator_spark.llm.packing import pack_greedy
    from prisma_migrator_spark.llm.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    packed = pack_greedy(lens, ctx=512, n_buckets=7).cache()

    # every doc exactly once, token counts preserved
    n_docs = lens.where("n_tokens >= 1").count()
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs

    fills = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("m")
    )
    # capacity: only singleton oversize docs may exceed ctx
    over = fills.where("fill > 512")
    assert over.where("m > 1").count() == 0
    # efficiency floor: packs used within 1.5x of the ideal count
    # (ideal = ceil(total/ctx); FFD guarantees 11/9·OPT + 1 globally,
    # per-bucket splitting costs a bit more — pin 1.5 to catch breakage)
    total = lens.where("n_tokens >= 1").agg(F.sum("n_tokens")).first()[0]
    ideal = -(-int(total) // 512)
    used = fills.count()
    assert used <= 1.5 * ideal + 7, (used, ideal)

    # deterministic: same input, different partitioning, same packing
    again = pack_greedy(lens.repartition(13), ctx=512, n_buckets=7)
    assert packed.exceptAll(again).count() == 0
    packed.unpersist()


def test_streaming_ingest_corpus_matches_batch_clean(spark, sf_dir, tmp_path):
    from prisma_migrator_spark.llm.dedup import dedupe_exact
    from prisma_migrator_spark.llm.text import quality_score
    from prisma_migrator_spark.streaming.jobs import (
        run_to_parquet,
        streaming_ingest_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    half = docs.agg(F.percentile_approx("doc_id", 0.5)).first()[0]

    def drain():
        schema = docs.schema
        stream = spark.readStream.schema(schema).parquet(src)
        run_to_parquet(streaming_ingest_corpus(stream), out, ckpt)

    # run 1: first half; run 2: re-deliver first half AND add second —
    # re-deliveries must be swallowed by checkpoint + dedup state
    docs.where(F.col("doc_id") <= half).write.parquet(src)
    drain()
    docs.write.mode("append").parquet(src)
    drain()

    got = spark.read.parquet(out)
    # exactly one survivor per fingerprint, none below the quality gate
    assert got.groupBy("fingerprint").count().where("count > 1").count() == 0
    assert got.where(F.round(quality_score(F.col("text")), 6) < 0.3).count() == 0
    # same fingerprint set as the batch pipeline over the full corpus
    batch = dedupe_exact(
        docs.where(F.round(quality_score(F.col("text")), 6) >= 0.3)
    )
    b = {r.fp for r in batch.select(F.md5(
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")).alias("fp")).collect()}
    g = {r.fingerprint for r in got.select("fingerprint").collect()}
    assert g == b and len(g) > 100


def test_quantize_int8_error_bound(spark, sf_dir):
    from prisma_migrator_spark.llm.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    scale, codes = quantize_int8(F.col("embedding"))
    q = emb.select("vec_id", F.col("embedding").alias("e"),
                   scale.alias("s"), codes.alias("c"))
    # max |x - code*scale| <= scale/2 (+fp slack); codes within [-127,127]
    err = q.select(
        F.array_max(
            F.zip_with("e", "c", lambda x, c: F.abs(x.cast("double") - c * F.col("s")))
        ).alias("max_err"),
        F.col("s"),
        F.array_max(F.transform("c", lambda c: F.abs(c))).alias("max_code"),
    )
    bad = err.where(
        (F.col("max_err") > F.col("s") / 2 + 1e-12) | (F.col("max_code") > 127)
    )
    assert bad.count() == 0


def test_streaming_ingest_dedup_ttl_bounds_state(spark, tmp_path):
    from prisma_migrator_spark.streaming.jobs import run_to_parquet
    from prisma_migrator_spark.streaming.stateful import streaming_ingest_dedup_ttl

    def doc(doc_id, fp, hours):
        return Row(
            doc_id=doc_id, text=f"text {fp}", lang="en", source="s",
            fingerprint=fp, hours=hours,
        )

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    base = spark.createDataFrame([doc(1, "A", 0), doc(2, "B", 0)])
    schema = base.withColumn(
        "ts", F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,hours)")
    ).drop("hours").schema

    def drain(rows):
        df = spark.createDataFrame(rows).withColumn(
            "ts", F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,hours)")
        ).drop("hours")
        df.write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "1 second")
        )
        run_to_parquet(streaming_ingest_dedup_ttl(stream, ttl="1 hour"), out, ckpt)

    drain([doc(1, "A", 0), doc(2, "B", 0)])      # A,B first seen -> emit
    drain([doc(3, "A", 0)])                       # dup within TTL -> swallow
    drain([doc(4, "C", 10)])                      # watermark -> ~10h: A,B evicted
    drain([doc(5, "A", 12)])                      # beyond horizon -> re-emit

    got = spark.read.parquet(out)
    emitted = sorted((r.fingerprint, r.doc_id) for r in got.collect())
    assert emitted == [("A", 1), ("A", 5), ("B", 2), ("C", 4)]


@pytest.mark.slow  # multi-minute: default-deselected tier (pytest.ini)
def test_streaming_dedup_ttl_state_size_stays_bounded(spark, tmp_path):
    """VERDICT r1 #10: prove eviction bounds MEMORY, not just that
    horizons re-emit. Sustained input of all-unique fingerprints with
    out-of-order timestamps inside every batch: without TTL the dedup
    state grows with the corpus forever; with a 1h TTL the state store
    must hold ~the horizon's fingerprints regardless of stream length.
    Measured from the query's own stateOperators metrics — the same
    signal a production monitor watches."""
    from prisma_migrator_spark.streaming.jobs import run_to_parquet
    from prisma_migrator_spark.streaming.stateful import (
        streaming_ingest_dedup,
        streaming_ingest_dedup_ttl,
    )

    per_hour, hours = 20, 8

    def batch_rows(h):
        # out-of-order within the batch: odd docs arrive 5 min behind
        return [
            Row(
                doc_id=h * 100 + j,
                text=f"t{h}-{j}",
                lang="en",
                source="s",
                fingerprint=f"fp{h}-{j}",
                minutes=h * 60 - (j % 2) * 5,
            )
            for j in range(per_hour)
        ]

    base = spark.createDataFrame(batch_rows(1))
    schema = base.withColumn(
        "ts", F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,minutes)")
    ).drop("minutes").schema

    # 16 restarts against the same checkpoints below: the state-store
    # maintenance thread (snapshot + old-delta cleanup) can race a
    # fresh query instance loading those very deltas — observed once
    # under full-suite load as CANNOT_LOAD_STATE_STORE. Maintenance
    # is pointless for a seconds-long test; push it past the horizon.
    prev_maint = spark.conf.get(
        "spark.sql.streaming.stateStore.maintenanceInterval", "60s"
    )
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")

    def run(tag, op):
        src, out, ckpt = (str(tmp_path / f"{tag}_{d}") for d in ("src", "out", "ckpt"))
        sizes = []
        for h in range(1, hours + 1):
            df = spark.createDataFrame(batch_rows(h)).withColumn(
                "ts",
                F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,minutes)"),
            ).drop("minutes")
            df.write.mode("append").parquet(src)
            stream = (
                spark.readStream.schema(schema).parquet(src)
                .withWatermark("ts", "6 minutes")
            )
            prog = run_to_parquet(op(stream), out, ckpt)
            sizes.append(prog["stateOperators"][0]["numRowsTotal"])
        return sizes, spark.read.parquet(out).count()

    try:
        ttl_sizes, ttl_emitted = run(
            "ttl", lambda s: streaming_ingest_dedup_ttl(s, ttl="1 hour")
        )
        raw_sizes, raw_emitted = run("raw", streaming_ingest_dedup)
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.maintenanceInterval", prev_maint
        )

    total = per_hour * hours
    # all fingerprints unique -> both variants emit everything
    assert ttl_emitted == total and raw_emitted == total
    # unbounded variant: state = full history, linear growth
    assert raw_sizes[-1] == total
    # TTL variant: steady state ~= horizon (last + current hour),
    # never the corpus — the memory bound eviction is supposed to buy
    assert max(ttl_sizes[3:]) <= 3 * per_hour
    assert ttl_sizes[-1] <= 3 * per_hour < raw_sizes[-1]


def test_assign_shards_invariants(spark, sf_dir):
    """Shards are contiguous in doc_id order, sized within one doc of
    the 2048-token target, and docs are never split."""
    from prisma_migrator_spark.llm.packing import assign_shards
    from prisma_migrator_spark.llm.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    shards = assign_shards(lens, tokens_per_shard=2048, n_buckets=5).cache()

    # every doc assigned exactly once
    n_docs = lens.where("n_tokens >= 1").count()
    assert shards.count() == n_docs
    assert shards.select("doc_id").distinct().count() == n_docs

    per = shards.groupBy("shard_id").agg(
        F.sum("n_tokens").alias("tok"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    )
    rows = sorted(per.collect(), key=lambda r: r["shard_id"])
    # shard ids dense from 0
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    # contiguous id ranges: shard k's max doc_id < shard k+1's min
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] < b["lo"]
    # a shard overflows 2048 only by its straddling last doc, and every
    # shard except the last starts before its 2048 budget is exhausted
    max_doc = lens.agg(F.max("n_tokens")).first()[0]
    for r in rows[:-1]:
        assert r["tok"] >= 1
        assert r["tok"] < 2048 + max_doc
    shards.unpersist()


def test_deterministic_sample_stable_and_unbiased(spark, sf_dir):
    """Same (key, salt) -> identical membership regardless of
    partitioning; kept fraction tracks the rate."""
    from prisma_migrator_spark.llm.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = deterministic_sample(docs, F.lit(0.5), salt="t")
    b = deterministic_sample(docs.repartition(13), F.lit(0.5), salt="t")
    assert sorted(r[0] for r in a.collect()) == sorted(
        r[0] for r in b.collect()
    )
    n, kept = docs.count(), a.count()
    assert 0.35 * n < kept < 0.65 * n  # 500 draws at p=.5
    # different salt -> different (mostly) membership, same distribution
    c = deterministic_sample(docs, F.lit(0.5), salt="u")
    assert sorted(r[0] for r in c.collect()) != sorted(
        r[0] for r in a.collect()
    )


def test_dedupe_against_constructed(spark):
    """Survivors = incoming minus lake fingerprints, min-id per batch
    duplicate group; whitespace/case variants collapse."""
    from prisma_migrator_spark.llm.dedup import dedupe_against

    existing = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),  # dup of lake doc 0 (normalized)
            (11, "delta"),         # fresh
            (12, "delta"),         # in-batch dup of 11
            (13, "epsilon"),       # fresh
        ],
        "doc_id long, text string",
    )
    out = dedupe_against(incoming, existing)
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]


def test_corpus_split_proportions_and_stability(spark, sf_dir):
    from prisma_migrator_spark.plans.llm import corpus_split_q

    out = corpus_split_q(spark, sf_dir).cache()
    n = out.count()
    frac = {
        r["split"]: r["c"] / n
        for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()
    }
    assert 0.80 < frac["train"] < 0.97
    assert 0 < frac.get("val", 0) < 0.12 and 0 < frac.get("test", 0) < 0.12
    # disjoint + exhaustive by construction; stable across reruns
    again = corpus_split_q(spark, sf_dir)
    assert out.exceptAll(again).count() == 0
    out.unpersist()


def test_gopher_flags_constructed(spark):
    from prisma_migrator_spark.plans import llm as plans_llm

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),   # one repeated 2-gram
            # all-distinct and long enough that no single 2-gram
            # covers 20% of the characters
            (1, "the quick brown fox jumps over lazy dogs while seven "
                "wizards brew strong coffee downtown"),
        ],
        "doc_id long, text string",
    )
    import prisma_migrator_spark.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda spark, sf, name: docs
        plans_llm.load_table = cat.load_table
        out = {r["doc_id"]: r for r in
               plans_llm.gopher_repetition_flags_q(spark, "x").collect()}
    finally:
        cat.load_table = orig
        plans_llm.load_table = orig
    # doc 0: "spam spam" occurs 5x, each covering 8 of 24 chars -> frac
    # uses count*len(gram-minus-space)/chars = 5*8/24 > 0.2; 1 distinct
    # token of 6 -> distinct_ratio ~0.167 -> flagged
    assert out[0]["flagged"] is True
    assert abs(out[0]["distinct_ratio"] - round(1 / 6, 6)) < 1e-9
    assert out[0]["top_2gram_frac"] > 1.0  # overlapping grams can exceed 1
    # doc 1: every token unique, no repeated gram -> clean
    assert out[1]["flagged"] is False
    assert out[1]["distinct_ratio"] == 1.0
    assert out[1]["top_2gram_frac"] < 0.2


def test_group_centroids_matches_posexplode_reference(spark, sf_dir):
    from prisma_migrator_spark.llm.similarity import group_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    got = group_centroids(emb, "label", "embedding", dim=64)
    ref = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
    )
    joined = (
        got.select("label", F.posexplode("centroid").alias("pos", "g"))
        .join(ref, ["label", "pos"])
        .where(F.abs(F.col("g") - F.col("m")) > 1e-9)
    )
    assert joined.count() == 0
    # one row per label, count carried through
    assert got.count() == emb.select("label").distinct().count()
    n = {r["label"]: r["n_vectors"] for r in got.collect()}
    for r in emb.groupBy("label").count().collect():
        assert n[r["label"]] == r["count"]


def test_quality_deciles_balanced_and_monotone(spark, sf_dir):
    from prisma_migrator_spark.plans.llm import (
        quality_deciles_q,
        quality_gate_p10_q,
    )

    dec = quality_deciles_q(spark, sf_dir).cache()
    n = dec.count()
    sizes = {r["decile"]: r["c"] for r in
             dec.groupBy("decile").agg(F.count("*").alias("c")).collect()}
    assert set(sizes) == set(range(1, 11))
    # near-equal buckets (ties on 6dp-rounded quality allow slack)
    assert all(0.5 * n / 10 <= c <= 1.5 * n / 10 for c in sizes.values())
    # monotone: every doc in decile d has quality <= min of decile d+2
    bounds = {r["decile"]: (r["lo"], r["hi"]) for r in
              dec.groupBy("decile").agg(F.min("quality").alias("lo"),
                                        F.max("quality").alias("hi")).collect()}
    for d in range(1, 10):
        assert bounds[d][1] <= bounds[d + 1][0] + 1e-12
    # the p10 gate keeps exactly the docs above decile 1's ceiling
    kept = quality_gate_p10_q(spark, sf_dir).count()
    assert kept == dec.where(F.col("decile") > 1).count()
    dec.unpersist()


def test_shuffle_rank_is_dense_permutation_matching_global_sort(spark, sf_dir):
    from pyspark.sql import Window

    from prisma_migrator_spark.llm.sampling import deterministic_shuffle_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    got = deterministic_shuffle_rank(docs, salt="t", n_buckets=8).cache()
    n = docs.count()
    # dense permutation 0..n-1
    agg = got.agg(
        F.count("*"), F.countDistinct("shuffle_pos"),
        F.min("shuffle_pos"), F.max("shuffle_pos"),
    ).first()
    assert tuple(agg) == (n, n, 0, n - 1)
    # identical to the naive single-task global window
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("t:"), F.col("doc_id").cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    naive = docs.withColumn(
        "exp", F.row_number().over(Window.orderBy(h, "doc_id")) - 1
    )
    assert got.join(naive, "doc_id").where(
        F.col("exp") != F.col("shuffle_pos")
    ).count() == 0
    got.unpersist()


def test_bloom_dedupe_no_false_negatives_and_fp_bound(spark):
    """The Bloom path NEVER passes a lake duplicate (no false
    negatives — the property that makes it a safe dedup prefilter),
    its survivors are a subset of the exact anti-join's, and the
    unique docs it wrongly drops stay within ~3x the configured fpp
    (slack for filter-size quantization at small n)."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import (
        dedupe_against,
        dedupe_against_bloom,
    )

    existing = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lake doc "), F.col("id")).alias("text"),
    )
    # 500 lake duplicates + 2000 fresh docs
    incoming = existing.where("doc_id < 500").union(
        spark.range(10_000, 12_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("fresh doc "), F.col("id")).alias("text"),
        )
    )
    exact = {r["doc_id"] for r in dedupe_against(incoming, existing).collect()}
    bloom = {
        r["doc_id"]
        for r in dedupe_against_bloom(incoming, existing, fpp=0.01).collect()
    }
    assert bloom <= exact  # no false negatives: lake dups never survive
    lost = len(exact) - len(bloom)
    assert lost <= 3 * 0.01 * len(exact)


def test_bloom_filter_rates(spark):
    """Classic-sizing sanity at n=5000: zero false negatives by
    construction; measured false-positive rate within 2x of fpp."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import (
        bloom_might_contain,
        build_bloom_filter,
    )

    members = spark.range(5_000).select(
        F.md5(F.concat(F.lit("m:"), F.col("id"))).alias("fp")
    )
    words, m, k = build_bloom_filter(members, "fp", 5_000, fpp=0.01)
    assert members.where(~bloom_might_contain(F.col("fp"), words, m, k)).count() == 0
    probes = spark.range(20_000).select(
        F.md5(F.concat(F.lit("p:"), F.col("id"))).alias("fp")
    )
    fp_rate = (
        probes.where(bloom_might_contain(F.col("fp"), words, m, k)).count()
        / 20_000
    )
    assert fp_rate <= 0.02


def test_repeated_spans_constructed(spark):
    """Hand-built corpus: a license block shared by two docs is
    flagged in both; a unique doc shows zero dup windows; a doc
    shorter than one window carries NULL dup_frac; windows repeated
    WITHIN one document only do not count as duplicated."""
    from prisma_migrator_spark.llm.spans import repeated_span_stats

    license_block = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (0, license_block + " unique tail zero one two"),
            (1, license_block + " other ending here three four"),
            (2, " ".join(f"solo{i}" for i in range(16))),
            (3, "too short"),
            (4, " ".join(["rep"] * 24)),  # self-repeating only
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in repeated_span_stats(docs, k=8, stride=4).collect()
    }
    assert out[0]["n_dup_windows"] >= 1 and out[1]["n_dup_windows"] >= 1
    assert out[2]["n_dup_windows"] == 0
    assert out[3]["n_windows"] == 0 and out[3]["dup_frac"] is None
    assert out[4]["n_dup_windows"] == 0  # within-doc repetition ≠ cross-doc
    for d in (0, 1):
        assert out[d]["dup_frac"] is not None and out[d]["dup_frac"] > 0

    # boilerplate skew: 90 % of 20k docs share one 16-token block. The
    # duplicated-hash side stays small, so every join broadcasts (no
    # reducer owns the hot window hash) and exactly the carriers flag.
    def tail(prefix: str, n: int):
        return F.concat_ws(
            " ", *[F.concat(F.lit(f"{prefix}{j}x"), "doc_id") for j in range(n)]
        )

    block = " ".join(f"bp{i}" for i in range(16))
    boiler = spark.range(20_000).select(F.col("id").alias("doc_id")).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 9, F.concat(F.lit(block + " "), tail("u", 8)))
        .otherwise(tail("v", 24))
        .alias("text"),
    )
    stats = repeated_span_stats(boiler, k=8, stride=4)
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert stats.where(F.col("n_dup_windows") > 0).count() == 18_000


def test_strip_repeated_spans_constructed(spark):
    """The shared block disappears from BOTH carriers while their
    unique tails survive intact; untouched docs pass through verbatim
    (normalized whitespace); removal counts match the token delta."""
    from prisma_migrator_spark.llm.spans import strip_repeated_spans

    block = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (0, block + " unique tail zero one two"),
            (1, block + " other ending here three four"),
            (2, " ".join(f"solo{i}" for i in range(16))),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in strip_repeated_spans(docs, k=8, stride=4).collect()
    }
    for d in (0, 1):
        assert "w0" not in out[d]["clean_text"]
        assert out[d]["n_tokens_removed"] == 8
    assert out[0]["clean_text"] == "unique tail zero one two"
    assert out[1]["clean_text"] == "other ending here three four"
    assert out[2]["clean_text"].startswith("solo0 ")
    assert out[2]["n_tokens_removed"] == 0
    assert out[3]["clean_text"] == "too short"
    assert out[3]["n_tokens_removed"] == 0


def test_length_bucketed_batches_invariants(spark, sf_dir):
    """Every batch's padded footprint (bucket x rows) fits the budget,
    batch ids are dense from 0 within each bucket, every doc fits its
    bucket, and assignment is deterministic."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.packing import length_bucketed_batches
    from prisma_migrator_spark.llm.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = length_bucketed_batches(docs, 4_096).collect()
    assert len(out) == docs.count()
    by_batch: dict[tuple, int] = {}
    for r in out:
        assert r["n_tokens"] <= r["bucket"]
        by_batch[(r["bucket"], r["batch_id"])] = (
            by_batch.get((r["bucket"], r["batch_id"]), 0) + 1
        )
    for (bucket, _), rows in by_batch.items():
        assert bucket * rows <= 4_096
    for bucket in {b for b, _ in by_batch}:
        ids = sorted(i for b, i in by_batch if b == bucket)
        assert ids == list(range(len(ids)))
    again = length_bucketed_batches(docs, 4_096).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_quality_model_score_direction(spark):
    """Inference sanity: probabilities live in (0,1) and adding
    negative-weight terms ('error', 'slow') lowers a doc's score
    relative to the same doc with positive-weight terms."""
    import tempfile, os

    from prisma_migrator_spark.plans.registry import QUERIES

    docs = spark.createDataFrame(
        [
            (0, "spark data table query " * 5, "en", "s", 20),
            (1, "error slow error slow " * 5, "en", "s", 20),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["doc_id"]: r["p_keep"]
            for r in QUERIES["quality_model_score"](spark, d).collect()
        }
    assert 0.0 < out[1] < out[0] < 1.0


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Fed the events table in two event-time-ordered micro-batches,
    the stateful streaming funnel's LATEST emission per user equals
    the batch funnel query exactly."""
    from pyspark.sql import Window

    from prisma_migrator_spark.plans.analytics import (
        funnel_view_click_purchase,
    )
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_parquet,
    )
    from prisma_migrator_spark.streaming.stateful import streaming_funnel

    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.percentile_approx("ts", 0.5).cast("timestamp").alias("m")
    ).collect()[0].m
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def drain(chunk):
        chunk.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).write.mode("append").parquet(src)
        prog = run_to_parquet(
            streaming_funnel(read_events_stream(spark, src, watermark="1 second")),
            out,
            ckpt,
        )
        return prog["stateOperators"][0]["numRowsTotal"]

    def viewers(df):
        return df.where(F.col("event_type") == "view").select("user_id").distinct().count()

    first = ev.where(F.col("ts") < mid)
    state_rows = [drain(first), drain(ev.where(F.col("ts") >= mid))]
    # state is one row per user with a view, however much input arrives
    assert state_rows == [viewers(first), viewers(ev)]

    emitted = spark.read.parquet(out)
    # latest emission per user = the one with the max stage (stages
    # only advance); ties impossible since each advance emits once
    latest = {
        r["user_id"]: r
        for r in emitted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("stage"))
            ),
        )
        .where("rn = 1")
        .collect()
    }
    exp = {r["user_id"]: r for r in funnel_view_click_purchase(spark, sf_dir).collect()}
    assert set(latest) == set(exp)
    for uid, e in exp.items():
        g = latest[uid]
        assert (g["view_us"], g["click_us"], g["purchase_us"], g["stage"]) == (
            e["view_us"], e["click_us"], e["purchase_us"], e["stage"]
        ), uid


def test_vocab_encode_roundtrip(spark):
    """Ids are dense 1..V by frequency (ties on term), encoding
    preserves token order, OOV maps to 0, and decoding through the
    vocab restores every in-vocab token."""
    from prisma_migrator_spark.llm.text import build_vocab, encode_token_ids

    docs = spark.createDataFrame(
        [
            (0, "b b b a a c rare1"),
            (1, "a b rare2 c c"),
            (2, "a a b"),
        ],
        "doc_id long, text string",
    )
    vocab = build_vocab(docs, top_v=3)
    v = {r["term"]: r["token_id"] for r in vocab.collect()}
    # freq: a=5, b=5, c=3 -> ties a/b break on term
    assert v == {"a": 1, "b": 2, "c": 3}
    enc = {
        r["doc_id"]: r["token_ids"]
        for r in encode_token_ids(docs, vocab).collect()
    }
    assert enc[0] == [2, 2, 2, 1, 1, 3, 0]
    assert enc[1] == [1, 2, 0, 3, 3]
    assert enc[2] == [1, 1, 2]


def test_text_ops_null_empty_unicode_robust(spark):
    """Adversarial text rows — NULL, empty, whitespace-only, CJK,
    emoji, RTL, a 10k-char single token — flow through the text-op
    surface without exceptions or dropped rows; NULL text yields NULL
    or zero outputs, never errors."""
    from prisma_migrator_spark.llm.spans import (
        repeated_span_stats,
        strip_repeated_spans,
    )
    from prisma_migrator_spark.llm.text import (
        build_vocab,
        encode_token_ids,
        redact_pii,
        rolling_fingerprint,
        text_stats,
    )

    rows = [
        (0, None),
        (1, ""),
        (2, "   \t  \n "),
        (3, "日本語 のテキスト です 日本語 のテキスト"),
        (4, "emoji 🎉 party 🎉 emoji"),
        (5, "نص عربي من اليمين إلى اليسار"),
        (6, "x" * 10_000),
        (7, "normal english text with words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    stats = text_stats(docs)
    assert stats.count() == len(rows)

    spans = {r["doc_id"]: r for r in repeated_span_stats(docs, k=2, stride=1).collect()}
    assert set(spans) == {r[0] for r in rows}
    assert spans[0]["n_windows"] == 0 and spans[0]["dup_frac"] is None

    scrubbed = strip_repeated_spans(docs, k=2, stride=1)
    assert scrubbed.count() == len(rows)

    fp = docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp")
    ).collect()
    assert len(fp) == len(rows)

    red = docs.select(redact_pii(F.col("text")).alias("t")).collect()
    assert len(red) == len(rows)

    vocab = build_vocab(docs, top_v=10)
    enc = {r["doc_id"]: r for r in encode_token_ids(docs, vocab).collect()}
    # NULL text produces no token rows -> doc absent from encode output
    # (callers left-join the spine); all non-null docs present
    assert set(enc) >= {1, 3, 4, 5, 6, 7}
    assert enc[3]["n_tokens"] == 5 and all(isinstance(i, int) for i in enc[3]["token_ids"])


def test_dsir_selection_scores_content_not_labels(spark, tmp_path):
    """DSIR on a constructed corpus with two disjoint vocabularies:
    target-LM log-ratios must (a) match a pure-Python computation of
    the Laplace-smoothed formula exactly, and (b) rank by CONTENT —
    an off-label doc written in the target vocabulary outscores every
    doc in the off-domain vocabulary (selecting by what the text
    looks like, not by its metadata, is the point of importance
    resampling)."""
    import math

    from pyspark.sql import Row

    from prisma_migrator_spark.plans.llm import dsir_selection_q

    vocab_a = ["alpha", "beta", "gamma", "delta"]
    vocab_b = ["omega", "sigma", "tau", "rho"]
    corpus = {}
    for i in range(20):  # target cohort: lang=en, vocabulary A
        corpus[i] = ("en", " ".join(vocab_a[(i + j) % 4] for j in range(8)))
    for i in range(20, 40):  # off-domain cohort: lang=de, vocabulary B
        corpus[i] = ("de", " ".join(vocab_b[(i + j) % 4] for j in range(8)))
    # crossover: labeled de but WRITTEN in the target vocabulary
    corpus[40] = ("de", " ".join(vocab_a[j % 4] for j in range(8)))

    sf = str(tmp_path)
    spark.createDataFrame(
        [Row(doc_id=d, text=t, lang=lg, source="s", n_chars=len(t))
         for d, (lg, t) in corpus.items()]
    ).write.parquet(f"{sf}/documents.parquet")

    got = {r.doc_id: r for r in dsir_selection_q(spark, sf).collect()}
    assert len(got) == 41  # k=100 > corpus: selection returns all

    # (a) exact log-weight parity with an independent implementation
    toks = {d: t.split() for d, (_, t) in corpus.items()}
    c_r, c_t = {}, {}
    for d, t in toks.items():
        for w in t:
            c_r[w] = c_r.get(w, 0) + 1
            if corpus[d][0] == "en":
                c_t[w] = c_t.get(w, 0) + 1
    n_r, n_t, v = sum(c_r.values()), sum(c_t.values()), len(c_r)
    for d, t in toks.items():
        lw = sum(
            math.log(((c_t.get(w, 0) + 1) / (n_t + v))
                     / ((c_r[w] + 1) / (n_r + v)))
            for w in t
        )
        assert got[d].log_w == pytest.approx(round(lw, 6), abs=1e-6), d
    # (b) content beats labels: the de-labeled vocab-A doc outscores
    # every vocab-B doc
    assert all(got[40].log_w > got[d].log_w for d in range(20, 40))
    assert got[40].log_w > 0


def test_leakage_safe_split_keeps_clusters_together(spark, tmp_path):
    """Near-dup clusters must land in ONE split, and the demonstration
    must be non-vacuous: the doc-keyed naive split straddles at least
    one of the same clusters (that straddle IS the test-set leakage
    this operator exists to prevent)."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.sampling import hash_unit
    from prisma_migrator_spark.plans.llm import leakage_safe_split_q

    rows = []
    for i in range(30):  # 30 exact-dup pairs + 20 singletons
        text = f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"
        rows.append(Row(doc_id=i, text=text, lang="en", source="s",
                        n_chars=len(text)))
        rows.append(Row(doc_id=1000 + i, text=text, lang="en", source="s",
                        n_chars=len(text)))
    for i in range(100, 120):
        text = f"solo{i} mono{i} uno{i} single{i} lone{i} apart{i}"
        rows.append(Row(doc_id=i, text=text, lang="en", source="s",
                        n_chars=len(text)))
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/documents.parquet")

    got = leakage_safe_split_q(spark, sf).collect()
    assert len(got) == len(rows)
    by_cluster: dict = {}
    for r in got:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # (a) no cluster straddles splits
    assert all(len(s) == 1 for s in by_cluster.values())
    # dup pairs actually clustered together (clusters of size 2 exist)
    sizes = {}
    for r in got:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    assert sum(1 for n in sizes.values() if n == 2) == 30

    # (b) the naive doc-keyed split straddles >= 1 dup pair
    naive = {
        r.doc_id: r.s
        for r in spark.createDataFrame(rows)
        .select(
            "doc_id",
            F.when(hash_unit(F.col("doc_id"), "split") < 0.9, "train")
            .when(hash_unit(F.col("doc_id"), "split") < 0.95, "val")
            .otherwise("test")
            .alias("s"),
        )
        .collect()
    }
    assert any(naive[i] != naive[1000 + i] for i in range(30))


def test_weighted_sample_bias_and_determinism(spark):
    """Heavier-weight rows appear more often across disjoint salt
    draws; the sample is exactly reproducible; zero-weight rows are
    picked only when positive weights run out."""
    from prisma_migrator_spark.llm.sampling import weighted_sample_k

    rows = [(i, 10.0 if i < 50 else 0.5) for i in range(500)] + [
        (900 + i, 0.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    heavy_hits = 0
    for salt in ("s1", "s2", "s3"):
        got = {r["doc_id"] for r in weighted_sample_k(df, 50, F.col("w"), salt=salt).collect()}
        assert len(got) == 50
        assert not (got & {900, 901, 902, 903, 904})  # zero-weight absent
        heavy_hits += len(got & set(range(50)))
    # 50 heavy (w=10) vs 450 light (w=0.5): heavy should dominate
    assert heavy_hits / 3 > 25

    a = [r["doc_id"] for r in weighted_sample_k(df, 50, F.col("w"), salt="s1").collect()]
    b = [r["doc_id"] for r in weighted_sample_k(df, 50, F.col("w"), salt="s1").collect()]
    assert sorted(a) == sorted(b)


def test_streaming_sliding_windows_match_batch(spark, sf_dir, tmp_path):
    """Hopping windows (1h size, 15m slide) computed incrementally over
    the event stream equal the batch sliding_windows aggregation —
    same window assignment, counts, and sums."""
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory,
    )
    from prisma_migrator_spark.streaming.windows import sliding_windows

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_sliding")
    ev.write.parquet(src)

    stream = read_events_stream(spark, src)
    aggs = [F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value")]
    run_to_memory(
        sliding_windows(stream, "ts", "1 hour", "15 minutes",
                        keys=["event_type"], aggs=aggs),
        "ev_sliding",
    )
    got = {
        (r.w.start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM ev_sliding").collect()
    }
    batch = sliding_windows(
        spark.read.parquet(src), "ts", "1 hour", "15 minutes",
        keys=["event_type"], aggs=aggs,
    )
    want = {
        (r.w.start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 100


def test_streaming_upsert_sink_merges_per_batch(spark, tmp_path):
    """foreachBatch MERGE sink: two stream drops with overlapping keys
    converge to the batch-upsert result; a replayed drop (same input
    re-delivered with the same checkpoint) is a committed no-op."""
    from prisma_migrator_spark.streaming.jobs import run_upsert_sink

    src = str(tmp_path / "cdc_src")
    table = str(tmp_path / "cdc_table.parquet")
    ckpt = str(tmp_path / "cdc_ckpt")

    drop1 = spark.createDataFrame(
        [Row(k=1, v="a", seq=1), Row(k=2, v="b", seq=1), Row(k=3, v="c", seq=1)]
    )
    drop1.write.parquet(src)
    stream = spark.readStream.schema(drop1.schema).parquet(src)
    run_upsert_sink(stream, table, ckpt, ["k"], order_col="seq")
    got = {r.k: (r.v, r.seq) for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1), 3: ("c", 1)}

    # drop 2: update k=2, insert k=4, in-batch replay of k=4 (seq wins)
    drop2 = spark.createDataFrame(
        [Row(k=2, v="B2", seq=2), Row(k=4, v="d", seq=2), Row(k=4, v="d2", seq=3)]
    )
    drop2.write.mode("append").parquet(src)
    stream = spark.readStream.schema(drop1.schema).parquet(src)
    run_upsert_sink(stream, table, ckpt, ["k"], order_col="seq")
    got = {r.k: (r.v, r.seq) for r in spark.read.parquet(table).collect()}
    assert got == {
        1: ("a", 1),
        2: ("B2", 2),
        3: ("c", 1),
        4: ("d2", 3),
    }

    # third run with NO new files: checkpoint marks all input committed
    stream = spark.readStream.schema(drop1.schema).parquet(src)
    run_upsert_sink(stream, table, ckpt, ["k"], order_col="seq")
    again = {r.k: (r.v, r.seq) for r in spark.read.parquet(table).collect()}
    assert again == got


def test_blocked_pair_generation_matches_plain(spark, sf_dir):
    """Triangle-blocked all-pairs (n_blocks>1) must yield EXACTLY the
    plain bucket join's pairs: cross-block pairs appear once (lower
    block takes the left role), diagonal blocks keep the id_a < id_b
    half, so no dedup pass exists to hide double-counting."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    plain = embedding_near_dup_pairs(emb, bucket_col="label", min_cosine=0.3)
    for g in (2, 3, 8):
        blocked = embedding_near_dup_pairs(
            emb, bucket_col="label", min_cosine=0.3, n_blocks=g
        )
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, blocked.collect()))
        assert a == b, f"n_blocks={g}: {len(a)} vs {len(b)} pairs"
    # unbucketed full n² path too
    some = emb.limit(200)
    a = sorted(map(tuple, embedding_near_dup_pairs(some, min_cosine=0.25).collect()))
    b = sorted(
        map(
            tuple,
            embedding_near_dup_pairs(some, min_cosine=0.25, n_blocks=4).collect(),
        )
    )
    assert a == b


def test_bpe_oracle_separator_absent_from_fixture():
    """The unrolled BPE training oracle (plans/llm._bpe_train_ctes)
    carries symbol sequences as \\x1f-separated strings; a \\x1f
    INSIDE fixture text would corrupt the encoding. Pin its absence
    at every scale factor the gates run."""
    import os

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM read_parquet('{path}') "
            "WHERE contains(text, chr(31))"
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} docs contain the BPE oracle separator"


def test_merge_phrases_oracle_no_underscore_token_in_fixture(sf_dir):
    """The merge_phrases oracle (plans/llm._MERGE_PHRASES_ORACLE)
    models the greedy fold from RAW adjacent-pair matches; that is
    exact only while no raw token contains '_', the character a merge
    fuses with (a fused token could otherwise re-match a phrase key).
    Tokens are ``lower(trim(text))`` split on whitespace, and '_'
    survives both, so a token holds '_' iff its text does. Pin its
    absence at every scale factor next to the test fixture."""
    import glob
    import os

    import duckdb

    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*", "documents.parquet"))
    )
    assert paths, "no documents fixture found"
    for path in paths:
        n = duckdb.sql(
            "SELECT COUNT(*) FROM ("
            "  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok"
            f"  FROM read_parquet('{path}')"
            ") WHERE contains(tok, '_')"
        ).fetchone()[0]
        assert n == 0, f"{path}: {n} tokens contain '_'"


def test_bpe_matches_python_reference(spark, sf_dir):
    """Distributed BPE merge learning must reproduce the classic
    single-machine algorithm (Sennrich et al. 2016) exactly: same
    rules, same order, same weighted pair counts, under the same
    deterministic tie-break (count desc, left asc, right asc)."""
    from collections import Counter

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_count)
        for r in learn_bpe_merges(docs, n_merges=12).collect()
    ]

    # pure-Python reference on the same corpus
    freqs = Counter()
    for r in docs.select("text").collect():
        for w in (r.text or "").strip().lower().split():
            freqs[w] += 1
    vocab = {tuple(w): f for w, f in freqs.items()}
    expected = []
    for rank in range(1, 13):
        counts = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), n = best
        if n < 2:
            break
        expected.append((rank, a, b, a + b, n))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    assert got == expected


def test_bpe_apply_merges_tokenizes(spark):
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.bpe import apply_bpe_merges

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="aaab aab"), Row(doc_id=2, text="ba")]
    )
    out = {
        r.doc_id: r.bpe_tokens
        for r in apply_bpe_merges(docs, [("a", "a"), ("aa", "b")]).collect()
    }
    # "aaab" under (a,a): left-to-right non-overlapping -> [aa, a, b];
    # (aa,b) is not adjacent there, so it stays. "aab" -> [aa, b] -> [aab].
    assert out == {1: ["aa", "a", "b", "aab"], 2: ["b", "a"]}


def _planted_clusters(spark, n_clusters=20, per_cluster=25, dim=32, spread=0.15):
    """Deterministic clustered embeddings: unit centers from md5
    bytes, members = center + small md5-derived offset. ANN recall is
    meaningful here (top-5 are same-cluster), unlike the fixture's
    near-isotropic random embeddings."""
    import hashlib
    import math

    from pyspark.sql import Row

    def vec(seed, scale):
        out = []
        for d in range(dim):
            b = hashlib.md5(f"{seed}:{d}".encode()).digest()
            out.append(scale * ((b[0] / 255.0) * 2 - 1))
        return out

    rows = []
    vid = 0
    for c in range(n_clusters):
        center = vec(f"c{c}", 1.0)
        norm = math.sqrt(sum(x * x for x in center))
        center = [x / norm for x in center]
        for i in range(per_cluster):
            off = vec(f"o{c}:{i}", spread)
            rows.append(
                Row(
                    vec_id=vid,
                    label=c,
                    embedding=[a + b for a, b in zip(center, off)],
                )
            )
            vid += 1
    return spark.createDataFrame(rows)


def test_pq_adc_recall_on_clustered_data(spark):
    """PQ codes + ADC ranking must recover most true neighbors where
    neighbors exist: recall@5 >= 0.6 on planted clusters (vs ~0.05
    for random ranking), and the codes actually compress (m small
    ints per vector, all < ksub)."""
    from prisma_migrator_spark.llm.similarity import (
        pq_encode,
        topk_bruteforce,
        topk_pq,
        train_pq_codebooks,
    )

    emb = _planted_clusters(spark)
    probes = emb.where(F.col("vec_id") % 100 == 0)  # one per 4 clusters
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in topk_bruteforce(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in topk_pq(emb, probes, k=5, m=8, ksub=16, iters=2, dim=32).collect()
    }
    recall = len(exact & approx) / len(exact)
    # exact-top-5 overlap is noisy where within-cluster margins are
    # tiny (quantization reshuffles near-ties), so the floor is
    # modest; the sharp assertion is CLUSTER precision below
    assert recall >= 0.3, f"recall={recall}"
    cluster_of = {r.vec_id: r.label for r in emb.collect()}
    in_cluster = [
        cluster_of[n] == cluster_of[p] for (p, n) in approx
    ]
    precision = sum(in_cluster) / len(in_cluster)
    # random ranking would land ~25/500 = 0.05; ADC must preserve the
    # coarse geometry essentially perfectly
    assert precision >= 0.9, f"cluster precision={precision}"

    books = train_pq_codebooks(emb, dim=32, m=8, ksub=16, iters=1)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = pq_encode(emb, books, dim=32).collect()
    assert all(len(r.pq_codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.pq_codes)


def test_wav_roundtrip_against_stdlib(spark):
    """The synthesized container must be readable by the stdlib
    `wave` module, and our RIFF parser must agree with it field for
    field; RMS of a full-scale sine must land near amp/sqrt(2)."""
    import io
    import wave as wavmod

    from prisma_migrator_spark.llm.multimodal import (
        attach_wav_payload,
        parse_wav_metadata,
        synthesize_wav,
    )

    b = synthesize_wav(7, "some text")
    w = wavmod.open(io.BytesIO(b))
    assert (w.getframerate(), w.getnchannels(), w.getsampwidth()) == (8000, 1, 2)

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc number {i}") for i in range(20)]
    )
    got = {
        r.doc_id: r for r in parse_wav_metadata(attach_wav_payload(docs)).collect()
    }
    assert len(got) == 20
    for i in range(20):
        ref = wavmod.open(io.BytesIO(synthesize_wav(i, f"doc number {i}")))
        r = got[i]
        assert r.sample_rate == ref.getframerate()
        assert r.n_channels == ref.getnchannels()
        assert r.n_samples == ref.getnframes()
        assert abs(r.duration_ms - 1000.0 * ref.getnframes() / ref.getframerate()) < 1e-6
        # full-scale sine RMS ≈ 12000/sqrt(2) ≈ 8485, within discretization
        assert 7500 < r.rms < 9500, r.rms


def test_streaming_left_outer_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Left-outer stream-stream interval join: matched pairs AND
    unmatched-left NULL rows must both equal the batch left join over
    the same static frame (availableNow drains the watermark, so all
    outer results flush)."""
    from prisma_migrator_spark.streaming.jobs import (
        read_events_stream,
        run_to_parquet,
        streaming_interval_join_left,
    )

    ev = load_table(spark, sf_dir, "events").limit(300)
    src = str(tmp_path / "events_loj")
    out = str(tmp_path / "loj_out")
    ckpt = str(tmp_path / "loj_ck")
    ev.write.parquet(src)

    def drain():
        s1 = read_events_stream(spark, src)
        s2 = read_events_stream(spark, src)
        run_to_parquet(
            streaming_interval_join_left(s1, s2, lookback="30 minutes"),
            out,
            ckpt,
        )

    drain()  # matched pairs emit; trailing outer rows held back —
    # outer results need the watermark to pass "no match can still
    # arrive", and end-of-input does not advance it. Production
    # pipelines see the next day's data do this naturally; the test
    # appends a far-future sentinel batch to close the books.
    flush = ev.limit(1).select(
        F.lit(-1).alias("event_id").cast("long"),
        (F.col("ts") + F.expr("INTERVAL 1000 HOURS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    flush.write.mode("append").parquet(src)
    drain()
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(out).where("user_id >= 0").collect()
    }
    b = ev.select("user_id", "ts", "event_id")
    r = ev.select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") <= F.col("ts"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("event_id") != F.col("r_event_id"))
    )
    exp = {
        (x.event_id, x.r_event_id)
        for x in b.join(r, cond, "left").collect()
    }
    assert got == exp
    assert any(rid is None for (_, rid) in got)  # outer rows actually exist


def test_minhash_jaccard_estimate_tracks_exact(spark, sf_dir):
    """The LSH signature-agreement estimate must TRACK exact shingle
    Jaccard: mean absolute error within the binomial noise of 8
    hashes (~0.17), and high-vs-low separation preserved on the
    candidate pairs the banding surfaces."""
    from prisma_migrator_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3, distinct=False)
    sigs = minhash_signatures(sh, num_hashes=8)
    est = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in lsh_candidate_pairs(sigs, num_hashes=8, band_size=2).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(sh, min_jaccard=0.0).collect()
    }
    common = [k for k in est if k in exact]
    assert len(common) >= 10, f"only {len(common)} comparable pairs"
    errs = [abs(est[k] - exact[k]) for k in common]
    assert sum(errs) / len(errs) <= 0.2, sum(errs) / len(errs)
    # ranking preserved in the aggregate: mean estimate over the
    # top-half exact pairs must exceed the bottom half's
    ranked = sorted(common, key=lambda k: exact[k])
    half = len(ranked) // 2
    lo = sum(est[k] for k in ranked[:half]) / half
    hi = sum(est[k] for k in ranked[half:]) / (len(ranked) - half)
    assert hi > lo, (hi, lo)


def test_wav_chunk_walk_extra_chunks_and_bad_payloads(spark):
    """Spec-valid WAVs with extra chunks (LIST/INFO before data, fact
    after fmt) must parse identically to the canonical layout, and a
    malformed payload must yield a NULL-metadata row for its id — not
    kill the Arrow batch."""
    import struct

    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        parse_wav_metadata,
        synthesize_wav,
    )

    def with_extra_chunks(b: bytes) -> bytes:
        # canonical layout: RIFF hdr(12) | fmt hdr+16 | data hdr+len
        fmt_chunk = b[12:44 - 8]
        data_chunk = b[36:]
        info = b"INFO" + b"x" * 9  # odd size -> exercises word-align pad
        list_chunk = b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
        fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", 123)
        body = b"WAVE" + fmt_chunk + fact + list_chunk + data_chunk
        return b"RIFF" + struct.pack("<I", len(body)) + body

    good = synthesize_wav(1, "hello world")
    shuffled = with_extra_chunks(good)
    rows = [
        Row(doc_id=1, payload=bytearray(good)),
        Row(doc_id=2, payload=bytearray(shuffled)),
        Row(doc_id=3, payload=bytearray(b"not a wav at all")),
        Row(doc_id=4, payload=bytearray(b"RIFF\x04\x00\x00\x00WAVE")),
        # truncated mid-data: declared chunk size overruns the blob —
        # must be NULL, not plausible stats over the partial frames
        Row(doc_id=5, payload=bytearray(good[: len(good) - 40])),
    ]
    got = {
        r.doc_id: r
        for r in parse_wav_metadata(spark.createDataFrame(rows)).collect()
    }
    assert len(got) == 5
    # chunk-shuffled payload parses identically to canonical
    for f in ("sample_rate", "n_channels", "bits", "n_samples",
              "duration_ms", "rms"):
        assert getattr(got[2], f) == getattr(got[1], f), f
    assert got[1].sample_rate == 8000 and got[1].bits == 16
    # malformed payloads -> NULL metadata, id preserved
    for bad in (3, 4, 5):
        assert got[bad].sample_rate is None and got[bad].rms is None


def _pair_count(dfs) -> int:
    """Σ C(df, 2) over document frequencies, in Python."""
    return sum(df * (df - 1) // 2 for df in dfs)


def _ngram_guard_case(spark):
    from prisma_migrator_spark.llm.dedup import ngram_jaccard_pairs, shingles

    docs = spark.createDataFrame(
        [(i, "the same boilerplate header appears everywhere") for i in range(80)],
        "doc_id long, text string",
    )
    sh = shingles(docs, k=3)
    pairs = _pair_count(Counter(r.shingle for r in sh.collect()).values())
    return pairs, "prefix", lambda cap: ngram_jaccard_pairs(sh, max_candidate_pairs=cap)


def _containment_guard_case(spark):
    from prisma_migrator_spark.llm.dedup import shingles
    from prisma_migrator_spark.plans.llm import _doc_containment

    docs = spark.createDataFrame(
        [(i, "same same same words here") for i in range(20)],
        "doc_id long, text string",
    )
    sh = shingles(docs, k=3)
    pairs = _pair_count(Counter(r.shingle for r in sh.collect()).values())
    return pairs, "doc_containment_pairs_capped", lambda cap: _doc_containment(
        docs, df_cap=None, max_candidate_pairs=cap
    )


def _tfidf_guard_case(spark):
    from prisma_migrator_spark.plans.llm import _tfidf_cosine

    rows = [(i, f"shared{i % 4} word{i} filler{i % 7}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # kept terms: the relative stopband keeps df <= 25% of the docs
    df = Counter(t for _, text in rows for t in set(text.split()))
    kept = [n for n in df.values() if n <= 0.25 * len(rows)]
    return _pair_count(kept), "tfidf_cosine_pairs_capped", lambda cap: _tfidf_cosine(
        docs, df_cap=None, max_candidate_pairs=cap
    )


@pytest.mark.parametrize(
    "case", [_ngram_guard_case, _containment_guard_case, _tfidf_guard_case],
    ids=["ngram_jaccard_pairs", "doc_containment_pairs", "tfidf_cosine_pairs"],
)
def test_candidate_guard_trips_at_posting_pair_count(spark, case):
    """One guard for the three posting-list self-joins: each caller
    raises one pair below Σ C(df, 2) over its own postings (shingles,
    or TF-IDF's kept terms), naming its own scale path, and builds at
    exactly that count — the rows the join emits."""
    pairs, scale_path, build = case(spark)
    assert pairs > 0
    with pytest.raises(ValueError, match=scale_path):
        build(pairs - 1)
    build(pairs)
    if case is _ngram_guard_case:
        # the boilerplate docs really are duplicates: all pairs come out
        assert build(None).count() == 80 * 79 // 2


def test_embedding_lsh_near_dup_recall_floor(spark):
    """Sign-LSH near-dup must recover nearly all true near-dup pairs
    of a clustered corpus (precision is exact by construction — the
    true cosine verifies every candidate). Clusters of 8 around 40
    centers, pairs at cosine >= 0.8; floor set with margin under the
    analytic recall 1-(1-p^4)^8."""
    import numpy as np
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.dedup import (
        embedding_lsh_near_dup_pairs,
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    centers = rng.randn(40, 64).astype("float64") * 0.3
    rows = []
    for i in range(320):
        c = i % 40
        v = centers[c] + rng.randn(64) * 0.1
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v], label=c))
    emb = spark.createDataFrame(rows)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, bucket_col="label", min_cosine=0.8
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_lsh_near_dup_pairs(
            emb, min_cosine=0.8  # auto-sized bits, 16 tables (defaults)
        ).collect()
    }
    assert exact, "test corpus must contain true near-dup pairs"
    # no false positives are possible (cosine verify): any pair beyond
    # the by-label exact set must be a REAL >=0.8 cross-label pair
    vecs = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    for a, b in got - exact:
        va, vb = vecs[a], vecs[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert round(cos, 6) >= 0.8, (a, b, cos)
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, (recall, len(exact))


def test_embedding_lsh_stop_band_mask_keeps_later_table_pairs(spark):
    """A pair whose FIRST agreeing table falls in an over-cap
    (stop-band) bucket but which also shares an intact bucket in a
    LATER table must still be emitted: capped buckets are masked out
    of the carried bucket arrays, so the exactly-once first-match test
    skips them instead of treating them as a prior (suppressed-
    elsewhere, emitted-nowhere) match."""
    import numpy as np
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.dedup import (
        embedding_lsh_near_dup_pairs,
        rademacher_planes,
    )

    n_tables, r, dim = 4, 6, 16
    planes = np.array(rademacher_planes(n_tables * r, dim, seed=7))

    def buckets(v):
        bits = (planes @ v >= 0).astype(int)
        return [
            "".join(str(b) for b in bits[t * r : (t + 1) * r])
            for t in range(n_tables)
        ]

    rng = np.random.RandomState(11)
    # a tight near-dup pair: identical vectors -> agree in EVERY table
    target = rng.randn(dim)
    tb = buckets(target)
    # flood table 0's bucket for the target past the cap with vectors
    # that agree ONLY in table 0 (rejection-sample the other tables)
    flood, need = [], 12
    while need:
        w = rng.randn(dim)
        wb = buckets(w)
        if wb[0] == tb[0] and all(wb[t] != tb[t] for t in range(1, 4)):
            flood.append(w)
            need -= 1
    rows = [
        Row(vec_id=0, embedding=[float(x) for x in target]),
        Row(vec_id=1, embedding=[float(x) for x in target]),
    ] + [
        Row(vec_id=10 + i, embedding=[float(x) for x in w])
        for i, w in enumerate(flood)
    ]
    emb = spark.createDataFrame(rows)
    got = {
        (p.id_a, p.id_b)
        for p in embedding_lsh_near_dup_pairs(
            emb,
            dim=dim,
            min_cosine=0.99,
            n_tables=n_tables,
            bits_per_table=r,
            max_bucket=5,  # table-0 bucket holds 14 rows -> capped
        ).collect()
    }
    assert (0, 1) in got, got
    # and exactly once is still exactly once: uncapped result agrees
    uncapped = {
        (p.id_a, p.id_b)
        for p in embedding_lsh_near_dup_pairs(
            emb, dim=dim, min_cosine=0.99, n_tables=n_tables,
            bits_per_table=r,
        ).collect()
    }
    assert got == uncapped == {(0, 1)}


def test_simhash_stop_band_cap_preserves_small_bucket_pairs(spark):
    """The stop-band frequency cap must drop ONLY pairs whose every
    intact band is a mega-bucket: on a corpus where near-dups share a
    rare band, capped and uncapped results agree; a boilerplate flood
    sharing one band value is excluded by the cap."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.dedup import simhash_near_dup_pairs

    docs = [Row(doc_id=i, text=f"totally unique document number {i} "
                               f"with its own words w{i} v{i*7}")
            for i in range(40)]
    # one hamming-0 near-dup pair (a short doc's single-token edit can
    # flip >3 sign bits, so use identical text: still exercises the
    # band path, with all four shared bands in SMALL buckets)
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs.append(Row(doc_id=40, text=shared))
    docs.append(Row(doc_id=41, text=shared))
    df = spark.createDataFrame(docs)
    uncapped = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(
            df, max_hamming=3, band_bits=16, n_bits=64
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(
            df, max_hamming=3, band_bits=16, n_bits=64, max_bucket=10
        ).collect()
    }
    assert (40, 41) in uncapped and (40, 41) in capped
    assert capped == uncapped  # no bucket exceeds 10 here -> identical


def test_bmp_roundtrip_against_pixel_reference(spark):
    """The BMP parser must agree field-for-field with a pure-Python
    reference that walks the same synthesized pixels WITHOUT going
    through the container bytes; malformed payloads yield NULL rows;
    the resize stage's output re-parses as a valid BMP of the target
    dimensions with ~preserved channel means."""
    import hashlib

    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        attach_bmp_payload,
        parse_bmp_metadata,
        resize_bmp_payloads,
        synthesize_bmp,
    )

    def reference_means(doc_id: int, text: str, w=16, h=16):
        hh = int(hashlib.md5(text.encode()).hexdigest()[:8], 16)
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                sr += (x * 255 // (w - 1)) ^ (hh & 0xFF)
                sg += (y * 255 // (h - 1)) ^ ((hh >> 8) & 0xFF)
                sb += (doc_id * 37 + x * y) % 256
        n = w * h
        return sr / n, sg / n, sb / n

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"image number {i}") for i in range(12)]
    )
    got = {
        r.doc_id: r
        for r in parse_bmp_metadata(attach_bmp_payload(docs)).collect()
    }
    assert len(got) == 12
    for i in range(12):
        mr, mg, mb = reference_means(i, f"image number {i}")
        r = got[i]
        assert (r.width, r.height, r.bpp) == (16, 16, 24)
        assert abs(r.mean_r - mr) < 1e-9 and abs(r.mean_g - mg) < 1e-9
        assert abs(r.mean_b - mb) < 1e-9
        assert abs(r.luma - (0.299 * mr + 0.587 * mg + 0.114 * mb)) < 1e-6

    # malformed payloads -> NULL rows, ids preserved
    bad = spark.createDataFrame(
        [Row(doc_id=100, payload=bytearray(b"BM but not a real bmp")),
         Row(doc_id=101, payload=bytearray(b"PNG?"))]
    )
    nulls = {r.doc_id: r for r in parse_bmp_metadata(bad).collect()}
    assert nulls[100].width is None and nulls[101].luma is None

    # resize: output re-parses at the new dimensions; a gradient's
    # channel means survive nearest-neighbor resampling approximately
    resized = resize_bmp_payloads(attach_bmp_payload(docs), 8, 8)
    meta2 = {r.doc_id: r for r in parse_bmp_metadata(resized).collect()}
    for i in range(12):
        r2 = meta2[i]
        assert (r2.width, r2.height, r2.bpp) == (8, 8, 24)
        assert abs(r2.mean_r - got[i].mean_r) < 20  # NN-resample drift
    # a caller's id column comes out of parse and resize under its name
    keyed = attach_bmp_payload(docs).withColumnRenamed("doc_id", "k")
    k_meta = parse_bmp_metadata(keyed, id_col="k")
    assert k_meta.columns[0] == "k"
    assert {r.k: r.luma for r in k_meta.collect()} == {
        i: got[i].luma for i in range(12)
    }
    k_resized = resize_bmp_payloads(keyed, 8, 8, id_col="k")
    assert k_resized.columns == ["k", "payload"]
    k_meta2 = parse_bmp_metadata(k_resized, id_col="k").collect()
    assert {r.k: (r.width, r.height) for r in k_meta2} == dict.fromkeys(
        range(12), (8, 8)
    )
    # odd width exercises the 4-byte row padding path
    odd = spark.createDataFrame([Row(doc_id=7, text="odd")])
    b = synthesize_bmp(7, "odd", width=5, height=3)
    assert len(b) >= 54 + 3 * 16  # 5*3=15 bytes + 1 pad per row
    om = parse_bmp_metadata(
        attach_bmp_payload(odd, width=5, height=3)
    ).collect()[0]
    assert (om.width, om.height) == (5, 3)


def test_png_parse_agrees_with_bmp_and_defilters_correctly(spark):
    """Cross-format pin: BMP and PNG synthesizers share one pixel
    recipe, so the two REAL decoders must report identical channel
    means for the same (doc_id, text). The PNG parser must also
    recover exact means from scanlines encoded with the non-trivial
    filter types (Sub/Up/Average/Paeth), verify chunk CRCs, and
    NULL-row malformed payloads."""
    import struct
    import zlib

    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        attach_bmp_payload,
        attach_png_payload,
        parse_bmp_metadata,
        parse_png_metadata,
        synthesize_png,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"cross format {i}") for i in range(10)]
    )
    bmp = {r.doc_id: r for r in parse_bmp_metadata(attach_bmp_payload(docs)).collect()}
    png = {r.doc_id: r for r in parse_png_metadata(attach_png_payload(docs)).collect()}
    for i in range(10):
        assert (png[i].width, png[i].height, png[i].bpp) == (16, 16, 24)
        for f in ("mean_r", "mean_g", "mean_b", "luma"):
            assert abs(getattr(png[i], f) - getattr(bmp[i], f)) < 1e-9, (i, f)

    # re-encode doc 0's pixels with each nontrivial filter type and
    # assert the defilterer recovers the identical means
    base = synthesize_png(0, "cross format 0")
    meta0 = png[0]

    def reencode(filter_type: int) -> bytes:
        # decode base's raw scanlines (filter 0)
        off, idat = 8, bytearray()
        while off + 8 <= len(base):
            (ln,) = struct.unpack(">I", base[off:off + 4])
            tag = base[off + 4:off + 8]
            if tag == b"IDAT":
                idat += base[off + 8:off + 8 + ln]
            off += 12 + ln
        raw = zlib.decompress(bytes(idat))
        stride = 16 * 3
        out = bytearray()
        prev = bytes(stride)
        for y in range(16):
            line = raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)]
            enc = bytearray([filter_type])
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                up = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                if filter_type == 1:
                    enc.append((line[i] - a) & 0xFF)
                elif filter_type == 2:
                    enc.append((line[i] - up) & 0xFF)
                elif filter_type == 3:
                    enc.append((line[i] - ((a + up) >> 1)) & 0xFF)
                else:  # Paeth
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                    enc.append((line[i] - pred) & 0xFF)
            out += enc
            prev = line

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(out)))
                + chunk(b"IEND", b""))

    refiltered = spark.createDataFrame(
        [Row(doc_id=ft, payload=bytearray(reencode(ft))) for ft in (1, 2, 3, 4)]
    )
    got = {r.doc_id: r for r in parse_png_metadata(refiltered).collect()}
    for ft in (1, 2, 3, 4):
        for f in ("mean_r", "mean_g", "mean_b"):
            assert abs(getattr(got[ft], f) - getattr(meta0, f)) < 1e-9, (ft, f)

    # corrupt CRC and truncated stream -> NULL rows
    corrupted = bytearray(synthesize_png(1, "x"))
    corrupted[-5] ^= 0xFF  # flip a bit in IEND CRC region... use IDAT:
    corrupted[40] ^= 0x01  # flip a data byte so a CRC mismatches
    bad = spark.createDataFrame(
        [Row(doc_id=200, payload=bytearray(corrupted)),
         Row(doc_id=201, payload=bytearray(b"\x89PNG\r\n\x1a\nnope"))]
    )
    nm = {r.doc_id: r for r in parse_png_metadata(bad).collect()}
    assert nm[200].width is None and nm[201].width is None


def test_jpeg_codec_roundtrip_pins_reference_pipeline():
    """The baseline JPEG codec's entropy coding + headers are exactly
    invertible: decode(encode(x)) must equal the no-entropy reference
    pipeline (FDCT -> quant -> dequant -> IDCT, same float path)
    bit-for-bit — the only loss is the quantizer. Covers non-8-
    multiple dimensions (edge replication) and multiple qualities."""
    import hashlib

    from prisma_migrator_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_dims,
    )
    from tests.jpeg_ref import reference_roundtrip

    def recipe(doc_id, seed_text, w, h):
        hh = int(hashlib.md5(seed_text.encode()).hexdigest()[:8], 16)
        return [
            [
                (
                    (x * 255 // max(w - 1, 1)) ^ (hh & 0xFF),
                    (y * 255 // max(h - 1, 1)) ^ ((hh >> 8) & 0xFF),
                    (doc_id * 37 + x * y) % 256,
                )
                for x in range(w)
            ]
            for y in range(h)
        ]

    for doc, txt, w, h, q in [
        (1, "hello", 16, 16, 90),
        (2, "world", 24, 16, 75),
        (3, "x", 8, 8, 95),
        (4, "odd", 13, 11, 85),
    ]:
        px = recipe(doc, txt, w, h)
        jp = encode_jpeg(px, quality=q)
        assert jp[:2] == b"\xff\xd8" and jp[-2:] == b"\xff\xd9"
        assert parse_jpeg_dims(jp) == (w, h, 3)
        dw, dh, rows = decode_jpeg(jp)
        assert (dw, dh) == (w, h)
        assert rows == reference_roundtrip(px, quality=q), (doc, txt)

    for bad in [b"", b"\xff\xd8", b"not a jpeg", encode_jpeg(recipe(1, "a", 16, 16))[:-30]]:
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_jpeg_metadata_stage_and_quantizer_loss_bound(spark):
    """The jpeg_metadata stage decodes through the full baseline
    pipeline; its per-channel means must agree with the BMP parser on
    identical pixel recipes within the quantizer loss (measured worst
    0.28 at q90 on this recipe; bound 1.0), dims/bpp exact, and
    malformed payloads NULL-isolate."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        attach_bmp_payload,
        attach_jpeg_payload,
        parse_bmp_metadata,
        parse_jpeg_metadata,
        synthesize_jpeg,
    )

    rows = [Row(doc_id=i, text=f"jpeg doc {i}") for i in range(1, 13)]
    df = spark.createDataFrame(rows)
    jm = {r.doc_id: r for r in parse_jpeg_metadata(attach_jpeg_payload(df)).collect()}
    bm = {r.doc_id: r for r in parse_bmp_metadata(attach_bmp_payload(df)).collect()}
    assert set(jm) == set(bm) == {r.doc_id for r in rows}
    for k in jm:
        assert (jm[k].width, jm[k].height, jm[k].bpp) == (16, 16, 24)
        for ch in ("mean_r", "mean_g", "mean_b", "luma"):
            assert abs(getattr(jm[k], ch) - getattr(bm[k], ch)) < 1.0, (k, ch)

    good = synthesize_jpeg(1, "ok")
    bad = spark.createDataFrame(
        [
            Row(doc_id=300, payload=bytearray(good[:-40])),   # truncated scan
            Row(doc_id=301, payload=bytearray(b"\xff\xd8ff")),  # bad markers
            Row(doc_id=302, payload=bytearray(b"GIF89a")),    # wrong format
            Row(doc_id=303, payload=bytearray(good)),         # control: intact
        ]
    )
    nm = {r.doc_id: r for r in parse_jpeg_metadata(bad).collect()}
    assert nm[300].width is None and nm[301].width is None and nm[302].width is None
    assert nm[303].width == 16


def test_mixed_format_feature_dispatch(spark):
    """One decode stage, three containers: BMP and PNG of the same
    recipe give IDENTICAL luma-histogram features (lossless formats,
    same pixels); JPEG's differ only within the quantizer loss
    (measured worst L1 0.08; bound 0.2); non-images NULL out."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        attach_bmp_payload,
        attach_jpeg_payload,
        attach_png_payload,
        extract_features,
    )

    rows = [Row(doc_id=i, text=f"mixed {i}") for i in range(1, 9)]
    df = spark.createDataFrame(rows)
    feats = {}
    for name, attach in (
        ("bmp", attach_bmp_payload),
        ("png", attach_png_payload),
        ("jpeg", attach_jpeg_payload),
    ):
        feats[name] = {
            r.doc_id: list(r.features)
            for r in extract_features(attach(df)).collect()
        }
    for i in feats["bmp"]:
        assert feats["bmp"][i] == feats["png"][i], i
        l1 = sum(abs(a - b) for a, b in zip(feats["bmp"][i], feats["jpeg"][i]))
        assert l1 < 0.2, (i, l1)


def test_avi_frame_sampling_pins_against_bmp_recipes(spark):
    """The video modality is REAL end-to-end: sampled AVI frames must
    be byte-identical to the BMPs built from the same (doc, seed,
    frame) recipe, the sampled indices must be the even spacing over
    the stream length, and the unchanged image stage must decode the
    emitted frames to the same stats as the standalone BMPs."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        attach_avi_payload,
        parse_bmp_metadata,
        sample_frames,
        synthesize_bmp,
    )

    rows = [Row(doc_id=1, text="first clip"), Row(doc_id=2, text="second clip")]
    vids = attach_avi_payload(spark.createDataFrame(rows), n_frames=8)
    frames = {(r.doc_id, r.frame_idx): r
              for r in sample_frames(vids, n_frames=4).collect()}
    assert sorted({k[1] for k in frames}) == [0, 2, 4, 7]  # even spacing
    assert len(frames) == 8  # 2 docs x 4 sampled frames
    texts = {1: "first clip", 2: "second clip"}
    for (doc, fi), r in frames.items():
        assert (r.n_frames, r.width, r.height) == (8, 16, 16)
        expected = synthesize_bmp(doc, f"{texts[doc]}|f{fi}", 16, 16)
        assert bytes(r.frame) == expected, (doc, fi)
    # the unchanged image stage decodes video frames
    fdf = sample_frames(vids, n_frames=4).select(
        (F.col("doc_id") * 100 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame").alias("payload"),
    )
    got = {r.doc_id: r for r in parse_bmp_metadata(fdf).collect()}
    ref = {r.doc_id: r for r in parse_bmp_metadata(spark.createDataFrame(
        [Row(doc_id=d * 100 + fi,
             payload=bytearray(synthesize_bmp(d, f"{texts[d]}|f{fi}", 16, 16)))
         for (d, fi) in frames]
    )).collect()}
    assert set(got) == set(ref)
    for k in got:
        assert (got[k].mean_r, got[k].mean_g, got[k].mean_b, got[k].luma) == (
            ref[k].mean_r, ref[k].mean_g, ref[k].mean_b, ref[k].luma), k


def test_avi_fault_isolation_and_index_fallback(spark):
    """Malformed/truncated AVI payloads emit ZERO frame rows (never a
    task failure); a lying idx1 index falls back to the movi walk and
    still recovers every frame."""
    import struct

    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        parse_avi,
        sample_frames,
        synthesize_avi,
    )

    good = synthesize_avi(1, "clip", 16, 16, 8)
    # corrupt idx1's first offset: parser must recover via movi walk
    bad_idx = bytearray(good)
    struct.pack_into("<I", bad_idx, good.rfind(b"idx1") + 8 + 8, 999_999)
    assert parse_avi(bytes(bad_idx))[3] == parse_avi(good)[3]
    rows = [
        Row(doc_id=1, payload=bytearray(good)),
        Row(doc_id=2, payload=bytearray(good[:-40])),     # truncated
        Row(doc_id=3, payload=bytearray(b"not an avi")),  # garbage
        Row(doc_id=4, payload=bytearray(bad_idx)),        # bad index
    ]
    got = sample_frames(spark.createDataFrame(rows), n_frames=4).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 4}  # 2 and 3 emit nothing, job survives
    assert len(by_doc[1]) == len(by_doc[4]) == 4


def test_html_text_document_order():
    """$.text() must return text runs in DOCUMENT order even when text
    interleaves with child elements (``<p>a<b>c</b>d</p>`` -> "a c d",
    not "a d c") — cheerio's contract; a side-array of per-node text
    loses the interleaving."""
    from prisma_migrator_spark.sources.html_extract import parse_html, select

    p = select(parse_html("<p>a<b>c</b>d</p>"), "p")[0]
    assert p.text() == "a c d"
    soup = parse_html(
        "<div class='x'>one<br>two</i><span id='s'>three</span> four</div>"
    )
    assert select(soup, "div.x")[0].text() == "one two three four"
    assert select(soup, "div #s")[0].text() == "three"


def test_html_attribute_selectors():
    """Cheerio's attribute grammar (r6, closes the r5 selector-subset
    gap): presence, exact (quoted or bare), prefix/suffix/substring/
    word ops, compound with class, and values whose chars (``.#@``)
    must stay opaque inside brackets."""
    from prisma_migrator_spark.sources.html_extract import parse_html, select

    soup = parse_html(
        '<div class="listing">'
        '<a class="link" href="/apps/alpha" data-kind="app hot">A</a>'
        '<a class="link" href="/apps/beta.io" data-kind="app">B</a>'
        '<a class="link" href="https://x/y" data-kind="promo">C</a>'
        '<a class="link" data-kind="apphot">D</a>'
        "<input disabled>"
        "</div>"
    )

    def texts(sel):
        return [n.text() for n in select(soup, sel)]

    assert texts("a[href]") == ["A", "B", "C"]  # presence; D has none
    assert texts('a[data-kind="app"]') == ["B"]  # exact, quoted
    assert texts("a[data-kind=promo]") == ["C"]  # exact, bare
    assert texts("a[href^=/apps/]") == ["A", "B"]  # prefix
    assert texts("a[href$=.io]") == ["B"]  # suffix
    assert texts("a[href*=pps/al]") == ["A"]  # substring
    assert texts("a[data-kind~=hot]") == ["A"]  # word, not substring
    assert texts("a.link[href^=/apps/][data-kind~=app]") == ["A", "B"]
    assert texts("div.listing a[href*=beta.io]") == ["B"]  # '.' in value
    # bare attribute (value None in html.parser) still matches presence
    assert len(select(soup, "input[disabled]")) == 1
    assert select(soup, "a[missing=x]") == []


def test_html_attribute_extraction_suffix_disambiguation():
    """``@`` inside a bracket value is a value char (it selects); only
    a trailing ``@attr`` AFTER the last bracket extracts."""
    from prisma_migrator_spark.sources.html_extract import extract_one

    html = (
        '<div class="m"><a data-to="x@y" href="/go">hi</a>'
        '<a data-to="z" href="/no">no</a></div>'
    )
    got = extract_one(
        html,
        "div.m",
        {"to": "a[data-to=x@y]@href", "txt": "a[data-to=x@y]::text"},
    )
    assert got == [{"to": "/go", "txt": "hi"}]


def test_html_extract_entities_pipeline(spark, tmp_path):
    """The fetchHTML→cheerio→save* analog end-to-end: scripted fetch →
    entity extraction → typed upsert sink, with retry, tag soup, and
    promo-noise filtering exercised along the way."""
    from pyspark.sql import Row

    from prisma_migrator_spark.sources.html_extract import extract_entities
    from prisma_migrator_spark.sources.http import (
        RetryPolicy,
        fetch_urls,
        fetched_ok,
    )
    from prisma_migrator_spark.writers.upsert import write_entity
    from tests.http_ref import scripted_transport

    page = """
    <html><body><div class="listing">
      <div class="card promo"><h3 class="name">AD</h3></div>
      <div class="card app"><h3 class="name">Alpha <b>App</b></h3>
        <a class="link" href="/apps/alpha">v</a><span class="reviews">12</span></div>
      <div class="card app"><h3 class="name">Beta</h3>
        <a class="link" href="/apps/beta">v</a></div>
      <img src="x"><br>
    </div></body></html>"""
    soup = '<div class="card app"><h3 class="name">Open'
    transport = scripted_transport({
        "http://s/1": [(429, ""), (200, page)],   # retry then succeed
        "http://s/2": [(200, soup)],              # tag soup still parses
        "http://s/3": [(404, "")],                # dropped by fetched_ok
    })
    urls = spark.createDataFrame(
        [Row(url=f"http://s/{i}") for i in (1, 2, 3)]
    ).coalesce(1)  # one worker: the scripted transport is stateful
    fetched = fetched_ok(fetch_urls(urls, transport, RetryPolicy()))
    pages = fetched.select(
        F.monotonically_increasing_id().alias("doc_id"), F.col("body")
    )
    ents = extract_entities(
        pages, "body", "div.card.app",
        {"name": "h3.name::text", "handle": "a.link@href",
         "reviews": "span.reviews::text"},
    )
    rows = {(r.name, r.handle, r.reviews, r.position) for r in ents.collect()}
    assert rows == {
        ("Alpha App", "/apps/alpha", "12", 0),
        ("Beta", "/apps/beta", None, 1),
        ("Open", None, None, 0),
    }
    # sink: the save* analog — idempotent upsert keyed on handle
    apps = ents.where(F.col("handle").isNotNull()).select(
        "handle", "name", "reviews"
    )
    write_entity(spark, apps, str(tmp_path), "App", ["handle"])
    write_entity(spark, apps, str(tmp_path), "App", ["handle"])  # rerun
    saved = spark.read.parquet(str(tmp_path / "App.parquet"))
    assert saved.count() == 2
    assert {r.handle for r in saved.collect()} == {"/apps/alpha", "/apps/beta"}


def test_tfidf_capped_equals_uncapped_until_cap_binds(spark):
    """Cap above max df: identical pairs. Cap binding on a term:
    identical to the uncapped form on the corpus with that term
    textually removed (dropping a term changes no other term's df or
    IDF — the capped geometry IS the stripped-corpus geometry)."""
    from prisma_migrator_spark.plans.llm import _tfidf_cosine

    rows = []
    for i in range(40):
        # w df=5 (under the cap), hot df=8 (over it), y df=1; the
        # 25% band (10) keeps everything, so cap=6 drops ONLY 'hot'
        toks = [f"w{i % 8}", f"w{i % 8}", f"y{i}"]
        if i < 8:
            toks.append("hot")
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(df, cap):
        return {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in _tfidf_cosine(
                df, df_cap=cap, max_candidate_pairs=None
            ).collect()
        }

    assert pairs(docs, 100) == pairs(docs, None) != set()

    stripped = docs.select(
        "doc_id",
        F.trim(F.regexp_replace("text", r"\bhot\b", "")).alias("text"),
    )
    capped = pairs(docs, 6)
    assert capped == pairs(stripped, None)  # capped geometry == corpus sans 'hot'
    assert capped  # and the equality is not vacuous


def test_containment_capped_verifies_exactly_over_full_sets(spark):
    """The capped containment variant generates candidates from
    low-df shingles but must count intersections over FULL shingle
    sets: a pair sharing both rare and boilerplate shingles keeps its
    exact (uncapped) containment value; a pair overlapping ONLY via
    over-cap boilerplate is the documented recall loss."""
    from prisma_migrator_spark.plans.llm import _doc_containment

    boiler = "alpha beta gamma delta epsilon"  # shared by many docs
    # docs 0..9 are PURE boilerplate (containment 1.0 pairs whose
    # every shared shingle is over-cap — the documented recall loss)
    rows = [(i, boiler) for i in range(10)]
    # docs 100/101: unique rare overlap + the boilerplate
    rows.append((100, f"{boiler} rare token run one"))
    rows.append((101, f"{boiler} rare token run two"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def result(cap):
        return {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in _doc_containment(
                docs, df_cap=cap, max_candidate_pairs=None
            ).collect()
        }

    exact = result(None)
    capped = result(3)  # boilerplate shingles have df=12 > 3
    assert (100, 101) in exact and (100, 101) in capped
    # exact verification: identical containment despite capped
    # candidate generation (the boilerplate overlap still counted)
    assert capped[(100, 101)] == exact[(100, 101)]
    # boilerplate-only pairs (among docs 0..9) are the recall loss
    assert any(a < 10 and b < 10 for a, b in exact)
    assert not any(a < 10 and b < 10 for a, b in capped)


@pytest.mark.slow  # multi-minute: default-deselected tier (pytest.ini)
def test_ivf_pq_composition_recall_and_refine(spark):
    """IVF×PQ (the FAISS IVFADC shape) on planted clusters: the
    composed index must preserve the coarse geometry essentially
    perfectly (cluster precision >= 0.9, random would be ~0.05), and
    the exact-rerank stage must dominate raw ADC ranking — rerank'd
    recall@5 vs brute force at least matches the no-rerank path and
    clears a floor ADC alone isn't held to."""
    from prisma_migrator_spark.llm.similarity import (
        topk_bruteforce,
        topk_ivf_pq,
    )

    emb = _planted_clusters(spark)
    probes = emb.where(F.col("vec_id") % 100 == 0)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in topk_bruteforce(emb, probes, k=5).collect()
    }
    kw = dict(k=5, n_centroids=20, nprobe=4, m=8, ksub=16, iters=2, dim=32)
    adc_rows = topk_ivf_pq(emb, probes, rerank=0, **kw).collect()
    adc = {(r.probe_id, r.neighbor_id) for r in adc_rows}
    refined_rows = topk_ivf_pq(emb, probes, rerank=25, **kw).collect()
    refined = {(r.probe_id, r.neighbor_id) for r in refined_rows}

    # schema contract: ADC path scores by adc_dist, refine by cosine
    assert {"probe_id", "neighbor_id", "adc_dist", "rank"} == set(
        adc_rows[0].asDict()
    )
    assert {"probe_id", "neighbor_id", "cosine", "rank"} == set(
        refined_rows[0].asDict()
    )

    r_adc = len(exact & adc) / len(exact)
    r_ref = len(exact & refined) / len(exact)
    assert r_ref >= r_adc, (r_ref, r_adc)
    assert r_ref >= 0.5, f"refined recall={r_ref}"

    cluster_of = {r.vec_id: r.label for r in emb.collect()}
    for name, got in (("adc", adc), ("refined", refined)):
        prec = sum(cluster_of[n] == cluster_of[p] for p, n in got) / len(got)
        assert prec >= 0.9, f"{name} cluster precision={prec}"

    # every probe got exactly k rows with dense ranks
    from collections import Counter

    per = Counter(p for p, _ in refined)
    assert set(per.values()) == {5}
    assert sorted(r.rank for r in refined_rows if r.probe_id == refined_rows[0].probe_id) == [1, 2, 3, 4, 5]


def test_streaming_topk_matches_batch(spark, sf_dir, tmp_path):
    """Running top-k leaderboard: staged input drained in two passes;
    after each drain the max-version snapshot per key must equal the
    batch topk_per_group over everything ingested so far (the
    streaming answer is right at every point, not just at the end),
    versions are per-key dense from 1, every snapshot's ranks are
    dense, and consecutive snapshots of a key always differ (the
    emit-on-change contract that keeps sink volume bounded)."""
    from prisma_migrator_spark.operators.ranking import topk_per_group
    from prisma_migrator_spark.streaming.jobs import run_to_parquet
    from prisma_migrator_spark.streaming.stateful import streaming_topk_per_key

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).where(F.col("value").isNotNull())
    half = events.count() // 2
    stage1 = events.where(F.col("event_id") < half)
    stage2 = events.where(F.col("event_id") >= half)

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "event_id bigint, event_type string, value double"

    state_rows = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        prog = run_to_parquet(streaming_topk_per_key(stream, k=3), out, ckpt)
        state_rows.append(prog["stateOperators"][0]["numRowsTotal"])
        sink = spark.read.parquet(out)
        latest = sink.join(
            sink.groupBy("event_type").agg(F.max("version").alias("version")),
            ["event_type", "version"],
        )
        return {
            (r.event_type, r.rank): (r.event_id, r.value)
            for r in latest.collect()
        }, sink

    def batch_topk(df):
        got = topk_per_group(
            df, ["event_type"], "value", 3, tiebreakers=["event_id"]
        )
        return {
            (r.event_type, r.rn): (r.event_id, r.value) for r in got.collect()
        }

    stage1.write.parquet(src, mode="append")
    snap1, _ = drain()
    assert snap1 == batch_topk(stage1)

    stage2.write.parquet(src, mode="append")
    snap2, sink = drain()
    assert snap2 == batch_topk(events)
    # state is one leaderboard row per key, flat while input grows
    n_keys = events.select("event_type").distinct().count()
    assert state_rows == [n_keys, n_keys]

    pdf = sink.toPandas()
    for et, grp in pdf.groupby("event_type"):
        vs = sorted(grp["version"].unique())
        # versions dense per key from 1 (monotone, never retracted)
        assert vs == list(range(1, len(vs) + 1)), (et, vs)
        boards = {}
        for v, g in grp.groupby("version"):
            assert sorted(g["rank"]) == list(range(1, len(g) + 1))
            boards[v] = tuple(
                sorted(map(tuple, g[["event_id", "value"]].values.tolist()))
            )
        # emit-on-change: every emitted snapshot differs from its
        # predecessor (duplicates would mean wasted sink volume)
        assert len(set(boards.values())) == len(boards), et


def test_streaming_topk_skips_null_event_id(spark, tmp_path):
    """A malformed row with a NULL event_id must be skipped like the
    other stateful operators skip null values — not fail the whole
    micro-batch task with int(NaN) (ADVICE r5)."""
    from prisma_migrator_spark.streaming.jobs import run_to_parquet
    from prisma_migrator_spark.streaming.stateful import streaming_topk_per_key

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "event_id bigint, event_type string, value double"
    spark.createDataFrame(
        [(1, "click", 5.0), (None, "click", 99.0), (2, "click", None),
         (3, "click", 7.0)],
        schema,
    ).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    run_to_parquet(streaming_topk_per_key(stream, k=3), out, ckpt)
    sink = spark.read.parquet(out)
    got = {(r.rank, r.event_id, r.value) for r in sink.collect()}
    assert got == {(1, 3, 7.0), (2, 1, 5.0)}


# --- image perceptual-hash dedup (r7) ----------------------------------


def test_phash_container_invariance_and_robustness():
    """pHash ground physics, no Spark: (a) BMP and PNG of IDENTICAL
    pixels hash IDENTICALLY (the signature sees pixels, not
    containers); (b) JPEG q90 and a 24px nearest-neighbor resize
    stay within the banding guarantee (Hamming <= 7); (c) distinct
    source images separate by >= 16 bits — so threshold 7 has real
    margin on BOTH sides."""
    from prisma_migrator_spark.llm.jpeg import encode_jpeg
    from prisma_migrator_spark.llm.multimodal import (
        encode_png,
        pattern_rows,
        phash64,
        resize_bmp,
        rows_to_bmp,
    )

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    hashes = {}
    for k in range(12):
        rows = pattern_rows(k)
        bmp = rows_to_bmp(rows)
        hashes[(k, "bmp")] = phash64(bmp)
        hashes[(k, "png")] = phash64(encode_png(rows))
        hashes[(k, "jpeg")] = phash64(encode_jpeg(rows, quality=90))
        hashes[(k, "resized")] = phash64(resize_bmp(bmp, 24, 24))

    for k in range(12):
        base = hashes[(k, "bmp")]
        assert hashes[(k, "png")] == base  # lossless: exact
        assert ham(hashes[(k, "jpeg")], base) <= 7
        assert ham(hashes[(k, "resized")], base) <= 7
    inter = [
        ham(hashes[(a, "bmp")], hashes[(b, "bmp")])
        for a in range(12)
        for b in range(a + 1, 12)
    ]
    assert min(inter) >= 16, min(inter)


def test_image_near_dup_pairs_recall_and_precision(spark, sf_dir):
    """End-to-end registry query on the constructed corpus: EVERY
    intra-group pair (same source image under 4 real variants) is
    recovered — recall 1.0, guaranteed by 8-band pigeonhole for
    Hamming <= 7 — and ZERO cross-group pairs appear (precision
    1.0; inter-group distances measured >= 16)."""
    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["image_near_dup_pairs"](spark, sf_dir).collect()
    import duckdb  # count docs without hardcoding the sf

    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    expected = {
        (a, b)
        for g in range((n_docs + 3) // 4)
        for a in range(g * 4, min(g * 4 + 4, n_docs))
        for b in range(a + 1, min(g * 4 + 4, n_docs))
    }
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == expected, (
        f"missed {sorted(expected - got)[:5]}, spurious {sorted(got - expected)[:5]}"
    )
    assert all(r.hamming <= 7 for r in rows)


@pytest.mark.slow  # multi-minute: default-deselected tier (pytest.ini)
def test_incremental_image_near_dup_delta_only_decode_and_parity(spark, sf_dir):
    """The incremental form finds EXACTLY the pairs the full
    recompute finds restricted to delta-touching pairs (same
    banding plan on the same signatures), and the history side is
    consumed as STORED signatures — proven behaviorally by feeding
    stored signatures whose media payloads are corrupt garbage: if
    the path re-decoded history, those docs would be dropped (the
    fault-isolation contract of image_phash) and the cross pairs
    would vanish."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.dedup import hamming_band_pairs
    from prisma_migrator_spark.llm.multimodal import (
        image_phash,
        pattern_rows,
        phash64,
        rows_to_bmp,
    )
    from prisma_migrator_spark.plans import QUERIES

    # (a) parity with full recompute restricted to delta-touching
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    cut = (n_docs - 1) // 2  # doc_ids are 0..n-1; floor(max/2)
    full = {
        (r.id_a, r.id_b)
        for r in QUERIES["image_near_dup_pairs"](spark, sf_dir).collect()
    }
    expected = {(a, b) for (a, b) in full if a > cut or b > cut}
    got = {
        (r.id_a, r.id_b)
        for r in QUERIES["incremental_image_near_dup"](spark, sf_dir).collect()
    }
    assert got == expected, (
        f"missed {sorted(expected - got)[:5]}, spurious {sorted(got - expected)[:5]}"
    )

    # (b) delta-only decode: history rows carry STORED signatures and
    # garbage payloads; group 0 spans the cut (ids 0-1 history, 2-3
    # delta), so its cross pairs exist ONLY if the stored signatures
    # are trusted without re-decoding
    hist = spark.createDataFrame(
        [
            Row(doc_id=0, phash=phash64(rows_to_bmp(pattern_rows(0)))),
            Row(doc_id=1, phash=phash64(rows_to_bmp(pattern_rows(0)))),
            Row(doc_id=10, phash=phash64(rows_to_bmp(pattern_rows(9)))),
        ]
    )
    delta_media = spark.createDataFrame(
        [
            Row(doc_id=2, payload=rows_to_bmp(pattern_rows(0))),
            Row(doc_id=3, payload=rows_to_bmp(pattern_rows(0))),
            Row(doc_id=11, payload=rows_to_bmp(pattern_rows(7))),
        ]
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(
            image_phash(delta_media), sig_col="phash", index=hist
        ).collect()
    }
    assert pairs == {(0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}, pairs


def test_ivf_persisted_index_matches_fresh(spark, sf_dir, tmp_path):
    """A probe batch against the persisted IVF index returns
    EXACTLY what fresh-trained topk_ivf returns (same deterministic
    centroids -> same candidates -> same exact ranking), with zero
    training/assignment work in the probe job — the ANN analog of
    the stored-signature dedup indexes."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.similarity import (
        save_ivf_index,
        topk_ivf,
        topk_ivf_from_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    fresh = {
        (r.probe_id, r.rank): (r.neighbor_id, r.cosine)
        for r in topk_ivf(emb, probes, k=5, n_centroids=8, nprobe=3).collect()
    }
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(emb, idx, n_centroids=8, iters=1)
    loaded = {
        (r.probe_id, r.rank): (r.neighbor_id, r.cosine)
        for r in topk_ivf_from_index(
            spark, idx, probes, k=5, nprobe=3
        ).collect()
    }
    assert loaded == fresh and len(fresh) > 0


def test_pq_persisted_index_matches_fresh(spark, sf_dir, tmp_path):
    """Probing the persisted PQ index (stored codebooks + byte
    codes) returns exactly what fresh-trained topk_pq returns —
    training and corpus encoding are one-time ingest work."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.similarity import (
        save_pq_index,
        topk_pq,
        topk_pq_from_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    fresh = {
        (r.probe_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in topk_pq(emb, probes, k=5, m=8, ksub=16, iters=1).collect()
    }
    idx = str(tmp_path / "pq_index")
    save_pq_index(emb, idx, m=8, ksub=16, iters=1)
    loaded = {
        (r.probe_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in topk_pq_from_index(spark, idx, probes, k=5).collect()
    }
    assert loaded == fresh and len(fresh) > 0


@pytest.mark.slow  # multi-minute: default-deselected tier (pytest.ini)
def test_incremental_hamming_pairs_edges_and_cap_parity(spark):
    """Edge contracts on synthetic bit-string signatures: (a) empty
    delta -> empty output (no history re-pairing); (b) empty index ->
    exactly the full job over the delta; (c) with max_bucket set, the
    cap statistics are computed over ALL distinct signatures, so the
    capped incremental output == the capped FULL recompute restricted
    to delta-touching pairs (the parity claim in the docstring)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import hamming_band_pairs

    def sig(bits_on):
        s = ["0"] * 64
        for b in bits_on:
            s[b] = "1"
        return "".join(s)

    # 3 identical + 1 within hamming-2 + saturating group sharing
    # band 0 (bits 0-7) so a small cap engages on that band
    rows = [Row(doc_id=i, phash=sig([0, 1])) for i in range(3)]
    rows.append(Row(doc_id=3, phash=sig([0, 1, 9])))
    rows += [Row(doc_id=10 + j, phash=sig([0, 1, 16 + j])) for j in range(6)]
    sigs = spark.createDataFrame(rows).localCheckpoint()
    kw = dict(id_col="doc_id", sig_col="phash", n_bits=64, band_bits=8,
              max_hamming=7, band_arity=1)

    empty = sigs.where(F.lit(False))
    # (a) empty delta
    assert hamming_band_pairs(empty, index=sigs, **kw).count() == 0
    # (b) empty index == full job on the delta
    full_delta = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_band_pairs(sigs, **kw).collect()
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_band_pairs(sigs, index=empty, **kw).collect()
    }
    assert got == full_delta and len(full_delta) > 0
    # (c) capped parity: cap=3 drops the shared band-0 bucket (9
    # distinct signatures) in BOTH jobs identically
    capped = dict(kw, max_bucket=3)
    hist = sigs.where(F.col("doc_id") <= 3)
    delta = sigs.where(F.col("doc_id") > 3)
    full_cap = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(sigs, **capped).collect()
    }
    expected = {
        (a, b) for (a, b) in full_cap if a > 3 or b > 3
    }
    got_cap = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(delta, index=hist, **capped).collect()
    }
    assert got_cap == expected
    # and the cap actually bit (fewer pairs than uncapped)
    assert len(full_cap) < len(full_delta)
    # arity-2 (band-pair keys, the big-corpus dial): same restriction
    # parity as arity-1 on the same signatures
    a2 = dict(kw, band_arity=2, max_hamming=6)
    full_a2 = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(sigs, **a2).collect()
    }
    got_a2 = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(delta, index=hist, **a2).collect()
    }
    assert got_a2 == {(a, b) for (a, b) in full_a2 if a > 3 or b > 3}
    assert len(got_a2) > 0


def test_incremental_hamming_pairs_audio_parity(spark):
    """The incremental banded join is signature-generic: over audio
    fingerprints (5-variant tone-mosaic groups) the delta form
    reproduces the full recompute's delta-touching pairs exactly —
    same machinery image/video ride, no modality-specific code."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import hamming_band_pairs
    from prisma_migrator_spark.llm.multimodal import (
        attach_audio_variant_payload,
        audio_fingerprint,
    )

    ids = spark.range(30).withColumnRenamed("id", "doc_id")
    sigs = audio_fingerprint(
        attach_audio_variant_payload(ids)
    ).localCheckpoint()
    kw = dict(id_col="doc_id", sig_col="afp", n_bits=64, band_bits=8,
              max_hamming=7, band_arity=1)
    full = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(sigs, **kw).collect()
    }
    cut = 13  # splits a variant group across history/delta
    expected = {(a, b) for (a, b) in full if a >= cut or b >= cut}
    got = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(
            sigs.where(F.col("doc_id") >= cut),
            index=sigs.where(F.col("doc_id") < cut),
            **kw,
        ).collect()
    }
    assert got == expected and len(expected) > 0


@pytest.mark.parametrize("family", ["hamming", "minhash"])
def test_band_pairs_index_emits_each_pair_once(spark, family):
    """Against a stored index every output pair is one row, not one
    per band or per leg, and the output is the cold job over
    index ∪ delta restricted to pairs with a delta member: a signature
    group with two history and two delta members (identical
    signatures share every band), plus near groups on both sides of
    the cut, for both families that take ``index=`` (the set-based
    parity pins cannot see a duplicate row)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import (
        hamming_band_pairs,
        lsh_candidate_pairs,
    )

    if family == "hamming":
        def sig(bits_on):
            return "".join("1" if b in bits_on else "0" for b in range(64))

        groups = {  # signature -> member ids; ids >= 20 are the delta
            sig([0, 1]): [0, 1, 20, 21],
            sig([0, 1, 9]): [2, 22],
            sig([0, 1, 9, 17]): [3],
            sig([0, 1, 9, 17, 25]): [23],
            sig(range(32, 40)): [4, 24],
        }
        rows = [Row(doc_id=i, phash=s) for s, ids in groups.items() for i in ids]
        runs = [
            lambda d, index=None, a=arity, m=maxham: hamming_band_pairs(
                d, id_col="doc_id", sig_col="phash", n_bits=64, band_bits=8,
                max_hamming=m, band_arity=a, index=index,
            )
            for arity, maxham in ((1, 7), (2, 6))
        ]
        must = {(0, 20), (20, 21), (2, 20), (22, 23)}
    else:
        groups = {  # 4 bands of 2 min-hashes; ids >= 20 are the delta
            (1, 2, 3, 4, 5, 6, 7, 8): [0, 1, 20, 21],
            (1, 2, 3, 4, 50, 60, 70, 80): [2, 22],  # bands 0-1 of the first
            (100, 200, 3, 4, 500, 600, 700, 800): [3],  # band 1 only
            (1000, 2000, 3000, 4000, 5000, 6000, 7, 8): [23],  # band 3 only
            (9,) * 8: [4, 24],
        }
        rows = [
            Row(doc_id=i, **{f"h{j}": h for j, h in enumerate(hs)})
            for hs, ids in groups.items()
            for i in ids
        ]
        runs = [lambda d, index=None: lsh_candidate_pairs(d, index=index)]
        must = {(0, 20), (20, 21), (2, 20), (3, 22), (20, 23)}
    sigs = spark.createDataFrame(rows).localCheckpoint()
    hist = sigs.where(F.col("doc_id") < 20)
    delta = sigs.where(F.col("doc_id") >= 20)
    for run in runs:
        full = run(sigs)
        expected = {
            tuple(r) for r in full.collect() if r.id_a >= 20 or r.id_b >= 20
        }
        got = run(delta, index=hist)
        assert got.count() == got.distinct().count() == len(expected)
        assert {tuple(r) for r in got.collect()} == expected
        assert full.count() == full.distinct().count()
        # same-group pairs across the cut and cross-group pairs both occur
        assert must <= {(a, b) for a, b, _ in expected}


@pytest.mark.parametrize("cap, kept", [(4, False), (5, True)])
def test_band_pairs_stop_band_counts_index_rows(spark, cap, kept):
    """One stop-band rule, cold and against an index alike: a bucket
    counts every row in it, index rows included. One band-0 bucket
    holds 3 index and 2 delta signatures that share no other band;
    under ``max_bucket=4`` it is dead in both jobs (no pair), under
    ``max_bucket=5`` both emit its delta-touching pairs. A cap counted
    over the delta alone (2 rows) would keep it at 4."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import hamming_band_pairs

    # band 0 all zeros; bands 1-7 repeat one byte per member, so any
    # two members differ in every band but the first
    ids = [0, 1, 2, 20, 21]
    sigs = spark.createDataFrame(
        [Row(doc_id=i, phash="0" * 8 + f"{1 << k:08b}" * 7)
         for k, i in enumerate(ids)]
    ).localCheckpoint()
    kw = dict(id_col="doc_id", sig_col="phash", n_bits=64, band_bits=8,
              max_hamming=64, max_bucket=cap)
    cold = {
        (r.id_a, r.id_b) for r in hamming_band_pairs(sigs, **kw).collect()
        if r.id_b >= 20
    }
    got = hamming_band_pairs(
        sigs.where(F.col("doc_id") >= 20),
        index=sigs.where(F.col("doc_id") < 20),
        **kw,
    ).collect()
    touching = {(a, b) for a in ids for b in ids if a < b and b >= 20}
    assert len(got) == len({(r.id_a, r.id_b) for r in got})
    assert {(r.id_a, r.id_b) for r in got} == cold == (touching if kept else set())


@pytest.mark.parametrize("n_bits, band_bits", [(16, 4), (64, 8)])
def test_streaming_and_batch_hamming_band_keys_agree(
    spark, monkeypatch, n_bits, band_bits
):
    """The streaming near-dup job buckets on the batch join's keys: the
    key array it explodes, evaluated on the same signatures, equals
    ``hamming_band_keys`` at arity 1 (what ``hamming_band_pairs``
    joins on) and the ``'<b>|<band>'`` form, band by band."""
    import random

    from pyspark.sql import functions as F

    from prisma_migrator_spark.llm.dedup import hamming_band_keys
    from prisma_migrator_spark.streaming import stateful

    built = []

    def spy(*args, **kw):
        built.append(hamming_band_keys(*args, **kw))
        return built[-1]

    monkeypatch.setattr(stateful, "hamming_band_keys", spy)
    rng = random.Random(3)
    sigs = ["".join(rng.choice("01") for _ in range(n_bits)) for _ in range(20)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(sigs)],
                               "doc_id long, simhash string")
    stateful.streaming_near_dup_verdicts(df, n_bits=n_bits, band_bits=band_bits)
    assert len(built) == 1, "the streaming job must build its keys with hamming_band_keys"
    got = df.select(
        "simhash",
        F.array(*built[0]).alias("stream"),
        F.array(*hamming_band_keys(F.col("simhash"), n_bits, band_bits, 1)).alias("batch"),
    ).collect()
    for r in got:
        ref = [
            f"{b}|{r.simhash[b * band_bits:(b + 1) * band_bits]}"
            for b in range(n_bits // band_bits)
        ]
        assert list(r.stream) == list(r.batch) == ref


def test_image_phash_drops_undecodable_payloads(spark):
    """Fault isolation: a corrupt/non-image payload yields NO
    signature row (it can't be near-anything), never a task error."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        image_phash,
        pattern_rows,
        rows_to_bmp,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=rows_to_bmp(pattern_rows(1))),
            Row(doc_id=2, payload=b"not an image at all"),
            Row(doc_id=3, payload=b"BM\x00\x01truncated"),
        ]
    )
    out = image_phash(df).collect()
    assert [r.doc_id for r in out] == [1]
    assert len(out[0].phash) == 64 and set(out[0].phash) <= {"0", "1"}


# --- in-engine quality classifier training (r7) -------------------------


def _toy_quality_corpus(spark):
    """Linearly separable toy corpus: 'good' docs are stopword-rich
    with punctuation, 'junk' docs are short keyword spam — the same
    signal axes the weak heuristic label keys on."""
    from pyspark.sql import Row

    rows = []
    for i in range(24):
        rows.append(Row(doc_id=i, text=(
            "the quick analysis shows that the results are stable and "
            "the method works well. " * (2 + i % 3)
        )))
    for i in range(24, 48):
        rows.append(Row(doc_id=i, text="error error fast slow " * (1 + i % 2)))
    return spark.createDataFrame(rows)


def test_logreg_loss_decreases_and_matches_python_reference(spark):
    """The distributed trainer IS gradient descent: (a) mean log-loss
    strictly decreases across iterations; (b) the full weight
    trajectory matches a pure-Python implementation of the identical
    update (same init/lr/clamp) to float-summation-order tolerance;
    (c) discriminative weights land with the right SIGN (stopword
    features positive, junk-marker features negative)."""
    from prisma_migrator_spark.llm.logreg import (
        featurize_terms,
        train_logreg,
        weak_quality_label,
    )
    from tests.logreg_ref import train_logreg_py

    docs = _toy_quality_corpus(spark)
    terms = ["the", "and", "error", "fast", "slow", "results"]
    labeled = docs.withColumn("y", weak_quality_label(F.col("text")))
    feats = featurize_terms(labeled, terms, keep_cols=["y"]).persist()
    dim = len(terms) + 2
    w, losses = train_logreg(feats, dim=dim, lr=2.0, n_iters=15)

    assert all(b < a for a, b in zip(losses, losses[1:])), losses
    local = [(list(r["x"]), float(r["y"])) for r in feats.collect()]
    feats.unpersist()
    w_py, losses_py = train_logreg_py(local, dim=dim, lr=2.0, n_iters=15)
    assert max(abs(a - b) for a, b in zip(w, w_py)) < 1e-6, (w, w_py)
    assert max(abs(a - b) for a, b in zip(losses, losses_py)) < 1e-9

    idx = {t: 2 + j for j, t in enumerate(terms)}
    assert w[idx["the"]] > 0 and w[idx["and"]] > 0
    assert w[idx["error"]] < 0 and w[idx["fast"]] < 0 and w[idx["slow"]] < 0


def test_quality_classifier_scores_query_separates(spark, sf_dir):
    """End-to-end registry entry: the LEARNED model's scores order
    the weak classes almost perfectly (pairwise AUC >= 0.95 measured
    0.999 at sf0.01) and are valid probabilities."""
    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["quality_classifier_scores"](spark, sf_dir).collect()
    assert all(0.0 < r.p_keep < 1.0 for r in rows)
    pos = [r.p_keep for r in rows if r.label == 1.0]
    neg = [r.p_keep for r in rows if r.label == 0.0]
    assert pos and neg
    auc = sum(1 for p in pos for n in neg if p > n) / (len(pos) * len(neg))
    assert auc >= 0.95, auc


# --- CSS pseudo-classes + main-content extraction (r7) -------------------


def test_html_pseudo_class_selectors():
    """:first-child / :last-child / :nth-child(n) / :not(simple) over
    the stdlib DOM — CSS semantics: positions count ELEMENT siblings
    (text runs ignored), nth is 1-indexed, :not takes any single step
    including attribute tests, unknown pseudos raise at parse."""
    import pytest as _pytest

    from prisma_migrator_spark.sources.html_extract import (
        parse_html,
        select,
    )

    root = parse_html(
        "<ul>text<li>a</li><li class='x' data-k='v'>b</li>"
        "<li>c</li><li>d</li></ul>"
        "<ol><li>z</li></ol>"
    )
    texts = lambda sel: [n.text() for n in select(root, sel)]
    assert texts("ul li:first-child") == ["a"]
    assert texts("ul li:last-child") == ["d"]
    assert texts("li:nth-child(2)") == ["b"]
    assert texts("li:nth-child(9)") == []
    assert texts("ul li:not(.x)") == ["a", "c", "d"]
    assert texts("li:not([data-k=v])") == ["a", "c", "d", "z"]
    # one li is BOTH first and last child (the ol) — compound pseudos
    assert texts("li:first-child:last-child") == ["z"]
    with _pytest.raises(ValueError, match="unsupported pseudo-class"):
        select(root, "li:nth-of-type(2)")


def test_main_content_strips_boilerplate_keeps_article(spark):
    """Boilerplate removal on constructed pages: structural tags
    (nav/header/footer/style/script) stripped, the link-farm ad div
    rejected by LINK DENSITY (it is not a structural tag — dropping
    it requires the scoring), the article kept verbatim; a
    link-farm-only page yields the least-linky block, and malformed
    HTML yields an empty row, never a task failure."""
    from pyspark.sql import Row

    from prisma_migrator_spark.sources.html_extract import (
        extract_main_content,
        main_content,
    )

    article = "the actual story goes here with quite a few plain words"
    page = (
        "<html><head><style>x{}</style><script>var a=1</script></head>"
        "<body><header><h1>Site</h1></header>"
        "<nav><a href='/'>home page link text</a>"
        "<a href='/b'>about the whole team page</a></nav>"
        "<div class='wrap'><div class='ads'>"
        "<a href='/x'>buy this great deal now</a>"
        "<a href='/y'>another long sponsored offer right here</a></div>"
        f"<article><p>{article}</p>"
        "<p>second paragraph with <a href='/r'>one link</a> inline</p>"
        "</article></div>"
        "<footer><a href='/c'>contact</a> copyright corp</footer>"
        "</body></html>"
    )
    text, density = main_content(page)
    assert text == article + " second paragraph with one link inline"
    assert 0.0 < density < 0.25

    # distributed stage + fault isolation
    df = spark.createDataFrame(
        [Row(doc_id=1, html=page), Row(doc_id=2, html="<<<not html")]
    )
    rows = {r.doc_id: r for r in extract_main_content(df).collect()}
    assert rows[1].main_text.startswith(article)
    assert rows[1].n_chars == len(rows[1].main_text)
    assert rows[2].main_text == "" and rows[2].n_chars == 0

    # pure link farm: SOME block still returns (least-linky wins),
    # and its density is flagged ~1 for a downstream quality gate
    farm = ("<body><div><a href='/1'>spam one</a>"
            "<a href='/2'>spam two</a></div></body>")
    t2, d2 = main_content(farm)
    assert d2 == 1.0


def test_main_content_composes_with_fetch(spark):
    """fetch -> main_content: the crawl-side ingestion composition
    (the extract_entities pipeline's sibling for corpus building)."""
    from pyspark.sql import Row

    from prisma_migrator_spark.sources.html_extract import (
        extract_main_content,
    )
    from prisma_migrator_spark.sources.http import (
        RetryPolicy,
        fetch_urls,
        fetched_ok,
    )
    from tests.http_ref import scripted_transport

    body = ("<body><nav><a href='/'>navigation link row</a></nav>"
            "<article>fetched article body text</article>"
            "<footer>foot</footer></body>")
    transport = scripted_transport({"http://s/a": [(200, body)]})
    urls = spark.createDataFrame([Row(url="http://s/a")]).coalesce(1)
    fetched = fetched_ok(fetch_urls(urls, transport, RetryPolicy()))
    pages = fetched.select(F.lit(1).alias("doc_id"), F.col("body").alias("html"))
    out = extract_main_content(pages).collect()
    assert out[0].main_text == "fetched article body text"


def test_image_near_dup_clusters_match_variant_groups(spark, sf_dir):
    """Cluster stage on the constructed corpus: every cluster is
    EXACTLY one variant group (4 consecutive ids), labeled by its min
    id — the keep-one-per-group key an image dedup pass uses."""
    import duckdb

    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["image_near_dup_clusters"](spark, sf_dir).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    got = {
        r.cluster: [int(x) for x in r.member_ids.split(",")] for r in rows
    }
    expected = {
        g * 4: list(range(g * 4, min(g * 4 + 4, n_docs)))
        for g in range((n_docs + 3) // 4)
    }
    assert got == expected
    assert all(
        r.n_members == len(r.member_ids.split(",")) for r in rows
    )


def test_url_canonicalize_edge_cases(spark):
    """Spec edges beyond the synthesized schedule: bare host, only
    tracking params (the '?' must drop), root path, port preserved
    in the canonical form but stripped from the quota domain,
    query-less fragment."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.urls import canonicalize_url, url_domain

    cases = [
        ("HTTP://Host.COM", "http://host.com", "host.com"),
        ("https://a.com/?utm_source=x&ref=y", "https://a.com", "a.com"),
        ("https://a.com//x///y//", "https://a.com/x/y", "a.com"),
        ("https://a.com:8080/p#frag", "https://a.com:8080/p", "a.com"),
        ("https://a.com/p?z=1&a=2#q=3", "https://a.com/p?a=2&z=1", "a.com"),
        ("https://a.com/CaseKept?B=1", "https://a.com/CaseKept?B=1", "a.com"),
    ]
    df = spark.createDataFrame([Row(i=i, url=u) for i, (u, _, _) in enumerate(cases)])
    out = df.select(
        "i",
        canonicalize_url(F.col("url")).alias("c"),
        url_domain(canonicalize_url(F.col("url"))).alias("d"),
    ).collect()
    for r in out:
        want_c, want_d = cases[r.i][1], cases[r.i][2]
        assert r.c == want_c, (cases[r.i][0], r.c, want_c)
        assert r.d == want_d, (cases[r.i][0], r.d, want_d)


def test_domain_quota_sample_caps_and_is_deterministic(spark):
    """Quota bound holds per domain, small domains pass through
    whole, and the kept set is identical across two runs (md5
    ordering, no RNG)."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.urls import domain_quota_sample

    rows = [Row(doc_id=i, canonical_url=f"https://d{i % 3}.com/p/{i}")
            for i in range(30)] + [
           Row(doc_id=100, canonical_url="https://tiny.com/only")]
    df = spark.createDataFrame(rows)
    kept1 = {r.doc_id for r in domain_quota_sample(df, 4).collect()}
    kept2 = {r.doc_id for r in domain_quota_sample(df, 4).collect()}
    assert kept1 == kept2
    assert 100 in kept1  # small domain untouched
    from collections import Counter
    per = Counter(i % 3 for i in kept1 if i != 100)
    assert all(v == 4 for v in per.values()), per


# --- audio fingerprint dedup (r7) ---------------------------------------


def test_afp_robustness_and_separation():
    """Audio-fingerprint ground physics, no Spark: re-level /
    requantize / resample / pad variants of the same clip stay
    within the banding guarantee (<= 7), distinct clips separate by
    >= 12 bits, and the fingerprint is EXACTLY amplitude-invariant
    in its normalized envelope (scale variant <= 2 bits)."""
    from prisma_migrator_spark.llm.multimodal import (
        afp64,
        synthesize_tone_mosaic,
    )

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    base = {}
    for g in range(12):
        b = afp64(synthesize_tone_mosaic(g))
        base[g] = b
        assert len(b) == 64 and set(b) <= {"0", "1"}
        assert ham(afp64(synthesize_tone_mosaic(g, scale=0.3)), b) <= 2
        assert ham(afp64(synthesize_tone_mosaic(g, quant_bits=8)), b) <= 7
        assert ham(afp64(synthesize_tone_mosaic(g, rate=16000, n=3200)), b) <= 7
        assert ham(afp64(synthesize_tone_mosaic(g, pad=400)), b) <= 7
    inter = [
        ham(base[a], base[b]) for a in range(12) for b in range(a + 1, 12)
    ]
    assert min(inter) >= 12, min(inter)


def test_audio_near_dup_pairs_recall_and_precision(spark, sf_dir):
    """End-to-end registry query: every intra-group pair (5 real
    variants of one clip) recovered, zero cross-group pairs."""
    import duckdb

    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["audio_near_dup_pairs"](spark, sf_dir).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    expected = {
        (a, b)
        for g in range((n_docs + 4) // 5)
        for a in range(g * 5, min(g * 5 + 5, n_docs))
        for b in range(a + 1, min(g * 5 + 5, n_docs))
    }
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == expected, (
        f"missed {sorted(expected - got)[:5]}, spurious {sorted(got - expected)[:5]}"
    )


def test_audio_fingerprint_drops_undecodable(spark):
    """Fault isolation: non-audio payloads yield no signature row."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        audio_fingerprint,
        synthesize_tone_mosaic,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=synthesize_tone_mosaic(1)),
            Row(doc_id=2, payload=b"RIFF junk not wave"),
            Row(doc_id=3, payload=b"definitely not audio"),
        ]
    )
    out = audio_fingerprint(df).collect()
    assert [r.doc_id for r in out] == [1]


@pytest.mark.slow  # multi-minute: default-deselected tier (pytest.ini)
def test_band_arity_two_finds_identical_pairs(spark, sf_dir):
    """Multi-index hashing (band-PAIR keys, the >=20k-doc saturation
    dial) returns EXACTLY the same pair set as single-band keys on
    both signature families: the arity-2 pigeonhole guarantee (<= 6)
    sits above every measured intra-variant distance, so no pair is
    lost when the join switches key shape at scale."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.dedup import hamming_band_pairs
    from prisma_migrator_spark.llm.multimodal import (
        attach_audio_variant_payload,
        attach_image_variant_payload,
        attach_video_variant_payload,
        audio_fingerprint,
        image_phash,
        video_phash,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    for sigs, col in (
        (image_phash(attach_image_variant_payload(docs)), "phash"),
        (audio_fingerprint(attach_audio_variant_payload(docs)), "afp"),
        (video_phash(attach_video_variant_payload(docs)), "vhash"),
    ):
        sigs = sigs.localCheckpoint()  # same signatures to both joins
        a1 = {
            (r.id_a, r.id_b)
            for r in hamming_band_pairs(
                sigs, sig_col=col, n_bits=64, band_bits=8,
                max_hamming=6, band_arity=1,
            ).collect()
        }
        a2 = {
            (r.id_a, r.id_b)
            for r in hamming_band_pairs(
                sigs, sig_col=col, n_bits=64, band_bits=8,
                max_hamming=6, band_arity=2,
            ).collect()
        }
        assert a1 == a2 and a1, (col, len(a1), len(a2))
        # the >=200k-doc tier: band TRIPLES at their guarantee (<= 5)
        a1_5 = {
            (r.id_a, r.id_b)
            for r in hamming_band_pairs(
                sigs, sig_col=col, n_bits=64, band_bits=8,
                max_hamming=5, band_arity=1,
            ).collect()
        }
        a3 = {
            (r.id_a, r.id_b)
            for r in hamming_band_pairs(
                sigs, sig_col=col, n_bits=64, band_bits=8,
                max_hamming=5, band_arity=3,
            ).collect()
        }
        assert a1_5 == a3 and a3, (col, len(a1_5), len(a3))


# --- video fingerprint dedup (r7, fourth modality) -----------------------


def test_vhash_invariances_and_separation():
    """Video-fingerprint ground physics, no Spark: (a) frame-rate
    doubling and playback reversal yield the EXACT same hash (vote
    fractions are invariant under frame duplication and reordering —
    an identity, not a tolerance); (b) a 48px spatial re-render and a
    70% brightness re-level stay within the banding guarantee
    (measured <= 2 of 64); (c) distinct sources separate by >= 12
    bits — real margin on both sides of threshold 7."""
    from prisma_migrator_spark.llm.multimodal import (
        synthesize_mosaic_avi,
        vhash64,
    )

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    base = {}
    for g in range(12):
        b = vhash64(synthesize_mosaic_avi(g))
        base[g] = b
        assert len(b) == 64 and set(b) <= {"0", "1"}
        assert vhash64(synthesize_mosaic_avi(g, frame_dup=2)) == b
        assert vhash64(synthesize_mosaic_avi(g, reverse=True)) == b
        assert ham(vhash64(synthesize_mosaic_avi(g, size=48)), b) <= 7
        assert ham(vhash64(synthesize_mosaic_avi(g, scale=0.7)), b) <= 7
    inter = [
        ham(base[a], base[b]) for a in range(12) for b in range(a + 1, 12)
    ]
    assert min(inter) >= 12, min(inter)


def test_video_near_dup_pairs_recall_and_precision(spark, sf_dir):
    """End-to-end registry query: every intra-group pair (5 real
    variants of one 6-frame clip) recovered, zero cross-group
    pairs."""
    import duckdb

    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["video_near_dup_pairs"](spark, sf_dir).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    expected = {
        (a, b)
        for g in range((n_docs + 4) // 5)
        for a in range(g * 5, min(g * 5 + 5, n_docs))
        for b in range(a + 1, min(g * 5 + 5, n_docs))
    }
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == expected, (
        f"missed {sorted(expected - got)[:5]}, spurious {sorted(got - expected)[:5]}"
    )
    assert all(r.hamming <= 7 for r in rows)


def test_video_phash_drops_undecodable(spark):
    """Fault isolation: non-video payloads yield no signature row."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        synthesize_mosaic_avi,
        video_phash,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=synthesize_mosaic_avi(1)),
            Row(doc_id=2, payload=b"RIFF junk not avi at all"),
            Row(doc_id=3, payload=b"definitely not video"),
        ]
    )
    out = video_phash(df).collect()
    assert [r.doc_id for r in out] == [1]
    assert len(out[0].vhash) == 64 and set(out[0].vhash) <= {"0", "1"}


# --- streaming near-duplicate dedup (banded Hamming state) ----------------


def test_streaming_near_dup_matches_batch_banded_join(spark, tmp_path):
    """The streaming operator IS the batch banded join, replayed: on
    an id-ordered stream (with the ENTIRE first half redelivered in
    the second drain), per-doc verdicts reproduce
    ``hamming_band_pairs`` exactly — every doc flagged iff the batch
    join pairs it with an earlier id, ``dup_of`` = the min such
    partner, one verdict per doc (redelivery swallowed by state)."""
    from prisma_migrator_spark.llm.dedup import hamming_band_pairs, simhash
    from prisma_migrator_spark.streaming.stateful import (
        reduce_near_dup_verdicts,
        streaming_near_dup_verdicts,
    )

    rows = []
    for g in range(10):
        base = (
            f"group {g} words alpha beta gamma delta epsilon zeta eta theta"
        )
        rows.append(Row(doc_id=g * 4 + 0, text=base))
        rows.append(Row(doc_id=g * 4 + 1, text=base + " extra"))
        rows.append(Row(doc_id=g * 4 + 2, text=base.replace("alpha", "alphaz")))
        rows.append(Row(
            doc_id=g * 4 + 3,
            text=f"totally different number {g} unique solo content item",
        ))
    docs = spark.createDataFrame(rows)
    sigs = simhash(docs, n_bits=16).localCheckpoint()

    pairs = hamming_band_pairs(
        sigs, n_bits=16, band_bits=4, max_hamming=3
    ).collect()
    ref: dict[int, int] = {}
    for r in pairs:
        ref[r.id_b] = min(ref.get(r.id_b, r.id_a), r.id_a)

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    verdicts = []

    def sink(df, _epoch):
        verdicts.extend(reduce_near_dup_verdicts(df).collect())

    def drain():
        stream = spark.readStream.schema(sigs.schema).parquet(src)
        q = (
            streaming_near_dup_verdicts(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    sigs.where(F.col("doc_id") < 20).coalesce(1).write.parquet(src)
    drain()
    sigs.coalesce(1).write.mode("append").parquet(src)  # redelivers 0-19 too
    drain()

    got = {r.doc_id: r for r in verdicts}
    assert len(verdicts) == len(got) == 40
    for d in range(40):
        assert got[d].is_dup == (d in ref), d
        assert got[d].dup_of == ref.get(d), d


def test_streaming_near_dup_ttl_horizon_and_bounded_state(spark, tmp_path):
    """TTL horizon: a near-dup arriving within the horizon is flagged
    against the stored signature; once the watermark passes the
    bucket's last-arrival + ttl the bucket is EVICTED, so the same
    near-dup re-arriving beyond the horizon is judged novel — and the
    state store's own numRowsTotal proves eviction bounded state."""
    from prisma_migrator_spark.streaming.stateful import (
        reduce_near_dup_verdicts,
        streaming_near_dup_verdicts,
    )

    sig_a = "0101010101010101"
    sig_b = "1010101010101111"
    near_a = sig_a[:-1] + "0"  # hamming 1 from sig_a (last bit flipped)
    far = "1111000011110000"

    src, ckpt = (str(tmp_path / d) for d in ("src", "ckpt"))
    base = spark.createDataFrame(
        [Row(doc_id=1, simhash=sig_a, hours=0)]
    ).withColumn(
        "ts", F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,hours)")
    ).drop("hours")
    schema = base.schema
    verdicts, progress = [], []

    def sink(df, _epoch):
        verdicts.extend(reduce_near_dup_verdicts(df).collect())

    def drain(rows):
        df = spark.createDataFrame(rows).withColumn(
            "ts",
            F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,hours)"),
        ).drop("hours")
        df.write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "1 second")
        )
        q = (
            streaming_near_dup_verdicts(stream, ttl="1 hour")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress.append(q.lastProgress)

    drain([Row(doc_id=1, simhash=sig_a, hours=0),
           Row(doc_id=2, simhash=sig_b, hours=0)])
    drain([Row(doc_id=3, simhash=near_a, hours=0)])   # within horizon -> dup
    drain([Row(doc_id=4, simhash=far, hours=10)])     # watermark -> eviction
    drain([Row(doc_id=5, simhash=near_a, hours=12)])  # beyond horizon -> novel

    got = {r.doc_id: r for r in verdicts}
    assert not got[1].is_dup and not got[2].is_dup
    assert got[3].is_dup and got[3].dup_of == 1 and got[3].hamming == 1
    assert not got[4].is_dup
    assert not got[5].is_dup  # sig_a's buckets evicted at ~01:00 event time
    # state is horizon-sized: only doc 4's and doc 5's buckets survive
    n_state = progress[-1]["stateOperators"][0]["numRowsTotal"]
    assert n_state <= 8, n_state


def test_streaming_near_dup_stop_band_cap(spark, tmp_path):
    """A saturated bucket (max_bucket=1) stops STORING but keeps
    JUDGING: identical signatures keep matching the one stored
    anchor, so verdicts stay deterministic under the cap."""
    from prisma_migrator_spark.streaming.stateful import (
        reduce_near_dup_verdicts,
        streaming_near_dup_verdicts,
    )

    sig = "0011001100110011"
    src, ckpt = (str(tmp_path / d) for d in ("src", "ckpt"))
    docs = spark.createDataFrame(
        [Row(doc_id=i, simhash=sig) for i in (1, 2, 3)]
    )
    docs.coalesce(1).write.parquet(src)
    verdicts = []

    def sink(df, _epoch):
        verdicts.extend(reduce_near_dup_verdicts(df).collect())

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        streaming_near_dup_verdicts(stream, max_bucket=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: r for r in verdicts}
    assert not got[1].is_dup
    assert got[2].is_dup and got[2].dup_of == 1
    assert got[3].is_dup and got[3].dup_of == 1


def test_html_link_graph_edges_exact(spark):
    """The link-graph pipeline's edge set, pinned on a constructed
    corpus: extraction recovers exactly the four relative targets per
    page, the href-prefix selector skips nav/footer links, the
    featured decoy (prefix-matching but nonexistent) dies at the id
    semi-join, and self-loops are filtered."""
    from prisma_migrator_spark.plans.html import synthesize_link_pages
    from prisma_migrator_spark.sources.html_extract import extract_entities

    n = 10
    docs = spark.createDataFrame([Row(doc_id=i, text="t") for i in range(n)])
    pages = synthesize_link_pages(docs)
    links = extract_entities(
        pages, "html", "a[href^=/doc/]", {"href": "@href"}, id_col="doc_id"
    )
    # raw extraction: 4 relative targets + the decoy per page, nothing else
    raw = [(r.doc_id, r.href) for r in links.collect()]
    assert len(raw) == n * 5
    assert sum(h == "/doc/900000000000" for _, h in raw) == n
    assert not any(h in ("/", "/about") for _, h in raw)

    ids = docs.select("doc_id")
    edges = (
        links.select(
            F.col("doc_id").alias("src"),
            F.regexp_extract("href", r"^/doc/(-?\d+)$", 1)
            .cast("bigint").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .join(ids.select(F.col("doc_id").alias("dst")), "dst", "semi")
        .select("src", "dst")
        .distinct()
    )
    got = {(r.src, r.dst) for r in edges.collect()}
    expected = {
        (d, t)
        for d in range(n)
        for t in {d + 1, d - 1, d * 2, d // 2}
        if t != d and 0 <= t < n
    }
    assert got == expected


def test_hard_negatives_are_other_label_and_informative(spark, sf_dir):
    """Every mined hard negative carries a label different from its
    anchor's, ranks descend by cosine, restricting the pool can never
    IMPROVE the best cosine, and wherever the unrestricted top-5
    contains a same-label neighbor the hard set demonstrably differs
    (the filter binds exactly there)."""
    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["hard_negatives_topk"](spark, sf_dir).collect()
    emb_label = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label").collect()
    }
    assert rows
    by_probe: dict[int, list] = {}
    for r in rows:
        assert r.label == emb_label[r.neighbor_id]
        assert r.label != emb_label[r.probe_id]
        by_probe.setdefault(r.probe_id, []).append(r)
    plain: dict[int, list] = {}
    for r in QUERIES["topk_cosine_bruteforce"](spark, sf_dir).collect():
        plain.setdefault(r.probe_id, []).append(r)
    for pid, rs in by_probe.items():
        rs.sort(key=lambda r: r.rank)
        assert all(a.cosine >= b.cosine for a, b in zip(rs, rs[1:]))
        ps = sorted(plain[pid], key=lambda r: r.rank)
        assert rs[0].cosine <= ps[0].cosine  # restriction never improves
        if any(emb_label[p.neighbor_id] == emb_label[pid] for p in ps):
            assert {p.neighbor_id for p in ps} != {
                r.neighbor_id for r in rs
            }, pid


def test_homoglyph_fold_pairs_adversarial_twins(spark, sf_dir):
    """The confusable fold catches what exact fingerprinting cannot:
    a Cyrillic-lookalike + zero-width-salted twin hashes DIFFERENTLY
    under content_fingerprint but IDENTICALLY under
    homoglyph_fingerprint; at the registry level every group
    therefore has its twin (no singletons), while the unfolded
    fingerprint splits them."""
    from prisma_migrator_spark.llm.text import (
        content_fingerprint,
        homoglyph_fingerprint,
    )
    from prisma_migrator_spark.plans import QUERIES

    plain = "the quick brown fox jumps over the lazy dog"
    adv = plain.translate(str.maketrans("ao", "\u0430\u043e"))
    adv_zw = adv[:3] + "\u200b" + adv[3:]
    row = spark.createDataFrame([Row(a=plain)]).select(
        content_fingerprint(F.col("a")).alias("cf_plain"),
        homoglyph_fingerprint(F.col("a")).alias("hf_plain"),
        content_fingerprint(F.lit(adv)).alias("cf_adv"),
        homoglyph_fingerprint(F.lit(adv_zw)).alias("hf_adv"),
    ).first()
    assert row.cf_plain != row.cf_adv      # exact dedup misses it
    assert row.hf_plain == row.hf_adv      # the fold catches it

    groups = QUERIES["homoglyph_dedup_groups"](spark, sf_dir).collect()
    assert groups and all(g.group_size >= 2 for g in groups)
    docs = load_table(spark, sf_dir, "documents")
    n_plain = (
        docs.select(content_fingerprint(F.col("text"))).distinct().count()
    )
    # folded groups <= plain fingerprints, and the twins would DOUBLE
    # the plain fingerprint count if hashed unfolded
    assert len(groups) <= n_plain


def test_simhash_expr_matches_agg_plan(spark, sf_dir):
    """The row-local simhash (r10 default, HOF form) is BIT-IDENTICAL
    to the explode+groupBy reference plan (simhash_agg) at both
    widths — same md5 nibbles, same ±1 integer sums. simhash_agg is
    kept in ``tests/simhash_ref.py`` precisely so this pin has an
    independent reference."""
    from prisma_migrator_spark.llm.dedup import simhash_expr
    from tests.simhash_ref import simhash_agg

    docs = load_table(spark, sf_dir, "documents")
    for nb in (16, 64):
        a = {r.doc_id: r.simhash for r in simhash_agg(docs, n_bits=nb).collect()}
        b = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", simhash_expr(F.col("text"), nb).alias("sh")
            ).collect()
        }
        assert a == b


def test_simhash_null_and_blank_text_match_agg_plan_and_oracle(spark):
    """Hostile text, which no fixture has: a NULL-text doc gets no
    signature from the row-local simhash, the explode+groupBy plan or
    the DuckDB oracle (``UNNEST(NULL)`` emits no row). ``''`` and
    whitespace-only text normalize to empty tokens, which all three
    hash alike."""
    import duckdb

    from prisma_migrator_spark.llm.dedup import simhash
    from prisma_migrator_spark.plans.llm import _SIMHASH_ORACLE
    from tests.simhash_ref import simhash_agg

    rows = [(1, "the quick fox"), (2, None), (3, ""), (4, "   "), (5, "\t\n")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for nb in (16, 64):
        a = {r.doc_id: r.simhash for r in simhash_agg(docs, n_bits=nb).collect()}
        b = {r.doc_id: r.simhash for r in simhash(docs, n_bits=nb).collect()}
        assert a == b and set(b) == {1, 3, 4, 5}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = dict(con.execute(_SIMHASH_ORACLE).fetchall())
    con.close()
    assert oracle == {r.doc_id: r.simhash for r in simhash(docs, n_bits=16).collect()}


def test_streaming_ingest_near_dup_matches_batch(spark, sf_dir, tmp_path):
    """The composed fuzzy ingest (gate -> row-local simhash ->
    stateful banded verdicts) reproduces the batch pipeline (gate ->
    simhash -> hamming_band_pairs, first-seen verdicts) on an
    id-ordered stream with the first half redelivered."""
    from prisma_migrator_spark.llm.dedup import hamming_band_pairs, simhash
    from prisma_migrator_spark.llm.text import quality_score
    from prisma_migrator_spark.streaming.jobs import streaming_ingest_near_dup
    from prisma_migrator_spark.streaming.stateful import (
        reduce_near_dup_verdicts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.where(F.round(quality_score(F.col("text")), 6) >= 0.3)
    sigs = simhash(kept, n_bits=16).localCheckpoint()
    pairs = hamming_band_pairs(
        sigs, n_bits=16, band_bits=4, max_hamming=3
    ).collect()
    ref: dict[int, int] = {}
    for r in pairs:
        ref[r.id_b] = min(ref.get(r.id_b, r.id_a), r.id_a)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    half = sorted(kept_ids)[len(kept_ids) // 2]
    verdicts = []

    def sink(df, _epoch):
        verdicts.extend(reduce_near_dup_verdicts(df).collect())

    def drain():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            streaming_ingest_near_dup(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    docs.where(F.col("doc_id") <= half).coalesce(1).write.parquet(src)
    drain()
    docs.coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {r.doc_id: r for r in verdicts}
    assert set(got) == kept_ids  # gate applied, one verdict per kept doc
    for d in kept_ids:
        assert got[d].is_dup == (d in ref), d
        assert got[d].dup_of == ref.get(d), d


def test_video_near_dup_clusters_equal_variant_groups(spark, sf_dir):
    """Every connected component IS one variant group: 5 consecutive
    ids, no merges across groups, no splits within."""
    import duckdb

    from prisma_migrator_spark.plans import QUERIES

    rows = QUERIES["video_near_dup_clusters"](spark, sf_dir).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    got = {
        tuple(int(x) for x in r.member_ids.split(",")) for r in rows
    }
    expected = {
        tuple(range(g * 5, min(g * 5 + 5, n_docs)))
        for g in range((n_docs + 4) // 5)
    }
    assert got == expected
    assert all(
        r.cluster == int(r.member_ids.split(",")[0]) for r in rows
    )


def test_streaming_near_dup_out_of_order_first_seen(spark, tmp_path):
    """Documented cross-batch semantics under adversarial arrival:
    canonical is first-SEEN, not min-id. A high-id doc arriving in an
    earlier batch becomes the anchor; its low-id near-dup arriving
    later is the one flagged (dup_of = the high id). Within one
    batch, id order still decides."""
    from prisma_migrator_spark.streaming.stateful import (
        reduce_near_dup_verdicts,
        streaming_near_dup_verdicts,
    )

    sig = "0101010101010101"
    near = sig[:-1] + "0"
    src, ckpt = (str(tmp_path / d) for d in ("src", "ckpt"))
    verdicts = []

    def sink(df, _epoch):
        verdicts.extend(reduce_near_dup_verdicts(df).collect())

    def drain(rows):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id bigint, simhash string").parquet(src)
        q = (
            streaming_near_dup_verdicts(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain([Row(doc_id=9, simhash=sig)])        # high id arrives FIRST
    drain([Row(doc_id=1, simhash=near)])       # low id arrives later

    got = {r.doc_id: r for r in verdicts}
    assert not got[9].is_dup
    assert got[1].is_dup and got[1].dup_of == 9 and got[1].hamming == 1


def test_streaming_near_dup_image_phash_signatures(spark, tmp_path):
    """The streaming near-dup operator is signature-generic in
    practice, not just by docstring: REAL 64-bit image pHashes (BMP
    source in the index batch; PNG re-container, JPEG re-encode, and
    a distinct image in the delta batch) stream through with the
    image family's banding dials (8-bit bands, Hamming ≤ 7) — the
    streaming analog of incremental_image_near_dup's
    stored-index-plus-delta ingestion."""
    from pyspark.sql import Row

    from prisma_migrator_spark.llm.multimodal import (
        encode_png,
        pattern_rows,
        phash64,
        rows_to_bmp,
    )
    from prisma_migrator_spark.llm.jpeg import encode_jpeg
    from prisma_migrator_spark.streaming.stateful import (
        reduce_near_dup_verdicts,
        streaming_near_dup_verdicts,
    )

    g0, g1 = pattern_rows(0), pattern_rows(1)
    src, ckpt = (str(tmp_path / d) for d in ("src", "ckpt"))
    verdicts = []

    def sink(df, _epoch):
        verdicts.extend(reduce_near_dup_verdicts(df).collect())

    def drain(rows):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id bigint, phash string").parquet(src)
        q = (
            streaming_near_dup_verdicts(
                stream, sig_col="phash", n_bits=64, band_bits=8,
                max_hamming=7,
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # index batch: the two source images as BMP
    drain([
        Row(doc_id=0, phash=phash64(rows_to_bmp(g0))),
        Row(doc_id=1, phash=phash64(rows_to_bmp(g1))),
    ])
    # delta batch: re-encodes of image 0 + a fresh distinct image
    drain([
        Row(doc_id=10, phash=phash64(encode_png(g0))),
        Row(doc_id=11, phash=phash64(encode_jpeg(g0, quality=90))),
        Row(doc_id=12, phash=phash64(rows_to_bmp(pattern_rows(7)))),
    ])

    got = {r.doc_id: r for r in verdicts}
    assert not got[0].is_dup and not got[1].is_dup
    assert got[10].is_dup and got[10].dup_of == 0 and got[10].hamming == 0
    assert got[11].is_dup and got[11].dup_of == 0 and got[11].hamming <= 7
    assert not got[12].is_dup


def test_luhn_cc_detection_validates_checksum(spark, sf_dir):
    """Luhn ground truth: known-valid test numbers pass, off-by-one
    mutations fail, and the column expression agrees with a pure-
    Python Luhn on every synthesized candidate; the registry query
    finds EXACTLY one card per doc (the valid one), never the
    decoy."""
    from prisma_migrator_spark.llm.text import luhn_valid
    from prisma_migrator_spark.plans import QUERIES

    def luhn_py(digits: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(digits)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    known = ["4111111111111111", "5500005555555559", "378282246310005",
             "49927398716", "1234567812345670"]
    cases = known + [k[:-1] + str((int(k[-1]) + 1) % 10) for k in known]
    df = spark.createDataFrame([Row(d=c) for c in cases])
    got = {r.d: r.ok for r in df.select(
        "d", luhn_valid(F.col("d")).alias("ok")).collect()}
    for c in cases:
        assert got[c] == luhn_py(c), c
    assert all(got[k] for k in known)
    assert not any(got[c] for c in cases[len(known):])

    rows = QUERIES["cc_pii_redaction"](spark, sf_dir).collect()
    assert rows and all(r.n_cc == 1 for r in rows)


# --- corpus-overlap sketches / temperature mixture / PCA (r7) -----------


def test_oph_sketch_estimates_known_overlap(spark):
    """Two constructed corpora sharing half their shingle vocabulary:
    the OPH estimate must land near the exact Jaccard, and disjoint
    corpora must estimate ~0."""
    from prisma_migrator_spark.llm.sketches import (
        oph_pairwise_jaccard,
        oph_sketch,
    )

    # 400 distinct 3-shingles per corpus via 402-token streams of
    # unique words; corpora A and B share the middle half.
    def words(tag, lo, hi):
        return " ".join(f"{tag}{i}" for i in range(lo, hi))

    shared = words("s", 0, 202)  # ~200 shared shingles
    rows = [
        Row(doc_id=1, source="A", text=words("a", 0, 202) + " " + shared),
        Row(doc_id=2, source="B", text=words("b", 0, 202) + " " + shared),
        Row(doc_id=3, source="C", text=words("c", 0, 404)),
    ]
    docs = spark.createDataFrame(rows)
    sh = shingles(docs, k=3, distinct=False, id_col="source")
    est = {
        (r.src_a, r.src_b): r.est_jaccard
        for r in oph_pairwise_jaccard(
            oph_sketch(sh, n_bins=32), n_bins=32
        ).collect()
    }
    # exact Jaccard(A, B): shared block yields ~200 common shingles of
    # ~400 each (boundary shingles straddle the concat seam), so the
    # true value sits near 200/600 = 0.33
    assert 0.15 < est[("A", "B")] < 0.55
    assert est[("A", "C")] <= 0.1 and est[("B", "C")] <= 0.1
    # all unordered pairs present even when sketches share no bins
    assert set(est) == {("A", "B"), ("A", "C"), ("B", "C")}


def test_oph_sketch_is_mergeable(spark):
    """Sketch algebra: the sketch of a union equals the elementwise
    min of the parts' sketches — the property that makes per-day /
    per-file sketches combinable without re-scanning."""
    from prisma_migrator_spark.llm.sketches import oph_sketch

    part1 = spark.createDataFrame(
        [Row(source="u", shingle=f"x {i} y") for i in range(50)]
    )
    part2 = spark.createDataFrame(
        [Row(source="u", shingle=f"z {i} w") for i in range(50)]
    )
    whole = part1.union(part2)
    direct = {
        r.bin: r.min_hash
        for r in oph_sketch(whole, shingle_col="shingle", n_bins=16).collect()
    }
    merged: dict[int, int] = {}
    for part in (part1, part2):
        for r in oph_sketch(part, shingle_col="shingle", n_bins=16).collect():
            merged[r.bin] = min(merged.get(r.bin, r.min_hash), r.min_hash)
    assert direct == merged


def test_temperature_mixture_flattens(spark, sf_dir):
    """alpha < 1 must up-weight small sources and down-weight large
    ones while keeping a proper distribution."""
    from prisma_migrator_spark.plans.llm import temperature_mixture_weights_q

    rows = temperature_mixture_weights_q(spark, sf_dir).collect()
    assert abs(sum(r.p_temp for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.p_raw for r in rows) - 1.0) < 1e-4
    smallest = min(rows, key=lambda r: r.n_tokens)
    largest = max(rows, key=lambda r: r.n_tokens)
    assert smallest.boost > 1.0 > largest.boost
    # flattening: the temperature distribution is strictly less spread
    assert max(r.p_temp for r in rows) < max(r.p_raw for r in rows)


def test_pca_matches_numpy_reference(spark):
    """Distributed covariance + projection vs a pure-numpy PCA with
    the identical sign convention, on a constructed anisotropic
    cloud."""
    import numpy as np

    from prisma_migrator_spark.llm.pca import (
        covariance_stats,
        fit_components,
        project,
    )

    rng = np.random.default_rng(7)
    d, n = 8, 300
    # variance concentrated on a known direction
    direction = np.zeros(d)
    direction[2] = 1.0
    x = rng.normal(0, 0.1, (n, d)) + np.outer(
        rng.normal(0, 3.0, n), direction
    )
    rows = [
        Row(vec_id=i, embedding=[float(v) for v in x[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(rows).repartition(5)
    cov, mean, cnt = covariance_stats(df, dim=d)
    assert cnt == n
    ref_cov = np.cov(x, rowvar=False, bias=True)
    assert np.allclose(cov, ref_cov, atol=1e-6)
    comps, explained = fit_components(cov, k=2)
    # dominant component is the constructed direction (up to sign,
    # which the convention fixes positive on the big coefficient)
    assert abs(comps[0][2]) > 0.99 and comps[0][np.argmax(np.abs(comps[0]))] > 0
    assert explained[0] > 0.9 > explained[1]
    got = {
        r.vec_id: (r.pc1, r.pc2)
        for r in project(df, mean, comps, out_prefix="pc").collect()
    }
    ref_proj = (x - x.mean(axis=0)) @ comps.T
    for i in range(n):
        assert abs(got[i][0] - ref_proj[i, 0]) < 1e-4
        assert abs(got[i][1] - ref_proj[i, 1]) < 1e-4


def test_pca_stats_are_structurally_bounded(spark):
    """The collected stats frame is d(d+3)/2 + 1 rows however many
    vectors or partitions feed it — the driver-state contract."""
    import numpy as np

    from prisma_migrator_spark.llm.pca import covariance_stats

    d = 4
    rows = [
        Row(vec_id=i, embedding=[float(i % 3), 1.0, -2.0, float(i)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows).repartition(13)
    cov, mean, n = covariance_stats(df, dim=d)
    assert n == 200 and cov.shape == (d, d)
    x = np.array([[float(i % 3), 1.0, -2.0, float(i)] for i in range(200)])
    assert np.allclose(mean, x.mean(axis=0))
    assert np.allclose(cov, np.cov(x, rowvar=False, bias=True), atol=1e-6)


def test_roc_auc_matches_pure_python_with_ties(spark):
    """Distributed AUC vs the O(P*N) pairwise definition (with the
    standard 0.5 tie credit) on a constructed score set containing
    tied scores across classes."""
    import itertools

    data = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.7, 1), (0.5, 0), (0.5, 0),
        (0.5, 1), (0.4, 0), (0.3, 0), (0.2, 1), (0.1, 0), (0.9, 0),
    ]
    from prisma_migrator_spark.operators.metrics import roc_auc

    df = spark.createDataFrame(
        [Row(score=s, label=l) for s, l in data]
    ).repartition(4)
    got = roc_auc(df).collect()[0]
    pos = [s for s, l in data if l == 1]
    neg = [s for s, l in data if l == 0]
    ref = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p, n in itertools.product(pos, neg)
    ) / (len(pos) * len(neg))
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    assert abs(got.auc - round(ref, 6)) < 1e-9  # operator rounds to 6dp


def test_roc_auc_edges(spark):
    """Perfect separation -> 1.0; all scores tied -> 0.5; one class
    empty -> NULL."""
    from prisma_migrator_spark.operators.metrics import roc_auc

    perfect = spark.createDataFrame(
        [Row(score=float(i), label=1 if i >= 50 else 0) for i in range(100)]
    )
    assert roc_auc(perfect).collect()[0].auc == 1.0
    tied = spark.createDataFrame(
        [Row(score=0.5, label=i % 2) for i in range(10)]
    )
    assert abs(roc_auc(tied).collect()[0].auc - 0.5) < 1e-9
    onecls = spark.createDataFrame([Row(score=0.1, label=1)] * 5)
    assert roc_auc(onecls).collect()[0].auc is None


def test_calibration_bins_monotone_on_separable_scores(spark):
    """A score that IS the latent positive probability produces bins
    whose pos_rate tracks mean_score."""
    from prisma_migrator_spark.operators.metrics import calibration_bins

    # deterministic pseudo-probability and threshold labels
    rows = [
        Row(score=(i % 100) / 100.0, label=1 if (i % 100) >= 60 else 0)
        for i in range(1000)
    ]
    out = calibration_bins(
        spark.createDataFrame(rows), n_bins=10
    ).collect()
    by_bin = {r.bin: r for r in out}
    assert len(by_bin) == 10 and sum(r.n for r in out) == 1000
    assert by_bin[0].pos_rate == 0.0 and by_bin[9].pos_rate == 1.0
    rates = [by_bin[b].pos_rate for b in sorted(by_bin)]
    assert rates == sorted(rates)


def test_perplexity_buckets_per_lang_thirds_and_garble_lands_in_tail(spark, sf_dir):
    from prisma_migrator_spark.plans.llm import perplexity_buckets_q

    out = perplexity_buckets_q(spark, sf_dir).cache()
    # every scored doc gets exactly one bucket, all langs present
    docs = load_table(spark, sf_dir, "documents")
    assert out.count() == docs.where(
        F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 2
    ).count()
    sizes = {
        (r["lang"], r["bucket"]): r["c"]
        for r in out.groupBy("lang", "bucket")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    langs = {lang for lang, _ in sizes}
    assert langs == {r["lang"] for r in docs.select("lang").distinct().collect()}
    # per-lang tertiles: each bucket holds roughly a third of its lang
    totals = {lang: sum(c for (lg, _), c in sizes.items() if lg == lang)
              for lang in langs}
    for (lang, _), c in sizes.items():
        assert 0.15 * totals[lang] <= c <= 0.55 * totals[lang], (lang, sizes)
    # bucket boundaries are monotone in avg_logprob within each lang
    bounds = {
        (r["lang"], r["bucket"]): (r["lo"], r["hi"])
        for r in out.groupBy("lang", "bucket")
        .agg(F.min("avg_logprob").alias("lo"), F.max("avg_logprob").alias("hi"))
        .collect()
    }
    for lang in langs:
        assert bounds[(lang, "tail")][1] <= bounds[(lang, "middle")][0] + 1e-12
        assert bounds[(lang, "middle")][1] <= bounds[(lang, "head")][0] + 1e-12
    out.unpersist()


def test_perplexity_buckets_garbled_doc_scores_below_fluent(spark, tmp_path):
    # constructed corpus: repeated fluent bigrams vs one garbled doc of
    # unique tokens — the LM must score the garbled doc strictly lower
    import os

    from prisma_migrator_spark.plans.llm import perplexity_buckets_q

    fluent = "the cat sat on the mat " * 5
    rows = [(i, fluent.strip(), "en", "src0", len(fluent)) for i in range(9)]
    garbled = " ".join(f"zq{i}x" for i in range(30))
    rows.append((9, garbled, "en", "src0", len(garbled)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in perplexity_buckets_q(spark, d).collect()}
    assert out[9]["bucket"] == "tail"
    fluent_scores = [out[i]["avg_logprob"] for i in range(9)]
    assert all(out[9]["avg_logprob"] < s for s in fluent_scores)


def test_lexical_diversity_flags_template_source(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import lexical_diversity_q

    # srcA: the same sentence over and over (template farm);
    # srcB: all-unique tokens (maximal diversity)
    rows = []
    for i in range(5):
        rows.append((i, "buy cheap widgets online now", "en", "srcA", 30))
    for i in range(5, 10):
        t = " ".join(f"w{i}_{j}" for j in range(5))
        rows.append((i, t, "en", "srcB", len(t)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df.write.parquet(f"{d}/documents.parquet")
    out = {r["source"]: r for r in lexical_diversity_q(spark, d).collect()}
    a, b = out["srcA"], out["srcB"]
    assert a["n_tokens"] == b["n_tokens"] == 25
    assert a["distinct_unigrams"] == 5 and b["distinct_unigrams"] == 25
    assert a["distinct_1"] == pytest.approx(0.2)
    assert b["distinct_1"] == pytest.approx(1.0)
    # bigrams collapse even harder for the template source
    assert a["distinct_2"] == pytest.approx(4 / 20)
    assert b["distinct_2"] == pytest.approx(1.0)


def test_zlib_ratio_matches_direct_zlib_and_orders_repetitive_below_prose(
    spark, tmp_path
):
    import os
    import zlib

    from prisma_migrator_spark.plans.llm import compression_ratio_quality_q

    repetitive = "buy now " * 50
    prose = ("the quick brown fox jumps over the lazy dog while seventeen "
             "astronomers catalogued unusual quasar spectra last autumn")
    rows = [(0, repetitive, "en", "s", len(repetitive)),
            (1, prose, "en", "s", len(prose))]
    # pad the corpus so the p5 threshold isolates the repetitive doc
    for i in range(2, 22):
        t = " ".join(f"tok{i}_{j}" for j in range(20))
        rows.append((i, t, "en", "s", len(t)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df.write.parquet(f"{d}/documents.parquet")
    df = compression_ratio_quality_q(spark, d)
    # one Python stage per use of the scored frame: under the NOT NULL
    # filter, a pandas UDF would be evaluated twice per row
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    assert "ArrowEvalPython" not in plan
    out = {r["doc_id"]: r for r in df.collect()}
    # exact parity with direct zlib at the pinned level
    for i, t, *_ in rows:
        raw = t.encode("utf-8")
        assert out[i]["n_bytes"] == len(raw)
        assert out[i]["zlib_ratio"] == pytest.approx(
            round(len(zlib.compress(raw, 6)) / len(raw), 6), abs=1e-9)
    assert out[0]["zlib_ratio"] < out[1]["zlib_ratio"]
    assert out[0]["is_low_complexity"] is True
    assert out[1]["is_low_complexity"] is False


def test_quality_ensemble_bounds_and_component_agreement(spark, sf_dir):
    from prisma_migrator_spark.plans.llm import quality_ensemble_score_q

    out = quality_ensemble_score_q(spark, sf_dir).cache()
    n = out.count()
    assert n > 0
    stats = out.agg(F.min("ensemble").alias("lo"),
                    F.max("ensemble").alias("hi")).first()
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0
    # one doc_id per row (fusion never duplicates)
    assert out.select("doc_id").distinct().count() == n
    out.unpersist()


def test_corpus_clusters_recover_planted_clusters_and_labels(spark, tmp_path):
    """Two well-separated embedding clusters whose docs use disjoint
    vocabularies: the corpus map must put each group in one cluster
    and label it with that group's vocabulary."""
    import os

    from prisma_migrator_spark.plans.llm import corpus_clusters_labeled_q

    dim = 8
    rows_e, rows_d = [], []
    for i in range(12):
        hot = 0 if i < 6 else 4
        vec = [0.05 * ((i * 7 + d) % 3) for d in range(dim)]
        vec[hot] = 5.0
        vec[hot + 1] = 3.0
        rows_e.append((i, [float(x) for x in vec], hot))
        words = ("alpha beta gamma" if i < 6 else "delta epsilon zeta")
        rows_d.append((i, (words + " ") * 4, "en", "s", 40))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows_e, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    spark.createDataFrame(
        rows_d, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    out = corpus_clusters_labeled_q(spark, d).collect()
    # nonempty clusters cover all 12 docs
    assert sum(r["n_members"] for r in out) == 12
    big = [r for r in out if r["n_members"] > 0 and r["top_terms"]]
    # the two planted groups never share a cluster: no cluster's label
    # set mixes the two vocabularies
    va, vb = {"alpha", "beta", "gamma"}, {"delta", "epsilon", "zeta"}
    seen_a = seen_b = False
    for r in big:
        terms = set(r["top_terms"].split(","))
        assert not (terms & va and terms & vb), out
        seen_a = seen_a or bool(terms & va)
        seen_b = seen_b or bool(terms & vb)
    assert seen_a and seen_b, out


def test_hashed_doc_vectors_array_form_matches_sparse_and_separates_topics(
    spark, tmp_path
):
    import math
    import os

    from prisma_migrator_spark.llm.text import hashed_doc_vector_arrays
    from prisma_migrator_spark.plans.llm import hashed_doc_vectors_q

    rows = []
    for i in range(6):
        rows.append((i, "football goal striker penalty keeper " * 3,
                     "en", "s", 40))
    for i in range(6, 12):
        rows.append((i, "interest bond yield inflation market " * 3,
                     "en", "s", 40))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(f"{d}/documents.parquet")

    sparse = {(r["doc_id"], r["dim"]): r["weight"]
              for r in hashed_doc_vectors_q(spark, d).collect()}
    dense = {r["doc_id"]: list(r["embedding"])
             for r in hashed_doc_vector_arrays(df).collect()}
    # array form agrees with the oracle-gated sparse form
    for (doc, dim), w in sparse.items():
        assert dense[doc][dim] == pytest.approx(w, abs=1e-6)
    for doc, vec in dense.items():
        assert sum(x * x for x in vec) == pytest.approx(1.0, abs=1e-9)
        for dim, x in enumerate(vec):
            if abs(x) > 1e-12:
                assert (doc, dim) in sparse
    # same-topic cosine is ~1, cross-topic is lower (vectors are unit)
    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))
    assert cos(dense[0], dense[1]) == pytest.approx(1.0, abs=1e-9)
    assert cos(dense[6], dense[7]) == pytest.approx(1.0, abs=1e-9)
    assert cos(dense[0], dense[6]) < 0.8


def test_dataset_card_report_counts_and_dup_rate(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import dataset_card_report_q

    rows = [
        (0, "alpha beta gamma", "en", "sA", 17),
        (1, "alpha beta gamma", "en", "sA", 17),   # exact dup of 0
        (2, "ALPHA  beta GAMMA", "de", "sA", 17),  # normalized dup of 0
        (3, "unique text here", "en", "sA", 16),
        (4, "other source text", "fr", "sB", 17),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r["source"]: r for r in dataset_card_report_q(spark, d).collect()}
    a = out["sA"]
    assert a["n_docs"] == 4 and a["n_tokens"] == 12
    assert a["dup_rate"] == pytest.approx(0.5)  # docs 1 and 2 of 4
    assert a["n_langs"] == 2
    assert out["sB"]["dup_rate"] == pytest.approx(0.0)
    assert out["sB"]["p50_tokens"] == pytest.approx(3.0)


def test_lang_verification_flags_mislabels_and_nulls_unverifiable(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import lang_verification_q

    rows = [
        (0, "the cat and the dog is of no use to anyone", "en", "s", 40),
        (1, "der hund und die katze das ist gut", "en", "s", 35),  # mislabeled de
        (2, "el perro y la casa que es los gatos", "es", "s", 35),
        (3, "什么 都 没有", "zh", "s", 10),  # no marker list: unverifiable
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in lang_verification_q(spark, d).collect()}
    assert out[0]["lang_match"] is True and out[0]["lang_pred"] == "en"
    assert out[1]["lang_match"] is False and out[1]["lang_pred"] == "de"
    assert out[2]["lang_match"] is True
    assert out[3]["marker_ratio"] is None
    assert out[3]["lang_pred"] == "und"
    # markers in doc 0: the×2, and, is, of, to = 6 of 11 tokens
    assert out[0]["marker_ratio"] == pytest.approx(6 / 11, abs=1e-6)


def test_bpe_fertility_bounds_and_merge_monotonicity(spark, tmp_path):
    """Fertility is chars/word with zero learned structure and can
    only DECREASE as merges apply; it never drops below 1 token/word.
    The under-represented language ends up with higher fertility than
    the dominant one (the skewed-mixture effect the metric exists to
    expose)."""
    import os

    from prisma_migrator_spark.plans.llm import bpe_fertility_by_lang_q

    rows = []
    # dominant lang: one repeated word the trainer will fully merge
    for i in range(20):
        rows.append((i, "banana banana banana banana", "en", "s", 27))
    # rare lang: words the trainer never sees often enough to merge
    rows.append((20, "zq xv pw", "de", "s", 8))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r["lang"]: r for r in bpe_fertility_by_lang_q(spark, d).collect()}
    en, de = out["en"], out["de"]
    assert en["n_words"] == 80 and de["n_words"] == 3
    # 'banana' fully merged -> 1 token/word; 2-char rare words stay
    # character-fragmented -> fertility 2
    assert en["fertility"] == pytest.approx(1.0)
    assert de["fertility"] == pytest.approx(2.0)
    assert en["chars_per_token"] == pytest.approx(6.0)
    assert de["chars_per_token"] == pytest.approx(1.0)


def test_contrastive_triples_roles_and_margin(spark, sf_dir):
    from prisma_migrator_spark.plans.llm import contrastive_triples_q

    emb = load_table(spark, sf_dir, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    rows = contrastive_triples_q(spark, sf_dir).collect()
    assert rows
    per_anchor = {}
    for r in rows:
        # positive shares the anchor's label, negatives never do
        assert labels[r["positive_id"]] == labels[r["anchor_id"]]
        assert labels[r["negative_id"]] != labels[r["anchor_id"]]
        assert r["anchor_id"] not in (r["positive_id"], r["negative_id"])
        per_anchor.setdefault(r["anchor_id"], set()).add(r["neg_rank"])
    # every anchor carries exactly negatives ranked 1..3
    assert all(v == {1, 2, 3} for v in per_anchor.values())


def test_per_source_deciles_calibrate_within_each_source(spark, tmp_path):
    """A uniformly low-quality source still spreads over all deciles
    within itself — per-source calibration never lets a clean source
    crowd out a weak one (the failure mode of a global cut)."""
    import os

    from prisma_migrator_spark.plans.llm import quality_per_source_deciles_q

    rows = []
    for i in range(40):  # strong source: long, stopword-rich docs
        t = ("the and of to in is it for on with " * (3 + i % 5)).strip() + "."
        rows.append((i, t, "en", "good", len(t)))
    for i in range(40, 80):  # weak source: short token-salad docs
        t = " ".join(f"x{i}_{j}" for j in range(2 + i % 5))
        rows.append((i, t, "en", "bad", len(t)))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = quality_per_source_deciles_q(spark, d).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # both sources span low AND high deciles despite disjoint quality
    # (each fixture source has 5 distinct quality values, so ties
    # collapse adjacent deciles — bottom anchored at 1, top >= 9)
    for src, rs in by_src.items():
        deciles = {r["source_decile"] for r in rs}
        assert min(deciles) == 1 and max(deciles) >= 9, (src, sorted(deciles))
        assert len(deciles) >= 5
    # yet every 'good' doc outscores every 'bad' doc globally
    worst_good = min(r["quality"] for r in by_src["good"])
    best_bad = max(r["quality"] for r in by_src["bad"])
    assert worst_good > best_bad


def test_blocklist_filter_blocks_subdomains_not_lookalikes(spark):
    from prisma_migrator_spark.llm.urls import blocklist_filter

    urls = spark.createDataFrame(
        [
            (0, "https://bad.com/x"),
            (1, "https://cdn.bad.com/x"),          # subdomain: blocked
            (2, "https://a.b.cdn.bad.com/x"),      # deep subdomain: blocked
            (3, "https://notbad.com/x"),           # lookalike: kept
            (4, "https://bad.com.evil.org/x"),     # suffix spoof: kept
            (5, "https://good.com/x"),
        ],
        "doc_id long, canonical_url string",
    )
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    kept = {r["doc_id"] for r in blocklist_filter(urls, blocked).collect()}
    assert kept == {3, 4, 5}


def test_url_blocklist_survives_single_label_and_empty_hosts(spark):
    """ADVICE r7 regression: a <2-label host ('localhost', or the ''
    that url_domain yields for malformed URLs) must produce an EMPTY
    suffix array (row kept), not an INVALID_PARAMETER_VALUE.START
    crash from the descending F.sequence(0, -1) expansion."""
    from prisma_migrator_spark.llm.urls import blocklist_filter

    urls = spark.createDataFrame(
        [
            (0, "http://localhost/x"),          # single label
            (1, "not a url at all"),            # url_domain -> ''
            (2, "https://cdn.bad.com/x"),       # still blocked
            (3, "https://good.com/x"),
        ],
        "doc_id long, canonical_url string",
    )
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    kept = {r["doc_id"] for r in blocklist_filter(urls, blocked).collect()}
    assert kept == {0, 1, 3}


def test_mmr_topk_string_ids(spark):
    """ADVICE r7 regression: mmr_topk derives the cand_id schema from
    the corpus id column — string-typed ids must work end-to-end
    (the old hardcoded 'cand_id bigint' died in createDataFrame)."""
    from prisma_migrator_spark.llm.similarity import mmr_topk

    corpus = spark.createDataFrame(
        [
            ("docA", [1.0, 0.0]),
            ("docB", [0.99, 0.14]),   # near-dup of docA
            ("docC", [0.0, 1.0]),     # orthogonal
        ],
        "vec_id string, embedding array<double>",
    )
    out = mmr_topk(corpus, [0.8, 0.6], k=2, lam=0.5, fetch=3)
    assert out.schema["cand_id"].dataType.typeName() == "string"
    rows = out.orderBy("rank").collect()
    assert rows[0]["cand_id"] == "docB"  # highest relevance to probe
    assert rows[1]["cand_id"] == "docC"  # diversity beats the near-dup docA


def test_hashed_doc_vectors_zero_norm_docs_dropped(spark):
    """ADVICE r7 regression: a doc whose signed hashed TFs fully
    cancel (tokens 'w8' and 'w0' hash to the same bucket with
    opposite signs, tf 1 each) is DROPPED, not emitted as an
    all-NULL embedding that poisons downstream cosine math."""
    import hashlib

    from prisma_migrator_spark.llm.text import hashed_doc_vector_arrays

    def dim(t):
        return int(hashlib.md5(f"fh:{t}".encode()).hexdigest()[:15], 16) % 64

    def sgn(t):
        h = int(hashlib.md5(f"fhs:{t}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    assert dim("w8") == dim("w0") and sgn("w8") != sgn("w0")
    df = spark.createDataFrame(
        [(0, "w8 w0"), (1, "normal document text")],
        "doc_id long, text string",
    )
    out = hashed_doc_vector_arrays(df, dim=64).collect()
    assert [r["doc_id"] for r in out] == [1]
    emb = out[0]["embedding"]
    assert all(v is not None for v in emb)
    assert abs(sum(v * v for v in emb) - 1.0) < 1e-9


def test_semantic_dedup_drops_planted_duplicate_groups(spark, tmp_path):
    """Exact-duplicate embedding groups (identical vectors land in
    identical clusters under the deterministic argmax assignment)
    collapse to their min id: every other member is dropped with
    keeper = group min and cosine 1.0; near-orthogonal singletons
    survive untouched."""
    import os

    rows = []
    v1 = [0.0] * 12 + [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    v2 = [0.0] * 14 + [0.0, 1.0, 1.0, 0.0, 0.0, 0.0]
    for i in range(5):
        rows.append((i, "g1", v1))
    for i in range(5, 10):
        rows.append((i, "g2", v2))
    for j in range(10, 22):  # one-hot singletons on dims 0-11, all
        v = [0.0] * 20        # orthogonal to v1 (dims 12-13), v2 (15-16)
        v[j - 10] = 1.0
        rows.append((j, "solo", v))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).write.parquet(f"{d}/embeddings.parquet")
    from prisma_migrator_spark.plans import QUERIES

    out = {r["dropped_id"]: r for r in QUERIES["semantic_dedup_drops"](spark, d).collect()}
    for i in (1, 2, 3, 4):
        assert out[i]["keeper_id"] == 0 and out[i]["cosine"] == 1.0
    for i in (6, 7, 8, 9):
        assert out[i]["keeper_id"] == 5 and out[i]["cosine"] == 1.0
    # v1/v2 overlap dims are disjoint and singletons are orthogonal:
    # nothing else is dropped, and every drop names a smaller keeper
    assert set(out) == {1, 2, 3, 4, 6, 7, 8, 9}
    assert all(r["keeper_id"] < did for did, r in out.items())


def test_source_unigram_jsd_extremes(spark, tmp_path):
    """Analytic extremes: two sources with IDENTICAL unigram
    distributions score jsd 0.0; two with disjoint vocabularies score
    exactly ln 2; a half-overlapping pair lands strictly between."""
    import math
    import os

    rows = []
    for i in range(6):
        rows.append((i, "twin_a", "alpha beta gamma delta"))
        rows.append((10 + i, "twin_b", "alpha beta gamma delta"))
        rows.append((20 + i, "disjoint", "epsilon zeta eta theta"))
        rows.append((30 + i, "half", "alpha beta epsilon zeta"))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, s, t) for (i, s, t) in rows],
        "doc_id long, source string, text string",
    ).write.parquet(f"{d}/documents.parquet")
    from prisma_migrator_spark.plans import QUERIES

    out = {
        (r["source_a"], r["source_b"]): r["jsd"]
        for r in QUERIES["source_unigram_jsd"](spark, d).collect()
    }
    assert len(out) == 6  # C(4,2) unordered pairs
    assert out[("twin_a", "twin_b")] == 0.0
    assert abs(out[("disjoint", "twin_a")] - math.log(2)) < 1e-6
    assert 0.0 < out[("half", "twin_a")] < math.log(2) - 1e-3
    assert out[("disjoint", "half")] < out[("disjoint", "twin_a")]


def test_kmeans_silhouette_separated_beats_blob(spark, tmp_path):
    """Silhouette measures cohesion/separation without labels: a
    corpus of orthogonal direction groups scores near-perfect
    cohesion (measured 0.9998), a single jittered blob scores
    mid-range (measured 0.53 — silhouette is scale-free, so even a
    tight blob's relative ratios stay positive; the SEPARATION is
    what the signal reads). Bounds hold on both."""
    import hashlib
    import os

    from prisma_migrator_spark.plans import QUERIES

    def jit(i, d):
        return int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16) / 655360.0

    def corpus(kind):
        rows = []
        for i in range(24):
            if kind == "separated":
                v = [jit(i, d) for d in range(16)]
                v[i % 8] += 4.0
            else:
                v = [1.0 + jit(i, d) for d in range(16)]
            rows.append((i, f"g{i % 8}", v))
        return rows

    means = {}
    for kind in ("separated", "blob"):
        d = str(tmp_path / kind)
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            corpus(kind), "vec_id long, label string, embedding array<double>"
        ).write.parquet(f"{d}/embeddings.parquet")
        rows = QUERIES["kmeans_silhouette"](spark, d).collect()
        assert sum(r["n_members"] for r in rows) == 24
        assert all(-1.0 <= r["mean_silhouette"] <= 1.0 for r in rows)
        means[kind] = sum(
            r["n_members"] * r["mean_silhouette"] for r in rows
        ) / 24.0
    assert means["separated"] > 0.95, means
    assert means["blob"] < 0.7, means
    assert means["separated"] > means["blob"]


def test_cross_doc_ngram_dup_counts_cross_doc_only(spark, tmp_path):
    """The duplicated-window fraction counts grams shared with OTHER
    docs: two docs sharing exactly one 5-gram each score 1/4; a doc
    that repeats ITS OWN gram three times scores 0 (intra-doc
    repetition is gopher_repetition_flags' job, df counts distinct
    docs); a unique doc scores 0."""
    import os

    rows = [
        (0, "a b c d e f g h"),       # 4 windows, shares 'a b c d e' w/ doc 1
        (1, "a b c d e x y z"),       # 4 windows, same share
        (2, "p q r s t u"),           # 2 windows, unique
        (3, "m n o p q m n o p q m n o p q"),  # self-repeats only
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    from prisma_migrator_spark.plans import QUERIES

    out = {r["doc_id"]: r for r in QUERIES["cross_doc_ngram_dup"](spark, d).collect()}
    assert out[0]["dup_ngram_frac"] == 0.25 and out[0]["n_windows"] == 4
    assert out[1]["dup_ngram_frac"] == 0.25
    assert out[2]["dup_ngram_frac"] == 0.0
    assert out[3]["dup_ngram_frac"] == 0.0 and out[3]["n_windows"] == 11
    assert not any(r["flagged"] for r in out.values())


def test_dedup_savings_attributes_tokens_not_docs(spark, tmp_path):
    """A source whose duplicates are its LONG docs shows a token
    share far above its doc-count dup rate — the distinction this
    report exists for. Exact dups are counted, near-dups (high
    shingle overlap, not byte-identical) add on top."""
    import os

    long = ("alpha beta gamma delta epsilon zeta eta theta " * 8).strip()
    rows = [
        (0, long, "en", "sA", len(long)),
        (1, long, "en", "sA", len(long)),             # exact dup: long
        (2, long + " coda", "en", "sA", len(long)),   # near dup: long
        (3, "tiny doc here", "en", "sA", 13),
        (4, "other corpus text entirely", "en", "sB", 26),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    from prisma_migrator_spark.plans.llm import dedup_savings_report_q

    out = {r["source"]: r for r in dedup_savings_report_q(spark, d).collect()}
    a = out["sA"]
    n_long = len(long.split())
    assert a["exact_dup_tokens"] == n_long            # doc 1 only
    assert a["near_dup_tokens"] == 2 * n_long + 1     # docs 1 and 2
    # token share ~2/3 vs doc-count dup rate 1/2 (2 of 4 docs)
    assert a["near_dup_token_share"] > 0.6
    assert out["sB"]["near_dup_tokens"] == 0


def test_scrub_intradoc_repeats_constructed(spark, tmp_path):
    import hashlib
    import os

    from prisma_migrator_spark.plans.llm import scrub_intradoc_repeats_q

    rows = [
        # "a b c" repeats at pos 3: positions 3,4,5 drop -> "a b c" kept
        (0, "a b c a b c", "en", "s", 11),
        # no trigram repeats: untouched
        (1, "one two three four", "en", "s", 18),
        # shorter than a trigram: untouched
        (2, "x y", "en", "s", 3),
        # chatbot-style stuffing: "buy now ok" x4 -> only first survives
        (3, "buy now ok buy now ok buy now ok buy now ok", "en", "s", 43),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in scrub_intradoc_repeats_q(spark, d).collect()}

    def fp(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert out[0]["n_removed"] == 3
    assert out[0]["scrubbed_fp"] == fp("a b c")
    assert out[1]["n_removed"] == 0
    assert out[1]["scrubbed_fp"] == fp("one two three four")
    assert out[2]["n_removed"] == 0 and out[2]["scrubbed_fp"] == fp("x y")
    assert out[3]["n_removed"] == 9
    assert out[3]["scrubbed_fp"] == fp("buy now ok")


def test_streaming_token_budget_matches_greedy_and_bounds_state(
    spark, tmp_path
):
    """Fed in two micro-batches, per-source admission equals the pure
    greedy fold over doc_id order; a too-big doc is skipped without
    blocking later smaller docs; state is one counter per source."""
    from prisma_migrator_spark.streaming.jobs import run_to_parquet
    from prisma_migrator_spark.streaming.stateful import (
        streaming_token_budget,
    )

    budget = 100
    rows = []
    for i in range(40):
        src_name = f"s{i % 3}"
        toks = 7 + (i * 13) % 40  # 7..46, source-interleaved
        rows.append((i, src_name, toks))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def drain():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        run_to_parquet(
            streaming_token_budget(stream, budget_tokens=budget), out, ckpt
        )

    docs.where(F.col("doc_id") < 20).write.parquet(src)
    drain()
    docs.where(F.col("doc_id") >= 20).write.mode("append").parquet(src)
    drain()

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}

    # pure-Python greedy reference over doc_id order per source
    consumed = {}
    expected = {}
    for i, src_name, toks in sorted(rows):
        c = consumed.get(src_name, 0)
        if c + toks <= budget:
            consumed[src_name] = c + toks
            expected[i] = (src_name, toks, c + toks)
    assert set(got) == set(expected)
    for i, (src_name, toks, after) in expected.items():
        g = got[i]
        assert (g["source"], g["n_tokens"], g["consumed_after"]) == (
            src_name, toks, after
        ), i
    # every source admitted <= budget and skipped at least one doc
    for src_name, c in consumed.items():
        assert c <= budget
    assert len(expected) < len(rows)


def test_cluster_label_agreement_extremes_and_python_parity(spark, tmp_path):
    """Planted perfectly-separable clusters whose labels track the
    cluster structure: purity and NMI must be 1.0; the NMI formula is
    additionally cross-checked against a pure-Python computation of
    the same contingency table."""
    import math
    import os

    from prisma_migrator_spark.plans.llm import cluster_label_agreement_q

    dim = 8
    rows_e = []
    for i in range(24):
        hot = (i % 4) * 2  # four well-separated directions
        vec = [0.0] * dim
        vec[hot] = 5.0
        vec[hot + 1] = 2.0 + 0.01 * (i % 3)
        rows_e.append((i, [float(x) for x in vec], i % 4))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows_e, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    out = cluster_label_agreement_q(spark, d).collect()
    assert sum(r["n_members"] for r in out) == 24
    # every nonempty cluster is pure; NMI is high but < 1 exactly when
    # k=8 splits a true group across clusters (H(C) > H(L)) — the
    # pure-Python parity below pins the exact value either way
    for r in out:
        assert r["cluster_purity"] == pytest.approx(1.0)
    assert 0.8 <= out[0]["nmi"] <= 1.0

    # python NMI parity on the emitted contingency (cluster -> label)
    n = 24
    by_cluster = {r["cluster_id"]: (r["n_members"], r["majority_label"])
                  for r in out}
    # pure clusters: contingency is diagonal-like
    p_c = [m / n for m, _ in by_cluster.values()]
    from collections import Counter
    lab_tot = Counter()
    for m, lab in by_cluster.values():
        lab_tot[lab] += m
    p_l = [v / n for v in lab_tot.values()]
    h_c = -sum(p * math.log(p) for p in p_c)
    h_l = -sum(p * math.log(p) for p in p_l)
    mi = 0.0
    for m, lab in by_cluster.values():
        p_cl = m / n
        mi += p_cl * math.log(p_cl / ((m / n) * (lab_tot[lab] / n)))
    ref = mi / math.sqrt(h_c * h_l)
    assert out[0]["nmi"] == pytest.approx(round(ref, 6), abs=1e-6)


def test_cross_source_syndication_maps_content_flow(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import cross_source_syndication_q

    wire = ("breaking news about the merger of two large firms today "
            * 3).strip()
    rows = [
        (0, wire, "en", "wire", len(wire)),
        (1, wire + " updated", "en", "mirrorA", len(wire)),  # syndicated
        (2, wire + " again", "en", "mirrorB", len(wire)),    # syndicated
        (3, "completely different local story here about weather",
         "en", "wire", 50),
        (4, "another unrelated piece entirely on sports results",
         "en", "mirrorA", 50),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    got = {(r["source_a"], r["source_b"]): r["n_pairs"]
           for r in cross_source_syndication_q(spark, d).collect()}
    # the wire story pairs with both mirrors; mirrors pair with each
    # other; no unrelated-doc pair appears anywhere
    assert got.get(("mirrorA", "wire")) == 1
    assert got.get(("mirrorB", "wire")) == 1
    assert got.get(("mirrorA", "mirrorB")) == 1
    assert sum(got.values()) == 3


def test_temperature_sample_downsamples_toward_flatter_mixture(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import temperature_mixture_sample_q

    rows = []
    i = 0
    for _ in range(400):  # dominant source: 400 docs x 10 tokens
        rows.append((i, "tok " * 10, "en", "big", 40)); i += 1
    for _ in range(20):   # small source: 20 docs x 10 tokens
        rows.append((i, "tok " * 10, "en", "small", 40)); i += 1
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    kept = temperature_mixture_sample_q(spark, d).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    # the small source keeps everything (boost >= 1 capped to rate 1)
    assert len(by_src["small"]) == 20
    assert by_src["small"][0]["rate"] == pytest.approx(1.0)
    # the big source is thinned by exactly its n^0.3 boost
    w_big, w_small = 4000 ** 0.3, 200 ** 0.3
    expected_rate = (w_big / (w_big + w_small)) / (4000 / 4200)
    big_rate = by_src["big"][0]["rate"]
    assert big_rate == pytest.approx(round(expected_rate, 6), abs=1e-6)
    n_big = len(by_src["big"])
    assert 0.7 * big_rate * 400 <= n_big <= 1.3 * big_rate * 400


def test_documents_dq_report_structural_clean_policy_fires(spark, sf_dir):
    from prisma_migrator_spark.plans.profiling import documents_dq_report_q

    out = {r["rule"]: r for r in documents_dq_report_q(spark, sf_dir).collect()}
    assert set(out) == {
        "text_nonempty", "n_chars_consistent", "lang_in_domain",
        "source_wellformed", "min_length_100_chars", "min_20_tokens",
    }
    # structural invariants hold on the fixture
    for rule in ("text_nonempty", "n_chars_consistent",
                 "lang_in_domain", "source_wellformed"):
        assert out[rule]["n_violations"] == 0, rule
    # the policy rules fire on the short tail (report is non-vacuous)
    assert out["min_20_tokens"]["n_violations"] > 0
    n = out["text_nonempty"]["n_rows"]
    assert all(r["n_rows"] == n for r in out.values())


def test_mmr_prefers_diverse_results_over_near_dup_pool(spark):
    """Candidate pool: a tight near-dup cluster around the probe plus
    a slightly-less-relevant but diverse set. Plain top-k fills with
    the clones; MMR at lambda=0.7 mixes in the diverse directions."""
    import math

    from prisma_migrator_spark.llm.similarity import mmr_topk, topk_bruteforce

    dim = 8
    rows = []
    # a tight clone cluster near (not on) the probe: rel ~0.95,
    # intra-cluster cosine ~1 (ids 1..6)
    for i in range(1, 7):
        v = [0.0] * dim
        v[0] = 0.95
        v[7] = 0.312 + 0.0005 * i
        rows.append((i, v))
    # diverse candidates: rel ~0.85 but spread over orthogonal axes,
    # so their redundancy to the cluster (~0.81) < their relevance
    for j, i in enumerate(range(7, 11)):
        v = [0.0] * dim
        v[0] = 0.85
        v[1 + j] = -0.527
        rows.append((i, v))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    probe = [0.0] * dim
    probe[0] = 1.0

    # lam=0.6: clone #2 scores 0.6*0.95 - 0.4*1.0 = 0.17; a diverse
    # candidate scores 0.6*0.85 - 0.4*0.81 = 0.19 -> diversity wins
    out = mmr_topk(emb, probe, k=5, lam=0.6, fetch=10).collect()
    got_ids = [r["cand_id"] for r in out]
    assert len(got_ids) == 5 and got_ids[0] in {1, 2, 3, 4, 5, 6}
    # the four diverse candidates displace the redundant clones
    assert len(set(got_ids) & {7, 8, 9, 10}) == 4
    # plain exact top-5 takes clones only (the failure MMR fixes)
    probes = spark.createDataFrame(
        [(0, [float(x) for x in probe])], "vec_id long, embedding array<double>"
    )
    plain = {r["neighbor_id"]
             for r in topk_bruteforce(emb, probes, k=5).collect()}
    assert plain <= {1, 2, 3, 4, 5, 6}
    # deterministic across invocations
    again = [r["cand_id"] for r in mmr_topk(emb, probe, k=5, lam=0.6,
                                            fetch=10).collect()]
    assert again == got_ids


def test_augmented_pairs_deterministic_dropout_near_rate(spark, tmp_path):
    import hashlib
    import os

    from prisma_migrator_spark.plans.llm import augmented_positive_pairs_q

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(100)), "en", "s", 400)
            for i in range(20)]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in
           augmented_positive_pairs_q(spark, d).collect()}
    # overall drop rate near 15% over 2000 draws
    dropped = sum(r["n_dropped"] for r in out.values())
    assert 0.10 * 2000 <= dropped <= 0.20 * 2000
    # reproduce doc 0's mask in pure python (same md5 recipe)
    toks = rows[0][1].split()
    kept = [
        t for j, t in enumerate(toks)
        if int(hashlib.md5(f"aug:0:{j}".encode()).hexdigest()[:15], 16)
        / 1152921504606846976.0 >= 0.15
    ]
    assert out[0]["aug_fp"] == hashlib.md5(" ".join(kept).encode()).hexdigest()
    assert out[0]["n_dropped"] == len(toks) - len(kept)
    # determinism across invocations
    again = {r["doc_id"]: r["aug_fp"]
             for r in augmented_positive_pairs_q(spark, d).collect()}
    assert again == {k: v["aug_fp"] for k, v in out.items()}


def test_pii_context_report_positions_and_windows(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import pii_context_report_q

    rows = [(7, "alpha beta gamma delta", "en", "s", 22)]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r["kind"]: r for r in pii_context_report_q(spark, d).collect()}
    assert set(out) == {"email", "ssn", "ipv4"}
    # augmented token stream: alpha beta gamma delta ping user7@...
    # then 10.7.3.7 ssn 123-45-6789 thanks team  (0-based positions)
    assert out["email"]["pos"] == 5
    assert out["email"]["context"] == (
        "gamma delta ping user7@example.com then 10.7.3.7 ssn"
    )
    assert out["ipv4"]["pos"] == 7
    assert out["ssn"]["pos"] == 9
    # tail window clips at the end of the doc
    assert out["ssn"]["context"].endswith("thanks team")


def test_classifier_holdout_auc_generalizes_on_separable_corpus(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import classifier_holdout_auc_q

    rows = []
    for i in range(60):  # separable: stopword-rich prose vs token salad
        good = ("the and of to in is it for on with " * (4 + i % 3)).strip() + "."
        rows.append((2 * i, good, "en", "s", len(good)))
        bad = " ".join(f"q{i}_{j}" for j in range(4 + i % 3))
        rows.append((2 * i + 1, bad, "en", "s", len(bad)))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = classifier_holdout_auc_q(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    # both classes present in the ~20% held-out split, and the model
    # trained WITHOUT those docs still separates them
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    assert r["auc"] >= 0.9, r


def test_ann_recall_report_shape_and_planted_cluster_floor(spark, tmp_path):
    """On planted well-separated clusters the report reads high
    recall for IVF (the pruning index whose cells align with real
    cluster structure); all recalls are valid fractions."""
    import os

    from prisma_migrator_spark.plans.llm import ann_recall_report_q

    dim, rows = 16, []
    for i in range(64):
        hot = (i % 4) * 4
        v = [0.01 * ((i + d) % 5) for d in range(dim)]
        v[hot] = 4.0
        v[hot + 1] = 2.0 + 0.05 * (i % 7)
        rows.append((i, [float(x) for x in v], i % 4))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    out = {r["method"]: r for r in ann_recall_report_q(spark, d).collect()}
    assert set(out) == {"lsh", "ivf", "pq"}
    for r in out.values():
        assert 0.0 <= r["recall_at_5"] <= 1.0
        assert r["n_probes"] == 10
    assert out["ivf"]["recall_at_5"] >= 0.6, out


def test_quality_ks_drift_matches_scipy_style_reference(spark, tmp_path):
    """KS on constructed cohorts equals the classic pure-Python
    two-sample statistic; identical cohorts read 0, disjoint read 1."""
    import os

    from prisma_migrator_spark.plans.llm import quality_ks_drift_q
    from prisma_migrator_spark.llm.text import quality_score

    rows = []
    for i in range(30):  # cohort A (src0..9): varied lengths
        t = ("the and of to " * (1 + i % 7)).strip()
        rows.append((i, t, "en", f"src{i % 10}", len(t)))
    for i in range(30, 60):  # cohort B (src10..19): different lengths
        t = ("word salad here now " * (2 + i % 5)).strip()
        rows.append((i, t, "en", f"src{10 + i % 10}", len(t)))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(f"{d}/documents.parquet")
    got = quality_ks_drift_q(spark, d).collect()[0]
    assert got["n_a"] == 30 and got["n_b"] == 30

    # pure-python two-sample KS over the same 6dp-rounded scores
    qs = {r["doc_id"]: r["q"] for r in df.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("q")
    ).collect()}
    a = sorted(qs[i] for i in range(30))
    b = sorted(qs[i] for i in range(30, 60))
    grid = sorted(set(a) | set(b))
    def ecdf(xs, v):
        return sum(1 for x in xs if x <= v) / len(xs)
    ref = max(abs(ecdf(a, v) - ecdf(b, v)) for v in grid)
    assert got["ks_stat"] == pytest.approx(round(ref, 6), abs=1e-6)


def test_doc_keywords_surface_distinctive_terms(spark, tmp_path):
    import os

    from prisma_migrator_spark.plans.llm import doc_keywords_q

    common = "the quick brown fox jumps over lazy dogs daily " * 2
    rows = [
        (0, common + "zygote zygote zygote", "en", "s", 100),
        (1, common + "quasar quasar quasar", "en", "s", 100),
        (2, common.strip(), "en", "s", 90),
    ]
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {}
    for r in doc_keywords_q(spark, d).collect():
        out.setdefault(r["doc_id"], []).append((r["rnk"], r["term"]))
    # the doc-unique term wins rank 1; shared terms have IDF 0 and
    # never outrank it
    assert sorted(out[0])[0] == (1, "zygote")
    assert sorted(out[1])[0] == (1, "quasar")
    assert all(len(v) <= 5 for v in out.values())


def test_symspell_finds_corrections_not_lookalikes(spark):
    """Deletion-key join machinery on a hand corpus: a typo meets its
    edit-distance-1 corrections through shared deletion keys; words
    at distance 2+ never survive verification."""
    from prisma_migrator_spark.plans.llm import symspell_candidates_q  # noqa: F401
    # exercise the underlying join shape directly via a local frame
    from pyspark.sql import functions as SF

    vocab = spark.createDataFrame(
        [("spark", 10), ("spars", 4), ("sparse", 3), ("shark", 5),
         ("python", 9)],
        "term string, freq long",
    )
    probes = spark.createDataFrame([("spak",), ("pythn",)],
                                   "probe string")

    def keys(col):
        return SF.expr(
            f"array_append(transform(sequence(1, length({col})), "
            f"i -> concat(substring({col}, 1, i - 1), "
            f"substring({col}, i + 1, length({col})))), {col})"
        )

    vk = vocab.select("term", SF.explode(keys("term")).alias("k"))
    pk = probes.select("probe", SF.explode(keys("probe")).alias("k")).distinct()
    dist = SF.levenshtein("probe", "term", 1)
    got = {
        (r["probe"], r["term"])
        for r in pk.join(vk, "k").select("probe", "term").distinct()
        .where((dist >= 0) & (dist <= 1)).collect()
    }
    assert ("spak", "spark") in got       # insertion fix
    assert ("pythn", "python") in got
    assert ("spak", "shark") not in got   # distance 2: rejected
    assert ("spak", "sparse") not in got


def test_pmi_surfaces_collocations_over_frequent_pairs(spark, tmp_path):
    """'hong kong' (always together) must out-PMI 'the cat' (both
    frequent but independent) even when the latter pair occurs more
    often."""
    import os

    rows = []
    for i in range(10):
        t = ("hong kong is nice . " * 1
             + "the cat sat . the dog sat . the sun set . " * 3).strip()
        rows.append((i, t, "en", "s", len(t)))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    from prisma_migrator_spark.plans.llm import term_pmi_pairs_q

    out = {(r["w1"], r["w2"]): r for r in term_pmi_pairs_q(spark, d).collect()}
    assert ("hong", "kong") in out
    hk = out[("hong", "kong")]
    # 'hong kong' is rarer than 'the cat' yet scores higher PMI
    the_cat = out.get(("the", "cat"))
    assert the_cat is None or hk["pmi"] > the_cat["pmi"]
    assert the_cat is None or hk["c"] < the_cat["c"]


def test_semantic_contamination_detects_paraphrase_level_leaks(spark, tmp_path):
    import os

    dim = 8
    rows = []
    # eval ids 0..2; train ids 25..27
    base = [1.0, 0.5] + [0.0] * (dim - 2)
    rows.append((0, base, 0))                       # eval: leaked
    rows.append((1, [0.0] * 7 + [1.0], 0))          # eval: clean
    rows.append((2, [0.0, 1.0] + [0.0] * 6, 0))     # eval: clean-ish
    near = list(base)
    near[2] = 0.05                                  # paraphrase-level
    rows.append((25, near, 1))
    rows.append((26, [0.0, 0.0, 1.0] + [0.0] * 5, 1))
    rows.append((27, [0.3] * dim, 1))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{d}/embeddings.parquet")
    from prisma_migrator_spark.plans.llm import (
        semantic_contamination_report_q,
    )

    out = {r["eval_id"]: r
           for r in semantic_contamination_report_q(spark, d).collect()}
    assert out[0]["n_contaminating"] >= 1 and out[0]["max_cosine"] > 0.99
    assert out[1]["n_contaminating"] == 0
    assert out[2]["n_contaminating"] == 0


def test_merge_phrases_fold_matches_python_reference(spark):
    from prisma_migrator_spark.llm.text import merge_phrases

    phrases = [("hong", "kong"), ("new", "york"), ("york", "city")]
    cases = [
        "hong kong is far from new york city today",
        "hong hong kong kong",
        "new york york city",   # left-to-right: new_york then york? no —
        "plain words only",
    ]

    def ref(toks):
        out = []
        pset = {f"{a} {b}" for a, b in phrases}
        for w in toks:
            if out and f"{out[-1]} {w}" in pset:
                out[-1] = f"{out[-1]}_{w}"
            else:
                out.append(w)
        return out

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    ).select(
        "doc_id",
        merge_phrases(F.split(F.lower(F.trim("text")), r"\s+"),
                      phrases).alias("m"),
    )
    got = {r["doc_id"]: list(r["m"]) for r in df.collect()}
    for i, t in enumerate(cases):
        assert got[i] == ref(t.split()), (i, got[i])
    # the fused token never re-merges: "new york york city" gives
    # new_york then york_city (left-to-right greedy)
    assert got[2] == ["new_york", "york_city"]


def test_isotonic_calibration_matches_pure_python_pav(spark):
    from prisma_migrator_spark.operators.metrics import isotonic_calibrate

    # scores with a deliberate violation: mid scores have HIGHER pos
    # rate than high scores, forcing a pool
    rows = []
    data = [
        (0.1, [0, 0, 0, 1]),     # 25%
        (0.3, [0, 1, 1, 1]),     # 75% (violates vs 0.5's 50%)
        (0.5, [0, 0, 1, 1]),     # 50%
        (0.9, [1, 1, 1, 1]),     # 100%
    ]
    i = 0
    for s, labs in data:
        for y in labs:
            rows.append((i, s, y)); i += 1
    df = spark.createDataFrame(rows, "id long, score double, label int")
    got = [(r["score_lo"], r["score_hi"], r["n"], r["calibrated_p"])
           for r in isotonic_calibrate(df).collect()]

    # pure-python PAV over the same distinct-score blocks
    blocks = []
    for s, labs in data:
        blocks.append([s, s, len(labs), sum(labs)])
        while len(blocks) >= 2 and (
            blocks[-2][3] / blocks[-2][2] >= blocks[-1][3] / blocks[-1][2]
        ):
            lo, _, n1, p1 = blocks[-2]
            _, hi, n2, p2 = blocks[-1]
            blocks[-2:] = [[lo, hi, n1 + n2, p1 + p2]]
    ref = [(lo, hi, n, round(p / n, 6)) for lo, hi, n, p in blocks]
    assert got == ref
    # pooling happened (0.3 and 0.5 merged) and the map is monotone
    assert len(got) < len(data)
    ps = [p for *_, p in got]
    assert ps == sorted(ps)
    los = [lo for lo, *_ in got]
    assert los == sorted(los)


def test_dim_truncation_recall_full_dim_is_one_and_frontloaded_wins(
    spark, tmp_path
):
    """Full-dim recall is exactly 1; embeddings whose information
    lives in the FIRST dims (MRL-style) keep recall at small d."""
    import os

    from prisma_migrator_spark.plans.llm import dim_truncation_recall_q

    rows = []
    for i in range(40):
        hot = (i % 4) * 2  # structure entirely inside dims 0..7
        v = [0.0] * 64
        v[hot] = 3.0
        v[hot + 1] = 1.0 + 0.01 * (i % 9)
        rows.append((i, [float(x) for x in v], i % 4))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    out = {r["dim"]: r["recall_at_5"]
           for r in dim_truncation_recall_q(spark, d).collect()}
    assert set(out) == {8, 16, 32, 64}
    assert out[64] == pytest.approx(1.0)
    # all signal is in the first 8 dims: truncation loses nothing
    assert out[8] == pytest.approx(1.0)


# --- two-level clustering (VERDICT r8 item 1) -----------------------------


def test_two_level_cluster_assign_covers_and_bounds(spark, sf_dir):
    """Every vector gets exactly one cluster; a tiny target forces
    real fine splitting and cell sizes stay near the target (the
    SemDeDup Σ cluster² bound the two-level dial exists to hold)."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.similarity import (
        two_level_cluster_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out = two_level_cluster_assign(emb, n=n, target=20, iters=2)
    assert out.count() == n  # total function: one row per vector
    assert out.select("vec_id").distinct().count() == n
    sizes = [
        r.n
        for r in out.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert sum(sizes) == n
    # fine splitting actually happened: more cells than the 8 coarse
    assert len(sizes) > 8
    # Lloyd reassignment can drift members between fine cells, but no
    # cell should blow past a few multiples of the target
    assert max(sizes) <= 20 * 6


def test_two_level_cluster_assign_deterministic(spark, sf_dir):
    """Two runs produce byte-identical assignments (md5 seeds + 12dp
    snaps on refreshed means and assignment cosines — the --twice
    discipline for the scale zone, where no oracle checks it)."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.similarity import (
        two_level_cluster_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    def run():
        return {
            r.vec_id: r.cluster_id
            for r in two_level_cluster_assign(
                emb, n=n, target=20, iters=2
            )
            .select("vec_id", "cluster_id")
            .collect()
        }

    assert run() == run()


def test_kmeans_centroid_refresh_snaps_to_12dp():
    """ADVICE r8: refreshed centroid means must round to 12dp so the
    SQL unroll (same ROUND) sees bit-identical argmax inputs — pin
    the Spark side of the contract on a synthetic frame whose mean
    is not 12dp-exact."""
    from pyspark.sql import SparkSession

    from prisma_migrator_spark.llm.similarity import (
        train_ivf_centroids,
    )

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    # three 1-d vectors whose mean 1.1/3 is not 12dp-exact
    df = spark.createDataFrame(
        [(1, [0.1]), (2, [0.5]), (3, [0.5])],
        "vec_id int, embedding array<double>",
    )
    cents = train_ivf_centroids(df, n_centroids=1, iters=1)
    for c in cents:
        for x in c:
            assert x == round(x, 12)
