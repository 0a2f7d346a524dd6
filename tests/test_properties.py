"""Property-based tests (hypothesis): engine operators vs trivial
Python reference implementations on adversarial random inputs."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from prisma_migrator_spark.llm.text import normalized_text, rolling_fingerprint
from prisma_migrator_spark.operators.dedup import latest_per_key

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # key
        st.integers(min_value=0, max_value=20),  # ts (ties likely)
        st.integers(min_value=0, max_value=9),   # tiebreaker (ties likely)
        st.text(alphabet="abc", max_size=3),     # payload
    ),
    min_size=1,
    max_size=40,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS)
@_SETTINGS
def test_latest_per_key_matches_python_reference(spark, rows):
    df = spark.createDataFrame(rows, "k int, ts int, tb int, v string")
    got = {
        r.k: (r.ts, r.tb, r.v)
        for r in latest_per_key(df, ["k"], "ts", tiebreakers=["tb", "v"]).collect()
    }
    exp: dict[int, tuple] = {}
    for k, ts, tb, v in rows:
        if k not in exp or (ts, tb, v) > exp[k]:
            exp[k] = (ts, tb, v)
    assert got == exp


WORDS = st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=5), min_size=1, max_size=12)


@given(words=WORDS, pad=st.integers(min_value=1, max_value=3))
@_SETTINGS
def test_rolling_fingerprint_whitespace_invariant(spark, words, pad):
    tight = " ".join(words)
    loose = (" " * pad) + (" " * pad).join(words) + (" " * pad)
    df = spark.createDataFrame([(tight, loose)], "a string, b string")
    row = df.select(
        rolling_fingerprint(F.col("a")).alias("fa"),
        rolling_fingerprint(F.col("b")).alias("fb"),
        normalized_text(F.col("a")).alias("na"),
        normalized_text(F.col("b")).alias("nb"),
    ).collect()[0]
    assert row.na == row.nb
    assert row.fa == row.fb


@given(words=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=2, max_size=8))
@_SETTINGS
def test_rolling_fingerprint_is_order_sensitive_unlike_md5_of_set(spark, words):
    # rotating the token stream changes the rolling hash unless the
    # rotation is a no-op (all tokens equal / full period)
    rotated = words[1:] + words[:1]
    df = spark.createDataFrame(
        [(" ".join(words), " ".join(rotated))], "a string, b string"
    )
    row = df.select(
        rolling_fingerprint(F.col("a")).alias("fa"),
        rolling_fingerprint(F.col("b")).alias("fb"),
    ).collect()[0]
    if words != rotated:
        assert row.fa != row.fb
    else:
        assert row.fa == row.fb


LENS = st.lists(
    st.integers(min_value=0, max_value=40),  # token counts, zeros likely
    min_size=1,
    max_size=30,
)


@given(lens=LENS, ctx=st.integers(min_value=4, max_value=16))
@_SETTINGS
def test_pack_stream_matches_python_reference(spark, lens, ctx):
    from prisma_migrator_spark.llm.packing import pack_stream

    rows = [(i, n) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = {
        (r.doc_id, r.pack_id): (r.start_in_pack, r.tok_start, r.span_len)
        for r in pack_stream(df, ctx=ctx, n_buckets=3).collect()
    }
    # reference: walk the concatenated stream doc by doc
    exp = {}
    off = 0
    for i, n in rows:
        if n < 1:
            continue
        for p in range(off // ctx, (off + n - 1) // ctx + 1):
            s = max(off, p * ctx)
            e = min(off + n, (p + 1) * ctx)
            exp[(i, p)] = (s - p * ctx, s - off, e - s)
        off += n
    assert got == exp


@given(lens=LENS, ctx=st.integers(min_value=4, max_value=16))
@_SETTINGS
def test_pack_greedy_invariants_random(spark, lens, ctx):
    from prisma_migrator_spark.llm.packing import pack_greedy

    rows = [(i, n) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    packed = pack_greedy(df, ctx=ctx, n_buckets=3).collect()
    live = [(i, n) for i, n in rows if n >= 1]
    assert sorted((r.doc_id, r.n_tokens) for r in packed) == sorted(live)
    fills: dict[int, list[int]] = {}
    for r in packed:
        fills.setdefault(r.pack_id, []).append(r.n_tokens)
    for members in fills.values():
        # only a singleton oversize doc may exceed ctx
        assert sum(members) <= ctx or (
            len(members) == 1 and members[0] >= ctx
        )


DOCS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]),  # tiny vocab => many
        min_size=0, max_size=14,                    # shared windows
    ),
    min_size=1,
    max_size=10,
)


@given(docs=DOCS, k=st.integers(min_value=2, max_value=4),
       stride=st.integers(min_value=1, max_value=3))
@_SETTINGS
def test_repeated_span_stats_matches_python_reference(spark, docs, k, stride):
    """Strided-window span stats vs a brute-force Python reference on
    adversarial tiny-vocab corpora (max collision pressure)."""
    from prisma_migrator_spark.llm.spans import repeated_span_stats

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in repeated_span_stats(df, k=k, stride=stride).collect()
    }

    # reference: same normalization (split on whitespace; empty text
    # tokenizes to [''])
    toks = {i: (" ".join(w)).strip().lower().split() or [""] for i, w in enumerate(docs)}
    wins: dict[int, list[str]] = {}
    for i, w in toks.items():
        out = []
        if len(w) >= k:
            for s in range(0, len(w) - k + 1, stride):
                out.append(" ".join(w[s : s + k]))
        wins[i] = out
    df_count: dict[str, set] = {}
    for i, ws in wins.items():
        for win in ws:
            df_count.setdefault(win, set()).add(i)
    exp = {
        i: (
            len(ws),
            sum(1 for win in ws if len(df_count[win]) >= 2),
        )
        for i, ws in wins.items()
    }
    assert got == exp


JDOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=2, max_size=10),
    min_size=2,
    max_size=8,
)


@given(docs=JDOCS, t=st.sampled_from([0.3, 0.5, 0.8]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_jaccard_equals_naive(spark, docs, t):
    """The prefix-filtered similarity join returns EXACTLY the naive
    all-shingles join's pairs at the same threshold, on adversarial
    tiny-vocab corpora (max shared-shingle pressure)."""
    from prisma_migrator_spark.llm.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        shingles,
    )

    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)],
        "doc_id long, text string",
    )
    sh = shingles(df, k=2)
    naive = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(sh, min_jaccard=t).collect()
    }
    pref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs_prefix(sh, min_jaccard=t).collect()
    }
    assert pref == naive


# hostile corpora: NULL, empty and whitespace-only text, single-token
# docs, runs of mixed whitespace, and (via ``dups``) duplicate docs
HOSTILE_TEXT = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "\t \n", "a", "B"]),
    st.tuples(
        st.lists(st.sampled_from(["a", "b", "c", "A"]), min_size=1, max_size=6),
        st.sampled_from([" ", "  ", "\t", " \n "]),
    ).map(lambda t: t[1] + t[1].join(t[0])),
)


@given(
    texts=st.lists(HOSTILE_TEXT, min_size=1, max_size=8),
    dups=st.integers(min_value=0, max_value=3),
    df_cap=st.sampled_from([None, 2, 3]),
)
# every hostile kind at once, and a doc whose over-cap key ("b", df 4)
# must still count in its mass while "a" (df 3) pairs it
@example(texts=["a b", None, "", "\t \n", "b", " a\tb c"], dups=1, df_cap=3)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_posting_pairs_match_dict_of_sets_reference(spark, texts, dups, df_cap):
    """The one posting-list pair join, unweighted and weighted, vs a
    Python dict-of-sets reference on hostile corpora: overlap, both
    masses, and the guard's Σ C(df, 2), which must be the exact row
    count of the join (it raises one pair below it and builds at it)."""
    import pytest

    from prisma_migrator_spark.llm.dedup import posting_pairs
    from prisma_migrator_spark.llm.text import tokens

    texts = texts + texts[:dups]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )

    # reference: per doc, its term counts (Python's split drops the
    # empty tokens that whitespace runs leave)
    tfs = {i: Counter(t.lower().split()) for i, t in enumerate(texts) if t}
    tfs = {i: c for i, c in tfs.items() if c}
    df = Counter(t for c in tfs.values() for t in c)
    kept = {t for t, n in df.items() if df_cap is None or n <= df_cap}
    cand = sum(df[t] * (df[t] - 1) // 2 for t in kept)
    exp_u, exp_w = {}, {}
    for i in tfs:
        for j in tfs:
            shared = tfs[i].keys() & tfs[j].keys() & kept
            if i < j and shared:
                exp_u[(i, j)] = (len(shared), len(tfs[i]), len(tfs[j]))
                exp_w[(i, j)] = (
                    sum(tfs[i][t] * tfs[j][t] for t in shared),
                    sum(v * v for v in tfs[i].values()),
                    sum(v * v for v in tfs[j].values()),
                )

    def run(**kw):
        return {
            (r.id_a, r.id_b): (r.overlap, r.mass_a, r.mass_b)
            for r in posting_pairs(tf, "term", "doc_id", df_cap=df_cap, **kw).collect()
        }

    got_u = run(max_candidate_pairs=None)
    assert got_u == exp_u
    assert sum(o for o, _, _ in got_u.values()) == cand  # the join's rows
    with pytest.raises(ValueError, match="candidate pairs"):
        run(weight="tf", max_candidate_pairs=cand - 1)
    assert run(weight="tf", max_candidate_pairs=cand) == exp_w


@given(
    keys=st.lists(st.text(min_size=0, max_size=40), max_size=300),
    probes=st.lists(st.text(min_size=0, max_size=40), max_size=50),
    fpp=st.sampled_from([0.1, 0.01, 0.001]),
)
@settings(max_examples=50, deadline=None)
def test_bloom_never_false_negative(keys, probes, fpp):
    """The sidecar Bloom filter's load-bearing contract under
    arbitrary unicode keys: every inserted key tests positive (a
    pruned file provably holds no batch key — false negatives would
    silently lose updates in the CoW merge)."""
    from prisma_migrator_spark.writers.bloom import (
        _bloom_params,
        _build_bits,
        _contains,
        _key_hashes,
    )

    m, k = _bloom_params(len(keys), fpp)
    bits = _build_bits(keys, m, k)
    for key in keys:
        assert _contains(bits, m, k, *_key_hashes(key))
    # probes make no false-negative claim — just must not crash
    for p in probes:
        _contains(bits, m, k, *_key_hashes(p))
