"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Design for 100 TB:

- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed
  by a 128-bit hash; group sizes are tiny so no skew.
- **MinHash + LSH**: shingle → H min-hashes per doc (one explode +
  one groupBy) → band buckets → candidate pairs via self-join on the
  band value. The self-join is keyed on band buckets, so its cost is
  Σ bucket², not n² — the whole point of LSH. Verification (exact
  Jaccard) runs only on candidates.
- **one banded candidate join**: MinHash bands, Hamming band keys
  (SimHash, image/audio/video fingerprints) and sign-LSH tables all
  pair through :func:`_band_pairs`. It has one emission rule — a
  pair is emitted once, at its first shared live key, tested against
  the key arrays both sides carry, so no dedup shuffle follows the
  join — and one stop-band rule: ``max_bucket`` counts every row of
  a bucket, stored-index rows included. With ``index=`` only pairs
  with a new member are built.
- **SimHash**: per-token hash bits summed per doc (explode + groupBy);
  near-dup = signatures within Hamming distance d. Bits derive from
  md5 hex (engine-portable) rather than a JVM-private hash so the
  DuckDB oracle can reproduce them bit-for-bit.
- **n-gram Jaccard**: exact set overlap via :func:`posting_pairs`,
  the posting-list self-join that plans/llm.py's containment and
  TF-IDF cosine share — |A∩B| from co-occurring shingles,
  |A∪B| = |A|+|B|−|A∩B|. One guard caps all three joins: its
  candidate pairs, counted by :func:`posting_pair_count`, against
  ``MAX_CANDIDATE_PAIRS``.
- **embedding cosine**: near-dup pairs above a cosine threshold; the
  scale path buckets candidates first (see similarity.lsh_buckets).

All hashes are md5-derived → deterministic across engines, runs, and
partitionings (no JVM hash seeding).

The Hamming-space join (:func:`hamming_band_pairs`, cold or against
a stored signature index) keeps its signature frames in the session
cache through ``operators/driver_state.pin``; the query registry
releases them before it builds the next registered query.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.driver_state import bounded_collect, pin

from prisma_migrator_spark.llm.text import content_fingerprint, normalized_text


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by content fingerprint: canonical id (min),
    group size. ``group_size > 1`` rows are duplicate clusters."""
    return (
        df.select(id_col, content_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").cast("int").alias("group_size"),
        )
    )


def dedupe_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct content (the min-id row)."""
    w_min = exact_dedup_groups(df, text_col, id_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = True,
    parallelize: bool = True,
    keep_empty: bool = False,
) -> DataFrame:
    """Word k-gram shingles per document (exploded).

    ``keep_empty=True`` emits one NULL-shingle row for a document with
    fewer than ``k`` tokens (``explode_outer`` over an empty gram
    array) instead of dropping it — so per-doc aggregations downstream
    see EVERY document and zero-fill joins become unnecessary (r9).

    ``distinct=False`` skips the per-doc dedup shuffle — correct for
    consumers insensitive to shingle multiplicity (MIN-based minhash),
    which then run with zero extra shuffles before their own groupBy.

    The token array is materialized as a column BEFORE the k-gram
    lambda: nesting the split inside ``transform`` makes Spark
    re-evaluate the regexp+split per element (O(tokens²) regex work
    per doc — measured 10x slowdown). ``ensure_parallelism`` spreads
    the CPU-heavy explode across all cores when the source is a
    single-split file; at scale the source has many splits and it is
    a no-op.

    ``parallelize=False`` skips that check AND its repartition — for
    callers whose input is known tiny (e.g. an eval benchmark set),
    where the exchange plus partition-probe round trip costs more
    than the single-task shingling it would spread (r9).
    """
    from prisma_migrator_spark.catalog import ensure_parallelism

    if parallelize:
        df = ensure_parallelism(df)
    tokenized = df.select(
        id_col, F.split(normalized_text(F.col(text_col)), " ").alias("__w")
    )
    w = F.col("__w")
    gram = F.transform(
        F.sequence(F.lit(0), F.size(w) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(k)]),
    )
    if keep_empty:
        # guard the sequence: size(w) < k would make it DESCEND
        safe = F.when(F.size(w) >= k, gram).otherwise(
            F.array().cast("array<string>")
        )
        exploded = tokenized.select(
            id_col, F.explode_outer(safe).alias("shingle")
        )
    else:
        exploded = tokenized.where(F.size(w) >= k).select(
            id_col, F.explode(gram).alias("shingle")
        )
    return exploded.dropDuplicates([id_col, "shingle"]) if distinct else exploded


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """H seeded min-hashes per doc over its shingle set. md5-seeded:
    h_i(s) = min of the first 60 bits of md5('<i>:' || s) as a long —
    portable and deterministic (15 hex digits always fit a signed 64).

    Numeric (not string) mins on purpose: ``min(string)`` has an
    immutable agg buffer, so Spark plans a per-partition-sorting
    SortAggregate over the exploded shingle rows; ``min(long)`` stays
    in HashAggregate with map-side partials, and the signature shuffle
    carries 8 longs instead of 8 hex strings (4x fewer bytes)."""
    aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_pairs(
    rows: DataFrame,
    keys: list[Column],
    id_col: str,
    payload: list[str],
    index: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """The one banded candidate join (MinHash, Hamming, sign-LSH):
    every unordered pair of rows that share a band bucket, with at
    least one member from ``rows``, exactly once, as ``(id_a, id_b,
    <p>_a…, <p>_b…)`` — ``id_a < id_b``, with each ``payload`` column
    ``p`` of both ids, from which each caller computes its own measure
    and filter.

    ``keys`` are a row's string band keys, built from its columns; a
    key's position is its band or table index, and two rows share a
    bucket when they hold the same key at the same position. ``index``
    holds old rows, with ids disjoint from ``rows``. Pairs of two old
    rows are never built: side ``a`` of the self-join is new, and a
    new ``b`` pairs only from the lower id, so the join costs Σ over
    buckets of (new rows × bucket size), not Σ bucket²; with no index
    it is the plain ``a.id < b.id`` self-join.

    Emission is FIRST-MATCH: a pair is emitted at its lowest shared
    live position only. Each side carries its key array into the join,
    and the test of the earlier positions is unrolled over the static
    key list, so it compiles with the join filter and compares the
    carried strings without rebuilding them; no ``dropDuplicates``
    follows the join (the sf10 rehearsal's sign-LSH join spilled on
    that dedup at 400k vectors).

    Stop-band rule (``max_bucket``): a bucket counted over EVERY row,
    new and old alike, that holds more than ``max_bucket`` rows is
    dead — its rows never pair through it, and first-match never takes
    it as an earlier agreement, so a pair whose first shared bucket is
    dead is still emitted at its first live one. The dead set is one
    driver-side row (at most keys · rows / max_bucket entries), read
    before the join is built, so the join plan carries it as a literal
    set."""

    def mark(df: DataFrame, new: bool) -> DataFrame:
        return df.select(id_col, *payload, F.array(*keys).alias("__k"),
                         F.lit(new).alias("__new"))

    marked = mark(rows, True)
    if index is not None:
        marked = marked.unionByName(mark(index, False))
    dead: list[str] = []
    if max_bucket is not None:
        dead = (
            marked.select(F.posexplode("__k"))
            .groupBy("pos", "col")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket)
            .agg(F.collect_list(F.concat_ws("|", "pos", "col")))
            .first()[0]
        )

    def live(k: Column, t: Column) -> Column:
        ok = k.isNotNull()
        return ok & ~F.concat_ws("|", t, k).isin(dead) if dead else ok

    banded = marked.select("*", F.posexplode("__k").alias("__t", "__key")).where(
        live(F.col("__key"), F.col("__t"))
    )
    # first match: no live key shared at a lower position
    first = F.lit(True)
    for j in range(len(keys)):
        x, y = F.col("a.__k")[j], F.col("b.__k")[j]
        first = first & ~((F.col("a.__t") > j) & x.eqNullSafe(y) & live(x, F.lit(j)))
    lo = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    # side a is new; a new b pairs only from the lower id
    a, b = banded.where("__new").alias("a"), banded.alias("b")
    on = (F.col("a.__t") == F.col("b.__t")) & (F.col("a.__key") == F.col("b.__key"))
    touching = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) | ~F.col("b.__new")
    return (
        a.join(b, on & touching)
        .where(first)
        .select(
            F.least(f"a.{id_col}", f"b.{id_col}").alias("id_a"),
            F.greatest(f"a.{id_col}", f"b.{id_col}").alias("id_b"),
            *[F.when(lo, F.col(f"{x}.{p}")).otherwise(F.col(f"{y}.{p}")).alias(f"{p}_{x}")
              for x, y in (("a", "b"), ("b", "a")) for p in payload],
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    index: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become a
    candidate pair (id_a < id_b), with the signature-agreement
    fraction as the Jaccard estimate. Pairs come from
    :func:`_band_pairs`, one key per band of ``band_size`` consecutive
    min-hashes.

    ``index`` is a stored signature index of documents already seen
    (ids disjoint from ``sigs``, never re-shingled): the output is then
    the cold job over index ∪ ``sigs`` restricted to pairs with at
    least one ``sigs`` member, and only those pairs are generated.

    Single-pass shape (r9, guide §2.3/§2.4): the full signature rides
    WITH its id into the band shuffle and the agreement count is
    computed at the pair, so there is no signature re-join. The r8
    form joined ``sigs`` back twice to attach h0..h7, which re-derived
    the whole minhash pipeline once per join side; the persist() meant
    to prevent that lost the race when AQE ran the branches
    concurrently (measured duplicate ~8 CPU-s stages at sf0.1). Both
    sides of the band self-join now read one signature aggregate: AQE
    reuses its exchange, so the shingle→minhash stage runs once.
    """
    hs = [f"h{i}" for i in range(num_hashes)]

    keys = [
        F.concat_ws("|", *hs[b : b + band_size])
        for b in range(0, num_hashes - band_size + 1, band_size)
    ]
    pairs = _band_pairs(sigs, keys, id_col, hs, index=index)
    agree = sum(F.when(F.col(f"{h}_a") == F.col(f"{h}_b"), 1).otherwise(0) for h in hs)
    return pairs.select(
        "id_a", "id_b", F.round(agree / F.lit(float(num_hashes)), 6).alias("jaccard_est")
    )


#: The one cap on a posting-list self-join, in the unit
#: :func:`posting_pair_count` counts: unordered candidate pairs, one
#: per shared key. Measured at 50k docs (sf1), containment's shingles
#: give about 23 M and TF-IDF's kept terms about 21 M, so both joins
#: run; at 500k docs (sf10) they give about 1.1 B and 1.9 B and raise.
MAX_CANDIDATE_PAIRS = 50_000_000


def posting_pair_count(postings: DataFrame, key: str) -> int:
    """Σ df(df−1)/2 over the keys of ``postings``: the exact row count
    of their ``a.id < b.id`` self-join on ``key``, before any per-pair
    aggregate. Runs one aggregate over the key histogram."""
    hist = postings.groupBy(key).agg(F.count(F.lit(1)).alias("df"))
    twice = hist.agg(F.sum(F.col("df") * (F.col("df") - 1))).first()[0]
    return (twice or 0) // 2


def posting_pairs(
    postings: DataFrame,
    key: str,
    id_col: str,
    weight: str | None = None,
    df_cap: int | None = None,
    max_candidate_pairs: int | None = MAX_CANDIDATE_PAIRS,
    fallback: str = "a capped variant",
) -> DataFrame:
    """Every pair of ids sharing a posting ``key``, from one
    ``a.id < b.id`` self-join of the posting list (cost Σ df², not
    n²): ``(id_a, id_b, overlap, mass_a, mass_b)``.

    ``overlap`` counts the shared keys, or sums ``wa·wb`` over them
    when ``weight`` names a column; ``mass`` is each id's posting count,
    or its Σ w². Keys with df > ``df_cap`` generate no pairs but still
    count in the masses.

    Guard: the candidate mass grows with the square of the common keys'
    df (boilerplate shingles, mid-frequency terms), so before the join
    is built this counts its rows with :func:`posting_pair_count` and
    raises past ``max_candidate_pairs``, naming ``fallback``, the
    caller's scale path. ``None`` skips the count."""
    src = postings
    if df_cap is not None:
        low = postings.groupBy(key).agg(F.count(F.lit(1)).alias("df"))
        src = postings.join(low.where(F.col("df") <= df_cap).select(key), key)
    if max_candidate_pairs is not None:
        est = posting_pair_count(src, key)
        if est > max_candidate_pairs:
            raise ValueError(
                f"{est:,} candidate pairs over {key} exceed max_candidate_pairs="
                f"{max_candidate_pairs:,}; use {fallback} or raise the cap."
            )
    ws = [] if weight is None else [weight]
    a = src.select(id_col, key, *ws).toDF("id_a", key, *("wa" for _ in ws))
    b = src.select(id_col, key, *ws).toDF("id_b", key, *("wb" for _ in ws))
    count = F.count(F.lit(1))
    overlap = count if weight is None else F.sum(F.col("wa") * F.col("wb"))
    mass = count if weight is None else F.sum(F.col(weight) * F.col(weight))
    masses = postings.groupBy(id_col).agg(mass)
    return (
        a.join(b, key)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(overlap.alias("overlap"))
        .join(masses.toDF("id_a", "mass_a"), "id_a")
        .join(masses.toDF("id_b", "mass_b"), "id_b")
    )


def ngram_jaccard_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
    max_candidate_pairs: int | None = MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Exact Jaccard over shingle sets for every pair sharing ≥1
    shingle, from :func:`posting_pairs`: |A∩B| is the overlap,
    |A∪B| = |A| + |B| − |A∩B| from the masses.

    The join's guard raises past ``max_candidate_pairs`` candidate
    pairs (Σ df(df−1)/2 over the shingles) and points at
    :func:`ngram_jaccard_pairs_prefix`, the PPJoin-style scale path:
    boilerplate-heavy corpora explode the full join (measured 830 s
    naive vs 5.3 s prefix-filtered at 20k docs, PERF.md #23). Pass
    ``None`` to skip the count (e.g. when the caller already knows the
    corpus is near-dup-sparse)."""
    pp = posting_pairs(
        sh,
        "shingle",
        id_col,
        max_candidate_pairs=max_candidate_pairs,
        fallback="ngram_jaccard_pairs_prefix",
    )
    jac = F.col("overlap") / (F.col("mass_a") + F.col("mass_b") - F.col("overlap"))
    return pp.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).where(
        F.col("jaccard") >= min_jaccard
    )


def simhash_bit_source(j: int, n_bits: int) -> tuple[int, int]:
    """(hex-digit index, nibble mask) providing bit ``j`` of a token's
    projection, shared by the Spark builder and the DuckDB oracle.
    n_bits <= 32: one bit per md5 hex digit (digit j, high bit) —
    identical to the original 16-bit scheme. n_bits <= 64: two bits
    per digit (masks 8 then 4)."""
    if n_bits <= 32:
        return j, 8
    if n_bits <= 64:
        return j // 2, 8 >> (j % 2)
    raise ValueError("simhash supports at most 64 bits (md5 nibbles)")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """n-bit SimHash per document — the ROW-LOCAL form (r10).

    Bit j of token t comes from one nibble of md5(t) (see
    :func:`simhash_bit_source`) — a portable ±1 projection both Spark
    and the DuckDB oracle compute identically. Document bit j = sign
    of Σ_tokens (±1). Emitted as an n-char '0'/'1' string.

    r10 (guide §2.4): computed via :func:`simhash_expr` — the per-doc
    ±1 sums are INTEGER and fold inside one ``aggregate``
    higher-order function over the token array, so the signature is
    map-side with ZERO shuffle. The historical explode+groupBy plan
    (``simhash_agg`` in ``tests/simhash_ref.py``, the pins'
    independent reference) exploded every token into its own row,
    paid a corpus-wide (doc, word-packed-hash) materialization, a
    per-doc shuffle and two aggregate stages for sums that never
    needed to leave the row — all its exploded tokens stay in the
    emitting task anyway.
    Measured at sf0.1 (n_bits=64): warm 1.7–2.3 s → 1.0–1.1 s, cold
    (codegen) 8.8 → 1.5 s. Bit-identity is pinned by
    ``test_simhash_expr_matches_agg_plan`` (integer sums are
    order-independent, same md5 nibbles).

    NULL-text documents get no signature, as in ``simhash_agg``
    (exploding a NULL token array emits no row) and the DuckDB oracle
    (``UNNEST(NULL)``); ``simhash_expr`` alone would give each of them
    ``''``, making every NULL-text doc a near-dup of every other."""
    from prisma_migrator_spark.catalog import ensure_parallelism

    return (
        ensure_parallelism(df)
        .where(F.col(text_col).isNotNull())
        .select(id_col, simhash_expr(F.col(text_col), n_bits).alias("simhash"))
    )


def simhash16(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash (see :func:`simhash`)."""
    return simhash(df, text_col, id_col, n_bits=16)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list → one row per
    node: ``(node, component)`` with component = min node id reachable.

    Iterative min-label propagation: each round every node adopts
    ``min(own label, neighbors' labels)``; converges in O(graph
    diameter) rounds — duplicate clusters are near-cliques, so 2-4
    rounds in practice — and stops at the first round that changes no
    label. This is the standard scale pattern (HashToMin) — no
    driver-side graph, no GraphFrames dependency.

    It runs on the graph family's edge frame and round loop
    (``plans/graph._lpa_edges`` and ``_rounds``): the symmetric edges
    are partitioned by receiver and persisted once, every round is
    snapshotted with an eager ``localCheckpoint``, and the changed
    flag is counted while the snapshot is written. Round 1 from
    identity labels is one per-receiver MIN with no label state. The
    label join is left to AQE (broadcast when the checkpointed labels
    are small, shuffled when they are not): the vertex set is
    documents, which can outgrow a broadcast.
    """
    # imported here: the plans package imports this module
    from prisma_migrator_spark.plans.graph import _lpa_edges, _rounds

    edges = _lpa_edges(
        pairs.select(F.col(src_col).alias("pa"), F.col(dst_col).alias("pb"))
    )

    def step(labels: DataFrame | None) -> DataFrame:
        if labels is None:  # round 1: identity labels, a message is its sender's id
            nbr = edges.groupBy("dst").agg(F.min("src").alias("__m")).select(
                F.col("dst").alias("node"), "__m", F.col("dst").alias("component")
            )
        else:
            nbr = (
                edges.join(
                    labels.select(
                        F.col("node").alias("src"), F.col("component").alias("__l")
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("__l").alias("__m"))
                .withColumnRenamed("dst", "node")
                .join(labels, "node")
            )
        return nbr.select(
            "node",
            F.least("__m", "component").alias("component"),
            (F.col("__m") < F.col("component")).alias("__changed"),
        )

    return _rounds(edges, None, step, max_iters, stop=True)[0]


def near_dup_clusters(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Duplicate clusters from near-dup candidate pairs: every node
    that belongs to a multi-document cluster, labeled by its canonical
    (min) member. Singleton documents don't appear — they are their
    own canonical."""
    return connected_components(pairs, src_col, dst_col).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 4,
    n_bits: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: signatures within Hamming distance
    ``max_hamming``, found via band-bucketing (never n²).

    Pigeonhole guarantee: with ``n_bits/band_bits`` bands, any pair
    differing in ≤ (n_bands - 1) bits shares at least one intact band
    — 4-bit bands over 16 bits, or 16-bit bands over 64 bits, find
    ALL pairs with hamming ≤ 3. The pairs come from
    :func:`hamming_band_pairs`, i.e. the one banded candidate join
    :func:`_band_pairs` keyed on (band index, band value): each pair
    once, at its first shared live band, the signature carried with
    the rep id (no re-joins); cost is Σ bucket², not n². 16-bit
    signatures saturate beyond a few hundred docs (every band bucket
    fills up) — use ``n_bits=64`` for real corpora.

    ``max_bucket`` is the stop-band frequency cap — the scale knob.
    SimHash signs concentrate (common tokens dominate every doc's bit
    sums), so the most popular band VALUES collect members roughly
    linearly with corpus size and Σ bucket² goes quadratic: measured
    on the scale-rehearsal corpus, the top 16-bit band bucket grew
    104 → 456 → 3446 from 500 → 5k → 50k docs (21.2M candidate pairs
    at 50k). Capping drops band buckets larger than ``max_bucket``
    (counted over every signature, index rows included — the one
    stop-band rule of :func:`_band_pairs`) from candidate
    generation — a pair is lost only if EVERY intact
    band it shares is a stop-band, and those bands carry near-zero
    information (they are the signature-space analog of stopword
    shingles). Cost becomes Σ min(bucket, cap)² — linear in corpus
    size for fixed cap.
    """
    sigs = simhash(df, text_col, id_col, n_bits=n_bits)
    return hamming_band_pairs(
        sigs,
        id_col=id_col,
        sig_col="simhash",
        n_bits=n_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def hamming_bits(a: Column, b: Column, n_bits: int) -> Column:
    """Hamming distance between two ``n_bits``-char '0'/'1' strings:
    XOR-popcount over ≤32-bit chunks — ``bit_count(conv(chunk_a, 2)
    ^ conv(chunk_b, 2))`` summed across chunks. Identical integer to
    the per-character compare (each differing position flips exactly
    one XOR bit), at ~n_bits/32 expressions instead of n_bits CASE
    WHEN substring terms — the 64-term form made the pair stage's
    whole-stage codegen compile-heavy (r10; measured in the cold
    simhash64 pass)."""
    terms = []
    for i in range(0, n_bits, 32):
        w = min(32, n_bits - i)
        ca = F.conv(F.substring(a, i + 1, w), 2, 10).cast("long")
        cb = F.conv(F.substring(b, i + 1, w), 2, 10).cast("long")
        terms.append(F.bit_count(ca.bitwiseXOR(cb)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def hamming_band_keys(
    sig: Column, n_bits: int, band_bits: int, band_arity: int = 1
) -> list[Column]:
    """The band keys of a '0'/'1' signature, one ``'<combo>|<bands>'``
    string per combination of ``band_arity`` of its
    ``n_bits/band_bits`` bands (``'<b>|<band>'`` at arity 1): the
    buckets of the batch join (:func:`hamming_band_pairs`) and of the
    streaming one (``streaming/stateful.streaming_near_dup_verdicts``)."""

    def band(b: int) -> Column:
        return F.substring(sig, b * band_bits + 1, band_bits)

    return [
        F.concat_ws("|", F.lit("-".join(map(str, combo))), *map(band, combo))
        for combo in combinations(range(n_bits // band_bits), band_arity)
    ]


def hamming_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    n_bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    band_arity: int = 1,
    index: DataFrame | None = None,
) -> DataFrame:
    """Generic banded Hamming self-join over ANY fixed-width '0'/'1'
    bit-string signature column — the machinery behind
    :func:`simhash_near_dup_pairs` (text),
    :func:`image_near_dup_pairs` (perceptual image hashes), and
    ``audio_near_dup_pairs`` (spectral fingerprints), factored so
    every Hamming-space dedup family shares one audited plan.

    Pigeonhole guarantee: with B = ``n_bits/band_bits`` bands and
    join keys of ``band_arity`` bands each, a pair within Hamming
    distance ``B - band_arity`` has at least ``band_arity`` intact
    bands and therefore shares at least one intact key — recall is
    EXACT for ``max_hamming <= B - band_arity``. Rep pairs come from
    :func:`_band_pairs`, keyed on :func:`hamming_band_keys`, with the
    signature as payload: each pair is emitted once, at its first
    shared live key, and its Hamming distance computes from the
    carried signatures with NO rep-frame re-joins. Cost is Σ bucket²,
    bounded to Σ min(bucket, cap)² by ``max_bucket``, the one
    stop-band rule of :func:`_band_pairs` (see
    :func:`simhash_near_dup_pairs` for the stop-band argument).

    ``band_arity`` is the SATURATION dial (multi-index hashing on
    band combinations): a ``band_bits``-bit band has only
    2^band_bits key values, so buckets grow linearly with corpus
    size and Σ bucket² goes quadratic/2^band_bits once the corpus
    outgrows the alphabet (measured on pHash: Σ bucket² 25.3k at
    500 docs → 1.05M at 5k — 41× for 10× docs, PERF.md #68).
    Pairing bands two at a time (C(B,2) keys of 2·band_bits bits)
    squares the alphabet for a ~B/2× row fan-out: at 8×8-bit bands,
    28 keys over 65,536 values instead of 8 over 256 — bucket sizes
    drop ~256×, the guarantee drops from ≤7 to ≤6 (still above the
    measured ≤2 image / ≤4 audio intra-variant distances).

    COLLAPSE-EXACT-FIRST (r7, from the sf10 audio flag): near-dup
    corpora carry the same signature many times over (measured at
    500k docs: 3.3x audio / 3.7x image / 4.1x video docs per
    distinct signature), and Σ bucket² is QUADRATIC in that
    multiplicity — the same insight that keeps the text fuzzy join
    vocabulary-sized in ``near_dup_clusters``. The banded self-join
    therefore runs over DISTINCT signatures only (min-id
    representative), and member pairs expand afterwards: identical-
    signature groups emit their pairs directly at Hamming 0, and
    cross-signature rep pairs fan out through the membership map —
    both output-proportional. With ``max_bucket`` set, buckets
    count distinct SIGNATURES, not documents, so the stop-band
    cap can only DROP FEWER pairs than before (recall is monotone
    better; uncapped output is set-identical to the direct join).

    STORED INDEX (``index``): the decode-once incremental form for
    the image/audio/video families, as
    ``lsh_candidate_pairs(index=)`` is for MinHash text dedup. ``index``
    holds (id, signature) rows from the maintained index table,
    written once when each document was ingested, so history media
    has no payload column here and CANNOT be re-decoded; ``sigs`` is
    the batch's delta, the only media the caller decodes
    (``image_phash``/``afp64``/``vhash64`` — the cost that dominates
    the cold job at every measured SF). The two hold disjoint ids: a
    document already in the index is not new. Re-banding the index is a
    signature-table scan (one short string per doc, no media bytes;
    at 100 TB the index table is ~1/1000th of the corpus). Output =
    the cold job over index ∪ delta restricted to pairs with ≥ 1
    delta member, exactly: the stop-band cap counts over ALL
    distinct signatures, as the cold job does.

    The join itself is DELTA-PROPORTIONAL, not just the decode: rows
    of ``sigs`` are flagged new, each signature group's rep is
    *touched* when any member is new, and the touched reps go to
    :func:`_band_pairs` as its new rows, the untouched ones as its
    index — Σ over buckets of (delta reps in bucket × bucket size)
    instead of Σ bucket², three decimal orders off the join at a
    0.1% daily batch on top of the three off the decode. The
    Hamming-0 leg is the same core keyed on the rep id (new members
    against their group); cross pairs with no new member drop before
    the output. Without ``index`` every row is new and both joins are
    the plain ``a < b`` self-joins.

    The signature frame and its rep collapse are pinned
    (``operators/driver_state.pin``): they feed the membership map and
    the expansion legs, and are signature-sized (one short string per
    doc), not corpus-sized. Like the graph edge snapshots, the pins
    are NOT session-lifetime: the query registry releases them before
    it builds the next registered query (a released frame
    recomputes, never fails).
    """
    n_bands = n_bits // band_bits
    if not 1 <= band_arity <= n_bands:
        raise ValueError(f"band_arity must be in [1, {n_bands}]")
    flagged = sigs.select(id_col, sig_col, F.lit(True).alias("__new"))
    if index is not None:
        flagged = flagged.unionByName(
            index.select(id_col, sig_col, F.lit(False).alias("__new"))
        )
    flagged = pin(flagged)
    reps = pin(
        flagged.groupBy(sig_col).agg(
            F.min(id_col).alias("__rid"), F.max("__new").alias("__touch")
        )
    )
    rep_pairs = _band_pairs(
        reps if index is None else reps.where("__touch"),
        hamming_band_keys(F.col(sig_col), n_bits, band_bits, band_arity),
        "__rid",
        [sig_col],
        index=None if index is None else reps.where(~F.col("__touch")),
        max_bucket=max_bucket,
    )
    hamming = hamming_bits(F.col(f"{sig_col}_a"), F.col(f"{sig_col}_b"), n_bits)
    near_reps = rep_pairs.select(
        F.col("id_a").alias("ra"), F.col("id_b").alias("rb"),
        hamming.cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    # membership map: every doc -> its signature's representative id,
    # with its new flag (a pair of two index docs is old work)
    mem = flagged.join(reps, sig_col).select(
        F.col(id_col).alias("__mid"), "__rid", "__new"
    )

    cross = (
        near_reps.join(mem.toDF("__ia", "ra", "__na"), "ra")
        .join(mem.toDF("__ib", "rb", "__nb"), "rb")
        .where(F.col("__na") | F.col("__nb"))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    # identical signatures: the rep id is the one band key
    intra = _band_pairs(
        mem.where("__new"),
        [F.col("__rid").cast("string")],
        "__mid",
        ["__rid"],
        index=None if index is None else mem.where(~F.col("__new")),
    ).select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    return cross.unionByName(intra)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
    min_cosine: float = 0.9,
    n_blocks: int = 1,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. ``bucket_col`` (e.g. an LSH
    bucket or a label) restricts candidates to same-bucket pairs —
    the Σ bucket² scale path; None = full n² (small inputs only).

    Norms are attached per row before the self-join so each vector's
    norm is computed once, not once per candidate pair.

    ``n_blocks`` > 1 enables triangle-blocked pair generation: each
    row is hashed into one of G blocks, and the unordered block pairs
    (i ≤ j) become extra join-key components, so the pairwise-cosine
    compute spreads over n_buckets · G(G+1)/2 tasks instead of being
    bounded by the n_buckets distinct bucket keys (PERF.md #27 — with
    10 coarse label buckets at most 10 tasks carried 125M cosines no
    matter how many cores the cluster has). Cost: each row is
    replicated G+1 times into the shuffle ((G-g) left roles + (g+1)
    right roles); candidate pairs are generated exactly once — a
    cross-block pair {x,y} with blocks bi < bj joins only under key
    (bi, bj) with x on the left, and the diagonal i == j keeps the
    id_a < id_b half — so no dedup pass is needed. Pick G so that
    replication (G+1)·|bucket| stays shuffle-friendly while G(G+1)/2
    saturates the cluster; G=1 degenerates to the plain bucket join.
    """
    from prisma_migrator_spark.llm.similarity import _dot, _norm

    emb = emb.select(
        id_col,
        F.col(vec_col).cast("array<double>").alias(vec_col),
        *([bucket_col] if bucket_col else []),
    ).withColumn("__norm", _norm(F.col(vec_col)))
    if n_blocks > 1:
        g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        # left role: row of block g serves block-pairs (g, j), j >= g
        a = emb.withColumn("__i", g).withColumn(
            "__j", F.explode(F.sequence(F.col("__i"), F.lit(n_blocks - 1)))
        ).alias("a")
        # right role: row of block g serves block-pairs (i, g), i <= g
        b = emb.withColumn("__j", g).withColumn(
            "__i", F.explode(F.sequence(F.lit(0), F.col("__j")))
        ).alias("b")
        cond = (F.col("a.__i") == F.col("b.__i")) & (
            F.col("a.__j") == F.col("b.__j")
        )
        # diagonal blocks hold both copies of every within-block pair;
        # cross-block pairs appear exactly once (lower block on the left)
        cond = cond & (
            (F.col("a.__i") != F.col("a.__j"))
            | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        )
    else:
        a = emb.alias("a")
        b = emb.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if bucket_col:
        cond = cond & (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
    sim = _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
        F.col("a.__norm") * F.col("b.__norm")
    )
    return (
        a.join(b, cond)
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


def rademacher_planes(
    n_planes: int, dim: int, seed: int = 7
) -> list[list[float]]:
    """Deterministic ±1 (Rademacher) hyperplanes from md5 — portable
    across engines/runs (same property as the MinHash/token hashes:
    no RNG state, any engine recomputes the identical planes)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{seed}:{j}:{d}".encode()).digest()[0] & 1
            else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def embedding_lsh_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    min_cosine: float = 0.8,
    n_tables: int = 8,
    bits_per_table: int | None = None,
    max_bucket: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Near-dup pairs by cosine via sign-LSH bucketing — the SCALE
    path for :func:`embedding_near_dup_pairs` when no bounded bucket
    column exists (a label/category column collapses to a fixed
    number of buckets, so its within-bucket candidate count grows
    quadratically with corpus size; measured 19x super-linear wall
    time at 10x rows in the round-4 scale rehearsal).

    Sign-LSH: bit (t, r) of a vector is the sign of its dot product
    with a fixed Rademacher hyperplane (md5-derived — engine-portable,
    no RNG state); a vector's bucket in table t is its
    ``bits_per_table``-bit sign pattern. Two vectors at angle θ agree
    on one bit with p = 1 - θ/π, so a table catches a pair with p^r
    and ``n_tables`` tables (OR-amplification) give recall
    1 - (1 - p^r)^b; pytest pins a floor against the exact-by-label
    result. Candidates are verified with the true cosine, so precision
    is exact; only recall is approximate.

    ``bits_per_table=None`` AUTO-SIZES r with corpus size:
    r = clamp(8..14, ceil(log2(n/100))), so the bucket alphabet 2^r
    tracks corpus diversity — with r fixed, distinct content groups
    eventually share buckets and candidate counts go quadratic again
    (measured 16x at 10x rows with r=4 before this fix).

    Scale shape (hardened by the sf10 rehearsal, where the first cut
    spilled the disk):

    - signatures are pure JVM column folds (zip_with/aggregate over
      literal plane arrays — no Python, no shuffle);
    - each banded row CARRIES its vector+norm into the (table,
      bucket)-keyed self-join, so the cosine is computed inline in
      the join output and immediately projected away — there is never
      an O(candidates)·vector-width intermediate. The naive
      ids-only-then-re-join-vectors form shuffles |candidates| rows
      twice against the vector table (40 GB of spill at 400k vectors
      / 640M candidates, job death); this form's big shuffle is
      n_tables·n rows of (vector, bucket) ≈ 3 GB at the same scale;
    - pairs come from :func:`_band_pairs`, the one banded candidate
      join, with the table buckets as its keys: a pair is
      emitted by its FIRST matching table only — exactly-once
      generation with NO dropDuplicates shuffle over the candidate
      stream (the 8-way redundancy was the other half of the spill);
    - ``max_bucket`` is the core's one stop-band rule: a bucket with
      more than ``max_bucket`` vectors is dead, and first-match never
      counts a dead table as a prior match — otherwise a pair whose
      earliest agreeing table was capped would be suppressed at every
      surviving later table and silently lost (dense regions are
      exactly where table 0 agrees AND gets capped). The dead set
      costs one narrow O(n·n_tables) count over the snapshot (buckets
      only, at most n_tables·n/max_bucket entries), read on the
      driver before the join is built; the vector-carrying base never
      shuffles for it. Paid only when the cap is enabled.
    """
    if bits_per_table is None:
        import math

        n = emb.count()
        bits_per_table = min(14, max(8, math.ceil(math.log2(max(n, 2) / 100))))
    planes = rademacher_planes(n_tables * bits_per_table, dim, seed)
    from prisma_migrator_spark.llm.similarity import _dot, _norm

    v = F.col(vec_col).cast("array<double>")

    from prisma_migrator_spark.operators.literals import double_array

    def bit(j: int):
        plane = double_array(planes[j])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # quantize before the sign: a near-zero dot (sum of dim signed
        # doubles) can flip sign under a different accumulation order,
        # putting the same vector in different buckets on different
        # engines (e.g. the DuckDB oracle's list_dot_product); rounding
        # to 9 decimals makes the boundary deterministic on both sides
        return F.when(F.round(dot, 9) >= 0, F.lit("1")).otherwise(F.lit("0"))

    buckets_arr = F.array(
        *[
            F.concat(
                *[bit(t * bits_per_table + r) for r in range(bits_per_table)]
            )
            for t in range(n_tables)
        ]
    )
    base = emb.select(
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        _norm(v).alias("__n"),
        buckets_arr.alias("__bk"),
    )
    # Snapshot the signed frame ONCE: both sides of the band self-join
    # (and the stop-band count) read it, and without the snapshot each
    # recomputes the n_tables·r plane dots per row (the dominant CPU).
    # Eager localCheckpoint is this repo's convention for shared
    # iterative / self-joined state (see PERF.md: persist+probe
    # recomputes through partially-materialized caches).
    base = base.localCheckpoint()
    pairs = _band_pairs(
        base,
        [F.col("__bk")[t] for t in range(n_tables)],
        "__id",
        ["__v", "__n"],
        max_bucket=max_bucket,
    )
    sim = _dot(F.col("__v_a"), F.col("__v_b")) / (F.col("__n_a") * F.col("__n_b"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("cosine")
    ).where(F.col("cosine") >= min_cosine)


def dedupe_against(
    incoming: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: keep the incoming rows whose content
    fingerprint appears nowhere in the existing corpus, collapsing
    in-batch duplicates to the min-id copy. The op every ingestion
    pipeline runs per batch — dedupe the delta against the lake
    without rewriting the lake.

    Scale shape: existing side reduces to DISTINCT fingerprints (one
    narrow column of the 100 TB corpus — store/maintain it as a
    fingerprint index table to skip even that scan); the anti join
    hash-partitions on fp so the incoming batch never broadcasts or
    collects. Output carries ``fp`` so survivors can be appended to
    the fingerprint index.
    """
    from prisma_migrator_spark.llm.text import content_fingerprint

    fp = content_fingerprint(F.col(text_col))
    seen = existing.select(fp.alias("fp")).distinct()
    fresh = incoming.select(
        F.col(id_col), fp.alias("fp")
    ).join(seen, "fp", "left_anti")
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )


# --- bloom-filter incremental dedup (the map-only scale path) ---------


def build_bloom_filter(
    keys: DataFrame,
    key_col: str,
    expected_items: int,
    fpp: float = 0.01,
) -> tuple[list[int], int, int]:
    """Build a Bloom filter over ``keys[key_col]`` with classic sizing
    (m = -n·ln p / ln²2 bits, k = m/n·ln 2 probes, capped at 8).

    Returns ``(words, m, k)`` where ``words`` packs the m bits into
    64-bit longs. Spark's own ``bloom_filter_agg`` is optimizer-
    internal (not in the public function registry), so the filter is
    built with plain relational ops: explode each key into its k bit
    positions, ``bit_or``-fold positions into words. The shuffle
    carries k·n longs but REDUCES to m/64 rows — driver memory is
    bounded by the filter size (exactly what Spark's runtime bloom
    broadcast holds), never by the key count.

    For a 100 TB lake index (≥10⁹ keys) a driver-resident filter at
    1% fpp is ~1.2 GB — at that point raise fpp (each probe is a
    prefilter, exactness comes from the anti-join fallback) or shard
    the filter by key prefix; below ~10⁸ keys this single-filter path
    is the right shape.
    """
    import math

    n = max(1, expected_items)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, min(8, round(m / n * math.log(2))))
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m))
                    for i in range(k)
                ]
            )
        ).alias("p")
    )
    rows = bounded_collect(
        pos.groupBy(F.expr("p div 64").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint), cast(p % 64 as int)))"
            ).alias("bits")
        ),
        m // 64,
        "one row per 64-bit Bloom word (m bits fixed at build time)",
    )
    words = [0] * (m // 64)
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return words, m, k


def bloom_might_contain(
    col: Column, words: list[int], m: int, k: int
) -> Column:
    """Membership probe against a :func:`build_bloom_filter` result —
    a pure map-side boolean expression (the words ride along as an
    array literal, like the IVF codebook in llm/similarity.py): true
    if every one of the k probed bits is set. No false negatives;
    false positives at the filter's fpp."""
    bits = F.lit(words)
    tests = []
    for i in range(k):
        p = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
        word = F.element_at(bits, (F.floor(p / 64) + 1).cast("int"))
        tests.append(
            F.call_function(
                "shiftright", word, F.pmod(p, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )
    out = tests[0]
    for t in tests[1:]:
        out = out & t
    return out


def dedupe_against_bloom(
    incoming: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 0.01,
) -> DataFrame:
    """:func:`dedupe_against` with the lake membership test replaced
    by a Bloom filter: build the filter over the lake's distinct
    fingerprints once, then probe each incoming row MAP-SIDE. The
    anti-join's shuffle of the batch disappears entirely — the batch
    is never repartitioned, which is the shape incremental ingest
    wants when the lake index dwarfs every batch.

    Approximate where the anti-join is exact: a false positive drops
    a genuinely-new document with probability ``fpp``. Acceptable for
    training-corpus dedup (loses ~1% of unique docs at the default);
    use :func:`dedupe_against` when exactness matters more than the
    shuffle.

    In-batch collapse still groups by fingerprint (that shuffle is
    batch-sized, not lake-sized, and unavoidable for min-id pick).
    """
    fp = content_fingerprint(F.col(text_col))
    seen = existing.select(fp.alias("fp")).distinct()
    n_seen = seen.count()
    words, m, k = build_bloom_filter(seen, "fp", n_seen, fpp)
    fresh = incoming.select(F.col(id_col), fp.alias("fp")).where(
        ~bloom_might_contain(F.col("fp"), words, m, k)
    )
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )


def ngram_jaccard_pairs_prefix(
    sh: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Threshold Jaccard pairs via PREFIX FILTERING — the
    set-similarity-join scale path (PPJoin family): order each doc's
    shingles by ascending global document frequency (rarest first,
    ties on the shingle), keep only the first
    ``|A| - ceil(t·|A|) + 1`` as its prefix, and generate candidates
    from prefix-shingle collisions only.

    Lossless for the threshold: J(A,B) ≥ t implies
    |A∩B| ≥ t·|A∪B| ≥ ceil(t·|A|), and two sets whose overlap is ≥ α
    must collide within prefixes of length |size| − α + 1 (pigeonhole
    on the shared global order). A length filter
    (min/max sizes ≥ t) prunes further — also implied by J ≥ t.

    vs :func:`ngram_jaccard_pairs` (cost Σ df² over ALL shingles):
    candidate cost is Σ df² over PREFIX occurrences only, and prefixes
    are dominated by RARE shingles (rarest-first order), so the hot
    boilerplate shingles that blow up the full join never key a
    candidate pair. Verification is exact per candidate via
    ``array_intersect`` on the two docs' shingle arrays — per-pair
    map work, no corpus-sized join. Per-doc array state matches the
    doc's own shingle count (same order as its text).
    """
    from pyspark.sql import Window

    t = min_jaccard
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("shingle"))
    ranked = (
        sh.join(dfc, "shingle")
        .withColumn("__r", F.row_number().over(w))
        .withColumn("__sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    prefix = ranked.where(
        F.col("__r") <= F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz")) + 1
    ).select(id_col, "shingle", "__sz")

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.least(F.col("a.__sz"), F.col("b.__sz"))
                >= F.lit(t) * F.greatest(F.col("a.__sz"), F.col("b.__sz"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )

    sets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("__set"),
        F.count(F.lit(1)).alias("__sz"),
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__set").alias("__set_a"),
        F.col("__sz").alias("sz_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("__set").alias("__set_b"),
        F.col("__sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("__set_a", "__set_b"))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= t)
    )


def simhash_expr(text_col: Column, n_bits: int = 16) -> Column:
    """SimHash as a pure JVM COLUMN EXPRESSION — bit-identical to
    the explode+groupBy plan (``simhash_agg``, pytest-pinned), but with
    ZERO shuffle: the per-token ±1 projections fold inside one
    ``aggregate`` higher-order function over the token array (one
    md5 per token, nibble arithmetic per bit), so the signature is
    computed row-local. Two places want exactly this shape:

    - STREAMING: a stateful pipeline can't afford a per-doc
      aggregation shuffle before the dedup operator;
      ``withColumn("simhash", simhash_expr(col("text")))`` composes
      directly with ``streaming_near_dup_verdicts``.
    - map-side batch stages where the doc row must stay intact
      (no explode/regroup round trip)."""
    from prisma_migrator_spark.llm.text import normalized_text

    toks = F.split(normalized_text(text_col), " ")

    def bits(t: Column) -> Column:
        h = F.md5(t)
        if n_bits <= 32:
            def one(j: Column) -> Column:
                nib = F.conv(h.substr(j + 1, F.lit(1)), 16, 10).cast("int")
                return F.when(nib.bitwiseAND(F.lit(8)) > 0, 1).otherwise(-1)
        elif n_bits <= 64:
            def one(j: Column) -> Column:
                nib = F.conv(
                    h.substr(F.floor(j / 2) + 1, F.lit(1)), 16, 10
                ).cast("int")
                mask = F.when(j % 2 == 0, 8).otherwise(4)
                return F.when(nib.bitwiseAND(mask) > 0, 1).otherwise(-1)
        else:
            raise ValueError("simhash supports at most 64 bits")
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_bits - 1)), one
        )

    sums = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, t: F.zip_with(acc, bits(t), lambda a, b: a + b),
    )
    return F.concat_ws(
        "",
        F.transform(
            sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )
