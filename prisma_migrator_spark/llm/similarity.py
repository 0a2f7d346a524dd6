"""Similarity search over embedding columns.

- ``cosine``: pure-Column cosine similarity over ``array<float>`` —
  ``zip_with`` product + ``aggregate`` sums, JVM-side (no UDF, no
  Python, no data movement) but not compiled: in Spark 4.1
  ``ZipWith`` and ``ArrayAggregate`` implement ``CodegenFallback``,
  so the generated stage calls out to them and they run per element
  through interpreted lambdas (JFR samples of the measured
  ``report_suite`` pass show ``ZipWith.eval`` in executor threads).
- ``topk_bruteforce``: exact top-k per probe — broadcast the (small)
  probe set against the full corpus, window row_number per probe.
  O(|probes|·n); the right baseline and the correctness oracle for
  ANN variants.
- ``lsh_buckets`` / ``topk_lsh``: random-hyperplane LSH — P
  deterministic ±1 hyperplanes (md5-derived, engine/run-stable), sign
  bits form a bucket id; probes only compare against same-bucket (or
  neighboring-bucket) vectors. At 100 TB: bucket column is computed
  once at ingest (map-only), stored, and candidate joins shuffle on
  the bucket key — Σ bucket² instead of n² exactly like MinHash-LSH.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.driver_state import bounded_collect


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns (computed in
    double precision, element order preserved)."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return _dot(a, b) / (_norm(a) * _norm(b))


def topk_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_label_col: str | None = None,
    match_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per probe (self-matches excluded).
    Deterministic ranking: round(cosine, 6) desc, neighbor id asc.

    ``exclude_label_col``: when set, pairs sharing that column's value
    are excluded too — the HARD-NEGATIVE mining shape (nearest
    neighbors of a different class), filtered BEFORE the rank so the
    k survivors are all true negatives.

    ``match_label_col``: the dual — keep only pairs SHARING the
    column's value (POSITIVE mining: nearest same-class neighbor).
    Mutually exclusive with ``exclude_label_col``.

    Norms are precomputed per side BEFORE the cross join — otherwise
    each vector's norm is re-derived once per pair (|probes|× redundant
    work on the corpus side, which is the whole dataset)."""
    from prisma_migrator_spark.catalog import ensure_parallelism

    p_cols = [
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("probe_vec"),
    ]
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ]
    if exclude_label_col is not None and match_label_col is not None:
        raise ValueError(
            "exclude_label_col and match_label_col are mutually exclusive"
        )
    label_col = exclude_label_col or match_label_col
    if label_col is not None:
        p_cols.append(F.col(label_col).alias("__probe_label"))
        c_cols.append(F.col(label_col).alias("__label"))
    p = probes.select(*p_cols).withColumn(
        "probe_norm", _norm(F.col("probe_vec"))
    )
    c = ensure_parallelism(corpus).select(*c_cols).withColumn(
        "vec_norm", _norm(F.col("vec"))
    )
    keep = F.col("neighbor_id") != F.col("probe_id")
    if exclude_label_col is not None:
        keep = keep & (F.col("__label") != F.col("__probe_label"))
    elif match_label_col is not None:
        keep = keep & (F.col("__label") == F.col("__probe_label"))
    scored = (
        c.crossJoin(F.broadcast(p))
        .where(keep)
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("probe_vec"), F.col("vec"))
                / (F.col("probe_norm") * F.col("vec_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: coefficient (p, d) = sign from
    one md5 byte. No RNG, no seed state — reproducible everywhere."""
    planes = []
    for p in range(num_planes):
        coeffs = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).digest()[0]
            coeffs.append(1.0 if h >= 128 else -1.0)
        planes.append(coeffs)
    return planes


def lsh_buckets(
    emb: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach a sign-bucket id: bit p = sign(v · plane_p). Map-only —
    at ingest time this is a free extra column."""
    planes = hyperplanes(num_planes, dim)
    v = F.col(vec_col).cast("array<double>")
    from prisma_migrator_spark.operators.literals import double_array

    bits = []
    for p in range(num_planes):
        coeffs = double_array(planes[p])
        proj = _dot(v, coeffs)
        bits.append(F.when(proj > 0, "1").otherwise("0"))
    return emb.withColumn("bucket", F.concat(*bits))


def _centroid_literals(cents: list[list[float]]) -> tuple[Column, Column]:
    """Centroid matrix + per-centroid norms as literal columns. The
    IVF 'model' is tiny (C·dim doubles) — holding it driver-side and
    inlining it into the plan is the standard scale pattern: the
    assignment becomes a map-only expression, no join, no shuffle."""
    import math

    # r10 (§1.2 driver work): built as ONE parsed SQL expression via
    # operators.literals instead of C·dim ``F.lit`` py4j round trips
    # (16 centroids × dim 64 ≈ 1050 JVM calls ≈ 1 s of pure driver
    # time per ivf_assign, measured; bit-identical literals).
    from prisma_migrator_spark.operators.literals import (
        double_array,
        double_matrix,
    )

    mat = double_matrix(cents)
    norms = double_array(
        math.sqrt(sum(x * x for x in c)) or 1.0 for c in cents
    )
    return mat, norms


def _centroid_sims(vec: Column, vec_norm: Column, cents: list[list[float]]) -> Column:
    """array<double> of cosine(vec, centroid_i) for every centroid."""
    mat, norms = _centroid_literals(cents)
    idx = F.sequence(F.lit(1), F.lit(len(cents)))
    return F.transform(
        idx,
        lambda i: _dot(vec, F.element_at(mat, i))
        / (vec_norm * F.element_at(norms, i)),
    )


def ivf_assign(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``cluster_id`` = argmax-cosine centroid (map-only)."""
    out = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    ).withColumn("__norm", _norm(F.col(vec_col)))
    sims = _centroid_sims(F.col(vec_col), F.col("__norm"), cents)
    return out.withColumn(
        "cluster_id",
        (F.array_position(sims, F.array_max(sims)) - 1).cast("int"),
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic IVF codebook: md5-ordered seed sample (stable
    pseudo-random, engine/run-invariant), then ``iters`` distributed
    k-means refinements. Each refinement is two shuffles over
    (cluster, dim) partial sums — never collects the corpus; only the
    C·dim codebook ever reaches the driver."""
    seeds = bounded_collect(
        corpus.select(
            F.col(vec_col).cast("array<double>").alias("c"),
            F.md5(F.col(id_col).cast("string")).alias("__r"),
        )
        .orderBy("__r")
        .limit(n_centroids),
        n_centroids,
        "seed sample is limit(n_centroids)",
    )
    cents = [list(r["c"]) for r in seeds]
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        # one HashAggregate over dim sum() columns (group_centroids)
        # instead of posexplode + two shuffles over element rows
        means = bounded_collect(
            group_centroids(assigned, "cluster_id", vec_col, dim=dim),
            len(cents),
            "one row per centroid",
        )
        # Refreshed means snap to 12dp BEFORE the next assignment
        # pass, on BOTH engines (the SQL unrolls apply the same
        # ROUND): a distributed AVG is partition-order
        # nondeterministic in the last ulp, so without the snap an
        # argmax tie within ~1e-16 could flip an assignment between
        # runs or engines. 12dp absorbs summation-order noise and is
        # far below any real assignment margin.
        new = {
            r["cluster_id"]: [round(x, 12) for x in r["centroid"]]
            for r in means
        }
        cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return cents


def _fine_assign(
    coarse: DataFrame, fine_cb: DataFrame, vec_col: str
) -> DataFrame:
    """Assign each row to its nearest FINE centroid within its coarse
    cell — the table-joined half of :func:`two_level_cluster_assign`.

    The per-cell codebook is rolled into ONE array row per coarse cell
    (``collect_list`` + ``array_sort`` — deterministic because
    ``__fine`` is unique within a cell), so the join's build side is
    k1 rows no matter how many fine centroids exist in total, and the
    argmax is a map-side ``F.transform`` over the ~sqrt(k) structs a
    row's cell actually holds. Nothing fat shuffles; no literal grows
    with the corpus. Cosines snap to 12dp before the argmax and ties
    break to the smallest fine id (struct-max on (sim, -fine))."""
    cn = _norm(F.col("__c"))
    cb = fine_cb.select(
        "__coarse",
        "__fine",
        "__c",
        F.when(cn == 0, F.lit(1.0)).otherwise(cn).alias("__cnorm"),
    )
    cbarr = cb.groupBy("__coarse").agg(
        F.array_sort(
            F.collect_list(F.struct("__fine", "__c", "__cnorm"))
        ).alias("__cbs")
    )
    joined = coarse.join(cbarr, "__coarse")
    best = F.array_max(
        F.transform(
            F.col("__cbs"),
            lambda b: F.struct(
                F.round(
                    _dot(F.col(vec_col), b["__c"])
                    / (F.col("__norm") * b["__cnorm"]),
                    12,
                ).alias("s"),
                (-b["__fine"]).alias("nf"),
            ),
        )
    )
    return joined.withColumn(
        "__fine", (-best["nf"]).cast("int")
    ).drop("__cbs")


def two_level_cluster_assign(
    df: DataFrame,
    n: int,
    target: int = 500,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster ``df`` into ~n/target cells WITHOUT an O(n/target)
    literal codebook or an O(n²/target) assignment — the scale path
    behind ``semantic_dedup_drops`` (VERDICT r8 item 1).

    The flat adaptive dial (k = ⌈n/500⌉ through the literal-codebook
    :func:`train_ivf_centroids`/:func:`ivf_assign`) made assignment
    O(n·k) = O(n²/500) with a k·dim literal blob in the plan. This
    two-level form keeps both sides bounded:

    1. COARSE — k1 = max(8, ⌈sqrt(n/target)⌉) centroids via the
       audited literal-codebook k-means. The literal blob is
       O(sqrt(k)·dim) (at 1B vectors / target 500 that is ~1.4k
       centroids — comfortably literal-sized) and assignment is
       n·k1 = O(n·sqrt(k)) cosines.
    2. FINE — each coarse cell splits into ⌈cell_n/target⌉
       sub-clusters by a Lloyd loop whose codebook is a DATAFRAME,
       never a literal and never collected: seeds are the md5-first
       vectors per cell (row_number window over the coarse shuffle),
       assignment is :func:`_fine_assign` (k1-row build side),
       refresh is ONE HashAggregate over (coarse, fine) with dim
       ``sum()`` columns (the `group_centroids` shape). Per-iteration
       cosine work is Σ_c cell_n·⌈cell_n/target⌉ ≈ n·sqrt(k).

    Determinism matches the flat trainer's discipline: md5 seed
    order, 12dp snap on refreshed means AND on the assignment cosine,
    smallest-id tie-breaks, empty clusters keep their previous
    centroid. The coarse frame is ``localCheckpoint``-ed because the
    loop references it ~2·iters times (on a cluster this is the
    standard iterative-state checkpoint; the cost is one corpus
    materialization, far below one assignment pass).

    Returns (id_col, vec_col, __norm, cluster_id) with ``cluster_id``
    a 'coarse|fine' string — an opaque equi-join bucket key.
    """
    k_total = max(1, -(-n // target))
    k1 = max(8, int(k_total**0.5) + (int(k_total**0.5) ** 2 < k_total))
    cents = train_ivf_centroids(df, k1, iters, id_col, vec_col)
    coarse = (
        ivf_assign(df, cents, id_col, vec_col)
        .withColumnRenamed("cluster_id", "__coarse")
        .localCheckpoint()
    )
    cellcnt = coarse.groupBy("__coarse").agg(
        F.count(F.lit(1)).alias("__cn")
    )
    w = Window.partitionBy("__coarse").orderBy(
        F.md5(F.col(id_col).cast("string"))
    )
    seeds = (
        coarse.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(cellcnt), "__coarse")
        .where(
            F.col("__rn")
            <= F.ceil(F.col("__cn") / F.lit(target)).cast("int")
        )
        .select(
            "__coarse",
            (F.col("__rn") - 1).cast("int").alias("__fine"),
            F.col(vec_col).alias("__c"),
        )
    )
    dim_row = df.select(F.size(vec_col)).first()
    dim = int(dim_row[0]) if dim_row else 0
    fine_cb = seeds.localCheckpoint()
    for _ in range(iters):
        assigned = _fine_assign(coarse, fine_cb, vec_col)
        sums = [
            F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"__s{i}")
            for i in range(dim)
        ]
        means = assigned.groupBy("__coarse", "__fine").agg(
            F.count(F.lit(1)).alias("__n"), *sums
        )
        mean_c = F.array(
            *[
                F.round(F.col(f"__s{i}") / F.col("__n"), 12)
                for i in range(dim)
            ]
        )
        refreshed = means.select(
            "__coarse", "__fine", mean_c.alias("__m")
        )
        fine_cb = (
            fine_cb.join(refreshed, ["__coarse", "__fine"], "left")
            .select(
                "__coarse",
                "__fine",
                F.coalesce("__m", "__c").alias("__c"),
            )
            .localCheckpoint()
        )
    assigned = _fine_assign(coarse, fine_cb, vec_col)
    return assigned.select(
        id_col,
        vec_col,
        "__norm",
        F.concat_ws("|", "__coarse", "__fine").alias("cluster_id"),
    )


def topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF (inverted-file index): corpus vectors are
    bucketed by nearest codebook centroid; each probe searches only
    its ``nprobe`` nearest clusters. Candidate cost is
    |probes|·nprobe·(n/C) instead of |probes|·n. At ingest the
    cluster id is a stored column (map-only, like
    :func:`lsh_buckets`); the candidate join shuffles on cluster_id."""
    cents = train_ivf_centroids(corpus, n_centroids, iters, id_col, vec_col)
    from prisma_migrator_spark.catalog import ensure_parallelism

    cb = ivf_assign(ensure_parallelism(corpus), cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.col("__norm").alias("vec_norm"),
        "cluster_id",
    )
    return _ivf_probe(cb, cents, probes, k, nprobe, id_col, vec_col)


def _ivf_probe(
    cb: DataFrame,
    cents: list[list[float]],
    probes: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe stage shared by :func:`topk_ivf` (fresh-trained index)
    and :func:`topk_ivf_from_index` (persisted index): rank the
    codebook per probe, explode the ``nprobe`` nearest cluster ids,
    candidate-join the postings on cluster_id, exact-rank top k."""
    p = probes.select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    ).withColumn("__norm", _norm(F.col(vec_col)))
    sims = _centroid_sims(F.col(vec_col), F.col("__norm"), cents)
    # nprobe nearest clusters: sort (sim, idx) structs desc, slice
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.zip_with(
                    sims,
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                    lambda s, i: F.struct(s.alias("sim"), i.alias("idx")),
                )
            )
        ),
        1,
        nprobe,
    )
    pb = p.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        F.col("__norm").alias("probe_norm"),
        F.explode(ranked["idx"]).alias("cluster_id"),
    )
    scored = (
        cb.join(F.broadcast(pb), "cluster_id")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("probe_vec"), F.col("vec"))
                / (F.col("probe_norm") * F.col("vec_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Persist an IVF index at ingest so probe batches never retrain
    or reassign — the ANN analog of the stored-signature dedup
    indexes (`lsh_candidate_pairs(index=)` /
    `hamming_band_pairs(index=)`, both the `dedup._band_pairs` join):
    the expensive parts of `topk_ivf` are the k-means iterations and
    the corpus assignment scan, both one-time ingest work, while a
    probe batch's own cost is |probes|·nprobe·(n/C).

    Layout: ``{path}/centroids`` (cid, centroid — C rows) and
    ``{path}/postings`` (neighbor_id, vec, vec_norm) PARTITIONED BY
    cluster_id — the candidate join in `_ivf_probe` is a broadcast
    hash join on the partition column, so dynamic partition pruning
    reads only the ≤ |probes|·nprobe clusters a batch actually
    probes, not the corpus. Norms are stored, not recomputed.
    Returns the centroid list (driver-side, C·dim — model-sized)."""
    from prisma_migrator_spark.catalog import ensure_parallelism

    cents = train_ivf_centroids(corpus, n_centroids, iters, id_col, vec_col)
    cb = ivf_assign(ensure_parallelism(corpus), cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.col("__norm").alias("vec_norm"),
        "cluster_id",
    )
    cb.write.partitionBy("cluster_id").mode("overwrite").parquet(
        f"{path}/postings"
    )
    corpus.sparkSession.createDataFrame(
        [(i, list(c)) for i, c in enumerate(cents)],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return cents


def topk_ivf_from_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a PERSISTED IVF index (`save_ivf_index`):
    loads the C-row codebook driver-side (bounded, model-sized) and
    probes the partitioned postings — identical output to running
    `topk_ivf` with the same centroids (pinned by
    `test_ivf_persisted_index_matches_fresh`), with zero training
    or assignment work per probe batch."""
    from prisma_migrator_spark.operators.driver_state import bounded_collect

    cent_df = spark.read.parquet(f"{path}/centroids").orderBy("cid")
    rows = bounded_collect(
        cent_df, 65536, "IVF codebook is C rows (model-sized)"
    )
    cents = [list(r["centroid"]) for r in rows]
    cb = spark.read.parquet(f"{path}/postings")
    return _ivf_probe(cb, cents, probes, k, nprobe, id_col, vec_col)


def _flip(bucket: Column, i: int) -> Column:
    """Bucket id with bit i flipped (multi-probe neighbor)."""
    bit = F.substring(bucket, i + 1, 1)
    flipped = F.when(bit == "1", "0").otherwise("1")
    return F.concat(F.substring(bucket, 1, i), flipped, F.substring(bucket, i + 2, 256))


def topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """ANN top-k: compare each probe only against same-bucket corpus
    vectors (bucket join instead of cross join). ``multiprobe=1``
    additionally probes every bucket within Hamming distance 1 —
    num_planes+1 probes per query, large recall gain for the cost of
    a wider (still tiny) broadcast of the probe set."""
    from prisma_migrator_spark.catalog import ensure_parallelism

    cb = lsh_buckets(ensure_parallelism(corpus), num_planes, dim, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        "bucket",
    ).withColumn("vec_norm", _norm(F.col("vec")))
    pb = lsh_buckets(probes, num_planes, dim, id_col, vec_col).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("probe_vec"),
        "bucket",
    ).withColumn("probe_norm", _norm(F.col("probe_vec")))
    if multiprobe >= 1:
        probe_buckets = F.array(
            F.col("bucket"), *[_flip(F.col("bucket"), i) for i in range(num_planes)]
        )
        pb = pb.withColumn("bucket", F.explode(probe_buckets))
    scored = (
        cb.join(F.broadcast(pb), "bucket")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("probe_vec"), F.col("vec"))
                / (F.col("probe_norm") * F.col("vec_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: returns ``(scale,
    codes)`` with ``code_i = floor(x_i/scale + 0.5)`` and ``scale =
    max|x|/127`` — the standard compress-embeddings-4x step before
    shipping a corpus's vectors to an ANN index. Dequantized error is
    bounded by scale/2 per element (asserted in tests).

    All-zero vectors quantize to scale 0 / all-zero codes. Element ops
    stay in JVM array transforms (no explode, no Python); the explicit
    ``floor(x + 0.5)`` form (not half-even ``round``) is chosen so any
    engine reproduces the codes bit-for-bit from the same doubles.
    """
    e = F.transform(vec, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    codes = F.when(
        amax == 0, F.transform(e, lambda x: F.lit(0))
    ).otherwise(
        F.transform(e, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
    return scale, codes


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Element-wise mean embedding per group (domain centroids, class
    prototypes, k-means refinement input).

    Spark-first shape: instead of posexplode → groupBy(group, pos) —
    which shuffles n_vectors x dim ROWS and then needs a second agg to
    reassemble the array — unroll the known dim into ``dim`` numeric
    ``sum()`` columns in ONE HashAggregate. Map-side partials collapse
    every partition to one row per group before the only shuffle, and
    the reassembly is a free map-side ``array()``. The dim probe costs
    one first() on a single split.
    """
    if dim is None:
        row = df.select(F.size(vec_col)).first()
        dim = int(row[0]) if row else 0
    if dim == 0:  # degenerate empty-vector frame
        return df.groupBy(group_col).agg(
            F.count("*").alias("n_vectors")
        ).select(group_col, "n_vectors", F.array().alias("centroid"))
    # r10 (§1.2 driver work): the dim-unrolled sums are built as ONE
    # parsed struct-of-aggregates expression instead of ~4·dim py4j
    # round trips per call (re-paid every k-means iteration); the
    # HashAggregate buffer is the same dim double sums, values
    # identical (sum(cast(element_at)) / count unchanged).
    vq = f"`{vec_col}`"
    sums = F.expr(
        "struct("
        + ", ".join(
            f"sum(cast(element_at({vq}, {i + 1}) as double)) as __s{i}"
            for i in range(dim)
        )
        + ")"
    )
    agg = df.groupBy(group_col).agg(
        F.count("*").alias("n_vectors"), sums.alias("__sums")
    )
    return agg.selectExpr(
        f"`{group_col}`",
        "n_vectors",
        "array("
        + ", ".join(f"__sums.__s{i} / n_vectors" for i in range(dim))
        + ") as centroid",
    )


# --- product quantization (PQ) ----------------------------------------


def _unit(vec: Column) -> Column:
    n = _norm(vec)
    return F.transform(vec, lambda x: x / n)


def _sub_slices(dim: int, m: int) -> list[tuple[int, int]]:
    """(1-based start, length) per subspace; dim need not divide m
    evenly — the last subspace takes the remainder."""
    base, rem = divmod(dim, m)
    out, start = [], 1
    for s in range(m):
        ln = base + (1 if s < rem else 0)
        out.append((start, ln))
        start += ln
    return out


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _book_lit(book: list[list[float]]) -> Column:
    """A codebook as ONE nested-array literal (constant-folded by
    Catalyst into a single Literal). Distances then come from a
    `transform` LOOP over the array — expression-tree size O(1) per
    subspace instead of O(ksub) unrolled aggregates, which at
    m=25 x ksub=32 made janino compile megabyte classes (measured
    196s -> ~20s end-to-end for the same plan). Built as one parsed
    SQL literal (operators.literals, §1.2): the F.lit form cost
    ksub·width py4j calls per subspace."""
    from prisma_migrator_spark.operators.literals import double_matrix

    return double_matrix(book)


def _book_dists(sub: Column, book: list[list[float]]) -> Column:
    """Array of squared L2 distances from ``sub`` to every codebook
    centroid."""
    return F.transform(_book_lit(book), lambda c: _sq_l2(sub, c))


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 5,
    ksub: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace L2 k-means codebooks over UNIT-normalized vectors
    (Jégou et al. 2011, PAPERS.md). Only m·ksub·(dim/m) = ksub·dim
    floats ever reach the driver. Normalizing first makes squared L2
    a monotone transform of cosine (‖a−b‖² = 2 − 2cos), so ADC
    ranking below approximates cosine ranking.

    All m subspaces train FUSED: seeds come from ONE md5-ordered
    collect of ksub full vectors (sliced driver-side), and each
    k-means iteration is ONE job — per row, every subspace's
    assignment is computed map-side and exploded to (sub_id,
    cluster_id, subvec) entries, then a single dim-unrolled
    HashAggregate (`group_centroids` keyed on the (sub_id, cluster)
    struct) yields all m·ksub means at once. m sequential trainings
    would launch m·iters jobs; this launches iters. Unequal slice
    widths (dim % m != 0 — the registered m=10 over dim=64) share the
    exploded frame by zero-padding shorter subvectors to the widest
    slice: a padded dim's mean is exactly 0.0 and is sliced off
    driver-side, so the collected books are identical to per-subspace
    training (which r9 profiling showed cost ~2·m sequential
    single-task driver jobs per training — the whole wall of the PQ
    gate queries). Refreshed means snap to 12dp like every k-means
    trainer here (the unrolled oracles apply the same ROUND)."""
    slices = _sub_slices(dim, m)
    unit = _unit(F.col(vec_col).cast("array<double>"))
    seed_rows = bounded_collect(
        corpus.select(
            unit.alias("u"), F.md5(F.col(id_col).cast("string")).alias("__r")
        )
        .orderBy("__r")
        .limit(ksub),
        ksub,
        "seed sample is limit(ksub)",
    )
    books = [
        [list(r["u"])[st - 1 : st - 1 + ln] for r in seed_rows]
        for (st, ln) in slices
    ]
    ln_max = max(ln for _, ln in slices)
    base = corpus.select(unit.alias("u"))
    for _ in range(iters):
        entries = []
        for s, (st, l) in enumerate(slices):
            sub = F.slice(F.col("u"), st, l)
            dists = _book_dists(sub, books[s])
            cid = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            sv = (
                sub
                if l == ln_max
                else F.concat(sub, F.array(*[F.lit(0.0)] * (ln_max - l)))
            )
            entries.append(
                F.struct(
                    F.lit(s).alias("sub_id"),
                    cid.alias("cluster_id"),
                    sv.alias("sv"),
                )
            )
        exploded = (
            base.select(F.explode(F.array(*entries)).alias("e"))
            .select(F.struct("e.sub_id", "e.cluster_id").alias("__g"), F.col("e.sv").alias("sv"))
        )
        means = bounded_collect(
            group_centroids(exploded, "__g", "sv", dim=ln_max),
            len(slices) * ksub,
            "one row per (subvector, centroid) codebook entry",
        )
        # Same 12dp snap as train_ivf_centroids
        # (and the ROUND in the unrolled oracles): absorbs
        # partition-order summation noise before the next assignment.
        for r in means:
            s = r["__g"]["sub_id"]
            l = slices[s][1]
            books[s][r["__g"]["cluster_id"]] = [
                round(x, 12) for x in list(r["centroid"])[:l]
            ]
    return books


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: per subspace, the nearest-centroid index
    — dim floats become m small ints (m bytes on disk). The 100 TB
    point: the code table is ~dim·8/m× smaller than the raw vectors,
    so the ADC scan below reads memory-bandwidth-sized data, and
    encoding is a zero-shuffle column computation at ingest."""
    # materialize the unit vector as a COLUMN once: referencing the
    # normalization expression from every subspace slice would
    # recompute the full-vector norm m times per row
    base = df.select(
        id_col, _unit(F.col(vec_col).cast("array<double>")).alias("__u")
    )
    codes = []
    for (start, ln), book in zip(_sub_slices(dim, len(books)), books):
        sub = F.slice(F.col("__u"), start, ln)
        dists = _book_dists(sub, book)
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return base.select(id_col, F.array(*codes).alias("pq_codes"))


def topk_pq(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    m: int = 5,
    ksub: int = 16,
    iters: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via PQ + asymmetric distance computation (ADC): each
    probe precomputes an m×ksub lookup table of exact subvector→
    centroid distances (a COLUMN on the broadcast probe side, not a
    driver loop); a corpus candidate's approximate distance is then m
    array lookups over its byte codes — no float math against the
    original vectors, which are never read again after encoding.

    PQ compresses the scan; it does not prune it (every probe still
    visits every code row — |probes|·n lookups, embarrassingly
    parallel over the corpus partitioning). Production composes both:
    IVF cells to prune (`topk_ivf`), PQ codes inside each cell to
    shrink what a visit costs. Kept separate here so each effect is
    testable alone; the recall floor is pinned in pytest against the
    exact `topk_bruteforce` oracle."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    books = train_pq_codebooks(corpus, dim, m, ksub, iters, id_col, vec_col)
    from prisma_migrator_spark.catalog import ensure_parallelism

    codes = pq_encode(ensure_parallelism(corpus), books, dim, id_col, vec_col)
    return _pq_probe(codes, books, probes, k, dim, id_col, vec_col)


def save_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 5,
    ksub: int = 16,
    iters: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a PQ index at ingest — codebooks + byte codes — so
    probe batches pay only the LUT build and the ADC scan, never the
    fused k-means training or the corpus encode (the two jobs that
    dominate `topk_pq`). Layout: ``{path}/codebooks`` (sub_idx,
    codebook — m rows of ksub×subdim, model-sized) and
    ``{path}/codes`` (id, pq_codes — m small ints per vector, the
    ~dim/m× compressed scan body; the original vectors are not in
    the index at all, which is the point of PQ)."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    books = train_pq_codebooks(corpus, dim, m, ksub, iters, id_col, vec_col)
    from prisma_migrator_spark.catalog import ensure_parallelism

    pq_encode(ensure_parallelism(corpus), books, dim, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    corpus.sparkSession.createDataFrame(
        [(i, [list(c) for c in book]) for i, book in enumerate(books)],
        "sub_idx int, codebook array<array<double>>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )
    meta = corpus.sparkSession.createDataFrame(
        [(dim, m, ksub)], "dim int, m int, ksub int"
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def topk_pq_from_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a PERSISTED PQ index (`save_pq_index`):
    loads the model-sized codebooks driver-side and runs the shared
    ADC probe stage over the stored codes — identical output to
    fresh `topk_pq` with the same codebooks (pinned by
    `test_pq_persisted_index_matches_fresh`)."""
    from prisma_migrator_spark.operators.driver_state import bounded_collect

    meta = bounded_collect(
        spark.read.parquet(f"{path}/meta"), 1, "PQ meta is one row"
    )[0]
    rows = bounded_collect(
        spark.read.parquet(f"{path}/codebooks").orderBy("sub_idx"),
        4096,
        "PQ codebooks are m rows (model-sized)",
    )
    books = [[list(c) for c in r["codebook"]] for r in rows]
    codes = spark.read.parquet(f"{path}/codes")
    return _pq_probe(
        codes, books, probes, k, int(meta["dim"]), id_col, vec_col
    )


def _pq_probe(
    codes: DataFrame,
    books: list,
    probes: DataFrame,
    k: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC probe stage shared by :func:`topk_pq` and
    :func:`topk_pq_from_index`: per-probe m×ksub exact LUT as a
    broadcast column, candidate distance = m array lookups over the
    stored byte codes."""
    m = len(books)
    pbase = probes.select(
        F.col(id_col).alias("probe_id"),
        _unit(F.col(vec_col).cast("array<double>")).alias("__u"),
    )
    luts = []
    for (start, ln), book in zip(_sub_slices(dim, m), books):
        sub = F.slice(F.col("__u"), start, ln)
        luts.append(_book_dists(sub, book))
    pb = pbase.select("probe_id", F.array(*luts).alias("__lut"))
    adc = F.aggregate(
        F.zip_with(
            F.col("pq_codes"),
            F.col("__lut"),
            lambda c, lut: F.element_at(lut, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        codes.join(F.broadcast(pb), F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(adc, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "adc_dist", "rank")
    )


def topk_ivf_pq(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 5,
    ksub: int = 16,
    iters: int = 1,
    rerank: int = 0,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF × PQ — the production composition (FAISS
    IVFADC; Jégou et al. 2011, PAPERS.md). The two quantizers attack
    different costs and multiply: IVF prunes WHICH rows a probe
    visits (its ``nprobe`` nearest cells of the inverted file), PQ
    shrinks what each visit COSTS (m byte-code lookups against a
    per-probe ADC table instead of dim float multiplies against a
    vector that had to be read from disk). Candidate volume is
    |probes|·nprobe·(n/C) rows of m-byte codes — at 100 TB the raw
    vectors are written once at ingest and never scanned again.

    ``rerank > 0`` adds the FAISS refine stage: the top ``rerank``
    ADC candidates per probe (a |probes|·rerank-row frame, tiny by
    construction) join back to the raw vectors for exact cosine, and
    top-k is taken from that — quantization error buys one narrow
    join instead of recall.

    The index frame (cluster id + PQ codes) is computed in ONE
    map-side pass over the corpus: both quantizers are argmin scans
    against broadcast codebook literals, so there is no
    assign-join-encode shuffle.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    cents = train_ivf_centroids(corpus, n_centroids, iters, id_col, vec_col)
    books = train_pq_codebooks(corpus, dim, m, ksub, iters, id_col, vec_col)
    from prisma_migrator_spark.catalog import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    # one map-side pass: cluster assignment + PQ codes off the same row
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    u = F.transform(F.col(vec_col), lambda x: x / F.col("__norm"))
    code_cols = []
    for (start, ln), book in zip(_sub_slices(dim, len(books)), books):
        dists = _book_dists(F.slice(u, start, ln), book)
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    index = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        "cluster_id",
        F.array(*code_cols).alias("pq_codes"),
    )

    # probe side: nprobe nearest cells + the ADC lookup table, together
    p = probes.select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    ).withColumn("__norm", _norm(F.col(vec_col)))
    sims = _centroid_sims(F.col(vec_col), F.col("__norm"), cents)
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.zip_with(
                    sims,
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                    lambda s, i: F.struct(s.alias("sim"), i.alias("idx")),
                )
            )
        ),
        1,
        nprobe,
    )
    pu = F.transform(F.col(vec_col), lambda x: x / F.col("__norm"))
    luts = [
        _book_dists(F.slice(pu, start, ln), book)
        for (start, ln), book in zip(_sub_slices(dim, m), books)
    ]
    pb = p.select(
        F.col(id_col).alias("probe_id"),
        F.array(*luts).alias("__lut"),
        F.explode(ranked["idx"]).alias("cluster_id"),
    )

    adc = F.aggregate(
        F.zip_with(
            F.col("pq_codes"),
            F.col("__lut"),
            lambda c, lut: F.element_at(lut, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        index.join(F.broadcast(pb), "cluster_id")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", F.round(adc, 6).alias("adc_dist"))
    )
    w_adc = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w_adc))
            .where(F.col("rank") <= k)
            .select("probe_id", "neighbor_id", "adc_dist", "rank")
        )

    cands = scored.withColumn("rank", F.row_number().over(w_adc)).where(
        F.col("rank") <= rerank
    )
    raw = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__nv"),
    ).withColumn("__nn", _norm(F.col("__nv")))
    praw = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("__pv"),
    ).withColumn("__pn", _norm(F.col("__pv")))
    exact = (
        cands.join(raw, "neighbor_id")
        .join(F.broadcast(praw), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("__pv"), F.col("__nv"))
                / (F.col("__pn") * F.col("__nn")),
                6,
            ).alias("cosine"),
        )
    )
    w_cos = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def mmr_topk(
    corpus: DataFrame,
    probe_vec: list[float],
    k: int = 10,
    lam: float = 0.7,
    fetch: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results maximizing
    ``lam·cos(probe, d) − (1−lam)·max_{s∈selected} cos(d, s)`` — the
    diversity-aware top-k that keeps a result list from filling up
    with near-duplicates of the first hit.

    Scale shape: ONE distributed pass scores the corpus against the
    probe and keeps the top ``fetch`` candidates (TakeOrdered — the
    same exact-top-k discipline as `topk_bruteforce`); the greedy
    re-rank then runs driver-side over that fetch-bounded set
    (k·fetch dot products on ≤ fetch rows — structurally bounded, the
    `bounded_collect` contract). Determinism: candidate scores round
    to 6dp with id tiebreaks before the cut, and the greedy argmax
    tie-breaks on id, so the selection is engine/partitioning-stable.
    """
    import math

    from prisma_migrator_spark.operators.driver_state import bounded_collect

    from prisma_migrator_spark.operators.literals import double_array

    pv = double_array(probe_vec)
    pnorm = math.sqrt(sum(x * x for x in probe_vec)) or 1.0
    scored = (
        corpus.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .withColumn("__norm", _norm(F.col("vec")))
        .select(
            "cand_id",
            "vec",
            F.round(
                _dot(F.col("vec"), pv) / (F.col("__norm") * F.lit(pnorm)), 6
            ).alias("rel"),
        )
    )
    cands = bounded_collect(
        scored.orderBy(F.desc("rel"), F.asc("cand_id")).limit(fetch),
        fetch,
        "MMR candidate pool is limit(fetch)",
    )
    pool = {
        r["cand_id"]: (list(r["vec"]), float(r["rel"])) for r in cands
    }
    norms = {
        cid: math.sqrt(sum(x * x for x in vec)) or 1.0
        for cid, (vec, _) in pool.items()
    }
    selected: list[tuple[int, float, float]] = []  # (id, rel, mmr)
    sel_vecs: list[tuple[list[float], float]] = []  # (vec, norm)
    while pool and len(selected) < k:
        best = None
        for cid in sorted(pool):
            vec, rel = pool[cid]
            red = max(
                (
                    sum(a * b for a, b in zip(vec, svec)) / (snorm * norms[cid])
                    for svec, snorm in sel_vecs
                ),
                default=0.0,
            )
            score = round(lam * rel - (1 - lam) * red, 9)
            if best is None or score > best[1]:
                best = (cid, score, rel)
        cid, score, rel = best
        sel_vecs.append((pool[cid][0], norms[cid]))
        selected.append((cid, rel, score))
        del pool[cid]
    spark = corpus.sparkSession
    # cand_id keeps the corpus id column's own type (string ids are
    # as legitimate as bigint ones — ADVICE r7): derive the result
    # schema instead of hardcoding bigint
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField("cand_id", corpus.schema[id_col].dataType, True),
            StructField("rel", DoubleType(), True),
            StructField("mmr", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(
        [
            (i + 1, cid, rel, mmr)
            for i, (cid, rel, mmr) in enumerate(selected)
        ],
        schema,
    )
