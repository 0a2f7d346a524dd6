"""Distributed logistic-regression training for the quality classifier.

`quality_model_score` (plans/llm.py) APPLIES a given broadcast weight
map — the inference shape. Real pipelines TRAIN that model: weak
labels come from the cheap heuristic gate (or a small human-labeled
set), features are term frequencies over a bounded vocabulary, and
the classifier replaces the heuristic once it beats it (the
fasttext-style quality filter of CCNet/Gopher-class pipelines). This
module is the training side, built on the same iterative discipline
as the k-means (`llm/similarity.train_ivf_centroids`) and BPE
trainers: the loop state living on the driver is MODEL-sized (dim
floats), never data-sized, and each iteration is ONE distributed
aggregate job.

Execution shape per gradient-descent iteration:

- the weight vector rides in as one array<double> literal (NOT dim
  scalar literals — those force a fresh janino compile of the
  dim-wide aggregate every iteration; see train_logreg's docstring);
- z = w·x is a zip_with fold on the feature array, projected once
  before the aggregate — JVM expressions, zero Python, but not
  compiled: ``ZipWith`` and ``ArrayAggregate`` are ``CodegenFallback``
  in Spark 4.1, so the generated stage evaluates them per element
  through interpreted lambdas;
- the gradient Σ (σ(z) − y)·x, the log-loss Σ, and the row count
  come back as ONE HashAggregate row (dim + 2 partially-aggregated
  sums — map-side combine does the heavy lifting, the shuffle is
  one row per partition);
- `bounded_collect(…, 1)` pulls that single row to the driver.

So a 100 TB corpus trains in n_iters scans with nothing
data-proportional ever leaving the executors. Feature construction
is map-side (no explode/shuffle): per vocabulary term a
filter-count over the token array — fine for the dim ≤ 64 quality
models this targets; swap in the hashing trick (token_hash % D) when
the feature space outgrows unrolled expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prisma_migrator_spark.llm.text import quality_score, tokens
from prisma_migrator_spark.operators.driver_state import bounded_collect
from prisma_migrator_spark.operators.literals import sql_double

#: clamp for σ(z) inside the loss so log() never sees 0 — standard
#: numerical guard, same value in the pure-Python test reference.
_EPS = 1e-12


def featurize_terms(
    docs: DataFrame,
    vocab_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, x[, keep_cols…]) rows where x = [1.0 (bias),
    min(n_tokens/100, 1), freq(term_1), …, freq(term_V)] — term
    counts normalized by token count and the length feature CLAMPED
    so every feature sits in [0, 1]: with unbounded features (a raw
    log-length reaches ~4-8) plain full-batch GD at a useful learning
    rate overshoots and oscillates — measured diverging, even
    SIGN-INVERTING, on the fixture corpus before the clamp. Map-side
    only: each frequency is a filter-count over the token array."""
    tok = tokens(F.col(text_col))
    n = F.size(tok).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))

    def _matches(term: str):
        # closure factory, NOT a default-arg lambda: F.filter treats a
        # two-parameter lambda as its (element, index) form and would
        # bind `term` to the BIGINT index column
        return lambda t: t == F.lit(term)

    freqs = [
        (F.size(F.filter(tok, _matches(term))) / safe_n)
        for term in vocab_terms
    ]
    x = F.array(F.lit(1.0), F.least(n / F.lit(100.0), F.lit(1.0)), *freqs)
    return docs.select(
        F.col(id_col), x.alias("x"), *[F.col(c) for c in (keep_cols or [])]
    )


def weak_quality_label(text: Column, threshold: float = 0.3) -> Column:
    """Weak label from the heuristic gate: 1.0 where
    `quality_score` ≥ threshold (the same cut `clean_corpus` keeps),
    else 0.0 — the standard bootstrap when no human labels exist."""
    return (quality_score(text) >= F.lit(threshold)).cast("double")


def _dot(w: list[float], x_col: str) -> Column:
    """w·x unrolled to literal multiply-adds (whole-stage codegen)."""
    z: Column = F.lit(0.0)
    for j, wj in enumerate(w):
        z = z + F.lit(wj) * F.col(x_col)[j]
    return z


def train_logreg(
    feats: DataFrame,
    dim: int,
    x_col: str = "x",
    y_col: str = "y",
    lr: float = 2.0,
    n_iters: int = 20,
    l2: float = 0.0,
) -> tuple[list[float], list[float]]:
    """Full-batch gradient descent from w = 0. Returns
    (weights, per-iteration mean log-loss BEFORE each step) — the
    loss history is the trainer's own convergence evidence (pinned
    decreasing in pytest).

    The caller owns persistence of ``feats``: it is scanned once per
    iteration, so snapshot it (persist + count — it is static, built
    once and never rebound, so the eager-columnar-cache pattern of
    PERF.md #63 applies, not the localCheckpoint-for-LOOP-state rule:
    the loop state here is the driver-side weight vector).

    Two per-iteration costs matter and both are fixed here (VERDICT
    r7 item 6; measured 26.4 s → 11.2 s cold / 0.76 → 0.32 s/iter
    warm at sf0.01, bit-identical trajectories):

    - the weight vector rides in as ONE array<double> LITERAL, not
      dim scalar literals: complex-type literals reach generated code
      as reference objects, so the whole-stage-codegen SOURCE is
      identical across iterations (janino cache hit) while scalar
      literals are inlined and forced a fresh ~dim-wide compile every
      iteration;
    - z = w·x is projected ONCE as a column before the aggregate;
      referencing the full fold expression from all dim+2 sums made
      every sum's expression tree O(dim) and the analyzer/codegen
      quadratic in dim.

    z is the same left-to-right fold as the scalar-literal form, so
    the trajectory is bit-identical (pinned by the pure-Python parity
    test).

    r10 (§1.2 driver work): each iteration's plan is built as TWO
    ``selectExpr`` SQL strings instead of ~200 Column-API py4j round
    trips (dim+2 sums, each ``F.sum(r * x[j])`` a chain of JVM
    calls) — measured 0.95 s/iteration of pure driver-side plan
    BUILD time at the sf0.01 gate, 3× the job execution itself. The
    SQL parses to the identical expression trees (same fold, same
    clamp literals via :func:`sql_double`, same sum terms), so the
    trajectory stays bit-identical — pinned by the parity test and
    the byte-identity gate below."""
    w = [0.0] * dim
    losses: list[float] = []
    xq = f"`{x_col}`"
    yq = f"`{y_col}`"
    # iteration-invariant SQL fragments (p references the projected
    # __z column exactly like the old Column form did)
    p_sql = (
        "least(greatest(1.0D / (1.0D + exp(- __z)), "
        f"{sql_double(_EPS)}), {sql_double(1.0 - _EPS)})"
    )
    loss_sql = (
        f"- ({yq} * ln({p_sql}) + (1.0D - {yq}) * ln(1.0D - {p_sql}))"
    )
    agg_exprs = [
        "cast(count(1) as double) as n",
        f"sum({loss_sql}) as loss",
        *[
            f"sum(({p_sql} - {yq}) * {xq}[{j}]) as g{j}"
            for j in range(dim)
        ],
    ]
    for _ in range(n_iters):
        # the weight vector as one array<double> literal: constant-
        # folded to a single ArrayData reference object, so the
        # whole-stage-codegen SOURCE is identical across iterations
        # (janino cache hit), exactly like F.lit(list).cast(...)
        warr = "array(" + ", ".join(sql_double(wj) for wj in w) + ")"
        z_sql = (
            f"aggregate(zip_with({warr}, {xq}, (a, b) -> a * b), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        proj = feats.selectExpr(xq, yq, f"{z_sql} as __z")
        agg = proj.selectExpr(*agg_exprs)
        row = bounded_collect(agg, 1, "1-row gradient aggregate")[0]
        n = max(row["n"] or 0.0, 1.0)
        losses.append(row["loss"] / n)
        w = [
            wj - lr * ((row[f"g{j}"] / n) + l2 * wj)
            for j, wj in enumerate(w)
        ]
    return w, losses


def score_logreg(
    feats: DataFrame, w: list[float], x_col: str = "x"
) -> DataFrame:
    """σ(w·x) as a map-side column — identical execution shape to the
    fixed-weight `quality_model_score` inference path."""
    z = _dot(w, x_col)
    return feats.withColumn(
        "p_keep", F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    )
