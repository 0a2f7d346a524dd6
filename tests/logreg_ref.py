"""The pure-Python reference trajectory for the distributed
logistic-regression trainer (``llm.logreg.train_logreg``): the parity
oracle the trainer's pin compares against."""

from __future__ import annotations

import math

from prisma_migrator_spark.llm.logreg import _EPS


def train_logreg_py(
    rows: list[tuple[list[float], float]],
    dim: int,
    lr: float = 2.0,
    n_iters: int = 20,
    l2: float = 0.0,
) -> tuple[list[float], list[float]]:
    """Pure-Python reference of the EXACT same GD (same init, lr,
    clamp, update) — the parity oracle for pytest: Spark and this
    must agree on the trajectory up to float-summation order."""
    w = [0.0] * dim
    losses: list[float] = []
    for _ in range(n_iters):
        g = [0.0] * dim
        total = 0.0
        for x, y in rows:
            z = sum(wj * xj for wj, xj in zip(w, x))
            p = 1.0 / (1.0 + math.exp(-z))
            p = min(max(p, _EPS), 1.0 - _EPS)
            total += -(y * math.log(p) + (1.0 - y) * math.log(1.0 - p))
            r = p - y
            for j in range(dim):
                g[j] += r * x[j]
        n = max(len(rows), 1)
        losses.append(total / n)
        w = [wj - lr * ((g[j] / n) + l2 * wj) for j, wj in enumerate(w)]
    return w, losses
