"""A scripted HTTP transport, the test double for
``sources.http``: the package takes its transport as a callable, and
the tests script the responses."""

from __future__ import annotations

from collections.abc import Sequence

from prisma_migrator_spark.sources.http import Transport


def scripted_transport(
    responses: dict[str, Sequence[tuple[int, str]]]
) -> Transport:
    """Deterministic test transport: per URL, a sequence of
    (status, body) served per attempt (last one repeats). Stateful
    within one python worker — use driver-side or with stateless
    single-entry scripts when distributed."""
    counts: dict[str, int] = {}

    def fetch(url: str) -> tuple[int, str]:
        seq = responses[url]
        i = min(counts.get(url, 0), len(seq) - 1)
        counts[url] = i + 1
        return seq[i]

    return fetch
