"""The package's one per-row Python stage: :func:`_per_row`.

Every Python function applied row by row — the multimodal decoders,
fingerprinters and synthesizers (``llm/multimodal.py``) and the zlib
ratio (``llm/text.zlib_ratio_df``) — runs Arrow-batched through one
``mapInPandas``, so Python touches each batch once and every stage
shares one fault-isolation rule.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def _per_row(
    df: DataFrame,
    fn: Callable,
    cols: list[str],
    schema: str,
    keep: list[str],
) -> DataFrame:
    """Run ``fn(*row)`` over the ``cols`` of each row, Arrow-batched in
    one ``mapInPandas``. Output: the ``keep`` columns as they came in,
    then one column per field of the DDL ``schema``. ``fn`` returns a tuple of field values, or a bare
    value when ``schema`` has one field.

    Fault isolation: a row where ``fn`` raises (or returns None) gets
    NULL in every field — one bad blob out of a billion must not fail
    the stage.

    ``mapInPandas`` rather than a pandas UDF: Spark pushes a filter on
    a UDF's result below the projection and then evaluates the UDF
    twice, once for the filter and once for the column; the opaque
    ``MapInPandas`` node runs ``fn`` once per row whatever sits above."""
    import pandas as pd

    fields = StructType.fromDDL(schema)
    names, nulls = fields.names, (None,) * len(fields.names)
    src = df.select(*dict.fromkeys([*keep, *cols]))

    def call(row: tuple) -> tuple:
        try:
            out = fn(*row)
        except Exception:
            return nulls
        if out is None:
            return nulls
        return (out,) if len(names) == 1 else out

    def run(batches):
        for pdf in batches:
            rows = [call(r) for r in zip(*(pdf[c].tolist() for c in cols))]
            new = pd.DataFrame(rows, columns=names, index=pdf.index, dtype=object)
            yield pd.concat([pdf[keep], new], axis=1)

    return src.mapInPandas(
        run, StructType([src.schema[c] for c in keep] + fields.fields)
    )
