"""Arrow-batched struct UDF construction without the deprecated enum.

``pandas_udf(fn, rt, PandasUDFType.SCALAR)`` is the legacy Spark-2.x
form — it works on the pinned Spark but warns and is slated for
removal (ADVICE r7). The modern form infers the eval type from type
hints, and ``typing.get_type_hints`` evaluates those hints against the
DEFINING module's globals — which is exactly why the call site
(`llm/text.py`) could not use it with its function-local ``import
pandas as pd``. This module imports pandas at module level so the
hints on the wrapper below always resolve.

The wrapper uses the ITERATOR form (`SCALAR_ITER`): same Arrow batch
transfer as plain SCALAR, plus per-task setup (codec tables, zlib)
amortizes across batches instead of re-running per batch.
"""

from __future__ import annotations

from typing import Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql.functions import pandas_udf


def struct_pandas_udf(
    return_type: str,
    fn: Callable[..., "pd.DataFrame"],
):
    """Modern pandas UDF over a STRUCT-returning per-batch function
    ``fn(*series) -> pd.DataFrame`` whose columns are the struct
    fields. Spark yields a bare Series when the UDF takes one column
    and a tuple when it takes several — the wrapper normalizes both
    shapes."""

    def _it(
        batches: Iterator[Tuple[pd.Series, ...]]
    ) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield fn(*b) if isinstance(b, tuple) else fn(b)

    return pandas_udf(_it, return_type)
