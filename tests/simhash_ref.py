"""The explode+groupBy SimHash plan, the independent reference for
the bit-identity pins of the package's row-local ``simhash``: it
explodes every token into its own row and sums the ±1 projections per
document in a groupBy, where ``simhash_expr`` folds them in one
higher-order function over the token array."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import ensure_parallelism
from prisma_migrator_spark.llm.dedup import simhash_bit_source
from prisma_migrator_spark.llm.text import normalized_text


def simhash_agg(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """n-bit SimHash per document through explode + groupBy; NULL
    text explodes to no row, so such documents get no signature."""
    df = ensure_parallelism(df)
    words = F.split(normalized_text(F.col(text_col)), " ")
    tok = df.select(id_col, F.explode(words).alias("t")).withColumn(
        "h", F.md5(F.col("t"))
    )
    # Pack the needed md5 hex digits into 32-bit integer words ONCE per
    # token; each bit expression is then integer shift/mask instead of
    # its own conv(substring(...)) — same nibbles, ~3x less expression
    # work per row and far smaller generated code (64 string-parse
    # trees made the n_bits=64 aggregate compile-heavy).
    max_digit = max(simhash_bit_source(j, n_bits)[0] for j in range(n_bits))
    n_words = max_digit // 8 + 1
    tok = tok.select(
        id_col,
        *[
            F.conv(F.substring("h", 8 * i + 1, 8), 16, 10)
            .cast("long")
            .alias(f"__w{i}")
            for i in range(n_words)
        ],
    )

    def bit(j: int):
        digit, mask = simhash_bit_source(j, n_bits)
        nib = F.shiftright(F.col(f"__w{digit // 8}"), 4 * (7 - digit % 8)).bitwiseAND(
            F.lit(15)
        )
        return F.when(nib.bitwiseAND(F.lit(mask)) > 0, 1).otherwise(-1)

    sums = tok.groupBy(id_col).agg(
        *[F.sum(bit(j)).alias(f"s{j}") for j in range(n_bits)]
    )
    bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(n_bits)]
    )
    return sums.select(id_col, bits.alias("simhash"))
