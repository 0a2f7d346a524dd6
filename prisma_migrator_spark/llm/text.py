"""Text analysis operators: tokens, quality, language-ID, fingerprints.

All pure built-in Column expressions / aggregations — JVM-side,
whole-stage-codegen'd, no Python in the hot path. At 100 TB these are
embarrassingly parallel map-side transforms (no shuffle at all except
the explicit groupBys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny built-in stopword lists for the heuristic scorers. Marker
#: words per language for the n-gram/stopword language-ID heuristic.
STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
]
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "les", "des", "est", "une"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish proxy count: word-piece-sized chunks — splits on
    whitespace AND punctuation, counting ~4-char subword units.
    Deterministic stand-in for a real tokenizer (not installed)."""
    # explicit char class (not \p{Punct}): Java and RE2 regex agree on
    # it, so the DuckDB oracle computes the identical split
    words = F.split(F.lower(F.trim(text)), r"[\s.,;:!?]+")
    # each word contributes ceil(len/4) subword units, min 1
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.when(F.length(w) == 0, 0).otherwise(
            F.ceil(F.length(w) / F.lit(4.0)).cast("int")
        ),
    )


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"[.,;:!?]"))


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    """Occurrences of stopword tokens (array-filter, no explode)."""
    from prisma_migrator_spark.operators.literals import string_array

    sw = string_array(stopwords or STOPWORDS_EN)
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def quality_score(text: Column) -> Column:
    """Length/stopword/punctuation quality heuristic in [0, 1]:
    0.5·min(tokens/100, 1) + 0.4·stopword_ratio + 0.1·(1 if has
    sentence punctuation). The weights are arbitrary but fixed; the
    point is the *shape* (cheap columnar quality filter)."""
    n = token_count(text).cast("double")
    stop_ratio = stopword_count(text) / F.greatest(n, F.lit(1.0))
    return (
        F.lit(0.5) * F.least(n / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * stop_ratio
        + F.lit(0.1) * F.when(punct_count(text) > 0, 1.0).otherwise(0.0)
    )


def marker_count(text: Column, markers: list[str]) -> Column:
    from prisma_migrator_spark.operators.literals import string_array

    sw = string_array(markers)
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID: argmax of per-language marker
    counts; ties broken by fixed language order; all-zero → 'und'."""
    result = F.lit("und")
    best = F.lit(0)
    # iterate in reversed priority so earlier langs win ties
    for lang in reversed(list(LANG_MARKERS)):
        cnt = marker_count(text, LANG_MARKERS[lang])
        result = F.when(cnt >= F.greatest(best, F.lit(1)), F.lit(lang)).otherwise(
            result
        )
        best = F.greatest(best, cnt)
    return result


#: PII patterns, applied in order. Kept to the Java-regex ∩ RE2 common
#: subset (char classes + bounded quantifiers, no backrefs/lookaround)
#: so the DuckDB oracle's regexp_replace computes the identical result.
#: Order matters: emails before IPs (an email domain can contain
#: digit-dot runs).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "<SSN>"),
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails, SSN-shaped ids, and IPv4s with typed tags —
    the pre-training scrub pass. Pure chained ``regexp_replace``:
    JVM-side, codegen'd, zero Python in the hot path."""
    out = text
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(text: Column) -> list[Column]:
    """One ``n_<kind>`` count column per PII pattern (pre-redaction)."""
    return [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed, lowercased, trimmed — the canonical form
    fingerprints and exact dedup key on."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def content_fingerprint(text: Column) -> Column:
    """MD5 of the normalized text — the exact-dedup key (document
    fingerprinting via a content hash)."""
    return F.md5(normalized_text(text))


#: Rolling-hash parameters (Rabin–Karp polynomial hash over tokens).
ROLL_BASE = 31
ROLL_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def token_hash(w: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 as int.
    Engine-agnostic (Spark and the DuckDB oracle agree bit-for-bit)."""
    return F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")


def rolling_fingerprint(text: Column) -> Column:
    """Rabin–Karp rolling hash over the normalized token stream:
    ``h = fold(tokens, 0, (acc, t) -> (acc·B + hash(t)) mod M)``.

    Order-sensitive (unlike the content MD5) and incrementally
    updatable — the classic document fingerprint for shift-tolerant
    chunking. Pure ``F.aggregate`` fold: JVM-side, no UDF, no shuffle.
    Max intermediate is (M·B + 2³²) < 2³⁶ — no 64-bit overflow.
    """
    words = F.split(normalized_text(text), " ")
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * F.lit(ROLL_BASE) + token_hash(w), F.lit(ROLL_MOD)),
    )


def hash_split(
    id_col: Column,
    train_pct: int = 80,
    val_pct: int = 10,
) -> Column:
    """Deterministic train/val/test assignment from the md5 of the row
    key: reproducible across runs, engines, partitionings, and data
    ADDITIONS (a row's split never changes when other rows arrive —
    the property random splits lack). Pure map-side expression."""
    bucket = F.pmod(token_hash(id_col.cast("string")), F.lit(100))
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    from prisma_migrator_spark.catalog import ensure_parallelism

    df = ensure_parallelism(df)  # map-only: inherits scan parallelism
    t = F.col(text_col)
    return df.select(
        id_col,
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_subwords"),
        punct_count(t).alias("n_punct"),
        stopword_count(t).alias("n_stopwords"),
        F.round(quality_score(t), 6).alias("quality"),
        lang_id(t).alias("lang_pred"),
        content_fingerprint(t).alias("fingerprint"),
    )


def build_vocab(
    docs: DataFrame,
    top_v: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-ranked vocabulary: the ``top_v`` most frequent tokens
    with dense ids 1..V (0 is reserved for OOV/unknown). Ties break on
    the token itself so the mapping is deterministic across runs,
    partitionings, and engines.

    Scale shape: one token-level explode + count shuffle (Σ distinct
    terms keyed near-uniformly), then a distributed top-V
    (``orderBy(...).limit(V)`` plans as TakeOrdered — per-partition
    partial top-V, driver merges V rows, never the term table). The
    final id assignment is a V-row window — vocabulary-sized, not
    corpus-sized.
    """
    from prisma_migrator_spark.operators.ranking import bounded_global_window

    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(top_v)
    )
    w = bounded_global_window(
        F.desc("n"), F.asc("term"), anchor="n",
        bound=f"top_v={top_v} vocabulary rows"
    )
    return counts.select(
        F.row_number().over(w).alias("token_id"), "term", "n"
    )


def encode_token_ids(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode each document's token stream to vocabulary ids (OOV →
    0), preserving token order — the id-space handoff a tokenizer
    produces for training.

    Plan: token-level posexplode → broadcast hash join against the
    V-row vocabulary (vocab is always broadcast-sized by
    construction) → per-doc reassembly via ``array_sort`` on
    (pos, id) structs, which is a plain HashAggregate collect_list —
    order restored WITHOUT a sort-within-groups shuffle. Per-doc
    state is the doc's own token ids, the same order as the text
    riding the pipeline. Zero Python.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )
    joined = toks.join(F.broadcast(vocab.select("term", "token_id")), "term", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("pos"), F.coalesce("token_id", F.lit(0)).alias("tid"))
                )
            ).alias("__ordered")
        )
        .select(
            F.col(id_col),
            F.transform(F.col("__ordered"), lambda s: s["tid"]).alias("token_ids"),
            F.size("__ordered").alias("n_tokens"),
        )
    )


def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution — a
    cheap garbled-text / compression-ratio proxy: natural prose sits
    ~4-4.5 bits, repeated boilerplate and single-char spam fall far
    below, random bytes push toward log2(alphabet).

    Pure map-side array algebra, zero shuffles and zero UDFs: per
    distinct character, count occurrences with a filter scan —
    O(|distinct| · len) per doc, fine for the ~dozens of distinct
    chars real text has. NULL/empty text → NULL."""
    chars = F.filter(F.split(F.lower(text), ""), lambda x: x != F.lit(""))
    n = F.size(chars)
    p = lambda c: F.size(F.filter(chars, lambda x: x == c)) / n  # noqa: E731
    ent = -F.aggregate(
        F.transform(F.array_distinct(chars), lambda c: p(c) * F.log2(p(c))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, ent)


# --- confusable folding (adversarial / homoglyph dedup) ----------------
#
# SEO spam and adversarial re-posts evade exact dedup by swapping
# Latin letters for visually-identical Unicode lookalikes (Cyrillic
# а/е/о..., Greek omicron) and salting zero-width characters into the
# text — byte- and even whitespace-normalized hashing both miss it.
# The fold maps confusables to their ASCII skeleton and strips
# zero-width code points BEFORE the canonical normalization, so the
# fingerprint sees what a READER sees. (A subset of Unicode TR39
# skeletons: the Latin-lookalike pairs that actually appear in crawl
# spam; both halves are plain translate/regexp so the DuckDB oracle
# reproduces the fold bit-for-bit.)

#: Cyrillic + Greek lookalikes -> ASCII skeleton (same index pairs).
CONFUSABLE_SRC = (
    "аеіорсухѕј"
    "АВЕКМНОРСТХ"
    "ЅЈοα"
)
CONFUSABLE_DST = "aeiopcyxsjABEKMHOPCTXSJoa"

#: Zero-width / invisible code points stripped by the fold.
ZERO_WIDTH = "​‌‍﻿­"


def confusable_fold(text: Column) -> Column:
    """Strip zero-width code points, then map confusable lookalikes
    to their ASCII skeleton — pure JVM ``translate``/``regexp``."""
    return F.translate(
        F.regexp_replace(text, f"[{ZERO_WIDTH}]", ""),
        CONFUSABLE_SRC,
        CONFUSABLE_DST,
    )


def homoglyph_fingerprint(text: Column) -> Column:
    """Content fingerprint over the confusable-folded text — pairs an
    adversarial homoglyph copy with its source where
    :func:`content_fingerprint` cannot."""
    return F.md5(normalized_text(confusable_fold(text)))


# --- Luhn-validated credit-card PII ------------------------------------
#
# A bare \d{13,19} regex flags order numbers, timestamps, and ids as
# card numbers; real CC detection validates the Luhn checksum, which
# cuts ~90% of random digit-run false positives. Both halves stay
# JVM-side: candidates via regexp_extract_all, the checksum via an
# aggregate higher-order function over the digit string — no UDF, and
# the identical arithmetic is expressible in DuckDB list functions,
# so the oracle genuinely recomputes the validation.

#: 13-19 digit runs, optionally space/dash separated.
CC_CANDIDATE_RE = r"\b(?:\d[ -]?){12,18}\d\b"


def luhn_payload_sum(digits: Column) -> Column:
    """Luhn sum of a PAYLOAD digit string (no check digit): doubled
    at even 0-indexed-from-right positions, 9-folded. The check
    digit is then ``(10 - sum % 10) % 10``."""
    n = F.length(digits)
    return F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 0,
            _luhn_fold(digits.substr(n - i, F.lit(1)).cast("int") * 2),
        ).otherwise(digits.substr(n - i, F.lit(1)).cast("int")),
    )


def _luhn_fold(v: Column) -> Column:
    return F.when(v > 9, v - 9).otherwise(v)


def luhn_valid(digits: Column) -> Column:
    """True iff the FULL digit string (check digit included) passes
    Luhn: doubled at odd 0-indexed-from-right positions."""
    n = F.length(digits)
    total = F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 1,
            _luhn_fold(digits.substr(n - i, F.lit(1)).cast("int") * 2),
        ).otherwise(digits.substr(n - i, F.lit(1)).cast("int")),
    )
    return total % 10 == 0


def _cc_valid_candidates(text: Column) -> Column:
    return F.filter(
        F.regexp_extract_all(text, F.lit(CC_CANDIDATE_RE), F.lit(0)),
        lambda c: luhn_valid(F.regexp_replace(c, "[^0-9]", "")),
    )


def cc_count(text: Column) -> Column:
    """Number of Luhn-VALID card candidates in the text."""
    return F.size(_cc_valid_candidates(text))


def redact_cc(text: Column) -> Column:
    """Replace every Luhn-valid candidate with ``[CC]``; invalid
    digit runs (the false positives a bare regex would hit) pass
    through untouched."""
    return F.aggregate(
        _cc_valid_candidates(text),
        text,
        lambda acc, c: F.replace(acc, c, F.lit("[CC]")),
    )


def zlib_ratio_df(df: DataFrame, text_col: str = "text",
                  level: int = 6) -> DataFrame:
    """Append ``n_bytes`` and ``zlib_ratio`` (deflate-compressed size /
    raw UTF-8 size) — the compressibility quality signal web-scale
    pipelines use to drop machine-generated and template text (highly
    repetitive pages compress far below prose; see the Gopher /
    RefinedWeb repetition filters). zlib level is pinned so the ratio
    is deterministic across runs and machines.

    This is the one text signal that genuinely needs Python (no JVM
    deflate exposed as a SQL function), so it runs Arrow-batched through
    ``functions/arrow._per_row`` — each batch crosses the language
    boundary once; the stage stays embarrassingly parallel, zero
    shuffle, and a filter on the ratio cannot make Spark compress a
    row twice."""
    import zlib

    from prisma_migrator_spark.functions.arrow import _per_row

    def one(s):
        if s is None:
            return None
        raw = s.encode("utf-8")
        if not raw:
            return (0, None)
        return (len(raw), round(len(zlib.compress(raw, level)) / len(raw), 6))

    return _per_row(
        df, one, [text_col], "n_bytes long, zlib_ratio double", df.columns
    )


def hashed_term_sums(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """The hashed bag of words under both forms of the feature-hashed
    doc vectors: ``(id_col, dim, v)``, one row per document and
    touched dimension, ``v`` the sum over the doc's terms of tf × an
    md5 ±1 sign, each term mapped to ``dim`` = md5 mod ``dim`` (see
    ``plans/llm.hashed_doc_vectors_q``). Terms are :func:`tokens`;
    ``v`` may be 0 when signs cancel."""
    toks = (
        df.where(F.length(F.trim(text_col)) > 0)
        .select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )

    def md5_long(prefix: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), F.col("term"))), 1, 15),
            16, 10,
        ).cast("long")

    sgn = F.when(md5_long("fhs:") % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        tf.select(
            id_col,
            (md5_long("fh:") % dim).cast("int").alias("dim"),
            (sgn * F.col("tf")).alias("sv"),
        )
        .groupBy(id_col, "dim")
        .agg(F.sum("sv").alias("v"))
    )


def hashed_doc_vector_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Dense-array form of the feature-hashed BoW vectors (see
    ``plans/llm.hashed_doc_vectors_q`` for the hashing-trick design
    and the oracle-gated sparse form): returns ``(id_col, embedding:
    array<double>)``, L2-normalized, ready for the ANN / near-dup /
    k-means stack. Assembly is one (id, dim) aggregate
    (:func:`hashed_term_sums`) followed by a map-side
    map_from_entries + transform — no per-dim join."""
    summed = hashed_term_sums(df, text_col, id_col, dim)
    assembled = summed.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("dim", "v"))
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("__m", i.cast("int")), F.lit(0.0)),
    )
    norm = F.sqrt(
        F.aggregate(dense, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # drop zero-norm docs (all signed hashed TFs cancelled via sign
    # collisions) instead of emitting an all-NULL embedding that
    # silently poisons downstream cosine math — the dense analog of
    # the sparse form's WHERE s.v <> 0 (ADVICE r7)
    return (
        assembled.withColumn("__norm", norm)
        .where(F.col("__norm") > 0.0)
        .select(
            id_col,
            F.transform(
                dense, lambda x: x / F.col("__norm")
            ).alias("embedding"),
        )
    )


def merge_phrases(tokens_col: Column, phrases: list[tuple[str, str]]) -> Column:
    """Left-to-right greedy phrase merge over a token array: whenever
    the running output's last token and the incoming token form a
    listed phrase, they fuse into ``left_right`` (word2vec-style
    phrase tokens). One ``F.aggregate`` fold — JVM-side, zero
    shuffle, zero Python; deterministic (a fused token never
    re-merges, so overlapping phrase chains resolve left-to-right)."""
    from prisma_migrator_spark.operators.literals import string_array

    keys = string_array(f"{a} {b}" for a, b in phrases)
    return F.aggregate(
        tokens_col,
        F.array().cast("array<string>"),
        lambda acc, w: F.when(
            (F.size(acc) > 0)
            & F.array_contains(
                keys, F.concat(F.element_at(acc, -1), F.lit(" "), w)
            ),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), F.lit("_"), w)),
            ),
        ).otherwise(F.concat(acc, F.array(w))),
    )
