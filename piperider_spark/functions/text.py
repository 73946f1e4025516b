"""Text-analysis column functions (native Spark expressions, no UDFs).

Training-data pipeline surface over ``documents(doc_id, text, ...)`` /
transcript ``text`` columns: token counting, quality scoring (punctuation /
stopword / repetition ratios), document fingerprinting, word-shingling,
portable 60-bit hashing.

Reference analogue: PipeRider's string-column derived metrics
(/root/reference/piperider_cli/profiler/profiler.py:810-820 length flags) —
here widened into the text-quality signal set a corpus pipeline needs.

Everything is written to have an exactly-equivalent ANSI-SQL form runnable
by DuckDB (see __spark_entry__.oracle_sql): tokenization is
``regexp_split(trim(text), '\\s+')``, hashing is md5-based (portable —
Spark's xxhash64 has no cross-engine twin), ratios are plain arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Frozen small English stopword list for the SQL-expressible language signal
# (the full scorer lives in signals/core.py; this one exists so language
# evidence can also be computed engine-side with regexp_count, no UDF).
EN_STOPWORDS_SQL: tuple[str, ...] = (
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
)

TOKEN_SPLIT_RE = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of the trimmed text; empty/NULL text → empty array.

    ``split('', '\\s+')`` yields [''] in both Spark and DuckDB — the
    CASE-guard makes the empty case an actual empty array in both.
    """
    t = F.trim(_c(text))
    return F.when(
        t.isNull() | (F.length(t) == 0), F.array().cast("array<string>")
    ).otherwise(F.split(t, TOKEN_SPLIT_RE))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def char_count(text: Column | str) -> Column:
    return F.coalesce(F.length(_c(text)), F.lit(0))


def punct_count(text: Column | str) -> Column:
    """Count of .,;:!? characters (portable regex class)."""
    return F.length(F.regexp_replace(_c(text), r"[^.,;:!?]", ""))


def repetition_ratio(text: Column | str) -> Column:
    """1 - distinct_tokens/tokens; 0.0 for empty text (guarded division)."""
    n = token_count(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - distinct_token_count(text) / n.cast("double")
    )


def avg_token_length(text: Column | str) -> Column:
    """Mean token length (chars); NULL for empty text."""
    n = token_count(text)
    joined_len = F.length(F.array_join(tokens(text), ""))
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(
        joined_len.cast("double") / n.cast("double")
    )


def en_stopword_hits(text: Column | str) -> Column:
    """Whole-word hits of the frozen small English stopword list
    (case-insensitive) — the SQL-expressible language-evidence signal."""
    pat = r"(?i)\b(" + "|".join(EN_STOPWORDS_SQL) + r")\b"
    return F.regexp_count(_c(text), F.lit(pat))


# BPE-ish pre-tokenizer: the GPT-2 pattern family, restricted to the subset
# both Java regex (Spark) and RE2 (DuckDB) support — no lookahead, so
# whitespace runs are simply not counted as tokens. Branch order matters
# (leftmost-first in both engines): contractions, then letter runs, then
# digit runs, then punctuation runs.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}']+"


def bpe_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via the BPE pre-tokenizer regex — the
    corpus-accounting estimate of model-token counts (whitespace tokens
    undercount CJK/punctuation-heavy text). NULL text counts 0."""
    return F.regexp_count(F.coalesce(_c(text), F.lit("")), F.lit(BPE_TOKEN_RE))


def quality_score(text: Column | str) -> Column:
    """Composite heuristic quality score in [0,1]: penalize repetition,
    reward stopword evidence, penalize punctuation excess. Deterministic
    plain arithmetic — identical in SQL form.

    The token array is bound ONCE via a 1-element ``transform`` lambda:
    composing token_count/repetition_ratio directly repeated the trim+split
    subtree ~5× per row (Catalyst does not CSE across sibling expressions —
    the repo-wide pre-projection convention, here applied inside a single
    Column so callers need no staging projection). Values are unchanged."""
    t = _c(text)
    stop_hits = en_stopword_hits(t).cast("double")
    punct_ratio = F.when(char_count(t) == 0, F.lit(0.0)).otherwise(
        punct_count(t).cast("double") / char_count(t).cast("double")
    )

    def _score(a: Column) -> Column:
        n = F.size(a)
        nd = n.cast("double")
        rep = F.when(n == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(a)) / nd
        )
        stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
            F.least(stop_hits / nd * 2.0, F.lit(1.0))
        )
        return (
            (F.lit(1.0) - rep) * 0.5
            + stop_ratio * 0.4
            + (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.1
        )

    raw = F.transform(F.array(tokens(t)), _score)[0]
    return F.round(raw, 6)


# ---------------------------------------------------------------------------
# Portable hashing / fingerprinting
# ---------------------------------------------------------------------------


def md5_60bit(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative bigint.

    Portable across engines: DuckDB twin is
    ``('0x' || substr(md5(x), 1, 15))::bigint``. Used for fingerprints,
    MinHash permutations, and LSH band keys. (Spark's xxhash64/murmur3 are
    engine-specific; md5 is the only hash both engines share bit-for-bit.)
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 hex of whitespace-normalized lowercase text.

    The normalization (lower + collapse whitespace runs + trim) makes the
    fingerprint robust to formatting-only differences — the exact-dedup key.
    """
    norm = F.trim(F.regexp_replace(F.lower(_c(text)), r"\s+", " "))
    return F.md5(norm)


def rolling_hash_fingerprint(text: Column | str, k: int = 16) -> Column:
    """Winnowing-style rolling-hash fingerprint: the minimum 60-bit hash over
    all k-char-grams of the normalized text (min-sampling of the k-gram hash
    stream — robust to local edits, unlike the whole-document md5). NULL for
    texts shorter than k."""
    norm = F.trim(F.regexp_replace(F.lower(_c(text)), r"\s+", " "))
    n = F.length(norm)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.substring(norm, i, k),  # type: ignore[arg-type]
    )
    min_hash = F.array_min(F.transform(grams, lambda g: md5_60bit(g)))
    return F.when(n >= k, min_hash)


def token_windows(toks: Column, k: int) -> Column:
    """Space-joined k-token windows of a token array holding at least k
    tokens (callers guard shorter arrays), in order.

    Built from k shifted slices folded with ``zip_with``, so every lambda
    sees only its own elements: a ``transform`` over window indexes whose
    lambda slices ``toks`` re-evaluates an inline tokenizer once per
    window, O(n^2) regex splits per document."""
    m = F.size(toks) - F.lit(k - 1)
    out = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        out = F.zip_with(out, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b))
    return out


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined) of the lowercased text.

    Documents with < k tokens yield a single shingle of all their tokens, so
    short docs still participate in Jaccard/MinHash (empty docs yield none).
    """
    toks = tokens(F.lower(_c(text)))
    n = F.size(toks)
    shingled = token_windows(toks, k)
    whole = F.array(F.concat_ws(" ", toks))
    return F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.when(n < k, whole).otherwise(F.array_distinct(shingled))
    )
