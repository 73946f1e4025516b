"""Frozen PII / toxicity scrub rules.

This module is THE spec: the pure-Python oracle and the Spark pandas-UDF
both import it, so scrubbed text is byte-identical by construction; what the
fixtures then verify is that the *distributed execution* (Arrow batching,
partitioning, ordering) is faithful to a serial pass.

Design constraints (BASELINE.json north_rule / input_hint):
  * ordered, non-overlapping application — rules run top to bottom, each on
    the output of the previous one;
  * byte-exact determinism — plain `re` with no locale- or random-dependent
    behavior; patterns avoid constructs RE2-class engines lack (no
    backreferences, no lookbehind) so the same rules can also be pushed into
    SQL `regexp_replace` for oracle cross-checks;
  * compiled once per process (module level) — per-executor, not per-batch.

Reference analogue: PipeRider has no scrubbing; its closest surface is the
validity CASE-cascade transform applied before profiling
(/root/reference/piperider_cli/profiler/profiler.py:802-809) — a per-value
normalization pass, which is what this is for text.
"""

from __future__ import annotations

import re

# Each rule: (name, compiled pattern, replacement). ORDER IS FROZEN —
# changing order changes bytes. Email runs before phone so digit runs inside
# addresses are never half-eaten; SSN before phone (disjoint shapes, but the
# explicit order makes the spec total).
SCRUB_RULES: list[tuple[str, re.Pattern[str], str]] = [
    (
        "email",
        re.compile(r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
        "<EMAIL>",
    ),
    (
        "ssn",
        re.compile(r"\b\d{3}-\d{2}-\d{4}\b"),
        "<SSN>",
    ),
    (
        "phone",
        # +1 555-123-4567 | (555) 123-4567 | 555.123.4567 | 555-123-4567
        re.compile(r"(\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b"),
        "<PHONE>",
    ),
    (
        "api_key",
        # sk-... / api_... style secrets: known prefix + >=16 token chars
        re.compile(r"\b(sk|pk|api|key|token)[-_][A-Za-z0-9]{16,}\b"),
        "<KEY>",
    ),
    (
        "ipv4",
        re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
        "<IP>",
    ),
]

# Toxicity masking: frozen lowercase lexicon, whole-word, case-insensitive.
# (Synthetic placeholder tokens — the mechanism, list-driven whole-word
# masking, is what matters; a real deployment swaps the lexicon.)
TOXIC_LEXICON: tuple[str, ...] = (
    "frak",
    "gorram",
    "smeghead",
    "dirtbag",
    "scumbucket",
)
_TOXIC_RE = re.compile(
    r"\b(" + "|".join(re.escape(w) for w in TOXIC_LEXICON) + r")\b",
    re.IGNORECASE,
)
TOXIC_REPLACEMENT = "<TOX>"

# re.IGNORECASE matches a handful of EXTRA equivalences beyond str.lower()
# (ſ↔s U+017F, ı↔i U+0131, Kelvin↔k, ...): sre folds them via its own
# table, so a lower()-based candidate scan would MISS e.g. 'ſcumbucket'
# that the authoritative regex scrubs (review finding — the byte-identical
# serial/vectorized contract broke on those rows). The candidate scan
# therefore translates every non-canonical member of each sre equivalence
# group to its canonical char (group[0] — the ASCII letter for the latin
# groups) AFTER lowering; translate is 1:1 per char so byte offsets stay
# aligned. The table is read from the running stdlib's own sre data when
# it exposes one (``_equivalences``, Python <= 3.10); otherwise the pinned
# fallback below is used. It covers the latin groups, the only ones
# reachable from an ASCII lexicon; tests pin it against the live tables.
_SRE_EQUIV_FALLBACK = ((0x69, 0x131), (0x73, 0x17F), (0x6B, 0x212A), (0xE5, 0x212B))
try:  # py3.11+: re._compiler; older: sre_compile
    from re import _compiler as _sre_compiler  # type: ignore[attr-defined]

    _SRE_EQUIV = _sre_compiler._equivalences
except Exception:  # pragma: no cover
    try:
        import sre_compile as _sre_compiler  # type: ignore[import]

        _SRE_EQUIV = _sre_compiler._equivalences
    except Exception:
        _SRE_EQUIV = _SRE_EQUIV_FALLBACK
_CASE_EQUIV_TABLE = {
    cp: chr(group[0]) for group in _SRE_EQUIV for cp in group[1:]
}

# Soundness constraint of the toxicity candidate scan (it reads the
# PRE-PII text): no lexicon word may occur inside a PII replacement token,
# or substitution could create a toxic match the scan never saw. Enforced
# at import so a swapped lexicon cannot silently break byte-parity.
_REPL_BLOB = " ".join(repl.lower() for _n, _p, repl in SCRUB_RULES)
for _w in TOXIC_LEXICON:
    if _w in _REPL_BLOB:
        raise ValueError(
            f"TOXIC_LEXICON word {_w!r} occurs inside a PII replacement "
            "token — the vectorized candidate scan reads pre-PII text and "
            "would miss matches the serial spec produces"
        )

# Necessary-condition bytes for the PII rules (detection prefilter):
# email needs '@'; ssn/phone/ipv4 need a digit; api_key needs '-' or '_'.
# A row containing NONE of these bytes is invariant under all five rules —
# and since the prefilter admits a row before ANY rule could match it, the
# sequential cascade inside the admitted subset keeps exact spec semantics
# (a non-admitted row is unchanged by rule 1, hence by rule 2, ...).
# Byte-level on purpose: these are all ASCII and can never appear inside a
# UTF-8 multibyte sequence, so a numpy scan of the encoded blob is sound.
_PII_BYTES_DIGIT_LO, _PII_BYTES_DIGIT_HI = 48, 57  # '0'..'9'
_PII_BYTE_AT, _PII_BYTE_DASH, _PII_BYTE_UNDERSCORE = 64, 45, 95


def scrub_text(text: str | None) -> str | None:
    """Apply every scrub rule in frozen order. None passes through."""
    if text is None:
        return None
    out = text
    for _name, pattern, repl in SCRUB_RULES:
        out = pattern.sub(repl, out)
    out = _TOXIC_RE.sub(TOXIC_REPLACEMENT, out)
    return out


def scrub_series(texts) -> "object":
    """Vectorized scrub of a pandas Series, byte-identical to per-row
    :func:`scrub_text`.

    Non-null rows are joined into one '\\x00'-separated blob and each rule
    runs ONCE over it at C speed (none of the frozen patterns can match or
    span the separator: every pattern's character classes exclude \\x00, and
    \\b treats it as a non-word boundary exactly like start-of-string). Rows
    that themselves contain \\x00 fall back to the serial path.
    """
    import numpy as np
    import pandas as pd

    mask = texts.notna().to_numpy()
    vals = [str(v) for v in texts[texts.notna()]]
    if not vals:
        return texts.copy()
    if any("\x00" in v for v in vals):
        return texts.map(scrub_text)
    blob = "\x00".join(vals)
    scrubbed = np.array(vals, dtype=object)

    # --- PII rules: numpy byte prefilter → sequential passes over the few
    # admitted rows only. The regex passes were the python stage's dominant
    # memory-bandwidth cost (measured 8.4 s / 100k rows as six full-blob
    # passes; a fused-alternation detection regex measured *worse*, 9.8 s —
    # alternation defeats re's single-pattern scan optimizations; the byte
    # scan is 0.13 s). At typical few-% PII densities the admitted sub-blob
    # is tiny.
    barr = np.frombuffer(blob.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    pii_hit = (
        ((barr >= _PII_BYTES_DIGIT_LO) & (barr <= _PII_BYTES_DIGIT_HI))
        | (barr == _PII_BYTE_AT)
        | (barr == _PII_BYTE_DASH)
        | (barr == _PII_BYTE_UNDERSCORE)
    )
    pos = np.flatnonzero(pii_hit)
    if pos.size:
        sep = np.flatnonzero(barr == 0)  # all NULs are separators (checked above)
        rows = np.unique(np.searchsorted(sep, pos, side="right"))
        sub_blob = "\x00".join(vals[i] for i in rows)
        for _name, pattern, repl in SCRUB_RULES:
            sub_blob = pattern.sub(repl, sub_blob)
        scrubbed[rows] = sub_blob.split("\x00")

    # --- toxicity: case-insensitive literal find (C memmem per lexicon
    # word) flags candidate rows; the word-boundary regex then runs only on
    # their post-PII text, preserving the frozen rule order (toxic last).
    # Soundness: PII replacement tokens are <UPPER> words bounded by <>, so
    # substitution can neither create a toxic word nor splice one together
    # across a replaced span — every post-PII toxic match already existed
    # verbatim in the original text, which is what the find scans.
    # Positions are char-space here; guarded by the length check, lower()
    # maps 1:1 per char (unicode length-changing lowercasings are the only
    # exception → full-blob fallback pass, correct just slower).
    low = blob.lower()
    if not low.isascii():
        # fold the sre extra case-equivalences the regex would match but
        # lower() leaves alone (ſ→s, ı→i, …); isascii() is a free C check
        # and ASCII blobs (the common case) skip the extra pass entirely
        low = low.translate(_CASE_EQUIV_TABLE)
    if len(low) != len(blob):
        full = "\x00".join(scrubbed)
        scrubbed = np.array(
            _TOXIC_RE.sub(TOXIC_REPLACEMENT, full).split("\x00"), dtype=object
        )
    else:
        lengths = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
        starts = np.zeros(len(vals), dtype=np.int64)
        if len(vals) > 1:
            np.cumsum(lengths[:-1] + 1, out=starts[1:])
        tox_rows: set[int] = set()
        for w in TOXIC_LEXICON:
            at = low.find(w)
            while at != -1:
                tox_rows.add(int(np.searchsorted(starts, at, side="right")) - 1)
                at = low.find(w, at + 1)
        if tox_rows:
            rows2 = sorted(tox_rows)
            sub2 = "\x00".join(scrubbed[i] for i in rows2)
            scrubbed[rows2] = _TOXIC_RE.sub(TOXIC_REPLACEMENT, sub2).split("\x00")

    out = np.full(len(texts), None, dtype=object)
    out[mask] = scrubbed
    return pd.Series(out, index=texts.index, dtype=object)


def scrub_counts(text: str | None) -> dict[str, int]:
    """Per-rule hit counts (for metrics rows), applied in the same order."""
    counts: dict[str, int] = {}
    if text is None:
        return counts
    out = text
    for name, pattern, repl in SCRUB_RULES:
        out, n = pattern.subn(repl, out)
        if n:
            counts[name] = n
    _, n = _TOXIC_RE.subn(TOXIC_REPLACEMENT, out)
    if n:
        counts["toxicity"] = n
    return counts
