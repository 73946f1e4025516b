"""The batched blob implementations must equal the serial frozen spec.

The Spark UDFs and the pandas oracle share signals/core.py and
scrub/rules.py, so cross-engine equality is by construction; what these
tests pin is that the blob fast paths (joined-string regex passes, numpy
binning) are byte-identical to a row-at-a-time evaluation of the same spec,
including edge cases (NULL, empty, control chars, unicode, separators).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from piperider_spark.scrub.rules import scrub_series, scrub_text
from piperider_spark.signals.core import (
    _detect_lang_serial,
    detect_lang_batch,
    perplexity_batch,
)

EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\n\n\t",
    "one",
    "a b c d e f g h the and of to in",
    "Le rapport est prêt et vous pouvez le consulter dans le dossier.",
    "Der Bericht ist fertig und die Ergebnisse sind nicht schlecht.",
    "El informe está listo y los resultados son muy buenos hoy.",
    "これはテストの文章でありデータの品質を確認するために使われます。",
    "mail me at a.b-c+d@ex-ample.co.uk or call (555) 123-4567 now",
    "my ssn is 123-45-6789 and ip is 10.0.0.1 key sk-abcdefghij0123456789",
    "you frak GORRAM smeghead!",
    "word " * 50,
    "x" * 5000,
    "né à Paris l'équipe d'une réunion ça düşer émigré",
    "tabs\tand\nnewlines\r\nand  spaces",
    "ALL CAPS THE AND OF TO IN IS THAT IT WAS",
    "123 456 789 .,;: !!!",
    "mixed 中文 and english the of to in is that was for",
]


def _many_rows() -> pd.Series:
    rng = np.random.default_rng(11)
    base = [t for t in EDGE_TEXTS if t is not None]
    rows = [base[i % len(base)] * int(rng.integers(1, 4)) for i in range(500)]
    rows += [None, "", None]
    return pd.Series(rows, dtype=object)


def test_langid_blob_equals_serial_edge():
    s = pd.Series(EDGE_TEXTS, dtype=object)
    batch = detect_lang_batch(s)
    serial = s.map(_detect_lang_serial)
    assert batch.tolist() == serial.tolist()


def test_langid_blob_equals_serial_bulk():
    s = _many_rows()
    assert detect_lang_batch(s).tolist() == s.map(_detect_lang_serial).tolist()


def test_langid_null_byte_fallback():
    s = pd.Series(["the and of to in is that", "bad\x00row the and of to in is", None])
    batch = detect_lang_batch(s)
    assert batch.tolist() == s.map(_detect_lang_serial).tolist()


def test_scrub_blob_equals_serial_edge():
    s = pd.Series(EDGE_TEXTS, dtype=object)
    assert scrub_series(s).tolist() == s.map(scrub_text).tolist()


def test_scrub_blob_equals_serial_bulk():
    s = _many_rows()
    assert scrub_series(s).tolist() == s.map(scrub_text).tolist()


def test_scrub_null_byte_fallback():
    s = pd.Series(["ok a@b.co", "bad\x00row 123-45-6789"])
    assert scrub_series(s).tolist() == s.map(scrub_text).tolist()


def test_scrub_boundary_spanning_is_isolated():
    # a phone number split across adjacent rows must NOT be scrubbed —
    # batch boundaries never leak across rows
    s = pd.Series(["call 555", "-123-4567 now"])
    out = scrub_series(s)
    assert out.tolist() == ["call 555", "-123-4567 now"]


def test_perplexity_batch_order_independent():
    s = _many_rows()
    a = perplexity_batch(s).to_numpy()
    rev = perplexity_batch(s[::-1]).sort_index().to_numpy()
    b = perplexity_batch(s.sample(frac=1.0, random_state=3)).sort_index().to_numpy()
    assert np.allclose(a, rev, rtol=0, atol=0, equal_nan=True)
    assert np.allclose(a, b, rtol=0, atol=0, equal_nan=True)


def test_perplexity_single_row_equals_batch():
    s = _many_rows()
    whole = perplexity_batch(s)
    for i in list(range(0, len(s), 97)) + [len(s) - 1]:
        one = perplexity_batch(s.iloc[[i]])
        assert float(one.iloc[0]) == float(whole.iloc[i])


def test_perplexity_sensible_ordering():
    fluent = "the engineers reviewed the data pipeline and found the step"
    gibberish = "zqxv kjwq pzxm vbnq wrtk zzkq xswv qqpz"
    s = pd.Series([fluent, gibberish])
    p = perplexity_batch(s)
    assert p.iloc[0] < p.iloc[1]


def test_non_ascii_whitespace_set_matches_re():
    """The byte fast-path's guard regex must list EXACTLY the non-ASCII
    characters Python's \\s matches (and the ASCII set must be 9-13,
    28-31, 32) — the soundness condition for counting token runs on
    UTF-8 bytes."""
    import re
    import sys

    from piperider_spark.signals.core import _NON_ASCII_WS_RE

    want = {c for c in range(sys.maxunicode + 1) if re.match(r"\s", chr(c))}
    assert {c for c in want if c < 128} == set(range(9, 14)) | set(range(28, 33))
    got = {c for c in range(128, 0x10000) if _NON_ASCII_WS_RE.match(chr(c))}
    assert got == {c for c in want if c >= 128}
    assert not {c for c in want if c >= 0x10000}  # all \s chars are BMP


def test_tokenize_fast_count_equals_marker_path():
    """Byte-level token counts == marker-substitution counts, including
    unicode-whitespace rows (which must route to the marker path) and
    multibyte token text."""
    from piperider_spark.signals.core import _tokenize_batch

    rows = [
        "plain ascii words here",
        "",
        "   ",
        "tabs\tand\nnewlines\rsplit",
        "unicode nbsp sep　ideographic",   # non-ASCII ws → marker path
        "数据管道 已经 完成",                                 # multibyte tokens, ascii space
        "mixé accénts çedilla",
        "x" * 500,
        "\x1c\x1dfile group seps\x1e\x1f",
    ]
    toks, counts = _tokenize_batch(rows)
    # serial oracle per row
    import re

    ws = re.compile(r"\S+")
    expected = [len(ws.findall(r.lower())) for r in rows]
    assert counts.tolist() == expected
    assert len(toks) == sum(expected)


def test_arrow_ws_class_matches_python_isspace():
    """The Arrow tokenizer's whitespace class must be EXACTLY Python's \\s
    set (== str.isspace()), or token boundaries silently drift from the
    frozen spec."""
    from piperider_spark.signals.core import _PY_WS_CHARS

    want = {chr(c) for c in range(0x11000) if chr(c).isspace()}
    assert set(_PY_WS_CHARS) == want


def test_tokenize_encoded_equals_serial_stream():
    """Arrow-encoded token stream == serial findall(r'\\S+') of the
    lowercased rows: same tokens in order, same per-row counts — over
    adversarial rows (every whitespace family, empties, \\x0b and NUL —
    which the OLD blob path could not batch, the Arrow path must)."""
    import re

    from piperider_spark.signals.core import _PY_WS_CHARS, _tokenize_encoded

    rows = [
        "plain ascii words here",
        "",
        "   ",
        "tabs\tand\nnewlines\rsplit",
        "unicode nbsp sep　ideographic",
        "数据管道 已经 完成",
        "mixé accénts çedilla",
        "a\x0bvertical\x0btab",  # blob separator: arrow path must batch it
        "nul\x00inside token",   # NUL: likewise
        " ".join(f"w{i}" for i in range(50)),
        "".join(c + "x" for c in _PY_WS_CHARS),  # every \s char as separator
        "\x1c\x1dfile group seps\x1e\x1f",
    ]
    enc = _tokenize_encoded(rows)
    assert enc is not None
    codes, uniques, row_ids, n_tok = enc
    ws = re.compile(r"\S+")
    expected_stream = [t for r in rows for t in ws.findall(r.lower())]
    expected_counts = [len(ws.findall(r.lower())) for r in rows]
    assert [uniques[c] for c in codes] == expected_stream
    assert n_tok.tolist() == expected_counts
    assert row_ids.tolist() == [
        i for i, c in enumerate(expected_counts) for _ in range(c)
    ]


def test_tokenize_encoded_surrogate_fallback():
    """Lone surrogates can't cross into Arrow: the encoded path must
    decline (None) so callers fall back to the blob/serial paths rather
    than raising mid-batch."""
    from piperider_spark.signals.core import _tokenize_encoded

    assert _tokenize_encoded(["ok text", "bad \udc80 surrogate"]) is None


def test_ppl_arrow_cleaner_equals_blob_cleaner():
    """The Arrow-buffer ppl cleaner must produce the identical (idx,
    lengths) stream as the joined-blob cleaner over adversarial rows:
    multibyte UTF-8, empty rows, all-non-letter rows, content NULs,
    letter runs spanning row boundaries (must NOT merge), final-sigma
    context cases."""
    import numpy as np

    from piperider_spark.signals.core import (
        _lowered_arrow,
        _ppl_clean_arrow,
        _ppl_clean_bytes,
    )

    rows = [
        "plain words here",
        "",
        "!!!???...",
        "ends with letters",
        "starts123 with mix",
        "数据 pipeline 测试",
        "null\x00inside",
        "UPPER Case ΑΣ sigma",
        "x",
        "...",
        "a" * 300,
    ]
    lowered = [r.lower() for r in rows]
    arr = _lowered_arrow(lowered)
    idx_a, len_a = _ppl_clean_arrow(arr)
    # blob path premaps NULs to spaces (the spec-equivalent move)
    blob_rows = [r.replace("\x00", " ") for r in lowered]
    idx_b, len_b = _ppl_clean_bytes(blob_rows)
    assert np.array_equal(len_a, len_b)
    assert np.array_equal(idx_a, idx_b)


def test_fused_signals_and_ppl_equals_separate_paths():
    """text_signals_and_ppl_batch == text_signals_batch + perplexity_batch
    exactly, including the surrogate fallback route."""
    import numpy as np
    import pandas as pd

    from piperider_spark.signals.core import (
        perplexity_batch,
        text_signals_and_ppl_batch,
        text_signals_batch,
    )

    rows = pd.Series(
        [
            "the quick brown fox and the lazy dog again and again",
            None,
            "",
            "le chat est dans la maison avec les autres",
            "zzz qqq xxx www",
            "数据管道 已经 完成 了 测试",
            "word \x0b vertical",
        ]
    )
    fused = text_signals_and_ppl_batch(rows)
    sep = text_signals_batch(rows)
    ppl = perplexity_batch(rows)
    assert list(fused["lang"]) == list(sep["lang"])
    assert np.array_equal(fused["n_tok"], sep["n_tok"])
    assert np.allclose(fused["rep_ratio"], sep["rep_ratio"])
    assert np.array_equal(fused["ppl"].values, ppl.values)

    # surrogate batch routes through the fallback and still agrees
    bad = pd.Series(["ok text here", "bad \udc80 surrogate"])
    fused2 = text_signals_and_ppl_batch(bad)
    assert np.array_equal(fused2["ppl"].values, perplexity_batch(bad).values)
    assert list(fused2["lang"]) == list(text_signals_batch(bad)["lang"])


def test_scrub_unicode_case_equivalents_match_serial():
    """Review finding (reproduced): re.IGNORECASE folds the sre extra
    equivalences (ſ↔s U+017F, ı↔i U+0131) that str.lower() does not, so
    the lower()-based candidate scan missed 'ſcumbucket' that the
    authoritative regex scrubs — breaking the byte-identical contract.
    The translate-table fix must make every such row serial-equal."""
    cases = [
        "ſcumbucket is here",
        "dırtbag alert",
        "ſmeghead",
        "İstanbul frak",       # len-changing lower -> full-blob fallback
        "Kelvin frak",         # U+212A lowers to k via str.lower already
        "plain ſ and ı noise", # equivalence chars without a toxic word
        None,
    ]
    s = pd.Series(cases, dtype=object)
    assert scrub_series(s).tolist() == [scrub_text(t) for t in cases]
    assert scrub_text("ſcumbucket is here") == "<TOX> is here"


def _live_sre_groups() -> tuple[tuple[int, ...], ...]:
    """The running interpreter's IGNORECASE extra-equivalence groups:
    ``_equivalences`` up to Python 3.10, ``re._casefix._EXTRA_CASES``
    (keyed by lowercase code point) from 3.11 on."""
    import re

    live = getattr(re._compiler, "_equivalences", None)
    if live is not None:
        return tuple(live)
    from re import _casefix

    return tuple((k, *v) for k, v in _casefix._EXTRA_CASES.items())


def test_scrub_case_fold_fallback_covers_live_latin_groups():
    """The pinned fallback table must fold every member of each live group
    that contains an ASCII letter (the only groups an ASCII lexicon can
    reach) to that letter, so the candidate scan cannot change with the
    interpreter's internal tables."""
    from piperider_spark.scrub import rules as R

    fallback = {
        cp: chr(group[0]) for group in R._SRE_EQUIV_FALLBACK for cp in group[1:]
    }
    latin = [g for g in _live_sre_groups() if any(cp < 128 for cp in g)]
    assert latin, "no ASCII-reachable group found in the live sre table"
    for group in latin:
        (letter,) = [chr(cp) for cp in group if cp < 128]
        for cp in group:
            assert chr(cp).lower().translate(fallback) == letter, (hex(cp), group)


def test_scrub_case_fold_tables_match_regex_engine():
    """Behavioural pin over all of Unicode: every code point the regex
    engine matches case-insensitively against an ASCII letter folds to
    that letter under lower() + the case table (active and fallback), or
    changes length under lower() (the scan's full-blob fallback path)."""
    import re
    import string

    from piperider_spark.scrub import rules as R

    fallback = {
        cp: chr(group[0]) for group in R._SRE_EQUIV_FALLBACK for cp in group[1:]
    }
    universe = "".join(
        chr(cp) for cp in range(0x110000) if not 0xD800 <= cp <= 0xDFFF
    )
    for letter in string.ascii_lowercase:
        for m in re.finditer(letter, universe, re.IGNORECASE):
            low = m.group().lower()
            if len(low) != 1:
                continue
            for table in (R._CASE_EQUIV_TABLE, fallback):
                assert low.translate(table) == letter, (hex(ord(m.group())), letter)
