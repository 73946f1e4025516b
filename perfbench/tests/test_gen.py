"""The inputs are a pure function of the seed."""

import hashlib

from perfbench import gen
from perfbench.workloads import expected_duplicates


def digest(path):
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_transcripts_are_byte_deterministic_per_seed(tmp_path):
    paths = []
    for i, seed in enumerate((7, 7, 8)):
        pdf, clones = gen.transcripts(3000, seed, clone_frac=0.1)
        p = tmp_path / f"t{i}.parquet"
        gen.write_parquet(pdf, str(p), gen.TRANSCRIPT_SCHEMA)
        paths.append((p, clones))
    assert digest(paths[0][0]) == digest(paths[1][0])
    assert paths[0][1] == paths[1][1]
    assert digest(paths[0][0]) != digest(paths[2][0])
    assert paths[0][1] != paths[2][1]


def test_exact_turn_count_and_clone_share():
    pdf, clones = gen.transcripts(5000, 3)
    assert len(pdf) == 5000 and clones == []
    cloned, clones = gen.transcripts(5000, 3, clone_frac=0.1)
    extra = len(cloned) - 5000
    assert 0 < extra <= 500
    assert all(c.endswith(gen.CLONE_SUFFIX) for c in clones)
    # every clone copies an original whole, so dedup must find each one
    assert set(clones) <= expected_duplicates(cloned)


def test_lineitem_is_deterministic_and_shaped():
    a, b = gen.lineitem(2000, 5), gen.lineitem(2000, 5)
    assert a.equals(b)
    assert not a.equals(gen.lineitem(2000, 6))
    assert a["l_linenumber"].between(1, 7).all()
    assert a.groupby("l_orderkey")["l_linenumber"].apply(lambda s: list(s) == list(range(1, len(s) + 1))).all()
