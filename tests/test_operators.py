"""Operator-library tests: dedup families, similarity search, metrics
engine, text functions — cross-checked against numpy/pandas oracles and,
for the SQL-expressible ones, the DuckDB twin queries (the same pairing the
driver's correctness gate runs at sf0.01).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from piperider_spark import queries as qmod
from piperider_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# every oracle-paired query runs here at sf0.001 (fast); the driver gate
# re-runs the same pairs at sf0.01
ORACLE_QUERIES = sorted(qmod.oracle_sql())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(
        [tuple(_norm_cell(r[i]) for i in order) for r in rows], key=repr
    )


def test_registry_first_50_entries_all_gated():
    """The driver walks only the first 50 ``queries()`` entries
    (CORRECTNESS_r02 recorded exactly 50 of 52); every one of those slots
    must carry a full rows+schema+hash oracle gate — rows-only engine
    twins belong strictly after."""
    names = list(qmod.queries())
    gated = qmod.oracle_sql()
    ungated_head = [n for n in names[:50] if n not in gated]
    assert ungated_head == [], f"rows-only entries inside the driver window: {ungated_head}"


def test_registry_gated_count_fits_driver_window():
    """Registry hygiene (VERDICT r3 'Next round' #8): the TOTAL number of
    oracle-gated entries must fit the driver's 50-slot window, or new gated
    entries silently fall past it and never receive driver verification
    (the r3 positions-51-54 problem). Adding a gated entry beyond 50 means
    consolidating first (the multigrain/union pattern)."""
    gated = [n for n in qmod.queries() if n in qmod.oracle_sql()]
    assert len(gated) <= 50, (
        f"{len(gated)} gated entries > the driver's 50-slot window; "
        f"consolidate (union-keyed entries) before registering more: {gated[50:]}"
    )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = qmod.queries()[name](spark, SF_DIR)
    sc, sr = _norm(list(sdf.columns), [tuple(r) for r in sdf.collect()])
    rel = duck.sql(qmod.oracle_sql()[name])
    dc, dr = _norm(list(rel.columns), rel.fetchall())
    assert sc == dc
    assert len(sr) == len(dr)
    assert sr == dr


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates must recover the high-similarity pairs the exact
    Jaccard join finds (banding catches j >= ~0.9 pairs w.h.p.)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.shingle_pairs_jaccard(docs, threshold=0.9).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, n_hashes=8, n_bands=4, threshold=0.9).collect()
    }
    assert lsh <= exact or all(p in exact for p in lsh)  # verify step: no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"recall={recall:.2f} over {len(exact)} pairs"


def test_simhash_near_dup_have_small_hamming(spark):
    """Near-identical docs (exact Jaccard >= 0.9) should sit within small
    Hamming distance of each other's SimHash."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    near = dedup.shingle_pairs_jaccard(docs, threshold=0.9)
    sigs = dedup.simhash_signatures(docs, bits=32)
    joined = (
        near.join(sigs.withColumnsRenamed({"id": "id_a", "simhash": "sh_a"}), "id_a")
        .join(sigs.withColumnsRenamed({"id": "id_b", "simhash": "sh_b"}), "id_b")
        .select(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("h"))
        .collect()
    )
    if joined:
        med = sorted(r.h for r in joined)[len(joined) // 2]
        assert med <= 6, f"median hamming {med}"


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    q = mat[pdf["vec_id"].tolist().index(0)]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        zip(np.round(sims, 6), [-v for v in pdf["vec_id"]]), reverse=True
    )[:10]
    expected = {(-vid, s) for s, vid in order}
    got = {
        (r.vec_id, r.cosine_sim)
        for r in similarity.cosine_topk(emb, list(q), topk=10).collect()
    }
    assert got == expected


def test_dsir_scores_match_numpy(spark):
    """operators/dsir.py vs an independent python mirror (hashlib md5
    buckets, add-1 smoothing, 9dp-quantized ln terms) on a tiny corpus."""
    import hashlib as _hl
    from collections import Counter

    from piperider_spark.operators import dsir

    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the dog ate my homework", "en"),
        (2, "el gato come pescado fresco", "es"),
        (3, "la casa es muy grande", "es"),
        (4, "the cat and the dog", "en"),
        (5, "", "en"),
        (6, None, "es"),
    ]
    B = 64
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ratio = dsir.fit_bucket_log_ratio(df, df.where(F.col("lang") == "en"), n_buckets=B)
    got = {
        r.doc_id: r.dsir_score for r in dsir.dsir_scores(df, ratio, n_buckets=B).collect()
    }

    def grams(text):
        toks = (text or "").strip().lower().split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(_hl.md5(g.encode()).hexdigest()[:15], 16) % B

    raw = {i: [bucket(g) for g in grams(t)] for i, t, _ in rows}
    cr = Counter(b for bs in raw.values() for b in bs)
    ct = Counter(b for i, bs in raw.items() if rows[i][2] == "en" for b in bs)
    tr, tt = sum(cr.values()), sum(ct.values())
    lr = {
        b: round(
            math.log((ct.get(b, 0) + 1) / (tt + B)) - math.log((cr[b] + 1) / (tr + B)), 9
        )
        for b in cr
    }
    expected = {i: round(sum(lr[b] for b in bs), 6) if bs else 0.0 for i, bs in raw.items()}
    assert got == expected
    # english docs must outscore spanish ones — the whole point of DSIR
    assert min(got[0], got[1], got[4]) > max(got[2], got[3])


def test_dsir_gumbel_topk_deterministic_and_shifts(spark):
    """The gated resample: (a) deterministic across invocations, (b) the
    selected set is enriched in the target language vs the base rate."""
    sel = qmod.queries()["dsir_documents"](spark, SF_DIR)
    a = [(r.doc_id, r.dsir_score, r.gumbel_key) for r in sel.collect()]
    b = [(r.doc_id, r.dsir_score, r.gumbel_key) for r in sel.collect()]
    assert a == b and len(a) == 100
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.where(F.col("lang") == "en").count() / docs.count()
    ids = {t[0] for t in a}
    en_sel = docs.where(F.col("doc_id").isin(ids) & (F.col("lang") == "en")).count()
    assert en_sel / 100 > base + 0.1, (en_sel, base)


def test_dsir_rowlocal_scorer_matches_distributed(spark):
    """dsir.dsir_score_col (array-literal fold, zero-shuffle — the
    10^12-turn / streaming scoring plan) == the gated explode+join
    scorer, doc for doc."""
    from piperider_spark.operators import dsir

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ratio = dsir.fit_bucket_log_ratio(
        docs, docs.where(F.col("lang") == "en"), n_buckets=4096
    )
    want = {
        r.doc_id: r.dsir_score for r in dsir.dsir_scores(docs, ratio).collect()
    }
    arr = dsir.log_ratio_array(ratio, n_buckets=4096)
    got = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", dsir.dsir_score_col("text", arr).alias("s")
        ).collect()
    }
    assert got == want


def test_semdedup_matches_numpy_bruteforce(spark):
    """similarity.semdedup vs an independent numpy mirror of the frozen
    policy (cell = lexicographic (dot, j) max; drop iff a same-cell row
    with smaller (centroid_sim, id) is >= eps similar; witness = max
    (sim, id) struct) on a clustered corpus with planted near-dups."""
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((3, 16)) * 2
    rows, vid = [], 0
    for c in centers:
        for _ in range(15):
            rows.append((vid, (c + rng.standard_normal(16) * 0.3).tolist()))
            vid += 1
    for j in (0, 17, 31):  # planted near-dups of existing rows
        rows.append((vid, (np.asarray(rows[j][1]) + rng.standard_normal(16) * 0.01).tolist()))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    X = np.array([r[1] for r in rows])
    C = similarity.train_ivf_centroids(X, 4, seed=3)
    eps = 0.9
    got = {
        r.vec_id: (r.cell, r.keep, r.witness_id)
        for r in similarity.semdedup(df, C, threshold=eps).collect()
    }

    n, k = len(X), len(C)
    dots = X @ C.T
    norms = np.linalg.norm(X, axis=1)
    cell = [max(range(k), key=lambda j: (dots[i, j], j)) for i in range(n)]
    csim = [round(dots[i, cell[i]] / norms[i], 6) for i in range(n)]
    cos = np.round((X @ X.T) / np.outer(norms, norms), 6)
    expected = {}
    drops = 0
    for i in range(n):
        wits = [
            j
            for j in range(n)
            if j != i
            and cell[j] == cell[i]
            and (csim[j], j) < (csim[i], i)
            and cos[i, j] >= eps
        ]
        if wits:
            w = max(wits, key=lambda j: (cos[i, j], j))
            expected[i] = (cell[i], False, w)
            drops += 1
        else:
            expected[i] = (cell[i], True, None)
    assert drops >= 3  # every planted dup pair loses one member
    assert got == expected


def test_semdedup_arrow_matches_sql_policy(spark):
    """similarity.semdedup_arrow (numpy/Arrow engine path) == the
    oracle-gated HOF form: cells, keep flags and witnesses EXACT; sims
    equal at the shared 6dp rounding (tolerance covers BLAS-vs-fold
    summation-order ulps at the rounding boundary)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    C = qmod._ivf_cents()
    a = {
        r.vec_id: r
        for r in similarity.semdedup_arrow(emb, C, threshold=0.35).collect()
    }
    h = {
        r.vec_id: r for r in similarity.semdedup(emb, C, threshold=0.35).collect()
    }
    assert set(a) == set(h)
    for vid, ra in a.items():
        rh = h[vid]
        assert (ra.cell, ra.keep, ra.witness_id) == (rh.cell, rh.keep, rh.witness_id)
        for x, y in ((ra.centroid_sim, rh.centroid_sim), (ra.witness_sim, rh.witness_sim)):
            assert (x is None) == (y is None)
            if x is not None:
                assert abs(x - y) <= 2e-6


def test_dsir_fit_score_matches_two_corpus_path(spark):
    """dsir.dsir_fit_score (single-featurize flagged path) == the general
    fit_bucket_log_ratio + dsir_scores chain, doc for doc, both hashes."""
    from piperider_spark.operators import dsir

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for hf in ("md5", "xxhash64"):
        ratio = dsir.fit_bucket_log_ratio(
            docs, docs.where(F.col("lang") == "en"), n_buckets=512, hash_fn=hf
        )
        want = {
            r.doc_id: r.dsir_score
            for r in dsir.dsir_scores(docs, ratio, n_buckets=512, hash_fn=hf).collect()
        }
        got = {
            r.doc_id: r.dsir_score
            for r in dsir.dsir_fit_score(
                docs, F.col("lang") == "en", n_buckets=512, hash_fn=hf, cache=False
            ).collect()
        }
        assert got == want, hf


def test_semdedup_threshold_monotone_and_empty(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    C = qmod._ivf_cents()
    keeps = {
        t: similarity.semdedup(emb, C, threshold=t).where(F.col("keep")).count()
        for t in (0.3, 0.35, 0.5)
    }
    assert keeps[0.3] <= keeps[0.35] <= keeps[0.5]  # looser eps drops more
    assert keeps[0.5] <= emb.count()
    empty = similarity.semdedup(emb.where(F.lit(False)), C)
    assert empty.count() == 0
    assert empty.columns == [
        "vec_id", "cell", "centroid_sim", "keep", "witness_id", "witness_sim",
    ]


def test_ann_bucketed_hits_top_neighbors(spark):
    """On clustered vectors (where near neighbours exist), the hyperplane-LSH
    bucket ring must recover the query's cluster members. (The sf testdata
    embeddings are isotropic noise — no neighbour structure to find — so the
    cluster fixture is synthesized here.)"""
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, 32)) * 3
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(20):
            rows.append((vid, (c + rng.standard_normal(32) * 0.05).tolist(), ci))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cluster int")
    q = rows[0][1]
    approx = [r.vec_id for r in similarity.ann_bucketed(df, q, n_planes=8, topk=10).collect()]
    assert 0 in approx  # the query vector itself is its own nearest neighbour
    # all returned neighbours are from the query's cluster (ids 0..19)
    assert all(v < 20 for v in approx), approx
    assert len(approx) == 10


def test_metric_series_zero_fills(spark):
    from datetime import date

    from piperider_spark.operators.metrics_engine import metric_series

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01", "2024-01-01", "2024-01-04"]),
            "v": [1.0, 2.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = metric_series(df, "ts", "v", "count", "day")
    rows = {r.d: r.value for r in out.collect()}
    assert rows == {
        date(2024, 1, 1): 2.0,
        date(2024, 1, 2): 0.0,
        date(2024, 1, 3): 0.0,
        date(2024, 1, 4): 1.0,
    }
    avg = metric_series(df, "ts", "v", "average", "day")
    arows = {r.d: r.value for r in avg.collect()}
    assert arows[date(2024, 1, 1)] == 1.5
    assert arows[date(2024, 1, 2)] is None  # non-additive: NULL, not zero


def test_derived_metric_divide_guard(spark):
    from piperider_spark.operators.metrics_engine import derived_metric, metric_series

    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01", "2024-01-02"]), "v": [4.0, 0.0]}
    )
    df = spark.createDataFrame(pdf)
    num = metric_series(df, "ts", "v", "sum", "day")
    den = metric_series(df, "ts", "v", "count", "day")
    out = derived_metric({"a": num, "b": den}, "a / nullif(b - 1, 0)")
    vals = [r.value for r in out.collect()]
    assert vals == [None, None]  # b-1 == 0 on day1? no: day1 count=1 → null; day2 count=1 → null


def test_minhash_lsh_xxhash64_recall_vs_exact(spark):
    """The xxhash64 engine path must match the md5 path's recall bound —
    same banding statistics, different permutation hash."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.shingle_pairs_jaccard(docs, threshold=0.9).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, n_hashes=8, n_bands=4, threshold=0.9, hash_fn="xxhash64"
        ).collect()
    }
    assert all(p in exact for p in lsh)  # exact-verify step: no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"recall={recall:.2f} over {len(exact)} pairs"


def test_ivf_topk_hits_cluster(spark):
    """On clustered vectors, probing nprobe cells must recover the query's
    cluster members (cluster mates land in the same coarse cell)."""
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((4, 32)) * 3
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(20):
            rows.append((vid, (c + rng.standard_normal(32) * 0.05).tolist(), ci))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cluster int")
    q = rows[0][1]
    got = [r.vec_id for r in similarity.ivf_topk(df, q, n_cells=8, nprobe=2, topk=10).collect()]
    assert 0 in got
    assert all(v < 20 for v in got), got  # all from the query's cluster
    assert len(got) == 10


def test_sampling_operators(spark):
    from piperider_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    s = sampling.deterministic_sample(docs, "doc_id", pct=20)
    k = s.count()
    assert 0.1 * n < k < 0.3 * n  # ~20%
    # stability: same rows every run
    ids1 = {r.doc_id for r in s.select("doc_id").collect()}
    ids2 = {r.doc_id for r in sampling.deterministic_sample(docs, "doc_id", 20).select("doc_id").collect()}
    assert ids1 == ids2

    q = sampling.quota_sample(docs, "lang", "doc_id", quota=10)
    per = {r["lang"]: r["n"] for r in q.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 10 for v in per.values()) and len(per) > 1

    rows = [(1, "g1", 5), (2, "g1", 9), (3, "g1", 9), (4, "g2", 1)]
    df = spark.createDataFrame(rows, "id long, grp string, q long")
    got = {
        r.id
        for r in sampling.canonical_by_quality(df, "grp", "q", "id").collect()
    }
    assert got == {2, 4}  # max quality, ties to smallest id


def test_concat_chunk_pack_invariants(spark):
    """Packing invariants: offsets are a disjoint, contiguous, gap-free
    tiling of [0, total_tokens); chunk spans agree with offsets."""
    from piperider_spark.operators.packing import concat_chunk_pack

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "size(split(trim(text), '\\\\s+')) as n_tok")
        .where("text is not null and length(trim(text)) > 0")
    )
    out = concat_chunk_pack(docs, "doc_id", "n_tok", max_len=512).collect()
    spans = sorted((r.start_offset, r.start_offset + r.len) for r in out)
    assert spans[0][0] == 0
    for (s0, e0), (s1, _) in zip(spans, spans[1:]):
        assert s1 == e0  # contiguous, no gaps or overlaps
    total = spans[-1][1]
    assert total == sum(r.len for r in out)
    for r in out:
        assert r.first_chunk == r.start_offset // 512
        assert r.last_chunk == (r.start_offset + r.len - 1) // 512
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1


def test_contamination_flags_broadcast_and_semantics(spark):
    from piperider_spark.operators import dedup as dd

    train = spark.createDataFrame(
        [(10, "the quick brown fox jumps over dogs"),
         (11, "completely unrelated text about spark plans"),
         (12, "quick brown fox story continues here")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(0, "a quick brown fox appears")], "doc_id long, text string"
    )
    got = {r.id: r.n_shared_shingles for r in dd.contamination_flags(train, ev).collect()}
    assert 10 in got and 12 in got and 11 not in got
    plan = dd.contamination_flags(train, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # eval shingles broadcast


def test_quota_sample_prefilter_exactness_and_fallback(spark):
    """The two-phase pruned plan must select EXACTLY the naive window's
    rows; an under-admitting prefilter (forced with a tiny multiplier)
    must trigger the per-stratum fallback and still be exact."""
    from pyspark.sql import Window
    from piperider_spark.functions.text import md5_60bit
    from piperider_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = Window.partitionBy("lang").orderBy(
        md5_60bit(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    naive = {
        r.doc_id
        for r in docs.withColumn("rn", F.row_number().over(w))
        .where("rn <= 7")
        .select("doc_id")
        .collect()
    }
    pruned = {
        r.doc_id
        for r in sampling.quota_sample(docs, "lang", "doc_id", 7).select("doc_id").collect()
    }
    assert pruned == naive
    forced = {
        r.doc_id
        for r in sampling.quota_sample(
            docs, "lang", "doc_id", 7, prefilter_mult=0.001
        ).select("doc_id").collect()
    }
    assert forced == naive  # fallback path is exact too


def test_canonical_by_quality_mega_group(spark):
    """Agg-based canonical selection (no per-group window) stays correct on
    a dominant duplicate group."""
    from piperider_spark.operators import sampling

    rows = [(i, "big", i % 7) for i in range(5000)] + [(9001, "small", 3)]
    df = spark.createDataFrame(rows, "id long, grp string, q long")
    got = {r.id: r.q for r in sampling.canonical_by_quality(df, "grp", "q", "id").collect()}
    assert got[9001] == 3
    big_winner = [i for i in got if i != 9001]
    assert len(big_winner) == 1
    assert got[big_winner[0]] == 6 and big_winner[0] == 6  # smallest id among q==6


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed tables join without any shuffle: the one-time bucketBy
    write pays the exchange, every later join on the key is free."""
    from piperider_spark.operators.bucketing import cobucketed_join, write_bucketed

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"), "b_orders", "custkey", 8
    )
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "custkey"), "b_customer", "custkey", 8
    )
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast: at this tiny SF the planner would
        # broadcast and skip bucketing — the co-location claim is about
        # large-large recurring joins, where SMJ is the strategy
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cobucketed_join(spark, "b_orders", "b_customer", "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:800]
        assert "Exchange" not in plan, plan[:800]
        # same result as the plain (shuffling) join
        plain = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_matches_plain_join(spark):
    """Salted join output must equal the plain join on a Zipf-headed key,
    and the physical join key must include the salt (hot key spread)."""
    from piperider_spark.operators.skew import salted_join

    # 90% of fact rows share one key
    fact = spark.createDataFrame(
        [(i, 1 if i % 10 else i, f"p{i}") for i in range(2000)],
        "row_id long, k long, payload string",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 2000, 1)], "k long, attr string"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = salted_join(fact, dim, "k", "row_id", salt_n=8)
        plain = fact.join(dim, "k")
        assert salted.count() == plain.count()
        s = {(r.row_id, r.attr) for r in salted.select("row_id", "attr").collect()}
        p = {(r.row_id, r.attr) for r in plain.select("row_id", "attr").collect()}
        assert s == p
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan  # join key carries the salt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tokenize_and_shingles_match_python_spec(spark):
    """Pin the exact tokenize/shingle semantics the whole oracle surface
    relies on (Java regex ∩ RE2: ASCII \\s only, space-only trim, empty
    edge tokens preserved) against an explicit python reference, over an
    adversarial corpus."""
    import re

    from piperider_spark.functions.text import tokens, word_shingles

    cases = [
        "", " ", "  ", "a", "a b c d e", "\tx", "x\t", "a  b\t\tc\nd",
        "héllo wörld straße", "日本語 テスト 文字", "a'b c-d e_f",
        " nbsp is not a separator", "trailing space ", " leading",
        ("tok " * 200).strip(), "one\x0btab\x0cfeeds\rreturns",
    ]
    WS = re.compile(r"[ \t\n\x0b\f\r]+")

    def py_tokens(text):
        t = text.strip(" ")  # Spark/DuckDB trim strips SPACES only
        return [] if t == "" else WS.split(t)

    def py_shingles(text, k=3):
        toks = py_tokens(text.lower())
        if not toks:
            return []
        if len(toks) < k:
            return [" ".join(toks)]
        out, seen = [], set()
        for i in range(len(toks) - k + 1):
            s = " ".join(toks[i : i + k])
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out

    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, text string")
    got = {
        r.i: (r.toks, r.sh)
        for r in df.select(
            "i", tokens("text").alias("toks"), word_shingles("text", 3).alias("sh")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i][0] == py_tokens(c), f"tokens mismatch on {c!r}: {got[i][0]}"
        assert got[i][1] == py_shingles(c), f"shingles mismatch on {c!r}: {got[i][1]}"


def test_window_lambdas_read_only_their_elements(spark):
    """The n-gram / shingle builders hand each lambda its own elements
    only. A lambda that reads the text column re-runs the inline
    tokenizer once per window, O(n^2) regex splits per document (DSIR's
    fit took 80 s on 1,200 turns that way). Checked on the expression
    text, then the windows themselves against python on a long row."""
    from piperider_spark.functions.text import token_windows, tokens, word_shingles
    from piperider_spark.operators.dsir import ngram_buckets
    from piperider_spark.operators.quality import word_ngrams

    def lambda_bodies(col) -> list[str]:
        s, out = str(col), []
        for i in range(len(s)):
            if s.startswith("->", i):
                depth, j = 0, i + 2
                while depth >= 0:
                    depth += {"(": 1, ")": -1}.get(s[j], 0)
                    j += 1
                out.append(s[i + 2 : j - 1])
        return out

    toks = tokens(F.lower(F.col("body")))
    for col in (
        ngram_buckets("body"),
        ngram_buckets("body", hash_fn="xxhash64"),
        word_shingles("body", 3),
        word_ngrams(toks, 4),
    ):
        bodies = lambda_bodies(col)
        assert bodies, str(col)
        assert not [b for b in bodies if "body" in b], str(col)

    words = [f"w{i % 37}" for i in range(600)]
    df = spark.createDataFrame([(" ".join(words),)], "body string")
    row = df.select(
        *[token_windows(tokens("body"), k).alias(f"k{k}") for k in (1, 2, 5)]
    ).first()
    for k in (1, 2, 5):
        want = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
        assert row[f"k{k}"] == want


def test_connected_components_vs_union_find(spark):
    """Label propagation must match a python union-find on an adversarial
    graph (chain — worst diameter — plus a clique and a pair)."""
    from piperider_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(10, 20)]       # chain: 10..20 → one cluster
        + [(a, b) for a in (30, 31, 32) for b in (31, 32, 33) if a < b]  # clique
        + [(50, 51)]
    )
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == expected


def test_sampling_null_semantics(spark):
    """NULL strata sample as their own stratum; NULL groups and all-NULL
    quality groups still keep exactly one row (window-plan parity)."""
    from piperider_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, None if i < 20 else "en") for i in range(40)], "id long, lang string"
    )
    q = sampling.quota_sample(df, "lang", "id", quota=5)
    per = {r["lang"]: r["n"] for r in q.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per.get(None) == 5 and per.get("en") == 5

    rows = [
        (1, None, 7),      # NULL group keeps its best row
        (2, "g", None),    # all-NULL-quality group keeps smallest id
        (3, "g", None),
    ]
    cdf = spark.createDataFrame(rows, "id long, grp string, q long")
    got = {r.id for r in sampling.canonical_by_quality(cdf, "grp", "q", "id").collect()}
    assert got == {1, 2}


def test_salted_join_rejects_right_outer(spark):
    import pytest as _pytest

    from piperider_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, 1)], "row_id long, k long")
    with _pytest.raises(ValueError):
        salted_join(df, df, "k", "row_id", how="full")


def test_connected_components_string_ids(spark):
    """String ids (hex fingerprints) must propagate correctly — a sum-based
    convergence check would cast them to NULL and stop after one round."""
    from piperider_spark.operators.dedup import connected_components

    edges = [("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {"b": "b", "c": "b", "d": "b", "e": "b", "x": "x", "y": "x"}


def test_ivf_trained_centroids_beat_random_recall():
    """Sampled-k-means quantizer (VERDICT r3 'Next round' #4): recall@10
    vs brute-force cosine at nprobe=4/16 must IMPROVE over the seeded
    random-centroid baseline, averaged over 20 query vectors. Also pins
    determinism: two trainings give identical literals."""
    import pyarrow.parquet as pq

    E = np.array(
        pq.read_table(f"{SF_DIR}/embeddings.parquet").column("embedding").to_pylist(),
        dtype=np.float64,
    )
    rand = similarity._ivf_centroids(E.shape[1], 16, 11)
    trained = similarity.train_ivf_centroids(E, 16, 11)
    trained2 = similarity.train_ivf_centroids(E, 16, 11)
    assert np.array_equal(trained, trained2)

    def recall(C: np.ndarray, nprobe: int = 4, topk: int = 10, nq: int = 20) -> float:
        assign = (E @ C.T).argmax(axis=1)
        norms = np.linalg.norm(E, axis=1)
        hits = 0
        for qi in range(nq):
            qv = E[qi]
            scores = C @ qv
            probe = sorted(range(len(C)), key=lambda j: (-scores[j], -j))[:nprobe]
            cos = (E @ qv) / (norms * norms[qi])
            true_top = set(np.argsort(-cos)[:topk])
            cand = np.where(np.isin(assign, probe))[0]
            got = set(cand[np.argsort(-cos[cand])][:topk])
            hits += len(true_top & got)
        return hits / (nq * topk)

    r_rand, r_trained = recall(rand), recall(trained)
    assert r_trained > r_rand, f"trained {r_trained:.3f} <= random {r_rand:.3f}"
    assert r_trained >= 0.6  # measured 0.63 vs 0.515 on this corpus


def test_ivf_partitioned_probe_prunes_scan(spark, tmp_path):
    """The at-rest IVF layout turns the probe into a PartitionFilter and
    returns the same rows as the on-the-fly cell computation."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = list(emb.where("vec_id = 0").select("embedding").first()[0])
    path = str(tmp_path / "ivf")
    similarity.ivf_write_partitioned(emb, path)
    probed = similarity.ivf_topk_partitioned(spark, path, qvec)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:500]
    onfly = similarity.ivf_topk(emb, qvec)
    assert [(r.vec_id, r.cosine_sim) for r in probed.collect()] == [
        (r.vec_id, r.cosine_sim) for r in onfly.collect()
    ]


def test_ann_partitioned_probe_prunes_scan(spark, tmp_path):
    """The at-rest hyperplane layout turns the Hamming-ring probe into a
    PartitionFilter and returns the same rows as the on-the-fly form."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = list(emb.where("vec_id = 0").select("embedding").first()[0])
    path = str(tmp_path / "ann")
    similarity.ann_write_partitioned(emb, path)
    probed = similarity.ann_topk_partitioned(spark, path, qvec)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [sig" in plan, plan[:500]
    onfly = similarity.ann_bucketed(emb, qvec)
    assert [(r.vec_id, r.cosine_sim) for r in probed.collect()] == [
        (r.vec_id, r.cosine_sim) for r in onfly.collect()
    ]


def test_exact_dup_flags_skew_safe_and_null_group(spark):
    """exact_dup_flags: agg+join plan (no per-group window), NULL-text
    docs grouped together like the window plan's NULL partition."""
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c"), (4, None), (5, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.group_size, r.is_canonical) for r in dedup.exact_dup_flags(df).collect()}
    assert rows[1] == (2, True) and rows[2] == (2, False) and rows[3] == (1, True)
    assert rows[4] == (2, True) and rows[5] == (2, False)
    plan = dedup.exact_dup_flags(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_quantile_cumsum_has_no_global_window(spark):
    """The exact-quantile cumsum must parallelize (VERDICT r3 'Next round'
    #3): uniform domain buckets + per-bucket windows + broadcast offsets.
    Every Window in the executed plan must be PARTITIONED — an empty
    partition spec would be the old single-task global-order stage."""
    import re

    from piperider_spark.operators.quantiles import percentile_disc_multi

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = percentile_disc_multi(li, "l_extendedprice", (0.05, 0.5, 0.95))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # executed-plan Window lines read: Window [sum(...)...], [b#12], [v#3 ASC]
    # (partition spec is the second bracket group; global windows print an
    # empty one or omit it entirely)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert re.search(r"\],\s*\[[^\]]+\],\s*\[", line), (
                f"unpartitioned (global) Window in quantile plan: {line.strip()}"
            )
    # and the result still matches percentile_disc semantics
    vals = sorted(r[0] for r in li.select("l_extendedprice").dropna().collect())
    import math as _m

    row = out.first()
    n = len(vals)
    for p, a in zip((0.05, 0.5, 0.95), ("p5", "p50", "p95")):
        assert row[a] == vals[max(0, _m.ceil(p * n) - 1)]


def test_quantile_skewed_domain_still_exact(spark):
    """Uniform domain bins are order-monotone regardless of the data
    distribution — a pathological skew (99% of mass inside 0.1% of the
    range, one far outlier stretching the domain) must not change results,
    only bucket balance."""
    import math as _m

    from piperider_spark.operators.quantiles import percentile_disc_multi

    vals = [float(i) / 1000.0 for i in range(999)] + [1.0e9]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = percentile_disc_multi(df, "x", (0.05, 0.5, 0.95), n_buckets=16).first()
    svals = sorted(vals)
    n = len(svals)
    for p, a in zip((0.05, 0.5, 0.95), ("p5", "p50", "p95")):
        assert row[a] == svals[max(0, _m.ceil(p * n) - 1)], (p, row[a])


def test_quantile_random_distributions_match_numpy_oracle(spark):
    """Seeded sweep over distribution shapes (uniform, lognormal heavy
    tail, integers with ties, bimodal, tiny): every quantile must equal
    the percentile_disc definition computed by a numpy oracle."""
    import math as _m

    from piperider_spark.operators.quantiles import percentile_disc_multi

    rng = np.random.default_rng(42)
    shapes = {
        "uniform": rng.uniform(-5, 5, 4000),
        "lognormal": rng.lognormal(0, 2.5, 4000),
        "int_ties": rng.integers(0, 7, 4000).astype(float),
        "bimodal": np.concatenate([rng.normal(-100, 1, 2000), rng.normal(100, 1, 2000)]),
        "tiny": rng.normal(0, 1, 3),
    }
    ps = (0.05, 0.25, 0.5, 0.75, 0.95)
    for name, vals in shapes.items():
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        row = percentile_disc_multi(df, "x", ps, n_buckets=32).first()
        s = np.sort(vals)
        n = len(s)
        for p in ps:
            want = float(s[max(0, _m.ceil(p * n) - 1)])
            got = row[f"p{int(p * 100)}"]
            assert got == want, (name, p, got, want)


def test_quantile_all_nan_column(spark):
    """A column that is entirely NaN has no finite bounds — the degenerate
    fallback must still produce percentile_disc semantics (NaN), not
    crash."""
    import math as _m

    nan = float("nan")
    df = spark.createDataFrame([(nan,)] * 5, "x double")
    from piperider_spark.operators.quantiles import percentile_disc_multi

    row = percentile_disc_multi(df, "x", (0.5,)).first()
    assert _m.isnan(row["p50"])


def test_quantile_degenerate_and_nan_paths(spark):
    """Fallback exactness: constant column (degenerate bounds) and a float
    column containing NaN (NaN must land above every finite value, matching
    sort order, without poisoning the bucket bounds)."""
    from piperider_spark.operators.quantiles import percentile_disc_multi

    const = spark.createDataFrame([(1.0,)] * 7, "x double")
    assert percentile_disc_multi(const, "x", (0.5,)).first()["p50"] == 1.0
    nan = float("nan")
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)] + [(nan,)], "x double")
    row = percentile_disc_multi(df, "x", (0.5, 0.95), n_buckets=4).first()
    assert row["p50"] == 5.0
    import math as _m

    assert _m.isnan(row["p95"])  # ceil(.95*10)=10th value = NaN (sorts last)


def test_minhash_lsh_pairs_releases_shingle_cache(spark):
    """The operator materializes eagerly and unpersists its internal
    shingle frame: the only persisted RDD it may leave behind is the
    single localCheckpoint backing the returned pairs (r2 verdict: a lazy
    return leaked the persisted shingles into the caller's session)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup.minhash_lsh_pairs(docs, n_hashes=8, n_bands=4, threshold=0.9)
    out.count()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    new = {int(k) for k in jmap.keySet().toArray()} - before
    assert len(new) <= 1, f"leaked persisted RDDs: {sorted(new)}"


def test_lsh_sizes_join_not_force_broadcast(spark):
    """The per-document `sizes` relation is O(corpus) rows and must never
    carry a broadcast hint (r2 verdict scale-killer). The only allowed
    hint in the dedup module is on the bounded `oversized` bucket-key
    list; shingle_pairs_jaccard's lazy plan must contain no hint at all."""
    import inspect

    src = inspect.getsource(dedup)
    hints = [ln.strip() for ln in src.splitlines() if "F.broadcast(" in ln]
    # allowed: `oversized` (few keys by construction) and the eval-set
    # shingles (benchmarks are thousands of docs by nature)
    assert hints == [
        'banded = banded.join(F.broadcast(oversized), ["band", "key"], "left_anti")',
        'tr.join(F.broadcast(ev), "s")',
    ], hints
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    lazy = dedup.shingle_pairs_jaccard(docs, threshold=0.9)
    analyzed = lazy._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower()


def test_connected_components_star_path_graph(spark):
    """large-star/small-star converges on a length-1000 path in O(log n)
    rounds (plain propagation needs 1000) and produces min-id labels."""
    from piperider_spark.operators.dedup import connected_components_star

    n = 1000
    edges = [(f"v{i:05d}", f"v{i + 1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.id: r.cluster_id for r in connected_components_star(df, max_iter=15).collect()}
    assert len(got) == n
    assert set(got.values()) == {"v00000"}


def test_connected_components_star_matches_label_propagation(spark):
    """Both algorithms produce identical (id, cluster_id) maps on a mixed
    graph (chain + clique + pair + isolated edge)."""
    from piperider_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = (
        [(i, i + 1) for i in range(10, 20)]
        + [(a, b) for a in (30, 31, 32) for b in (31, 32, 33) if a < b]
        + [(50, 51), (7, 7), (60, 61), (61, 60)]
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    lp = {r.id: r.cluster_id for r in connected_components(df).collect()}
    star = {r.id: r.cluster_id for r in connected_components_star(df).collect()}
    # self-loop (7,7) contributes a vertex in the propagation variant only;
    # star drops u==v edges — compare on the shared vertex set
    assert {k: v for k, v in lp.items() if k != 7} == star


def test_quota_sample_and_packing_release_caches(spark):
    """quota_sample and concat_chunk_pack are materializing operators: each
    may leave behind only its one result checkpoint, never the internal
    persisted relation (same leak class as the r2 LSH verdict item)."""
    from piperider_spark.operators.packing import concat_chunk_pack
    from piperider_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], 10 + i % 7) for i in range(300)],
        "doc_id long, lang string, n_tok long",
    )

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = persistent_ids()
    qs = quota_sample(df, "lang", "doc_id", quota=5)
    qs.count()
    assert len(persistent_ids() - before) <= 1

    before = persistent_ids()
    packed = concat_chunk_pack(df, "doc_id", "n_tok", max_len=64)
    packed.count()
    assert len(persistent_ids() - before) <= 1


def test_gopher_repetition_hand_fixture(spark):
    """Line-level metrics need newline-bearing text the synthetic corpus
    lacks; thresholds checked against hand-computed values."""
    from piperider_spark.operators import quality

    rows = [
        ("clean", "the quick brown fox jumps over the lazy dog and runs far away"),
        ("dup_lines", "same line\nsame line\nsame line\nother line"),
        ("loop2", "spam ham " * 20),
        ("empty", ""),
        ("nulltext", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict() for r in quality.gopher_repetition_stats(df).collect()}

    assert len(out) == 5
    for did in ("empty", "nulltext"):
        assert out[did]["keep"] is True
        assert out[did]["dup_line_frac"] == 0.0
        assert out[did]["top_2gram_char_frac"] == 0.0

    d = out["dup_lines"]
    # 4 lines, 2 distinct -> 0.5; dup chars: 'same line'(9ch) x2 extra
    # occurrences over total 3*9 + 10 = 37 chars
    assert d["dup_line_frac"] == 0.5
    assert d["dup_line_char_frac"] == round(18 / 37, 6)
    assert d["keep"] is False

    t = out["loop2"]
    # 40 tokens alternating -> 'spam ham' covers 20*8 of 312 2-gram chars
    assert t["top_2gram_char_frac"] == round(160 / 312, 6)
    assert t["dup_5gram_char_frac"] > quality.DUP_NGRAM_CHAR_FRAC_MAX[5]
    assert t["keep"] is False

    c = out["clean"]
    assert c["keep"] is True
    assert c["dup_line_frac"] == 0.0


def test_gopher_word_ngrams_short_inputs(spark):
    """<n tokens -> empty array (sequence(1,0) would be descending)."""
    from piperider_spark.operators.quality import word_ngrams
    from piperider_spark.functions.text import tokens as tok

    df = spark.createDataFrame(
        [("a b",), ("a",), ("",)], "text string"
    ).select(word_ngrams(tok(F.lower(F.col("text"))), 3).alias("g"))
    assert [r.g for r in df.collect()] == [[], [], []]


_PII_CORES = [
    "a.b-c_d@ex-ample.co.uk", "123-45-6789", "+1 555-123-4567",
    "(555) 123-4567", "555.123.4567", "sk-abcdef1234567890ABCD",
    "api_abcdefabcdefabcdef", "10.0.0.1", "255.255.255.255", "FRAK",
    "gorram SMEGHEAD", "a@b.co", "1.2.3.4.5", "123-45-67890",
    "token-ABCDEFGH12345678", "plain words only",
]


def test_native_scrub_three_way_ascii(spark, duck):
    """scrub_col (Java) and the SQL form (RE2) must be byte-identical to
    the frozen python spec on ASCII text — the contract that makes the
    JVM chain a valid scrub-only scale path (scrub/native.py)."""
    from piperider_spark.scrub.native import scrub_col, scrub_sql_exprs
    from piperider_spark.scrub.rules import scrub_text

    texts = [None, ""]
    for pre in ["", "call ", "x", "9", "_ "]:
        for core in _PII_CORES:
            for suf in ["", " now", "y", "7.", " _"]:
                texts.append(f"{pre}{core}{suf}")
    expected = [scrub_text(t) for t in texts]

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got_java = [r.s for r in df.select(scrub_col("t").alias("s")).collect()]
    assert got_java == expected

    expr = "t"
    for _name, pat, repl in scrub_sql_exprs():
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    got_re2 = [
        duck.execute(f"SELECT {expr} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        for t in texts
    ]
    assert got_re2 == expected


def test_native_scrub_unicode_contract(spark):
    """Pin the measured Java-vs-python divergence surface: unicode \\b
    adjacency AGREES (Java's \\b is unicode-aware), unicode \\d does not
    (python scrubs arabic-digit SSNs, Java leaves them)."""
    from piperider_spark.scrub.native import scrub_col
    from piperider_spark.scrub.rules import scrub_text

    agree = ["é123-45-6789", "中123-45-6789中", "fraK kelvin", "İstanbul frak"]
    df = spark.createDataFrame([(t,) for t in agree], "t string")
    got = [r.s for r in df.select(scrub_col("t").alias("s")).collect()]
    assert got == [scrub_text(t) for t in agree]

    arabic = "٣٢١-٤٥-٦٧٨٩ ssn"
    df2 = spark.createDataFrame([(arabic,)], "t string")
    java_out = df2.select(scrub_col("t").alias("s")).collect()[0].s
    assert scrub_text(arabic) == "<SSN> ssn"       # python \d is unicode
    assert java_out == arabic                      # java \d is ascii


def test_gopher_quality_hand_fixture(spark):
    """Non-repetition Gopher rules against hand-computed values; note the
    NULL/empty polarity differs from the repetition stats (no words ->
    fails the word-count bound -> drop, not keep)."""
    from piperider_spark.operators import quality

    good = ("the quick brown fox jumps over the lazy dog and " * 6).strip()
    rows = [
        ("good", good),
        ("short", "too short"),
        ("symbols", ("#tag " * 60).strip()),
        ("bullets", "\n".join(f"- {w} item entry" for w in good.split()[:10])),
        ("dots", "\n".join(f"{w} trailing thing..." for w in good.split()[:10])),
        ("numeric", ("123 456 " * 30).strip()),
        ("nulltext", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict() for r in quality.gopher_quality_stats(df).collect()}

    g = out["good"]
    assert g["n_words"] == 60
    assert g["mean_word_len"] == 3.8
    assert g["alpha_word_frac"] == 1.0
    assert g["symbol_ratio"] == 0.0
    assert g["stop_hits"] >= 2
    assert g["keep"] is True

    assert out["short"]["n_words"] == 2 and out["short"]["keep"] is False
    assert out["symbols"]["symbol_ratio"] == 1.0 and out["symbols"]["keep"] is False
    assert out["bullets"]["bullet_line_frac"] == 1.0 and out["bullets"]["keep"] is False
    assert out["dots"]["ellipsis_line_frac"] == 1.0 and out["dots"]["keep"] is False
    assert out["numeric"]["alpha_word_frac"] == 0.0 and out["numeric"]["keep"] is False
    n = out["nulltext"]
    assert n["n_words"] == 0 and n["mean_word_len"] is None and n["keep"] is False


def test_c4_filter_hand_fixture(spark):
    from piperider_spark.operators import quality

    keepable = (
        "this first line has enough words here.\n"
        "a second line that also qualifies fine!\n"
        'and a third line inside double quotes ends right"'
    )
    rows = [
        ("good", keepable),
        ("mixed", keepable + "\nno terminal punct line here\nshort line.\n"
         "this javascript line is long enough to pass otherwise."),
        ("lorem", keepable + "\nLorem Ipsum dolor sit amet plainly stated."),
        ("brace", keepable + "\nfunction f() { return 1; } is code stuff."),
        ("thin", "only one qualifying line is present here."),
        ("nulltext", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict() for r in quality.c4_filter_stats(df).collect()}

    g = out["good"]
    assert g["n_lines"] == 3 and g["n_kept_lines"] == 3
    assert g["text_clean"] == keepable and g["keep"] is True

    m = out["mixed"]
    # the punct-less, <5-word, and javascript lines all fall
    assert m["n_lines"] == 6 and m["n_kept_lines"] == 3
    assert m["text_clean"] == keepable and m["keep"] is True

    assert out["lorem"]["has_lorem"] is True and out["lorem"]["keep"] is False
    assert out["brace"]["has_brace"] is True and out["brace"]["keep"] is False
    assert out["thin"]["n_kept_lines"] == 1 and out["thin"]["keep"] is False
    n = out["nulltext"]
    assert n["n_lines"] == 0 and n["text_clean"] is None and n["keep"] is False


def test_near_dup_retention_semantics_and_plan(spark):
    """Longest-doc-per-cluster retention: hand graph + the scale pin that
    the per-cluster argmax plans as partial aggregate + join, never a
    window over the cluster."""
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, None), (4, "bb"), (5, "b")],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 4), (5, 4)], "id long, cluster_id long"
    )
    out = {r.doc_id: (r.cluster_id, r.keep) for r in
           dedup.near_dup_retention(docs, clusters).collect()}
    assert out == {
        1: (1, False), 2: (1, True),   # 'aaaa' longest in cluster 1
        3: (None, True),               # unclustered keeps
        4: (4, True), 5: (4, False),   # tie broken by length then id
    }

    plan = (
        dedup.near_dup_retention(docs, clusters)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan[:400]


def test_curate_corpus_staged_chain(spark):
    """The staged curation chain end-to-end: exact dups exit first (and do
    NOT poison line dedup), boilerplate lines are stripped before C4
    counts kept lines, quality verdicts score the curated text."""
    from piperider_spark.operators.curation import curate_corpus

    boiler = "COPYRIGHT 2024 EXAMPLE SITE"
    good_lines = [
        f"the alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} eta{i} it is fine."
        for i in range(6)
    ]
    good_a = boiler + "\n" + "\n".join(good_lines)
    good_b = "\n".join(good_lines[::-1]) + "\n" + boiler
    rows = [
        ("a", good_a),                    # keeps: boilerplate stripped, rest passes
        ("b", good_b),                    # same lines reversed — line dedup removes
                                          # ONLY the boiler line (per-doc uniqueness
                                          # is not cross-doc recurrence)... see below
        ("dup1", "identical text body."),
        ("dup2", "identical text body."),  # exact dup of dup1 — exits at stage 1
        ("thin", "too little."),           # fails c4 (1 short line)
        ("nulldoc", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r.asDict() for r in curate_corpus(df).collect()}
    assert len(out) == 6

    # exact dup: canonical is min(doc_id) = dup1
    assert out["dup2"]["reasons"] == ["exact_dup"]
    assert out["dup2"]["keep"] is False and out["dup2"]["text_curated"] is None
    assert "exact_dup" not in out["dup1"]["reasons"]

    # a and b share every good line → line dedup strips ALL shared lines
    # (they recur in 2 distinct docs), leaving nothing — both then fail C4.
    # This pins the frozen semantics: near-dup *documents* must be caught
    # by the near-dup family (MinHash), not survive into line dedup.
    for d in ("a", "b"):
        assert out[d]["n_boilerplate_removed"] == 7
        assert "c4" in out[d]["reasons"] and out[d]["keep"] is False

    assert out["thin"]["keep"] is False and "c4" in out["thin"]["reasons"]
    assert out["nulldoc"]["keep"] is False

    # distinct-content docs pass end-to-end: rebuild with unique lines
    rows2 = [("solo", boiler + "\n" + "\n".join(good_lines)),
             ("other", boiler + "\nunrelated filler line that is long enough here.")]
    out2 = {r.doc_id: r.asDict() for r in curate_corpus(spark.createDataFrame(
        rows2, "doc_id string, text string")).collect()}
    s = out2["solo"]
    assert s["n_boilerplate_removed"] == 1          # only the boiler recurs
    assert s["text_curated"] == "\n".join(good_lines)
    assert s["reasons"] == [] and s["keep"] is True


def test_corpus_line_dedup_hand_fixture(spark):
    """Multi-line corpus boilerplate removal (synthetic docs are
    single-line, so cross-line behavior needs a hand fixture)."""
    rows = [
        ("a", "COPYRIGHT 2024\nunique alpha text\nfollow us"),
        ("b", "COPYRIGHT 2024\nunique beta text\nfollow us"),
        ("c", "totally original\n\n  COPYRIGHT 2024  "),
        ("d", "COPYRIGHT 2024"),
        ("e", ""),
        ("f", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.corpus_line_dedup(df, min_docs=2).collect()
    }
    # 'COPYRIGHT 2024' (trimmed key) recurs in a,b,c,d; 'follow us' in a,b
    assert out["a"]["text"] == "unique alpha text"
    assert out["a"]["n_lines"] == 3 and out["a"]["n_removed"] == 2
    assert out["b"]["text"] == "unique beta text"
    # whitespace-only line is structure: kept; indented variant still keys
    assert out["c"]["text"] == "totally original\n"
    assert out["c"]["n_removed"] == 1
    # all lines removed -> empty string, not NULL
    assert out["d"]["text"] == "" and out["d"]["n_removed"] == 1
    # empty text: single empty line, kept
    assert out["e"]["text"] == "" and out["e"]["n_lines"] == 1 and out["e"]["n_removed"] == 0
    # NULL text passes through as NULL
    assert out["f"]["text"] is None and out["f"]["n_lines"] == 0


def test_partitioned_ann_writers_reject_empty_or_null_corpus(spark, tmp_path):
    """Both at-rest ANN writers raise a descriptive ValueError (not a bare
    TypeError from len(None)) when the dim probe finds an empty corpus or a
    NULL first embedding."""
    import pytest as _pytest

    from piperider_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    for fn, sub in [
        (similarity.ann_write_partitioned, "ann"),
        (similarity.ivf_write_partitioned, "ivf"),
    ]:
        for df in (empty, nulls):
            with _pytest.raises(ValueError, match="cannot infer vector dim"):
                fn(df, str(tmp_path / sub))


def test_ivf_centroids_lazy_and_memoized():
    """Importing queries must NOT train the IVF quantizer (ADVICE r4: the
    module-import parquet read + 12 k-means iterations); training runs on
    first use, is memoized, and both the Spark entry and the oracle SQL
    share the same literals."""
    import importlib
    import subprocess
    import sys

    # fresh interpreter: import alone leaves the cache cold
    code = (
        "import piperider_spark.queries as q; "
        "print(q._IVF_CENTS_CACHE is None)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "True"
    # in-process: first use primes the cache; repeated use reuses it
    import piperider_spark.queries as qmod2

    c1 = qmod2._ivf_cents()
    assert qmod2._IVF_CENTS_CACHE is not None
    assert qmod2._ivf_cents() is c1
    # the oracle SQL embeds the same trained literals
    sql = qmod2.oracle_sql()["ivf_topk_embeddings"]
    assert repr(float(c1[0][0])) in sql


# ---------------------------------------------------------------------------
# conversation-grain dedup
# ---------------------------------------------------------------------------


def _transcripts_df(spark):
    base = [
        "hello there how can i help you today",
        "i need to reset my password for the billing portal",
        "sure i can walk you through the reset flow step by step",
    ]
    rows = []
    # conv a: canonical. conv b: exact copy (turns delivered in REVERSE input
    # order — rollup must restore turn_idx order). conv c: near copy (one
    # word changed in the last turn). conv d: unrelated.
    for i, t in enumerate(base):
        rows.append(("conv_a", i, t))
    for i, t in reversed(list(enumerate(base))):
        rows.append(("conv_b", i, t))
    near = base[:2] + ["sure i can walk you through the recovery flow step by step"]
    for i, t in enumerate(near):
        rows.append(("conv_c", i, t))
    rows += [
        ("conv_d", 0, "the quarterly report numbers look completely different"),
        ("conv_d", 1, "revenue is up but churn doubled in the enterprise tier"),
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_conversation_text_stable_order_and_null_handling(spark):
    df = _transcripts_df(spark)
    out = {r.conv_id: r for r in dedup.conversation_text(df).collect()}
    # reverse-delivered conv_b concatenates identically to conv_a
    assert out["conv_a"].conv_text == out["conv_b"].conv_text
    assert out["conv_a"].n_turns == 3
    assert out["conv_a"].conv_text.split("\n")[1].startswith("i need to reset")
    # NULL turn text -> empty string slot, separators preserved
    withnull = spark.createDataFrame(
        [("x", 0, "a"), ("x", 1, None), ("x", 2, "c")],
        "conv_id string, turn_idx int, text string",
    )
    row = dedup.conversation_text(withnull).collect()[0]
    assert row.conv_text == "a\n\nc"
    # max_turns truncates AFTER the sort
    trunc = dedup.conversation_text(df, max_turns=2).where("conv_id = 'conv_b'")
    assert trunc.collect()[0].conv_text == "\n".join(
        ["hello there how can i help you today",
         "i need to reset my password for the billing portal"]
    )


def test_conversation_exact_dup_groups(spark):
    groups = dedup.conversation_exact_dup_groups(_transcripts_df(spark)).collect()
    assert len(groups) == 1
    assert groups[0].n_convs == 2
    assert groups[0].min_conv_id == "conv_a"


def test_conversation_near_dup_pairs(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.conversation_near_dup_pairs(
            _transcripts_df(spark), threshold=0.5
        ).collect()
    }
    assert pairs[("conv_a", "conv_b")] == 1.0  # exact dup pair verifies at 1.0
    assert ("conv_a", "conv_c") in pairs or ("conv_b", "conv_c") in pairs
    near = pairs.get(("conv_a", "conv_c"), pairs.get(("conv_b", "conv_c")))
    assert 0.5 <= near < 1.0
    assert not any("conv_d" in p for p in pairs)  # unrelated conv never pairs


def test_conversation_text_single_exchange_plan(spark):
    """The rollup is ONE shuffle on conv_id — no window/secondary-sort
    exchange (order restored by array_sort inside the aggregate)."""
    plan = dedup.conversation_text(_transcripts_df(spark))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_conversation_text_input_order_and_partition_invariant(spark):
    """The rollup must be a pure function of the (conv_id, turn_idx, text)
    multiset — input row order, partitioning, and even duplicate turn_idx
    rows (array_sort ties broken by the struct's text field) may not change
    any conversation's concatenation."""
    import random

    rnd = random.Random(41)
    rows = []
    for c in range(30):
        for i in range(rnd.randint(1, 12)):
            rows.append((f"c{c:02d}", i, f"turn {i} of conversation {c} " * rnd.randint(1, 3)))
    rows.append(("c00", 1, "a tied turn_idx row"))  # deterministic tie-break by text
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    def snap(frame):
        return {r.conv_id: (r.conv_text, r.n_turns) for r in dedup.conversation_text(frame).collect()}

    base = snap(df)
    assert snap(df.orderBy(F.rand(7))) == base
    assert snap(df.repartition(17)) == base
    assert snap(df.coalesce(1)) == base


def test_bloom_gate_no_false_negatives_and_fpr(spark):
    """Bloom incremental dedup gate: (a) every built-in fingerprint probes
    maybe_seen=True — Blooms have no false negatives; (b) observed FPR on
    fingerprints NOT in the filter stays near the nominal sizing; (c) the
    gate's executed plan is shuffle-free (the whole point: gating a new
    batch against 10^12 seen turns without a join against history)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)

    bloom = dedup.build_fingerprint_bloom(half_a, fpp=0.01)
    m, k = dedup.bloom_params(bloom["expected"], 0.01)
    assert (bloom["m_bits"], bloom["k"]) == (m, k) and m % 8 == 0

    # (a) no false negatives, including re-probing duplicates
    flags_a = dedup.bloom_seen_flags(half_a, bloom)
    assert flags_a.where(~F.col("maybe_seen")).count() == 0

    # (b) FPR on genuinely-unseen fingerprints (left_anti drops texts the
    # halves happen to share): ≤ 4× nominal leaves slack for the small n
    fps_a = dedup.with_fingerprint(half_a).select("fp").distinct()
    unseen = dedup.with_fingerprint(half_b).join(fps_a, "fp", "left_anti")
    n_unseen = unseen.count()
    n_hits = dedup.bloom_seen_flags(unseen, bloom).where(F.col("maybe_seen")).count()
    assert n_unseen > 100  # the fixture halves genuinely differ
    assert n_hits / n_unseen <= 0.04, f"FPR {n_hits}/{n_unseen} vs nominal 0.01"

    # incremental dedup keeps exactly the definite-unseen rows
    assert dedup.bloom_incremental_dedup(half_b, bloom).count() == n_unseen - n_hits

    # (c) zero Exchange in the gate plan
    plan = flags_a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bloom_or_union_and_null_text_group(spark):
    """bloom_or unions epoch snapshots (no false negatives on either side);
    NULL-text rows gate through the same sentinel fingerprint exact dedup
    groups them under; mismatched layouts are rejected."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    n = half_a.count()
    b1 = dedup.build_fingerprint_bloom(half_a, expected=n, fpp=0.01)
    b2 = dedup.build_fingerprint_bloom(half_b, expected=n, fpp=0.01)
    union = dedup.bloom_or(b1, b2)
    assert dedup.bloom_seen_flags(docs, union).where(~F.col("maybe_seen")).count() == 0
    assert union["expected"] == 2 * n

    with pytest.raises(ValueError, match="identical layouts"):
        dedup.bloom_or(b1, dedup.build_fingerprint_bloom(half_b, expected=5 * n, fpp=0.01))

    null_df = spark.createDataFrame([(1, None), (2, None), (3, "x")], "doc_id long, text string")
    b_null = dedup.build_fingerprint_bloom(null_df, expected=16, fpp=0.01)
    seen = {r.doc_id: r.maybe_seen for r in dedup.bloom_seen_flags(null_df, b_null).collect()}
    assert seen == {1: True, 2: True, 3: True}


def test_encoding_quality_stats_python_oracle(spark):
    """encoding_quality_stats vs a character-level python oracle on
    handcrafted corruption cases, plus the zero-Exchange plan pin (the
    signal must ride the scan like every other quality rule)."""
    import re as _re

    from piperider_spark.operators import quality as Q

    rows = [
        (1, "A perfectly clean sentence with nothing wrong at all."),
        (2, "He said donâ€™t â€” the crawl double-decoded it, cafÃ© too."),
        (3, "bad byte here � and another �"),
        (4, "control\x00chars\x1fin\x08side"),
        (5, ""),
        (6, None),
        (7, "tab\tand\nnewline\rare fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in Q.encoding_quality_stats(df).collect()}

    moji_re = _re.compile("|".join(Q.MOJIBAKE_SEQS))
    ctrl_re = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
    for doc_id, text in rows:
        g = got[doc_id]
        t = text or ""
        nc = max(len(t), 1)
        repl, moji, ctrl = t.count("�"), len(moji_re.findall(t)), len(ctrl_re.findall(t))
        assert g["n_chars"] == len(t)
        assert g["replacement_chars"] == repl, (doc_id, g)
        assert g["mojibake_hits"] == moji, (doc_id, g)
        assert g["control_chars"] == ctrl, (doc_id, g)
        assert g["mojibake_frac"] == round(moji / nc, 6)
        want_keep = (
            text is not None
            and repl / nc <= Q.REPLACEMENT_CHAR_FRAC_MAX
            and moji / nc <= Q.MOJIBAKE_FRAC_MAX
            and ctrl / nc <= Q.CONTROL_FRAC_MAX
        )
        assert g["keep"] == want_keep, (doc_id, g)
    # clean docs keep, corrupted ones drop
    assert got[1]["keep"] and got[7]["keep"] and got[5]["keep"]
    assert not (got[2]["keep"] or got[3]["keep"] or got[4]["keep"] or got[6]["keep"])

    plan = Q.encoding_quality_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fix_mojibake_roundtrip(spark):
    """fix_mojibake inverts a REAL utf-8 → cp1252 double-decode for every
    inventory character (the corruption is produced by the actual codecs,
    not by hand), leaves clean text byte-identical, and the detector sees
    zero artifacts after repair."""
    from piperider_spark.operators import quality as Q

    clean = [
        # no ” on purpose: its utf-8 bytes hit cp1252's unmapped 0x9D (the
        # same reason the artifact inventory excludes it)
        "It’s a “quoted‘ line — with dashes – and … ellipses",
        "café, piñata, über, señor, garçon — 90° at £5 ©2024 ®",
        "ASCII only: nothing to fix here.",
        "",
    ]
    corrupted = [s.encode("utf-8").decode("cp1252") for s in clean]
    # the corruption is real for every non-ASCII case
    assert corrupted[0] != clean[0] and corrupted[1] != clean[1]
    assert corrupted[2] == clean[2]

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(corrupted)], "doc_id long, text string"
    )
    fixed = {
        r.doc_id: r.fixed
        for r in df.select("doc_id", Q.fix_mojibake("text").alias("fixed")).collect()
    }
    for i, want in enumerate(clean):
        assert fixed[i] == want, (i, fixed[i], want)

    # detector reads zero artifacts post-repair
    refixed = df.select("doc_id", Q.fix_mojibake("text").alias("text"))
    stats = Q.encoding_quality_stats(refixed)
    assert stats.agg(F.sum("mojibake_hits")).first()[0] == 0


def test_curate_corpus_fix_encoding_stage(spark):
    """fix_encoding=True prepends repair-then-gate: a mojibake'd twin of a
    clean doc is REPAIRED before fingerprinting (so the pair exact-dedups
    together — the whole point of repairing first), unrepairable U+FFFD
    damage drops with reason 'encoding', and default-off output is
    byte-identical to the pre-existing four-stage contract."""
    from piperider_spark.operators.curation import curate_corpus

    def body(tag: str) -> str:
        # distinct per doc: shared lines would be corpus-line-dedup'd away
        return "\n".join(
            f"the {tag} alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} it is fine."
            for i in range(6)
        )

    clean = "Résumé naïveté…\n" + body("one")
    # real double-encode corruption of the SAME text
    corrupted = clean.encode("utf-8").decode("cp1252")
    assert corrupted != clean
    damaged = "broken � replacement\n" + body("two")
    rows = [("a_clean", clean), ("b_moji", corrupted), ("c_fffd", damaged)]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    out = {r.doc_id: r.asDict() for r in curate_corpus(df, fix_encoding=True).collect()}
    # repaired twin fingerprints equal -> exact dedup catches the pair
    assert out["a_clean"]["keep"] and out["a_clean"]["reasons"] == []
    assert out["b_moji"]["reasons"] == ["exact_dup"]
    # U+FFFD is unrepairable -> encoding reason fires (and nothing else)
    assert out["c_fffd"]["reasons"] == ["encoding"]
    assert not out["c_fffd"]["keep"]

    # default off: the frozen four-stage chain — the corrupted twin does
    # NOT exact-dedup (different bytes; instead their shared ASCII body
    # lines get line-dedup'd as cross-doc boilerplate, hollowing both out:
    # precisely the failure mode repair-before-fingerprint exists to
    # prevent), and no doc ever gains an 'encoding' reason
    off = {r.doc_id: r.asDict() for r in curate_corpus(df).collect()}
    assert off["b_moji"]["reasons"] != ["exact_dup"]
    assert all("encoding" not in v["reasons"] for v in off.values())
    assert off["c_fffd"]["keep"]  # U+FFFD damage sails through unflagged


# ---------------------------------------------------------------------------
# exact-substring duplication (Lee et al. 2022 family)
# ---------------------------------------------------------------------------


def _substr_mirror(rows, k=8, min_count=2):
    """Brute-force python mirror of duplicate_substring_stats' frozen
    semantics: window strings (lowercased) counted corpus-wide, per-doc
    coverage from the sorted duplicated positions."""
    from collections import Counter

    toks = {
        i: (t.strip().split() if t is not None and t.strip() else [])
        for i, t in rows
    }
    counts = Counter(
        " ".join(tk[p : p + k]).lower()
        for tk in toks.values()
        for p in range(len(tk) - k + 1)
    )
    out = {}
    for i, tk in toks.items():
        pos = [
            p
            for p in range(len(tk) - k + 1)
            if counts[" ".join(tk[p : p + k]).lower()] >= min_count
        ]
        cov = spans = 0
        prev = None
        for p in pos:
            if prev is None or p - prev > k:
                spans += 1
                cov += k
            else:
                cov += min(k, p - prev)
            prev = p
        out[i] = (
            len(tk),
            len(pos),
            spans,
            cov,
            0.0 if not tk else cov / len(tk),
        )
    return out


def test_duplicate_substring_stats_python_oracle(spark):
    """Engine output == the brute-force mirror on a corpus exercising every
    frozen-semantics branch: cross-doc dup, within-doc repeat (counts!),
    case-insensitive matching, overlapping windows merging into one span,
    NULL/empty/short docs."""
    boiler = "the quick brown fox jumps over the lazy dog"  # 9 tokens -> 2 windows
    rows = [
        (1, f"{boiler} alpha beta gamma"),
        (2, f"intro words here {boiler.upper()} tail"),  # case-insensitive hit
        (3, "a b c d e f g h X Y Z a b c d e f g h"),  # within-doc repeat
        (4, "totally unique words that appear nowhere else in this corpus ok"),
        (5, None),
        (6, "   "),
        (7, "seven tokens only never enough here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["dup_windows"],
            r["dup_spans"],
            r["dup_token_cov"],
            r["dup_frac"],
        )
        for r in dedup.duplicate_substring_stats(df, k=8, min_count=2).collect()
    }
    want = _substr_mirror(rows, k=8, min_count=2)
    assert got == pytest.approx(want)
    # the interesting rows actually fired
    assert got[1][1] > 0 and got[2][1] > 0 and got[3][2] == 2
    assert got[4] == (11, 0, 0, 0, 0.0) and got[5][0] == 0 and got[6][0] == 0


def test_duplicate_substring_stats_hash_paths_agree(spark):
    """The xxhash64 engine path and the md5 oracle path compute identical
    counts on the real sf0.001 corpus — the hash only changes which 64-bit
    space windows collide in (collisions are ~impossible at this scale, so
    the duplicated-window SET is the same)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted(
        map(tuple, dedup.duplicate_substring_stats(docs, hash_fn="md5").collect())
    )
    b = sorted(
        map(tuple, dedup.duplicate_substring_stats(docs, hash_fn="xxhash64").collect())
    )
    assert a == b
    assert any(r[2] > 0 for r in a)  # real duplication signal in the corpus


def test_remove_duplicate_substrings(spark):
    """Token-granular span removal: duplicated spans drop (all occurrences,
    both docs of a cross-doc pair), original case and non-dup tokens are
    preserved, NULL stays NULL, untouched docs keep their token stream."""
    rows = [
        (1, "a b c d e f g h X Y Z a b c d e f g h"),
        (2, "Keep This A B C D E F G H and keep this too"),
        (3, "a b c d e f g h"),  # exactly one window, dup w/ docs 1+2
        (4, None),
        (5, "untouched words stay exactly as they came in ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_removed_tokens"])
        for r in dedup.remove_duplicate_substrings(df, k=8, min_count=2).collect()
    }
    assert got[1] == ("X Y Z", 16)
    assert got[2] == ("Keep This and keep this too", 8)  # case preserved
    assert got[3] == ("", 8)  # fully duplicated doc -> empty
    assert got[4] == (None, 0)
    assert got[5] == ("untouched words stay exactly as they came in ok", 0)


def test_dup_substring_plan_partitions_doc_window(spark):
    """The per-doc lag/cumsum windows must be partitioned by doc — an
    unpartitioned Window here would serialize the whole corpus through one
    task at 100 TB (the r3 quantile lesson)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = dedup.duplicate_substring_stats(docs)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "doc_id" in line, f"unpartitioned Window in plan: {line}"


def test_window_bloom_no_false_negatives_fpr_and_zero_exchange(spark):
    """Window-grain Bloom: (a) probing the build corpus flags EVERY window
    (no false negatives → seen_windows == total windows, seen_frac == 1.0
    for every doc with ≥1 window); (b) FPR on fresh windows near nominal;
    (c) the probe plan is shuffle-free (the window-grain twin of the
    fingerprint gate); (d) dup_only self-probe covers at least what
    duplicate_substring_stats found (Bloom adds FPs, never loses a dup)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)

    bloom = dedup.build_window_bloom(half_a, k_tokens=8, fpp=0.01)
    assert bloom["grain"] == "window" and bloom["k_tokens"] == 8

    # (a) no false negatives on the build corpus
    self_probe = dedup.window_seen_stats(half_a, bloom, k_tokens=8)
    bad = self_probe.where(
        (F.col("n_tokens") >= 8) & (F.col("seen_windows") < F.col("n_tokens") - 7)
    )
    assert bad.count() == 0
    assert self_probe.where(F.col("n_tokens") >= 8).count() > 0

    # (b) FPR: window hits on the disjoint half, counted against windows
    # that genuinely never occurred in half_a (drop cross-half dup windows
    # via the exact dup-hash set)
    wins_a = dedup.substring_dup_windows(half_a, k=8, hash_fn="xxhash64").select("h").distinct()
    wins_b = dedup.substring_dup_windows(half_b, k=8, hash_fn="xxhash64")
    fresh_b = wins_b.join(wins_a, "h", "left_anti").count()
    seen_b = dedup.window_seen_stats(half_b, bloom, k_tokens=8)
    hits_b = seen_b.agg(F.sum("seen_windows")).first()[0]
    cross = wins_b.join(wins_a, "h").count()  # genuinely-shared windows
    assert fresh_b > 500
    fpr = (hits_b - cross) / fresh_b
    assert fpr <= 0.04, f"window FPR {fpr} vs nominal 0.01"

    # (c) zero Exchange in the probe plan
    plan = seen_b._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # (d) dup_only build, probed against the SAME corpus: every doc's
    # seen_windows >= its duplicate_substring_stats dup_windows
    b_dup = dedup.build_window_bloom(docs, k_tokens=8, dup_only=True, fpp=0.001)
    probe = dedup.window_seen_stats(docs, b_dup, k_tokens=8).select("doc_id", "seen_windows")
    stats = dedup.duplicate_substring_stats(docs, k=8, hash_fn="xxhash64").select(
        "doc_id", "dup_windows"
    )
    merged = {r["doc_id"]: (r["seen_windows"]) for r in probe.collect()}
    missed = [
        (r["doc_id"], r["dup_windows"], merged[r["doc_id"]])
        for r in stats.collect()
        if merged[r["doc_id"]] < r["dup_windows"]
    ]
    assert missed == []


def test_window_bloom_guards_and_or(spark):
    """Grain / k_tokens guards: a fingerprint filter (or one built at a
    different window width) must be rejected at probe time, and bloom_or
    refuses cross-grain unions even at identical layouts."""
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")], "doc_id long, text string"
    )
    wb = dedup.build_window_bloom(df, k_tokens=8, expected=64)
    fb = dedup.build_fingerprint_bloom(df, expected=64)
    with pytest.raises(ValueError, match="k_tokens=8"):
        dedup.window_seen_stats(df, wb, k_tokens=5)
    with pytest.raises(ValueError, match="grain"):
        dedup.window_seen_stats(df, fb, k_tokens=8)
    with pytest.raises(ValueError, match="grains"):
        dedup.bloom_or(
            wb, dedup.build_fingerprint_bloom(df, layout=(wb["m_bits"], wb["k"]))
        )
    # same-grain same-k union still unions
    df2 = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    wb2 = dedup.build_window_bloom(
        df2, k_tokens=8, expected=64, layout=(wb["m_bits"], wb["k"])
    )
    u = dedup.bloom_or(wb, wb2)
    both = df.unionByName(df2)
    out = dedup.window_seen_stats(both, u, k_tokens=8)
    assert out.where(F.col("seen_frac") < 1.0).count() == 0


def test_duplicate_substring_stats_randomized_mirror_sweep(spark):
    """Seeded randomized corpora — mixed whitespace runs, unicode words,
    planted cross-doc and within-doc repeats, tiny vocab (hash-collision
    pressure on the window STRINGS, which must match exactly) — engine ==
    brute-force mirror on every doc, both hash paths."""
    import random

    rng = random.Random(20260819)
    vocab = ["alpha", "béta", "γάμμα", "x1", "yy", "Zz", "ümlaut", "kA"]
    ws = [" ", "  ", "\t", " \n ", "   "]

    def doc(n):
        return "".join(
            rng.choice(vocab) + rng.choice(ws) for _ in range(n)
        ).strip()

    for trial in range(3):
        rows = []
        phrase = " ".join(rng.choice(vocab) for _ in range(9))
        for i in range(40):
            base = doc(rng.randint(0, 30))
            if i % 5 == 0:  # plant the shared phrase mid-doc
                base = f"{base} {phrase} {doc(rng.randint(0, 10))}".strip()
            if i % 11 == 0:  # within-doc repeat
                base = f"{base} {base}".strip()
            rows.append((i, base if base else None))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        want = _substr_mirror(rows, k=8, min_count=2)
        for hf in ("md5", "xxhash64"):
            got = {
                r["doc_id"]: (
                    r["n_tokens"],
                    r["dup_windows"],
                    r["dup_spans"],
                    r["dup_token_cov"],
                    r["dup_frac"],
                )
                for r in dedup.duplicate_substring_stats(
                    df, k=8, min_count=2, hash_fn=hf
                ).collect()
            }
            assert got == pytest.approx(want), f"trial={trial} hash={hf}"
        assert any(v[1] > 0 for v in want.values()), "sweep must exercise dups"


def test_curate_corpus_substr_gate_stage(spark):
    """substr_max_frac: a doc that is mostly a corpus-repeated phrase drops
    with reason 'dup_substring' (read on the LINE-DEDUPED text — chrome
    must not inflate the fraction); the source doc below threshold keeps;
    default-off output is byte-identical to the frozen chain; a permissive
    threshold (1.0) never fires."""
    from piperider_spark.operators.curation import curate_corpus

    def body(tag: str, n: int = 6) -> str:
        # every token carries the doc tag: no 8-token run can repeat
        # across docs (a shared line TAIL would be corpus-duplicated too)
        return "\n".join(
            " ".join(f"{tag}w{i}x{j}" for j in range(12)) + " it is fine."
            for i in range(n)
        )

    phrase = "one two three four five six seven eight nine ten"  # 10 tokens
    rows = [
        ("src", f"{body('src', 8)}\n{phrase} and plenty of other original content follows here."),
        # mostly the repeated phrase: dup coverage dominates its tokens
        ("dup_heavy", f"{phrase} {phrase} {phrase} extra"),
        ("clean", body("clean", 8)),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    out = {
        r.doc_id: r.asDict()
        for r in curate_corpus(df, substr_max_frac=0.5, substr_k=8).collect()
    }
    assert "dup_substring" in out["dup_heavy"]["reasons"]
    assert not out["dup_heavy"]["keep"]
    assert "dup_substring" not in out["src"]["reasons"]
    assert out["clean"]["reasons"] == [] and out["clean"]["keep"]

    # default off == frozen chain, byte for byte
    base = sorted(map(tuple, curate_corpus(df).collect()))
    off = sorted(map(tuple, curate_corpus(df, substr_max_frac=None).collect()))
    assert base == off
    assert all("dup_substring" not in r[3] for r in base)

    # permissive threshold never fires (dup_frac <= 1.0 by construction)
    loose = {
        r.doc_id: r.asDict()
        for r in curate_corpus(df, substr_max_frac=1.0, substr_k=8).collect()
    }
    assert all("dup_substring" not in v["reasons"] for v in loose.values())


# ---------------------------------------------------------------------------
# Distributed BPE training (operators/bpe.py)
# ---------------------------------------------------------------------------


def _naive_train_bpe(rows, n_merges, min_pair_count=2):
    """Independent recount-per-iteration reference (no inverted index, no
    incremental updates) — order-free by construction: pair counts are
    global sums and ties break on the pair itself."""
    from piperider_spark.operators.bpe import _merge_word

    syms = [list(w) for w, _ in rows]
    freqs = [n for _, n in rows]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for s, f in zip(syms, freqs):
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < min_pair_count:
            break
        merges.append(best)
        syms = [_merge_word(s, best[0], best[1], best[0] + best[1]) for s in syms]
    return merges


def test_bpe_train_hand_example():
    """The classic worked example (HF course corpus): every merge and its
    order is hand-computable, including the count-5 tie at step 5 that the
    lexicographic rule resolves to ('hug','s') over ('p','ug')."""
    from piperider_spark.operators.bpe import encode_word, train_bpe

    rows = [("hug", 10), ("pug", 5), ("pun", 12), ("bun", 4), ("hugs", 5)]
    merges = train_bpe(rows, n_merges=10)
    assert merges == [
        ("u", "g"),
        ("u", "n"),
        ("h", "ug"),
        ("p", "un"),
        ("hug", "s"),
        ("p", "ug"),
        ("b", "un"),
    ]
    # min_pair_count stops before the count-4 ('b','un') merge
    assert train_bpe(rows, n_merges=10, min_pair_count=5) == merges[:-1]
    # greedy encode replays training: a training word re-segments whole
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("hugs", ranks) == ["hugs"]
    assert encode_word("hun", ranks) == ["h", "un"]  # unseen word, partial merges
    assert encode_word("x", ranks) == ["x"]
    assert encode_word("", ranks) == []


def test_bpe_train_matches_naive_reference_and_input_order():
    """The indexed incremental trainer == the naive recount trainer on
    seeded random corpora (the index update path is where bugs hide), and
    the learned merges are invariant to input row order."""
    import random

    from piperider_spark.operators.bpe import train_bpe

    rng = random.Random(4242)
    for trial in range(6):
        rows = [
            (
                "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8))),
                rng.randint(1, 20),
            )
            for _ in range(30)
        ]
        # dedupe words (a corpus word-count table has unique words)
        seen = {}
        for w, n in rows:
            seen[w] = seen.get(w, 0) + n
        rows = sorted(seen.items())
        want = _naive_train_bpe(rows, n_merges=15)
        assert train_bpe(rows, n_merges=15) == want, f"trial {trial}"
        shuffled = rows[:]
        rng.shuffle(shuffled)
        assert train_bpe(shuffled, n_merges=15) == want, f"trial {trial} (shuffled)"


def test_bpe_word_counts_and_caps(spark):
    """bpe_word_counts == a driver-side count over the SAME JVM pre-tokens
    (regex single-sourced — the mirror never re-implements it); min_count
    and top_words bound what reaches the driver."""
    from piperider_spark.functions.text import BPE_TOKEN_RE
    from piperider_spark.operators.bpe import bpe_word_counts

    data = [
        ("d1", "the cat sat on the mat, the cat!"),
        ("d2", "a cat and a dog and a cat"),
        ("d3", None),
        ("d4", ""),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    pre = df.select(
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(BPE_TOKEN_RE), 0
            )
        ).alias("w")
    ).collect()
    want = {}
    for r in pre:
        want[r.w] = want.get(r.w, 0) + 1
    got = {r.word: r.n for r in bpe_word_counts(df).collect()}
    assert got == want
    got_min2 = {r.word: r.n for r in bpe_word_counts(df, min_count=2).collect()}
    assert got_min2 == {w: n for w, n in want.items() if n >= 2}
    top3 = [(r.word, r.n) for r in bpe_word_counts(df, top_words=3).collect()]
    assert top3 == sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:3]


def test_apply_bpe_matches_driver_encode_and_partition_invariant(spark):
    """apply_bpe (JVM pre-tokenize → Arrow-batched encode) == encode_word
    over the same JVM pre-tokens, unchanged under repartition (stateless
    projection), NULL text → empty array / count 0."""
    from piperider_spark.functions.text import BPE_TOKEN_RE
    from piperider_spark.operators.bpe import apply_bpe, bpe_word_counts, encode_word, train_bpe

    data = [
        ("d1", "hug hug hug pug pun bun hugs hug pun pun"),
        ("d2", "hug pug pun pun hugs hug hug hug bun pun"),
        ("d3", None),
        ("d4", "hug hug pun pun pun pun pun pun pun"),
        ("d5", "Mixed CASE & digits 123 — pun!"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    merges = train_bpe(bpe_word_counts(df), n_merges=12, min_pair_count=2)
    assert merges, "trainer learned nothing on a corpus with repeats"
    ranks = {p: i for i, p in enumerate(merges)}

    pre = {
        r.doc_id: list(r.ws)
        for r in df.select(
            "doc_id",
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(BPE_TOKEN_RE), 0
            ).alias("ws"),
        ).collect()
    }
    want = {
        d: [t for w in ws for t in encode_word(w, ranks)] for d, ws in pre.items()
    }
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe_subwords)
        for r in apply_bpe(df, merges).collect()
    }
    assert {d: v[0] for d, v in got.items()} == want
    assert all(n == len(t) for t, n in got.values())
    assert got["d3"] == ([], 0)
    # lossless: concatenated subwords rebuild the pre-token stream exactly
    for d, ws in pre.items():
        assert "".join(got[d][0]) == "".join(ws)
    got_rep = {
        r.doc_id: list(r.bpe_tokens)
        for r in apply_bpe(df.repartition(7), merges).collect()
    }
    assert got_rep == {d: v[0] for d, v in got.items()}


def test_session_excludes_infer_filters_from_generate(spark):
    """The engine session must exclude InferFiltersFromGenerate (session.py
    rationale: the inferred size/isnotnull filters push below staged
    projections and re-evaluate the generator input's whole expression
    tree per row — 4.4x on the substring family), and the substring window
    plan must stay free of pushed per-window copies: exactly ONE transform
    lambda (the staged projection) in the optimized plan."""
    from piperider_spark.operators.dedup import substring_dup_windows

    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "InferFiltersFromGenerate" in excluded

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, None)],
        "doc_id long, text string",
    )
    w = substring_dup_windows(df, k=8, hash_fn="xxhash64")
    plan = w._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("lambdafunction") == 1, plan


def test_bpe_vocab_and_encode_ids(spark):
    """Vocab: id 0 reserved for unk, 1..|A| the sorted alphabet, merged
    tokens in rank order. encode_ids: ids round-trip to the exact subword
    stream through the inverse vocab, out-of-alphabet chars encode as
    UNK_ID (one per char), partition-invariant."""
    from piperider_spark.operators.bpe import (
        UNK_ID,
        apply_bpe,
        base_symbols,
        bpe_vocab,
        bpe_word_counts,
        encode_ids,
        train_bpe,
        vocab_to_df,
    )

    data = [
        ("d1", "hug hug hug pug pun bun hugs hug pun pun"),
        ("d2", "hug pug pun pun hugs hug hug hug bun pun"),
        ("d3", None),
        ("d4", "hug ☃ pun"),  # snowman is outside the training alphabet
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    train = df.where("doc_id != 'd4'")
    wc = bpe_word_counts(train)
    merges = train_bpe(wc, n_merges=10)
    alpha = base_symbols(wc)
    assert alpha == sorted(set("".join(w for w, _ in [(r.word, r.n) for r in wc.collect()])))
    vocab = bpe_vocab(merges, alpha)
    assert min(vocab.values()) == 1 and len(set(vocab.values())) == len(vocab)
    assert [t for t, i in sorted(vocab.items(), key=lambda kv: kv[1])][: len(alpha)] == alpha

    inv = {i: t for t, i in vocab.items()}
    got = {
        r.doc_id: list(r.bpe_ids)
        for r in encode_ids(df, merges, alpha).collect()
    }
    subwords = {
        r.doc_id: list(r.bpe_tokens) for r in apply_bpe(df, merges).collect()
    }
    for d, ids in got.items():
        want_tokens = subwords[d]
        assert len(ids) == len(want_tokens)
        for i, t in zip(ids, want_tokens):
            if i == UNK_ID:
                assert any(c not in vocab for c in t) and len(t) == 1
            else:
                assert inv[i] == t
    assert UNK_ID in got["d4"] and got["d3"] == []

    rep = {
        r.doc_id: list(r.bpe_ids)
        for r in encode_ids(df.repartition(5), merges, alpha).collect()
    }
    assert rep == got

    vdf = vocab_to_df(spark, vocab)
    assert vdf.count() == len(vocab)
    assert [r.id for r in vdf.collect()] == sorted(vocab.values())


# ---------------------------------------------------------------------------
# Learned quality classifier (operators/classifier.py)
# ---------------------------------------------------------------------------


def _clf_fixture(spark, n=300, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        good = i % 2 == 0
        words = (
            ["great", "helpful", "clear", "answer", "thanks"]
            if good
            else ["spam", "junk", "click", "buy", "now"]
        )
        text = " ".join(rng.choice(words) for _ in range(rng.randint(5, 15)))
        rows.append((i, text, good))
    rows.append((n, None, False))  # NULL text trains on bias only
    return spark.createDataFrame(rows, "id long, text string, keep boolean")


def test_quality_classifier_learns_and_is_partition_invariant(spark):
    """Separable corpus -> perfect training accuracy; two fits on different
    partitionings return BYTE-IDENTICAL weights (quantized-decimal gradient
    sums are order-free); the artifact round-trips; empty input raises."""
    import pytest as _pytest

    from piperider_spark.operators import classifier as C

    df = _clf_fixture(spark)
    m = C.fit_quality_classifier(df, epochs=6, n_buckets=512)
    scored = df.where("text is not null").select(
        "keep", C.classifier_score_col("text", m).alias("s")
    )
    acc = scored.select(
        F.avg(((F.col("s") > 0.5) == F.col("keep")).cast("double")).alias("a")
    ).first().a
    assert acc == 1.0
    m2 = C.fit_quality_classifier(df.repartition(13), epochs=6, n_buckets=512)
    assert m == m2
    m3 = C.model_from_df(C.model_to_df(spark, m))
    assert m3["weights"] == m["weights"] and m3["bias"] == m["bias"]
    with _pytest.raises(ValueError):
        C.fit_quality_classifier(df.where("id < 0"))


def test_quality_classifier_matches_python_mirror(spark):
    """The distributed fit == an independent driver-side mirror running the
    same algorithm over the SAME JVM-featurized bucket arrays (featurizer
    single-sourced; the mirror re-implements only the math): left-fold
    float64 margins, HALF_UP 12dp residual quantize, exact Decimal sums,
    float64 updates. Tolerance 1e-9 absorbs JVM-vs-python exp ulps."""
    from decimal import ROUND_HALF_UP, Decimal

    import math as _math

    from piperider_spark.operators import classifier as C
    from piperider_spark.operators.dsir import ngram_buckets

    df = _clf_fixture(spark, n=120, seed=11)
    n_buckets, epochs, lr, l2 = 256, 4, 0.5, 1e-6
    feats = [
        (float(r.y), list(r.b))
        for r in df.select(
            F.col("keep").cast("double").alias("y"),
            ngram_buckets("text", n_buckets, "xxhash64").alias("b"),
        ).collect()
    ]
    w = [0.0] * n_buckets
    bias = 0.0
    q = Decimal(1).scaleb(-12)
    for _ in range(epochs):
        grads = {}
        for y, bks in feats:
            margin = 0.0  # fold order matches the JVM aggregate: grams, then bias
            for b in bks:
                margin = margin + w[int(b)]
            margin = margin + bias
            resid = Decimal(1.0 / (1.0 + _math.exp(-margin)) - y).quantize(
                q, rounding=ROUND_HALF_UP
            )
            for b in list(bks) + [C._BIAS_BUCKET]:
                grads[int(b)] = grads.get(int(b), Decimal(0)) + resid
        for b, g in grads.items():
            gf = float(g) / len(feats)
            if b == C._BIAS_BUCKET:
                bias -= lr * gf
            else:
                w[b] -= lr * (gf + l2 * w[b])
    m = C.fit_quality_classifier(
        df, epochs=epochs, n_buckets=n_buckets, lr=lr, l2=l2
    )
    assert abs(m["bias"] - bias) < 1e-9
    assert max(abs(a - b) for a, b in zip(m["weights"], w)) < 1e-9


def test_classifier_broadcast_weights_fold_equals_literal_fold(spark):
    """The trainer ships epoch weights as a broadcast one-row table (plan
    source epoch-invariant -> codegen compiles once; nothing scales with B
    inside the serialized plan) while the scorer keeps the literal form.
    Pin: both formulations produce EXACTLY the same margins over the same
    featurized rows — element_at visits the same values in the same fold
    order, so fitted weights stay byte-identical to the literal path."""
    import random

    from piperider_spark.operators import classifier as C
    from piperider_spark.operators.dsir import ngram_buckets

    df = _clf_fixture(spark, n=60, seed=7)
    n_buckets = 128
    rng = random.Random(0)
    w = [rng.uniform(-1, 1) for _ in range(n_buckets)]
    bias = 0.3125
    feats = df.select(
        "id", ngram_buckets("text", n_buckets, "xxhash64").alias("_bks")
    )
    lit = feats.select(
        "id",
        (
            F.aggregate(
                F.col("_bks"),
                F.lit(0.0),
                lambda acc, b: acc + F.element_at(F.lit(w), b.cast("int") + 1),
            )
            + F.lit(bias)
        ).alias("m"),
    )
    wdf = spark.createDataFrame([(w, bias)], "_warr array<double>, _wb double")
    bc = feats.crossJoin(F.broadcast(wdf)).select(
        "id",
        (
            F.aggregate(
                F.col("_bks"),
                F.lit(0.0),
                lambda acc, b: acc + F.element_at(F.col("_warr"), b.cast("int") + 1),
            )
            + F.col("_wb")
        ).alias("m"),
    )
    a = {r.id: r.m for r in lit.collect()}
    b = {r.id: r.m for r in bc.collect()}
    assert a == b  # exact float equality, incl. NULL-text rows (empty fold)


def test_langid_broadcast_weights_fold_equals_literal_fold(spark):
    """Langid twin of the classifier pin: _margins_fold_expr over broadcast
    one-row-table columns == _margins_fold over (B x K) literals, exactly,
    for nonzero weights on real featurized rows."""
    import random

    from piperider_spark.operators import langid_model as L

    df = _langid_fixture(spark, n=40, seed=9)
    n_buckets, k = 96, 3
    rng = random.Random(1)
    W = [[rng.uniform(-1, 1) for _ in range(n_buckets)] for _ in range(k)]
    bias = [rng.uniform(-1, 1) for _ in range(k)]
    feats = df.select(
        "id", L.langid_prefix("text").alias("_pfx")
    ).select(
        "id", L.char_ngram_buckets("_pfx", n_buckets, "xxhash64").alias("_bks")
    )
    lit = feats.select("id", L._margins_fold(F.col("_bks"), W, bias).alias("m"))
    n_b = len(W[0])
    wdf = spark.createDataFrame(
        [
            (
                [[float(W[j][b]) for j in range(k)] for b in range(n_b)],
                [float(x) for x in bias],
            )
        ],
        "_warr array<array<double>>, _barr array<double>",
    )
    bc = feats.crossJoin(F.broadcast(wdf)).select(
        "id",
        L._margins_fold_expr(
            F.col("_bks"), F.col("_warr"), F.col("_barr"), k
        ).alias("m"),
    )
    a = {r.id: list(r.m) for r in lit.collect()}
    b = {r.id: list(r.m) for r in bc.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# fastText-style learned language ID (operators/langid_model.py)
# ---------------------------------------------------------------------------


def _langid_fixture(spark, n=300, seed=3, langs=("en", "fr", "de", "es")):
    """Multilingual corpus labeled by the FROZEN heuristic teacher
    (signals.core.detect_lang_batch) — the distillation source the module
    docstring names. Texts are stopword-dominated so the teacher labels
    them with full confidence and a linear model can in principle reach
    100% agreement (the fastText langid signal IS function words)."""
    import random

    from piperider_spark.signals.core import _STOPWORDS, detect_lang_batch

    rng = random.Random(seed)
    fill = ["data", "table", "query"]
    rows = []
    for i in range(n):
        vocab = list(_STOPWORDS[langs[i % len(langs)]]) + fill
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 25))]
        rows.append((i, " ".join(toks)))
    teacher = detect_lang_batch(pd.Series([t for _, t in rows])).tolist()
    return spark.createDataFrame(
        [(i, t, lab) for (i, t), lab in zip(rows, teacher)],
        "id long, text string, lang string",
    )


def test_langid_model_distills_teacher(spark):
    """Fit on 4/5 of the teacher-labeled corpus, score the held-out 1/5:
    the learned model must agree with the frozen heuristic on every
    held-out row (the corpus is linearly separable in the word-unigram
    features — fastText langid's decisive feature set, arXiv:1612.03651).
    Also pins the artifact round-trip and the empty/NULL-label guards."""
    from piperider_spark.operators import langid_model as L

    df = _langid_fixture(spark)
    train, test = df.where("id % 5 != 0"), df.where("id % 5 = 0")
    m = L.fit_langid_model(train, epochs=4, n_buckets=512, ns=(2,))
    assert m["classes"] == ["de", "en", "es", "fr"]
    agree = (
        L.langid_scored(test, m)
        .select(F.avg((F.col("ft_lang") == F.col("lang")).cast("double")).alias("a"))
        .first()
        .a
    )
    assert agree == 1.0
    # probability column: a proper softmax max-prob in (0, 1]
    pr = L.langid_scored(test, m).agg(
        F.min("ft_lang_prob").alias("lo"), F.max("ft_lang_prob").alias("hi")
    ).first()
    assert 0.25 <= pr.lo and pr.hi <= 1.0
    m3 = L.langid_model_from_df(
        L.langid_model_to_df(spark, m), ns=m["ns"], max_chars=m["max_chars"]
    )
    assert m3["classes"] == m["classes"]
    assert m3["weights"] == m["weights"] and m3["bias"] == m["bias"]
    with pytest.raises(ValueError):
        L.fit_langid_model(df.where("id < 0"))
    with pytest.raises(ValueError):
        L.fit_langid_model(
            df.withColumn("lang", F.when(F.col("id") > 2, F.col("lang"))),
            epochs=1,
            n_buckets=64,
        )


def test_langid_model_is_partition_invariant(spark):
    """Two fits of the same rows under different partitionings return
    BYTE-IDENTICAL models — the repo's training-determinism contract
    (quantized-decimal gradient sums are order-free; driver updates are
    plain float64), same as fit_quality_classifier."""
    from piperider_spark.operators import langid_model as L

    df = _langid_fixture(spark, n=80, seed=9)
    kw = dict(epochs=2, n_buckets=128, ns=(2,))
    m1 = L.fit_langid_model(df, **kw)
    m2 = L.fit_langid_model(df.repartition(13), **kw)
    assert m1 == m2


def test_langid_model_matches_python_mirror(spark):
    """The distributed fit == an independent driver-side mirror running the
    same algorithm over the SAME JVM-featurized bucket arrays (featurizer
    single-sourced — the mirror re-implements only the math): in-order
    float64 margin folds, mean normalization, max-shifted softmax, HALF_UP
    12dp residual quantize, exact Decimal sums, float64 heavy-ball updates.
    Tolerance 1e-9 absorbs JVM-vs-python exp ulps."""
    import math as _math
    from decimal import ROUND_HALF_UP, Decimal

    from piperider_spark.operators import langid_model as L

    df = _langid_fixture(spark, n=60, seed=17, langs=("en", "fr", "es"))
    n_buckets, epochs, lr, mu, l2 = 96, 3, 1.0, 0.9, 1e-6
    classes = sorted(r[0] for r in df.select("lang").distinct().collect())
    k = len(classes)
    feats = [
        (classes.index(r.lang), list(r.b))
        for r in df.select(
            "lang",
            L.char_ngram_buckets(
                L.langid_prefix("text"), n_buckets, "xxhash64", (2,), True
            ).alias("b"),
        ).collect()
    ]
    n_rows = len(feats)
    q = Decimal(1).scaleb(-12)
    W = [[0.0] * n_buckets for _ in range(k)]
    bias = [0.0] * k
    vW = [[0.0] * n_buckets for _ in range(k)]
    vb = [0.0] * k
    for ep in range(epochs):
        grads: dict[int, list[Decimal]] = {}
        for y, bks in feats:
            inv_n = 1.0 / max(float(len(bks)), 1.0)
            if ep == 0:
                m = list(bias)
            else:
                acc = [0.0] * k
                for b in bks:  # fold order matches the JVM zip_with
                    for j in range(k):
                        acc[j] = acc[j] + W[j][int(b)]
                m = [acc[j] * inv_n + bias[j] for j in range(k)]
            mx = max(m)
            z = 0.0
            for mj in m:  # in-order float sum, matching F.aggregate
                z = z + _math.exp(mj - mx)
            for b in list(bks) + [L._BIAS_BUCKET]:
                bb = int(b)
                slot = grads.setdefault(bb, [Decimal(0)] * k)
                for j in range(k):
                    raw = _math.exp(m[j] - mx) / z - (1.0 if y == j else 0.0)
                    r = raw * inv_n if bb != L._BIAS_BUCKET else raw
                    slot[j] += Decimal(r).quantize(q, rounding=ROUND_HALF_UP)
        for bb, slot in grads.items():
            for j in range(k):
                g = float(slot[j]) / n_rows
                if bb == L._BIAS_BUCKET:
                    vb[j] = mu * vb[j] + g
                    bias[j] -= lr * vb[j]
                else:
                    vW[j][bb] = mu * vW[j][bb] + g + l2 * W[j][bb]
                    W[j][bb] -= lr * vW[j][bb]
    got = L.fit_langid_model(
        df,
        epochs=epochs,
        n_buckets=n_buckets,
        lr=lr,
        momentum=mu,
        l2=l2,
        ns=(2,),
    )
    assert got["classes"] == classes
    assert max(abs(a - b) for a, b in zip(got["bias"], bias)) < 1e-9
    assert (
        max(
            abs(a - b)
            for gw, mw in zip(got["weights"], W)
            for a, b in zip(gw, mw)
        )
        < 1e-9
    )


# ---------------------------------------------------------------------------
# Distributed spherical k-means (operators/kmeans.py)
# ---------------------------------------------------------------------------


def _km_np_refine(X, C, iters=2, spherical=True):
    """Independent numpy mirror of kmeans_refine's semantics: argmax-dot
    assignment with ties to the LARGER cell id (ivf_cell's struct-max),
    exact means, empty cells keep their previous centroid, normalize."""
    C = np.asarray(C, dtype=np.float64).copy()
    for _ in range(iters):
        scores = X @ C.T
        assign = C.shape[0] - 1 - np.argmax(scores[:, ::-1], axis=1)
        nxt = C.copy()
        for j in range(C.shape[0]):
            m = assign == j
            if m.any():
                nxt[j] = X[m].mean(axis=0)
        if spherical:
            nxt = nxt / np.maximum(np.linalg.norm(nxt, axis=1, keepdims=True), 1e-12)
        C = nxt
    return C


def test_kmeans_refine_matches_numpy_mirror_exactly(spark):
    """Coordinates are exact binary fractions (multiples of 0.25), so the
    engine's round(9-dp)->DECIMAL(38,15) sums are exact and the refined
    centroids must be BYTE-IDENTICAL to the independent numpy mirror."""
    from piperider_spark.operators import kmeans as km

    rng = np.random.default_rng(7)
    X = rng.integers(-8, 9, size=(60, 6)).astype(np.float64) / 4.0
    X = X[np.linalg.norm(X, axis=1) > 0]
    C0 = rng.integers(-4, 5, size=(4, 6)).astype(np.float64) / 4.0
    C0 = C0 / np.maximum(np.linalg.norm(C0, axis=1, keepdims=True), 1e-12)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    got = km.kmeans_refine(df, C0, iters=2)
    want = _km_np_refine(X, C0, iters=2)
    assert np.array_equal(got, want)


def test_kmeans_refine_partition_and_order_invariant(spark):
    """The decimal-exact update contract: byte-identical centroids across
    partitionings and input orders (same contract as the classifier/DSIR
    trainers)."""
    from piperider_spark.operators import kmeans as km

    rng = np.random.default_rng(23)
    X = rng.standard_normal((200, 8))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    C0 = similarity._ivf_centroids(8, 5, seed=3)
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    schema = "vec_id int, embedding array<double>"
    a = km.kmeans_refine(spark.createDataFrame(rows, schema).repartition(13), C0)
    b = km.kmeans_refine(spark.createDataFrame(rows[::-1], schema).coalesce(1), C0)
    assert np.array_equal(a, b)


def test_kmeans_fit_improves_cluster_tightness(spark):
    """On a corpus with 3 planted directions, full-corpus Lloyd rounds must
    tighten the cells vs the seeded random-quantizer fallback: the
    size-weighted mean cosine-to-assigned-centroid strictly improves, and
    stats covers every row."""
    from piperider_spark.operators import kmeans as km

    rng = np.random.default_rng(11)
    centers = np.eye(8)[:3]
    X = np.vstack(
        [c + 0.15 * rng.standard_normal((50, 8)) for c in centers]
    )
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )

    def weighted_sim(C):
        pdf = km.kmeans_stats(df, C).toPandas()
        assert int(pdf.n.sum()) == len(X)
        return float((pdf.n * pdf.mean_sim).sum() / pdf.n.sum())

    rand = similarity._ivf_centroids(8, 3, seed=11)
    trained = km.kmeans_fit(df, k=3, full_iters=2)
    assert trained.shape == (3, 8)
    assert weighted_sim(trained) > weighted_sim(rand) + 0.02


def test_kmeans_assign_zero_exchange_and_empty_cell_rule(spark):
    """(a) Assignment is a row-local broadcast-literal projection: ZERO
    Exchange in the plan (streaming-safe). (b) A cell no row maps to keeps
    its previous (unit-norm) centroid byte-for-byte. (c) Guards raise
    descriptive errors on degenerate input."""
    from piperider_spark.operators import kmeans as km

    X = np.array([[1.0, 0.0, 0.0], [0.875, 0.25, 0.0], [0.0, 1.0, 0.0]])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    C0 = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]])
    plan = km.kmeans_assign(df, C0)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]

    refined = km.kmeans_refine(df, C0, iters=1)
    assert np.array_equal(refined[2], C0[2])  # empty cell kept verbatim

    with pytest.raises(ValueError, match="centroids"):
        km.kmeans_refine(df, np.zeros((0, 3)))
    with pytest.raises(ValueError, match="no non-null vectors"):
        km.kmeans_fit(df.where(F.lit(False)), k=2)


def test_cluster_balanced_sample_caps_cells_and_matches_mirror(spark):
    """The D4 'diversify' recipe: (a) every cell keeps at most `quota`
    rows; (b) the kept set == a driver-side mirror (quota smallest md5
    hashes per assigned cell) — deterministic and partition-invariant;
    (c) NULL embeddings sample as their own NULL-cell stratum instead of
    silently landing in the last cell (the raw argmax's NULL-score
    fallthrough)."""
    import hashlib

    from piperider_spark.operators import kmeans as km

    rng = np.random.default_rng(5)
    C = np.eye(3)
    rows = []
    # planted clusters of very different sizes: 40 near e0, 12 near e1,
    # 4 near e2 — the dominant cell must be capped, the tiny one kept
    for i, (cell, n) in enumerate([(0, 40), (1, 12), (2, 4)]):
        base = C[cell]
        for j in range(n):
            v = base + rng.normal(0, 0.05, 3)
            rows.append((len(rows), [float(x) for x in v]))
    rows.append((len(rows), None))  # NULL embedding
    rows.append((len(rows), None))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    quota = 8
    got = km.cluster_balanced_sample(df, C, quota).select("vec_id", "cell")
    pdf = got.toPandas()
    counts = pdf.groupby("cell", dropna=False).size()
    assert counts.max() <= quota
    assert counts[2.0] == 4  # under-quota cell kept whole
    assert pdf["cell"].isna().sum() == 2  # NULL stratum intact

    # driver mirror: assign by argmax dot (ties -> larger id, matching
    # ivf_cell's struct-max), keep the quota smallest md5-hash ids per cell
    def h(vid):
        d = hashlib.md5(str(vid).encode()).digest()
        return int.from_bytes(d[:8], "big") >> 4

    by_cell = {}
    for vid, v in rows:
        cell = None
        if v is not None:
            sims = np.asarray(v) @ C.T
            cell = int(max(range(3), key=lambda j: (sims[j], j)))
        by_cell.setdefault(cell, []).append(vid)
    want = set()
    for cell, ids in by_cell.items():
        want |= set(sorted(ids, key=lambda i: (h(i), i))[:quota])
    assert set(pdf["vec_id"]) == want

    # partition invariance
    got2 = km.cluster_balanced_sample(df.repartition(13), C, quota)
    assert set(r.vec_id for r in got2.select("vec_id").collect()) == want


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py)
# ---------------------------------------------------------------------------


def _pq_np_code(X, B):
    """Independent numpy mirror of pq_encode: per-subspace argmin L2 as
    argmax(x·c − ‖c‖²/2) with ties to the LARGER id (the engine's
    struct-max rule)."""
    m, ksub, dsub = B.shape
    out = np.empty((len(X), m), dtype=int)
    for i in range(m):
        S = X[:, i * dsub : (i + 1) * dsub] @ B[i].T - 0.5 * (B[i] ** 2).sum(axis=1)
        out[:, i] = ksub - 1 - np.argmax(S[:, ::-1], axis=1)
    return out


def _pq_np_refine(X, B, iters=1):
    """Mirror of pq_refine: Lloyd with the engine's assignment rule, exact
    means, empty cells keep their previous centroid."""
    B = np.asarray(B, dtype=np.float64).copy()
    m, ksub, dsub = B.shape
    for _ in range(iters):
        a = _pq_np_code(X, B)
        for i in range(m):
            for j in range(ksub):
                msk = a[:, i] == j
                if msk.any():
                    B[i, j] = X[msk, i * dsub : (i + 1) * dsub].mean(axis=0)
    return B


def _pq_corpus(spark, seed=7, n=80, dim=16):
    """Binary-fraction corpus: every product/sum below is exact in double,
    so the engine's left-to-right fold and numpy's pairwise sum agree
    bit-for-bit and mirrors can assert EXACT equality."""
    rng = np.random.default_rng(seed)
    X = rng.integers(-8, 9, size=(n, dim)).astype(np.float64) / 8.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    return X, df


def test_pq_encode_matches_numpy_mirror_exactly(spark):
    from piperider_spark.operators import pq

    X, df = _pq_corpus(spark)
    B = pq.train_pq_codebooks(X, m=4, ksub=4, iters=4)
    got = np.array(
        [r[0] for r in pq.pq_encode(df, B).orderBy("vec_id").select("pq_code").collect()]
    )
    assert np.array_equal(got, _pq_np_code(X, B))
    # zero-shuffle projection: no Exchange in the encode plan
    plan = pq.pq_encode(df, B)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pq_encode_null_and_wrong_dim_rows_get_null_code(spark):
    """NULL / wrong-dim vectors must code to NULL explicitly — the raw
    argmax walk would fall through to the largest id (the
    cluster_balanced_sample NULL-mask lesson)."""
    from piperider_spark.operators import pq

    X, _ = _pq_corpus(spark, n=20, dim=8)
    B = pq.train_pq_codebooks(X, m=2, ksub=4, iters=2)
    df = spark.createDataFrame(
        [(1, [0.5] * 8), (2, None), (3, [0.5] * 5)],
        "vec_id int, embedding array<double>",
    )
    rows = {r.vec_id: r.pq_code for r in pq.pq_encode(df, B).collect()}
    assert rows[1] is not None and rows[2] is None and rows[3] is None


def test_pq_adc_topk_matches_numpy_mirror_exactly(spark):
    """ADC = exact inner-product decomposition over the reconstruction:
    the engine's LUT-lookup top-k must equal the driver mirror's ranking
    (round-6dp scores, ties to the smaller id)."""
    from piperider_spark.operators import pq

    X, df = _pq_corpus(spark)
    B = pq.train_pq_codebooks(X, m=4, ksub=4, iters=4)
    codes = _pq_np_code(X, B)
    q = X[3]
    lut = pq.adc_lut(q, B)
    scores = np.array(
        [lut[np.arange(B.shape[0]), codes[r]].sum() for r in range(len(X))]
    )
    want = sorted(range(len(X)), key=lambda i: (-round(scores[i], 6), i))[:10]
    got = [r.vec_id for r in pq.pq_topk(df, B, list(q), topk=10).collect()]
    assert got == want


def test_pq_recall_on_planted_clusters(spark):
    """On a 4-cluster planted corpus, ADC recall@10 must be far above the
    random baseline (10/240 ≈ 0.04; measured ≈ 0.59 with m=4, ksub=16)."""
    from piperider_spark.operators import pq

    rng = np.random.default_rng(11)
    centers = np.eye(16)[:4]
    X = np.vstack([c + 0.12 * rng.standard_normal((60, 16)) for c in centers])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    B = pq.train_pq_codebooks(X, m=4, ksub=16, iters=12)
    hits = 0
    nq, topk = 10, 10
    for qi in range(nq):
        qv = X[qi]
        cos = X @ qv / np.linalg.norm(X, axis=1)
        true_top = set(np.argsort(-cos)[:topk])
        got = set(r.vec_id for r in pq.pq_topk(df, B, list(qv), topk=topk).collect())
        hits += len(true_top & got)
    assert hits / (nq * topk) >= 0.4


def test_pq_refine_matches_numpy_mirror_and_reduces_error(spark):
    """Full-corpus Lloyd refinement: byte-identical to the numpy mirror on
    binary-fraction coordinates, partition/order invariant (the decimal
    exact-sum contract), and monotone — refining an init-only codebook
    must not increase total squared reconstruction error."""
    from piperider_spark.operators import pq

    X, df = _pq_corpus(spark, seed=23, n=120, dim=12)
    B0 = pq.train_pq_codebooks(X, m=3, ksub=4, iters=0)  # k-means++ init only
    got = pq.pq_refine(df, B0, iters=2)
    assert np.array_equal(got, _pq_np_refine(X, B0, iters=2))

    a = pq.pq_refine(df.repartition(13), B0, iters=1)
    b = pq.pq_refine(
        spark.createDataFrame(
            [(i, [float(v) for v in X[i]]) for i in range(len(X) - 1, -1, -1)],
            "vec_id int, embedding array<double>",
        ).coalesce(1),
        B0,
        iters=1,
    )
    assert np.array_equal(a, b)

    def sqerr(B):
        c = _pq_np_code(X, B)
        m, ksub, dsub = B.shape
        Xh = np.concatenate([B[i][c[:, i]] for i in range(m)], axis=1)
        return ((X - Xh) ** 2).sum()

    assert sqerr(got) <= sqerr(B0) + 1e-9

    with pytest.raises(ValueError, match="non-empty"):
        pq.pq_refine(df, np.zeros((0, 4, 4)))


def test_pq_partitioned_probe_prunes_and_matches_onfly(spark, tmp_path):
    """The compressed at-rest layout: the probe is a PartitionFilter over
    cell (reads nprobe/n_cells of the files, no raw vectors stored), and
    returns exactly the on-the-fly ADC ranking restricted to the probed
    cells."""
    from piperider_spark.operators import pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    E = np.array([r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64)
    cents = similarity.train_ivf_centroids(E[:200], 8)
    B = pq.train_pq_from_df(emb, m=8, ksub=16, iters=4)
    path = str(tmp_path / "pq")
    pq.pq_write_partitioned(emb, path, cents, B)
    qvec = list(E[0])
    probed = pq.ivf_pq_topk_partitioned(spark, path, qvec, cents, B, nprobe=3, topk=10)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:500]

    # on-the-fly twin: restrict to the same probed cells, then ADC top-k
    scores = cents @ np.asarray(qvec)
    probe = sorted(range(8), key=lambda j: (-scores[j], -j))[:3]
    cell = similarity.ivf_cell(F.col("embedding"), cents)
    onfly = pq.pq_topk(emb.where(cell.isin(probe)), B, qvec, topk=10)
    assert [(r.vec_id, r.adc_score) for r in probed.collect()] == [
        (r.vec_id, r.adc_score) for r in onfly.collect()
    ]

    # stored layout holds codes only — no embedding column at rest
    assert "embedding" not in spark.read.parquet(path).columns

    # writer guards match the ann/ivf twins
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="cannot infer vector dim"):
        pq.pq_write_partitioned(empty, str(tmp_path / "e"), cents, B)
    bad = spark.createDataFrame([(1, [0.5] * 7)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="!= codebook dim"):
        pq.pq_write_partitioned(bad, str(tmp_path / "b"), cents, B)


def test_pq_codebooks_artifact_roundtrip(spark):
    from piperider_spark.operators import pq

    X, _ = _pq_corpus(spark, n=30, dim=8)
    B = pq.train_pq_codebooks(X, m=2, ksub=4, iters=3)
    back = pq.codebooks_from_df(pq.codebooks_to_df(spark, B))
    assert np.array_equal(B, back)
    with pytest.raises(ValueError, match="empty artifact"):
        pq.codebooks_from_df(spark.createDataFrame([], "m int, cell int, centroid array<double>"))


def test_arr_lit_exact_roundtrip_and_guards(spark):
    """similarity.arr_lit (SQL-text array literal): identical double values
    to the py4j F.lit form — repr emits shortest round-trip decimals and
    parseDouble returns the exact same bits — including subnormals,
    extremes, and negative zero; non-finite values are rejected."""
    rng = np.random.default_rng(5)
    vals = rng.standard_normal(40).tolist() + [
        2**-1074, -(2**52) + 0.5, 1e-300, 1.7976931348623157e308, -0.0, 0.25,
    ]
    got = spark.range(1).select(similarity.arr_lit(vals).alias("a")).collect()[0].a
    import struct as _struct

    assert [
        _struct.pack("d", g) for g in got
    ] == [_struct.pack("d", v) for v in vals]

    M = rng.standard_normal((3, 4, 2))
    got2 = spark.range(1).select(similarity.arr_lit(M).alias("a")).collect()[0].a
    assert np.array_equal(np.asarray(got2, dtype=np.float64), M)

    with pytest.raises(ValueError, match="non-finite"):
        similarity.arr_lit([1.0, float("nan")])


def test_pq_rerank_recovers_exact_ranking(spark):
    """The FAISS refine stage: over-fetch ADC candidates (R=4k), exact
    cosine re-rank against raw vectors. The re-ranked top-k must equal
    brute-force cosine_topk restricted to the candidate set, the fetch
    must be a broadcast semi-join (no corpus shuffle), and on a clustered
    corpus the re-rank must not lose recall vs raw ADC."""
    from piperider_spark.operators import pq

    rng = np.random.default_rng(17)
    centers = np.eye(16)[:4]
    X = np.vstack([c + 0.12 * rng.standard_normal((50, 16)) for c in centers])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    B = pq.train_pq_codebooks(X, m=4, ksub=16, iters=8)
    hits_adc, hits_rr, nq, topk = 0, 0, 8, 10
    for qi in range(nq):
        qv = list(X[qi])
        cand = pq.pq_topk(df, B, qv, topk=4 * topk)
        rr = pq.pq_topk_rerank(cand, df, qv, topk=topk)
        got = [r.vec_id for r in rr.collect()]
        # mirror: exact cosine over the candidate ids, same tie rule
        cand_ids = [r.vec_id for r in cand.collect()]
        cos = X[cand_ids] @ X[qi]
        want = [
            cand_ids[i]
            for i in sorted(
                range(len(cand_ids)), key=lambda i: (-round(cos[i], 6), cand_ids[i])
            )[:topk]
        ]
        assert got == want
        true_top = set(np.argsort(-(X @ X[qi]))[:topk])
        hits_adc += len(true_top & set(r.vec_id for r in pq.pq_topk(df, B, qv, topk=topk).collect()))
        hits_rr += len(true_top & set(got))
    assert hits_rr >= hits_adc  # refine never loses recall here
    plan = (
        pq.pq_topk_rerank(pq.pq_topk(df, B, list(X[0]), topk=40), df, list(X[0]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_pq_knn_join_matches_per_query_mirror(spark):
    """Batched ADC k-NN join: per-(query, corpus) scores must equal the
    numpy ADC mirror exactly (binary-fraction corpus), per-query top-k
    with the knn_join tie rule (desc score, asc corpus id), self pairs
    excluded, query side broadcast (corpus never shuffled before the
    bounded per-query rank), and a stored-code corpus (code_col) must
    give identical results to encode-on-the-fly."""
    from piperider_spark.operators import pq

    X, df = _pq_corpus(spark, seed=41, n=60, dim=8)
    B = pq.train_pq_codebooks(X, m=2, ksub=4, iters=4)
    qdf = df.where(F.col("vec_id") < 5)
    got = {
        (r.q_id, r.rank): (r.c_id, r.adc_score)
        for r in pq.pq_knn_join(qdf, df, B, topk=3).collect()
    }

    codes = _pq_np_code(X, B)
    m, ksub, dsub = B.shape
    for qi in range(5):
        lut = pq.adc_lut(X[qi], B)
        scores = np.array([lut[np.arange(m), codes[c]].sum() for c in range(len(X))])
        order = [
            c
            for c in sorted(range(len(X)), key=lambda c: (-round(scores[c], 6), c))
            if c != qi
        ][:3]
        for rank, c in enumerate(order, start=1):
            assert got[(qi, rank)] == (c, round(scores[c], 6))

    plan = pq.pq_knn_join(qdf, df, B, topk=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan

    stored = pq.pq_encode(df, B, out_col="pq_code")
    got2 = {
        (r.q_id, r.rank): (r.c_id, r.adc_score)
        for r in pq.pq_knn_join(qdf, stored, B, code_col="pq_code", topk=3).collect()
    }
    assert got2 == got


def test_sq8_encode_and_topk_match_mirror(spark):
    """SQ8 scalar quantization: bounds are exact per-dim min/max, the
    encode matches a numpy mirror replicating Spark's HALF_UP rounding,
    scoring matches the const + w·code fold exactly, a constant dimension
    codes to 0, and NULL / wrong-dim rows code to NULL."""
    from piperider_spark.operators import pq

    rng = np.random.default_rng(47)
    X = rng.integers(-8, 9, size=(70, 6)).astype(np.float64) / 8.0
    X[:, 3] = 0.25  # degenerate (constant) dimension
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    lo, hi = pq.sq8_bounds(df)
    assert np.array_equal(lo, X.min(axis=0)) and np.array_equal(hi, X.max(axis=0))

    span = np.maximum(hi - lo, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        frac = np.where(span > 0, (X - lo) / span, 0.0)
    want_codes = np.floor(255.0 * np.clip(frac, 0.0, 1.0) + 0.5).astype(int)
    got_codes = np.array(
        [r[0] for r in pq.sq8_encode(df, lo, hi).orderBy("vec_id").select("sq8_code").collect()]
    )
    assert np.array_equal(got_codes, want_codes)
    assert (got_codes[:, 3] == 0).all()

    q = X[2]
    const = float(q @ lo)
    w = q * span / 255.0
    scores = const + got_codes @ w
    want = sorted(range(len(X)), key=lambda i: (-round(scores[i], 6), i))[:10]
    got = [r.vec_id for r in pq.sq8_topk(df, lo, hi, list(q), topk=10).collect()]
    assert got == want

    # stored-code scoring == on-the-fly
    stored = pq.sq8_encode(df, lo, hi)
    got2 = [
        r.vec_id
        for r in pq.sq8_topk(stored, lo, hi, list(q), code_col="sq8_code", topk=10).collect()
    ]
    assert got2 == got

    # reconstruction error bound for in-range values: half a grid step
    recon = lo + got_codes * span / 255.0
    assert np.abs(recon - X).max() <= (span.max() / 510.0) + 1e-12

    nulls = spark.createDataFrame(
        [(1, None), (2, [0.1] * 5)], "vec_id int, embedding array<double>"
    )
    rows = {r.vec_id: r.sq8_code for r in pq.sq8_encode(nulls, lo, hi).collect()}
    assert rows[1] is None and rows[2] is None

    # SQ8 at 256 levels/dim resolves planted clusters near-exactly
    centers = np.eye(8)[:3]
    Y = np.vstack([c + 0.1 * rng.standard_normal((40, 8)) for c in centers])
    Y = Y / np.linalg.norm(Y, axis=1, keepdims=True)
    ydf = spark.createDataFrame(
        [(i, [float(v) for v in Y[i]]) for i in range(len(Y))],
        "vec_id int, embedding array<double>",
    )
    ylo, yhi = pq.sq8_bounds(ydf)
    hits, nq, k = 0, 8, 10
    for qi in range(nq):
        cos = Y @ Y[qi] / np.linalg.norm(Y, axis=1)
        true_top = set(np.argsort(-cos)[:k])
        got = set(r.vec_id for r in pq.sq8_topk(ydf, ylo, yhi, list(Y[qi]), topk=k).collect())
        hits += len(true_top & got)
    assert hits / (nq * k) >= 0.85


def test_arr_lit_random_bit_pattern_doubles_roundtrip(spark):
    """arr_lit bit-exactness over adversarial doubles: 1000 finite values
    drawn as RANDOM 64-bit patterns (denormals, huge/tiny exponents, odd
    mantissas — far beyond any distributional sample) must round-trip
    through the SQL-text literal with identical bits."""
    import struct as _struct

    rng = np.random.default_rng(2**61 + 7)
    bits = rng.integers(0, 2**64, size=4000, dtype=np.uint64)
    vals = bits.view(np.float64)
    vals = vals[np.isfinite(vals)][:1000]
    assert len(vals) == 1000
    got = spark.range(1).select(similarity.arr_lit(vals.tolist()).alias("a")).collect()[0].a
    assert [
        _struct.pack("d", g) for g in got
    ] == [_struct.pack("d", float(v)) for v in vals]


def test_sq8_bounds_ignore_stray_dim_vectors(spark):
    """A stray longer/shorter vector must not poison the bounds dim
    (review finding: max-observed-position inference let one 10-dim stray
    NULL-out every 8-dim row downstream)."""
    from piperider_spark.operators import pq

    rng = np.random.default_rng(53)
    X = rng.integers(-8, 9, size=(30, 8)).astype(np.float64) / 8.0
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    rows.append((97, [9.9] * 10))  # stray long vector
    rows.append((98, [9.9] * 3))   # stray short vector
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    lo, hi = pq.sq8_bounds(df)
    assert lo.shape == (8,)
    assert np.array_equal(lo, X.min(axis=0)) and np.array_equal(hi, X.max(axis=0))
    coded = {r.vec_id: r.sq8_code for r in pq.sq8_encode(df, lo, hi).collect()}
    assert all(coded[i] is not None for i in range(len(X)))
    assert coded[97] is None and coded[98] is None and coded[99] is None


def test_pq_knn_join_rank_is_two_phase(spark):
    """The review fix pinned: pq_knn_join must rank in two phases — a
    local top-k partitioned by (q_id, scan-partition id) before the
    global per-query rank — so no window partition is ever corpus-sized.
    The executed plan must contain BOTH windows, and the first Window
    encountered bottom-up must partition by two columns."""
    from piperider_spark.operators import pq

    X, df = _pq_corpus(spark, seed=59, n=40, dim=8)
    B = pq.train_pq_codebooks(X, m=2, ksub=4, iters=2)
    plan = (
        pq.pq_knn_join(df.where(F.col("vec_id") < 3), df, B, topk=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert len(wins) == 2, plan[:800]
    # one window partitioned by (q_id, _p), one by q_id alone
    two_col = [w for w in wins if "," in w]
    one_col = [w for w in wins if "," not in w]
    assert len(two_col) == 1 and "_p" in two_col[0], wins
    assert len(one_col) == 1 and "q_id" in one_col[0], wins


def test_sq8_partitioned_probe_prunes_and_matches_onfly(spark, tmp_path):
    """The SQ8 at-rest layout: PartitionFilter over the probed cells,
    stored-code scoring equals the on-the-fly form restricted to the same
    cells, no raw vectors at rest, and the shared writer guards."""
    from piperider_spark.operators import pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    E = np.array([r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64)
    cents = similarity.train_ivf_centroids(E[:200], 8)
    lo, hi = pq.sq8_bounds(emb)
    path = str(tmp_path / "sq8")
    pq.sq8_write_partitioned(emb, path, cents, lo, hi)
    qvec = list(E[0])
    probed = pq.sq8_topk_partitioned(spark, path, qvec, cents, lo, hi, nprobe=3, topk=10)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:500]

    probe = similarity.probe_cells(cents, qvec, 3)
    cell = similarity.ivf_cell(F.col("embedding"), cents)
    onfly = pq.sq8_topk(emb.where(cell.isin(probe)), lo, hi, qvec, topk=10)
    assert [(r.vec_id, r.sq8_score) for r in probed.collect()] == [
        (r.vec_id, r.sq8_score) for r in onfly.collect()
    ]
    assert "embedding" not in spark.read.parquet(path).columns

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="cannot infer vector dim"):
        pq.sq8_write_partitioned(empty, str(tmp_path / "e"), cents, lo, hi)
    bad = spark.createDataFrame([(1, [0.5] * 7)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="!= bounds dim"):
        pq.sq8_write_partitioned(bad, str(tmp_path / "b"), cents, lo, hi)


def test_bloom_grain_and_layout_guards(spark):
    """Review findings: (a) bloom_seen_flags must reject a window-grain
    snapshot (probing fingerprints against window hashes yields zero true
    hits plus fpp false drops); (b) a layout-forced build skips the
    metadata-only count and stamps expected=-1, which bloom_or
    propagates; (c) minhash_lsh_pairs rejects non-divisible banding like
    its band-keys twin."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    wb = dedup.build_window_bloom(df, k_tokens=2, expected=64)
    with pytest.raises(ValueError, match="not a fingerprint-grain"):
        dedup.bloom_seen_flags(df, wb)

    fb = dedup.build_fingerprint_bloom(df, expected=64)
    inherit = dedup.build_fingerprint_bloom(
        df, layout=(fb["m_bits"], fb["k"]), fpp=fb["fpp"]
    )
    assert inherit["expected"] == -1
    assert dedup.bloom_or(fb, inherit)["expected"] == -1
    # flags still work against the layout-inherited build
    rows = {
        r.doc_id: r.maybe_seen
        for r in dedup.bloom_seen_flags(df, inherit).collect()
    }
    assert rows == {1: True, 2: True}

    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(df, n_hashes=8, n_bands=3)


def test_percentile_disc_rank_matches_engine_for_noncanonical_p(spark, duck):
    """Review finding (verified sweep: 454 mismatches): ceil(p*n) in float
    overshoots for p like 0.07 (0.07*100 → 7.000000000000001 → rank 8)
    while percentile_disc selects the 7th value. The rank now reproduces
    the IEEE cume_dist comparison exactly — pinned against DuckDB's
    percentile_disc for a sweep of awkward p values on both the bucketed
    and the degenerate paths, plus the alias rounding fix."""
    from piperider_spark.operators.quantiles import percentile_disc_multi

    ps = (0.07, 0.13, 0.29, 0.61, 0.83)
    vals = [float(v) for v in range(1, 101)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = percentile_disc_multi(df, "x", ps).collect()[0].asDict()
    assert list(got) == ["p7", "p13", "p29", "p61", "p83"]

    arr = "[" + ",".join(str(v) for v in vals) + "]"
    duck.execute(f"create or replace view t100 as select unnest({arr}::double[]) x")
    want = duck.sql(
        "select "
        + ", ".join(
            f"percentile_disc({p}) within group (order by x) as p{round(p*100)}"
            for p in ps
        )
        + " from t100"
    ).fetchone()
    assert tuple(got.values()) == want

    # degenerate path (single distinct value classes -> non-numeric route):
    # string column takes the window fallback; same rule must hold
    sdf = spark.createDataFrame([(chr(97 + i % 26) + str(i),) for i in range(100)], "x string")
    got2 = percentile_disc_multi(sdf, "x", (0.07,)).collect()[0][0]
    sarr = "[" + ",".join(f"'{chr(97 + i % 26)}{i}'" for i in range(100)) + "]"
    duck.execute(f"create or replace view ts as select unnest({sarr}::varchar[]) x")
    want2 = duck.sql(
        "select percentile_disc(0.07) within group (order by x) from ts"
    ).fetchone()[0]
    assert got2 == want2


def test_packing_duplicate_ids_tile_disjointly(spark):
    """Review finding: the cumsum window used the default RANGE frame, so
    duplicate ids (ordering peers) shared one cumulative end and their
    spans overlapped. With the ROWS frame every row's span is disjoint
    and the spans tile [0, total) exactly."""
    from piperider_spark.operators.packing import concat_chunk_pack

    rows = [("a", 5), ("a", 7), ("b", 3), ("c", 11), ("c", 2)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    out = concat_chunk_pack(df, "doc_id", "n_tok", max_len=8).collect()
    spans = sorted((r.start_offset, r.start_offset + r.len) for r in out)
    total = sum(n for _, n in rows)
    assert spans[0][0] == 0 and spans[-1][1] == total
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 == b0, spans  # disjoint and gap-free

    with pytest.raises(ValueError, match="max_len must be positive"):
        concat_chunk_pack(df, "doc_id", "n_tok", max_len=0)


def test_quota_sample_null_ids_match_fallback_ordering(spark):
    """Review finding: NULL-id rows (NULL hash → NULLS FIRST in the naive
    window) were silently dropped by the pruned path's `h < thr` filter
    while the exactness fallback picked them first. Both paths must agree:
    NULL-id rows outrank every hashed row."""
    from piperider_spark.operators.sampling import quota_sample

    rows = [(f"id{i}", "s") for i in range(100)] + [(None, "s")] * 3
    df = spark.createDataFrame(rows, "doc_id string, src string")
    picked = quota_sample(df, "src", "doc_id", quota=7).collect()
    ids = [r.doc_id for r in picked]
    assert len(ids) == 7
    assert ids.count(None) == 3  # the NULL-hash rows always make the cut


def test_curate_corpus_honors_text_col(spark):
    """Review finding: the post-line-dedup select hardcoded "text",
    raising UNRESOLVED_COLUMN for any non-default text_col."""
    from piperider_spark.operators.curation import curate_corpus

    df = spark.createDataFrame(
        [(1, "This is a perfectly reasonable document with enough words to pass. " * 3)],
        "doc_id long, body string",
    )
    out = curate_corpus(df, id_col="doc_id", text_col="body")
    assert out.count() == 1


def test_ann_candidate_pairs_rejects_dim_mismatch(spark):
    """Review finding: a mismatched dim NULLs every hyperplane dot, all
    signatures collapse to 0, and the candidate join silently becomes the
    full quadratic cross product — now a descriptive error."""
    df = spark.createDataFrame(
        [(1, [0.1] * 32), (2, [0.2] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim=64 != the corpus vector length 32"):
        similarity.ann_candidate_pairs(df)


def test_semdedup_arrow_rejects_non_integer_ids(spark):
    """Review finding: the arrow twin hardcoded long id schemas and crashed
    opaquely on string ids — now a descriptive error naming the SQL twin."""
    df = spark.createDataFrame(
        [("a", [0.1] * 8)], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="integer id column required"):
        similarity.semdedup_arrow(df, np.eye(8)[:2])


def test_kmeans_refine_nonspherical_matches_l2_lloyd_mirror(spark):
    """Review finding: spherical=False assigned by raw argmax dot, which
    is nearest-centroid only for equal-norm centroids — clusters collapsed
    toward the largest-norm mean. The update must now match a numpy
    L2-Lloyd mirror exactly on binary-fraction coordinates, including with
    centroids of very different norms."""
    from piperider_spark.operators import kmeans as km

    rng = np.random.default_rng(61)
    X = rng.integers(-8, 9, size=(80, 4)).astype(np.float64) / 4.0
    # centroids with wildly different norms
    C0 = np.array([[0.25, 0.25, 0.0, 0.0], [6.0, 6.0, 6.0, 6.0], [-4.0, 0.0, 0.0, 0.0]])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    )
    got = km.kmeans_refine(df, C0, iters=2, spherical=False)

    C = C0.copy()
    for _ in range(2):
        scores = X @ C.T - 0.5 * (C**2).sum(axis=1)
        assign = C.shape[0] - 1 - np.argmax(scores[:, ::-1], axis=1)
        nxt = C.copy()
        for j in range(C.shape[0]):
            m = assign == j
            if m.any():
                nxt[j] = X[m].mean(axis=0)
        C = nxt
    assert np.array_equal(got, C)


def test_cluster_sample_and_fit_handle_ragged_vectors(spark):
    """Review findings: a wrong-dimension vector silently landed in cell
    k−1 (consuming its quota) and crashed kmeans_fit's np.asarray on the
    init sample. Ragged rows must sample as the NULL stratum and the fit
    must ignore them."""
    from piperider_spark.operators import kmeans as km

    rng = np.random.default_rng(67)
    X = rng.standard_normal((40, 6))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    rows.append((97, [0.5] * 9))  # ragged
    rows.append((98, None))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    C = km.kmeans_fit(df, k=3, sample_rows=50, full_iters=1)  # must not raise
    assert C.shape == (3, 6)
    pdf = km.cluster_balanced_sample(df, C, quota=50).toPandas()
    cells = {r.vec_id: r.cell for r in pdf.itertuples()}
    assert pd.isna(cells[97]) and pd.isna(cells[98])


def test_classifier_rejects_null_labels(spark):
    """Review finding: NULL labels silently vanished from the gradient
    sums while still inflating the divisor — now a descriptive error,
    matching the langid sibling."""
    from piperider_spark.operators import classifier as clf

    df = spark.createDataFrame(
        [("good text", True), ("bad text", None)], "text string, keep boolean"
    )
    with pytest.raises(ValueError, match="NULL 'keep' label"):
        clf.fit_quality_classifier(df, epochs=1, n_buckets=64)


def test_langid_word_features_length_disjoint_from_char_grams(spark):
    """Review finding: the "w " prefix made the word feature for "a" the
    SAME STRING as the char trigram "w a" (systematic alias). The "word:"
    prefix is longer than any allowed char n-gram, so the namespaces are
    disjoint by length; ns >= 5 is rejected."""
    from piperider_spark.operators.langid_model import char_ngram_buckets

    with pytest.raises(ValueError, match="max\\(ns\\) < 5"):
        spark.range(1).select(
            char_ngram_buckets(F.lit("saw a"), ns=(2, 5))
        ).collect()
    # the word feature for "a" is hashed from "word:a" (length 6 > any
    # allowed char n-gram) — present in the gram set, and structurally
    # unable to equal a 2/3-char gram string
    from piperider_spark.functions.text import md5_60bit

    b = spark.range(1).select(
        char_ngram_buckets(F.lit("saw a"), n_buckets=2**40, hash_fn="md5").alias("b"),
        F.pmod(md5_60bit(F.lit("word:a")), F.lit(2**40)).alias("word"),
    ).collect()[0]
    assert b.word in b.b


def test_bpe_base_symbols_split_line_separators(spark):
    """Review finding: the char-split regex lacked DOTALL, so Java's '.'
    skipped the boundary before line terminators and a punctuation token
    like '!\\u2028' produced a corrupt two-char 'base symbol'. The real
    chars must each enter the alphabet."""
    from piperider_spark.operators import bpe as _bpe

    df = spark.createDataFrame(
        [("hey !  there  !",)] * 3, "text string"
    )
    wc = _bpe.bpe_word_counts(df, min_count=1)
    alpha = _bpe.base_symbols(wc)
    assert " " in alpha and " " in alpha and "!" in alpha
    assert not any(len(a) > 1 for a in alpha)


def test_gumbel_clamp_keeps_u_below_one(spark, duck):
    """Review finding: (h+1)/2^60 rounds to exactly 1.0 for the top ~64
    hash values, where -log(-log(u)) is NULL in Spark and ln(0) ERRORS in
    DuckDB. The clamp keeps both engines finite at the boundary."""
    v = spark.sql(
        "select -ln(-ln(least(1.0, 0.9999999999999999d))) as g"
    ).collect()[0].g
    assert v is not None and math.isfinite(v)
    # NOTE the e0 suffix: DuckDB's DECIMAL(16,16)→DOUBLE cast computes
    # 9999999999999999/1e16 in double, where the numerator rounds to 1e16
    # and the quotient to exactly 1.0 — the scientific-notation literal
    # parses as DOUBLE directly (1−2⁻⁵³, matching Spark's F.lit)
    w = duck.sql(
        "select -ln(-ln(least(1.0, 0.9999999999999999e0)))"
    ).fetchone()[0]
    assert math.isfinite(w)
    assert abs(v - w) < 1e-9
