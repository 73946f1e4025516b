"""Golden-value profiler tests — the reference's own expected numbers
(/root/reference/tests/profiler/test_profiler.py) asserted against the Spark
profiler. Same inputs → same metrics, histogram labels/edges, topk, quantiles.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import types as T

from piperider_spark.profiler import Profiler, profile_table
from piperider_spark.profiler.core import ProfilerConfig


def almost_equal(a, b, tol=0.01):
    return abs(a - b) <= tol


def _int_df(spark, values):
    return spark.createDataFrame([(v,) for v in values], T.StructType([T.StructField("col", T.LongType())]))


def _num_df(spark, values):
    return spark.createDataFrame([(v,) for v in values], T.StructType([T.StructField("col", T.DoubleType())]))


# ---- test_integer_metrics (reference test_profiler.py:42-163) -------------

def test_integer_basic(spark):
    r = profile_table(_int_df(spark, [0, 20, None]), "test")["columns"]["col"]
    assert r["total"] == 3 and r["nulls"] == 1 and r["non_nulls"] == 2
    assert almost_equal(r["nulls_p"], 1 / 3)
    assert r["valids"] == 2 and r["invalids"] == 0
    assert r["zeros"] == 1 and r["negatives"] == 0 and r["positives"] == 1
    h = r["histogram"]
    assert h["labels"][0] == "0" and h["counts"][0] == 1
    assert h["labels"][20] == "20" and h["counts"][20] == 1 and h["counts"][5] == 0
    assert h["bin_edges"][0] == 0 and h["bin_edges"][21] == 21


def test_integer_hist_0_50(spark):
    h = profile_table(_int_df(spark, [0, 50]), "test")["columns"]["col"]["histogram"]
    assert h["labels"][0] == "0" and h["counts"][0] == 1
    assert h["labels"][50] == "50" and h["counts"][50] == 1
    assert h["bin_edges"][0] == 0 and h["bin_edges"][51] == 51


def test_integer_hist_single(spark):
    h = profile_table(_int_df(spark, [0]), "test")["columns"]["col"]["histogram"]
    assert h["labels"] == ["0"] and h["counts"][0] == 1
    assert h["bin_edges"] == [0, 1]


def test_integer_spread(spark):
    r = profile_table(_int_df(spark, [10, 100, 1000, 500, 750]), "test")["columns"]["col"]
    assert r["avg"] == 472.0 and almost_equal(r["stddev"], 420.91) and r["sum"] == 2360
    assert (r["min"], r["p5"], r["p25"], r["p50"], r["p75"], r["p95"], r["max"]) == (
        10, 10, 100, 500, 750, 1000, 1000,
    )
    h = r["histogram"]
    assert h["labels"][0] == "10 _ 30" and h["counts"][0] == 1
    assert h["labels"][49] == "990 _ 1010" and h["counts"][49] == 1
    assert h["bin_edges"][0] == 10 and h["bin_edges"][50] == 1010


def test_integer_empty(spark):
    r = profile_table(_int_df(spark, [None]).where("col is not null"), "test")["columns"]["col"]
    for k in ("sum", "min", "p5", "p25", "p50", "p75", "p95", "max"):
        assert r[k] is None
    assert r["histogram"] is None and r["topk"] is None


# ---- test_numeric_metrics (165-282) ----------------------------------------

def test_numeric_signed(spark):
    r = profile_table(_num_df(spark, [-20.0, 0.0, 20.0, None]), "test")["columns"]["col"]
    assert r["total"] == 4 and r["zeros"] == 1 and r["negatives"] == 1 and r["positives"] == 1
    assert r["avg"] == 0 and almost_equal(r["stddev"], 20) and r["sum"] == 0
    assert (r["min"], r["p5"], r["p25"], r["p50"], r["p75"], r["p95"], r["max"]) == (
        -20, -20, -20, 0, 20, 20, 20,
    )
    h = r["histogram"]
    assert h["counts"][0] == 1 and h["counts"][49] == 1 and h["counts"][25] == 1


def test_numeric_float_hist_labels(spark):
    h = profile_table(_num_df(spark, [10.0, 100.0, 1000.0, 500.0, 750.0]), "test")["columns"]["col"]["histogram"]
    assert h["labels"][0] == "10.00 _ 29.80" and h["counts"][0] == 1
    assert h["labels"][49] == "980.20 _ 1.0K" and h["counts"][49] == 1
    assert h["bin_edges"][0] == 10.0 and h["bin_edges"][50] == 1000.0


def test_numeric_negative(spark):
    r = profile_table(_num_df(spark, [-110.0, 100.0, 1000.0, 500.0, 750.0]), "test")["columns"]["col"]
    assert r["avg"] == 448 and almost_equal(r["stddev"], 455.82) and r["sum"] == 2240
    assert (r["min"], r["p5"], r["p25"], r["p50"], r["p75"], r["p95"], r["max"]) == (
        -110, -110, 100, 500, 750, 1000, 1000,
    )
    h = r["histogram"]
    assert h["labels"][0] == "-110.00 _ -87.80" and h["counts"][0] == 1
    assert h["labels"][27] == "489.40 _ 511.60" and h["counts"][27] == 1
    assert h["labels"][49] == "977.80 _ 1.0K" and h["counts"][49] == 1


# ---- invalids algebra via try_cast staging (FIXTURES.md §2 note) ------------

def test_invalids_algebra_try_cast(spark):
    """Spark/Iceberg equivalent of the sqlite dynamic-typing fixture
    (test_profiler.py:283-309): string staging column + try_cast, asserting
    invalids = non_nulls - valids."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("0",), ("0",), ("abc",), ("xyz",), (None,)], "raw string"
    ).select(F.expr("try_cast(raw as bigint)").alias("col"), F.col("raw"))
    total = df.count()
    non_nulls = df.where("raw is not null").count()
    valids = df.where("col is not null").count()
    assert total == 5 and non_nulls == 4 and valids == 2
    assert non_nulls - valids == 2  # invalids


# ---- test_string_metrics (311-359) ------------------------------------------

def test_string_metrics(spark):
    df = spark.createDataFrame(
        [("hello",), ("hello",), ("hello world",), ("world",), ("",), ("123",), ("2022-07-18",), (None,)],
        "str string",
    )
    r = profile_table(df, "test")["columns"]["str"]
    assert r["total"] == 8 and r["nulls"] == 1 and r["non_nulls"] == 7 and r["valids"] == 7
    assert r["zero_length"] == 1 and r["non_zero_length"] == 6
    assert r["distinct"] == 6 and almost_equal(r["distinct_p"], 6 / 7)
    assert r["duplicates"] == 2 and r["non_duplicates"] == 5
    assert r["min"] == 0 and r["max"] == 11
    assert almost_equal(r["avg"], 5.57) and almost_equal(r["stddev"], 3.82)
    assert r["histogram"]["counts"][0] == 1 and r["histogram"]["counts"][-1] == 1
    assert r["topk"]["counts"][0] == 2 and r["topk"]["counts"][-1] == 1
    assert len(r["topk"]["counts"]) == 6
    assert r["topk"]["values"][0] == "hello"


# ---- test_datetime_metric (395-422) -----------------------------------------

def test_datetime_metrics(spark):
    df = spark.createDataFrame(
        [(datetime(2021, 1, 1),), (datetime(2021, 1, 1),), (None,)],
        T.StructType([T.StructField("col", T.TimestampType())]),
    )
    r = profile_table(df, "test")["columns"]["col"]
    assert r["total"] == 3 and r["non_nulls"] == 2 and r["nulls"] == 1
    assert r["distinct"] == 1 and almost_equal(r["distinct_p"], 1 / 2)
    assert r["duplicates"] == 2 and r["non_duplicates"] == 0


# ---- test_boolean_metric (456-484) -------------------------------------------

def test_boolean_metrics(spark):
    df = spark.createDataFrame(
        [(True,), (True,), (False,), (None,)],
        T.StructType([T.StructField("col", T.BooleanType())]),
    )
    r = profile_table(df, "test")["columns"]["col"]
    assert r["total"] == 4 and r["non_nulls"] == 3 and r["valids"] == 3
    assert r["trues"] == 2 and r["falses"] == 1
    assert r["distinct"] == 2 and almost_equal(r["distinct_p"], 2 / 3)


# ---- test_date_boundary (514-592) ---------------------------------------------

def _date_df(spark, values):
    return spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField("date", T.DateType())])
    )


def test_date_hist_yearly(spark):
    r = profile_table(_date_df(spark, [date(1900, 5, 26), date(2022, 6, 26), date(2022, 7, 26)]), "t")["columns"]["date"]
    h = r["histogram"]
    assert r["min"] == "1900-05-26" and r["max"] == "2022-07-26"
    assert h["counts"][0] == 1 and h["counts"][-1] == 2
    assert h["bin_edges"][0] == "1900-01-01" and h["bin_edges"][-1] == "2023-01-01"
    # yearly grain: consecutive bin edges are Jan-1 of successive years
    assert h["bin_edges"][1] == "1903-01-01"  # ceil(123/50)=3-year interval


def test_date_hist_monthly(spark):
    r = profile_table(_date_df(spark, [date(2021, 12, 25), date(2022, 2, 24), date(2022, 2, 26)]), "t")["columns"]["date"]
    h = r["histogram"]
    assert r["min"] == "2021-12-25" and r["max"] == "2022-02-26"
    assert h["counts"][0] == 1 and h["counts"][-1] == 2
    assert h["bin_edges"][0] == "2021-12-01" and h["bin_edges"][-1] == "2022-03-01"


def test_date_hist_daily(spark):
    df = spark.createDataFrame(
        [(datetime(2022, 7, 26, 1, 2, 3),), (datetime(2022, 6, 24),), (datetime(2022, 7, 26),)],
        T.StructType([T.StructField("date", T.TimestampType())]),
    )
    r = profile_table(df, "t")["columns"]["date"]
    h = r["histogram"]
    assert r["min"] == "2022-06-24T00:00:00" and r["max"] == "2022-07-26T01:02:03"
    assert h["counts"][0] == 1 and h["counts"][-1] == 2
    assert h["bin_edges"][0] == "2022-06-24" and h["bin_edges"][-1] == "2022-07-27"


def test_date_hist_single_bin(spark):
    r = profile_table(_date_df(spark, [date(2022, 1, 1), date(2022, 1, 1)]), "t")["columns"]["date"]
    h = r["histogram"]
    assert h["counts"][0] == 2 and h["counts"][-1] == 2
    assert h["bin_edges"][0] == "2022-01-01" and h["bin_edges"][-1] == "2022-01-02"


# ---- empty / one-row / limit / duplicate rows (594-711) --------------------------

def test_empty_table(spark):
    df = spark.createDataFrame([], "num bigint, str string")
    r = profile_table(df, "test")["columns"]
    assert r["num"]["histogram"] is None and r["str"]["topk"] is None


def test_one_row_table(spark):
    df = spark.createDataFrame([(1.0, "hello", None)], "num double, str string, num_empty bigint")
    r = profile_table(df, "test")["columns"]
    assert r["num"]["histogram"]["counts"][0] == 1
    assert r["str"]["topk"]["counts"][0] == 1
    assert r["num_empty"]["histogram"] is None and r["num_empty"]["topk"] is None


def test_limited_row_table(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (None,), (4.0,), (5.0,)], "num double").coalesce(1)
    r = profile_table(df, "test", ProfilerConfig(limit=3))
    c = r["columns"]["num"]
    assert c["min"] == 1.0 and c["max"] == 2.0 and c["avg"] == 1.5
    assert c["total"] == 5 and c["samples"] == 3 and c["nulls"] == 1
    assert r["row_count"] == 5 and r["samples"] == 3 and almost_equal(r["samples_p"], 3 / 5)


@pytest.mark.parametrize(
    "rows,expected",
    [
        ([(1, "aaa", 18), (1, "aaa", 21)], 0),
        ([(1, "aaa", 18), (1, "aaa", 18)], 2),
        ([(1, "aaa", 18), (1, "aaa", 18), (1, "aaa", 18), (2, "bbb", 18), (2, "bbb", 18)], 5),
    ],
)
def test_duplicate_rows(spark, rows, expected):
    df = spark.createDataFrame(rows, "id bigint, name string, age bigint")
    r = profile_table(df, "dup", ProfilerConfig(duplicate_rows=True))
    assert r["duplicate_rows"] == expected


def test_report_shape(spark):
    from piperider_spark.profiler import build_run_report

    df1 = _int_df(spark, [10, 100, 1000, 500, 750])
    report = build_run_report({"t1": df1}, created_at="2026-01-01T00:00:00+00:00")
    assert set(report) >= {"id", "created_at", "datasource", "tables"}
    t = report["tables"]["t1"]
    assert t["name"] == "t1" and t["row_count"] == 5 and t["col_count"] == 1
    col = t["columns"]["col"]
    assert col["type"] == "integer" and "histogram" in col
    # None-stripped: no None values anywhere
    def no_nones(v):
        if isinstance(v, dict):
            return all(x is not None and no_nones(x) for x in v.values())
        if isinstance(v, list):
            return all(no_nones(x) for x in v)
        return True
    assert no_nones(report)


def test_profiler_approx_mode(spark):
    """approx=True: sketch quantiles + sketch distinct from job 1, and
    quantile-only (float, non-topk) columns skip the exact value-counts
    shuffle entirely — the 10^12-row opt-in path (SURVEY §2.4 distinct)."""
    from piperider_spark.profiler.core import ProfilerConfig, profile_table

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    exact = profile_table(df, "orders")
    approx = profile_table(df, "orders", ProfilerConfig(approx=True))
    e = exact["columns"]["o_totalprice"]
    a = approx["columns"]["o_totalprice"]
    # sketch distinct within HLL++ error of exact (rsd 0.02 → ~4 sigma)
    assert abs(a["distinct"] - e["distinct"]) / max(e["distinct"], 1) < 0.08
    for k in ("p5", "p25", "p50", "p75", "p95"):
        assert a[k] is not None
        assert abs(a[k] - e[k]) / max(abs(e[k]), 1) < 0.02
    assert a["min"] == e["min"] and a["max"] == e["max"]
    # quantile-only columns drop the exact-only metrics in approx mode
    assert "non_duplicates" not in a and a.get("histogram") is None
    # integer/string columns keep the exact distribution pass (topk intact)
    assert approx["columns"]["o_custkey"]["non_duplicates"] == \
        exact["columns"]["o_custkey"]["non_duplicates"]


def test_profiler_approx_one_job_numerics_only(spark):
    """A floats-only table in approx mode runs exactly ONE Spark job (the
    fused aggregate) — no value-counts shuffle, no distribution pass."""
    from piperider_spark.profiler.core import ProfilerConfig, profile_table

    df = spark.createDataFrame(
        [(float(i), i / 7.0) for i in range(100)], "x double, y double"
    )
    sc = spark.sparkContext
    sc.setJobGroup("approx-one-job", "approx-one-job")
    try:
        r = profile_table(df, "t", ProfilerConfig(approx=True))
    finally:
        sc.setJobGroup("", "")
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("approx-one-job")
    sites = set()
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                sites.add(si.name.split(" at ")[-1])
    # AQE may split the one action into partial/final scheduler jobs, but
    # every stage must originate from the single fused-agg collect — no
    # value-counts shuffle, no mapInPandas distribution pass.
    assert len(sites) == 1, f"expected one action site, saw {sites}"
    assert r["columns"]["x"]["distinct"] > 0 and r["columns"]["x"]["p50"] is not None


# ---- nested types: struct flatten + array explode (profiler.py:358-418) -----

def test_nested_struct_and_array(spark):
    """STRUCT leaves profile as dot-path columns over the parent row space;
    ARRAY columns profile as their item type over UNNESTED rows with an
    ARRAY<item> schema label (reference profiler.py:358-418, 571-573)."""
    from piperider_spark.profiler.core import profile_table

    df = spark.createDataFrame(
        [
            (1, {"a": 10, "b": "x"}, [1, 2, 2, None], [{"f": 1.5}, {"f": 2.5}]),
            (2, {"a": None, "b": "y"}, [], None),
            (3, {"a": 30, "b": None}, [7], [{"f": None}]),
        ],
        "id int, s struct<a:int, b:string>, arr array<int>, aos array<struct<f:double>>",
    )
    r = profile_table(df, "t")
    cols = r["columns"]
    assert r["col_count"] == 5
    sa = cols["s.a"]
    assert sa["type"] == "integer" and sa["total"] == 3 and sa["non_nulls"] == 2
    assert sa["distinct"] == 2 and sa["min"] == 10 and sa["max"] == 30
    sb = cols["s.b"]
    assert sb["type"] == "string" and sb["non_nulls"] == 2
    arr = cols["arr"]
    assert arr["schema_type"] == "ARRAY<INT>" and arr["type"] == "integer"
    assert arr["total"] == 5 and arr["non_nulls"] == 4  # exploded item space
    assert arr["distinct"] == 3 and arr["duplicates"] == 2
    aosf = cols["aos.f"]
    assert aosf["type"] == "numeric" and aosf["total"] == 3 and aosf["non_nulls"] == 2
    assert aosf["min"] == 1.5 and aosf["max"] == 2.5


def test_nested_only_arrays_keep_table_shape(spark):
    """Array profiling must not disturb table-level row_count."""
    from piperider_spark.profiler.core import profile_table

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a"]), (3, None)], "id int, tags array<string>"
    )
    r = profile_table(df, "t")
    assert r["row_count"] == 3
    tags = r["columns"]["tags"]
    assert tags["total"] == 3 and tags["non_nulls"] == 3 and tags["distinct"] == 2
    assert tags["schema_type"] == "ARRAY<STRING>"
    assert tags["topk"]["values"] == ["a", "b"] and tags["topk"]["counts"] == [2, 1]


# ---- untyped-ingest invalids algebra (reference fixtures 283-309 etc.) ------

def _staged(spark, vals, decl):
    from piperider_spark.profiler.core import ProfilerConfig, profile_table

    df = spark.createDataFrame([(v,) for v in vals], "col string")
    return profile_table(df, "t", ProfilerConfig(declared_types={"col": decl}))[
        "columns"
    ]["col"]


def test_numeric_invalid_untyped(spark):
    """Mirror of reference test_numeric_invalid (tests/profiler/
    test_profiler.py:283-309, minus the sqlite-only blob row): '0' and '0.0'
    both valid and EQUAL (distinct 1), 'abc' invalid."""
    r = _staged(spark, ["0", "0.0", "abc", None], "integer")
    assert r["total"] == 4 and r["non_nulls"] == 3
    assert r["valids"] == 2 and r["invalids"] == 1
    assert r["distinct"] == 1
    assert r["duplicates"] == 2 and r["non_duplicates"] == 0
    assert almost_equal(r["distinct_p"], 1 / 2)
    assert almost_equal(r["invalids_p"], 1 / 4)
    assert r["schema_type"] == "INTEGER" and r["type"] == "integer"


def test_datetime_invalid_untyped(spark):
    """Mirror of reference test_datetime_invalid (424-454, minus blob):
    text parses via timestamp cast, numeric strings via unixepoch, 'abc'
    invalid; '2021-01-01' == '2021-01-01 00:00:00' (distinct collapse)."""
    r = _staged(
        spark,
        ["2021-01-01", "2021-01-01 00:00:00", None, "0", "1.3", "abc", "2021-02-13"],
        "datetime",
    )
    assert r["total"] == 7 and r["non_nulls"] == 6
    assert r["valids"] == 5 and r["invalids"] == 1
    assert r["distinct"] == 4
    assert r["duplicates"] == 2 and r["non_duplicates"] == 3
    assert r["min"].startswith("1970-01-01")


def test_boolean_invalid_untyped(spark):
    """Mirror of reference test_boolean_invalid (486-512, minus blob):
    only 0/1/true/false literals valid; '2.3' and '123' invalid."""
    r = _staged(spark, ["0", "1", "2.3", "1", "123", None], "boolean")
    assert r["total"] == 6 and r["non_nulls"] == 5
    assert r["valids"] == 3 and r["invalids"] == 2
    assert r["distinct"] == 2
    assert r["trues"] == 2 and r["falses"] == 1


def test_string_untyped_always_valid(spark):
    """String staging declared string: no blob case in Spark ⇒ invalids 0
    (reference 802-809: only blobs are invalid for strings)."""
    r = _staged(spark, ["hello", "hello", "hello world", "123", None], "string")
    assert r["valids"] == 4 and r["invalids"] == 0
    assert r["distinct"] == 3


def test_integer_quantiles_beyond_double_precision(spark):
    """Exact percentile_disc on bigint magnitudes beyond 2^53: the double
    representation collapses 2^53+1 onto 2^53, so quantiles must come from
    the int64 path (ADVICE: reference computes percentile_disc on the
    native type)."""
    from piperider_spark.profiler.core import profile_table

    big = 2**53
    df = spark.createDataFrame(
        [(big + 1,), (big + 2,), (big + 3,), (big + 3,)], "col bigint"
    )
    r = profile_table(df, "t")["columns"]["col"]
    assert r["p5"] == big + 1
    assert r["p50"] == big + 2
    assert r["p95"] == big + 3


def test_datetime_untyped_out_of_range_epoch_is_invalid(spark):
    """A millisecond-epoch string (or any numeric beyond year 9999) must
    count as INVALID, not crash the profile at collect() with a
    year-out-of-range error (sqlite's datetime(c,'unixepoch') likewise
    NULLs out-of-range input)."""
    vals = ["2021-01-01"] * 3 + ["1609459200000", None]
    r = _staged(spark, vals, "datetime")
    assert r["non_nulls"] == 4 and r["valids"] == 3 and r["invalids"] == 1
    assert r["max"].startswith("2021-01-01")


def test_integer_untyped_renders_as_integer(spark):
    """Declared-integer staging columns materialize as bigint: integer
    histogram labels / topk / quantiles render as ints, not '2.0'."""
    r = _staged(spark, ["1", "2", "2", "3"], "integer")
    assert r["valids"] == 4 and r["invalids"] == 0
    assert r["min"] == 1 and r["max"] == 3
    assert r["topk"]["values"][0] == "2"  # not '2.0'
    assert r["histogram"]["labels"][0] == "1"
    assert r["p50"] == 2


def test_array_profile_covers_all_items_of_limited_rows(spark):
    """With a row limit, array item metrics cover ALL items of the sampled
    rows (the limit must not be re-applied to exploded item rows)."""
    from piperider_spark.profiler.core import ProfilerConfig, profile_table

    df = spark.createDataFrame(
        [(i, list(range(8))) for i in range(100)], "id int, arr array<int>"
    )
    r = profile_table(df, "t", ProfilerConfig(limit=50))
    arr = r["columns"]["arr"]
    assert arr["total"] == 50 * 8
    assert arr["non_nulls"] == 400 and arr["distinct"] == 8


def test_integer_untyped_exact_beyond_double_precision(spark):
    """Declared-integer staging parses exact bigint FIRST: values beyond
    2^53 keep their exact value, and magnitudes beyond int64 count as
    INVALID (not saturated to Long.MAX)."""
    big = str(2**53 + 1)
    r = _staged(spark, [big, "7", "1e30", None], "integer")
    assert r["valids"] == 2 and r["invalids"] == 1  # 1e30 overflows int64
    assert r["max"] == 2**53 + 1  # exact, not 2^53


def test_report_validates_against_reference_schema(spark):
    """The assembled run.json validates against the reference's OWN strict
    JSON schema (additionalProperties: false throughout) — shape parity is
    checked by the reference's validator, not by our assertions."""
    import json as _json

    from jsonschema import Draft7Validator

    from piperider_spark.profiler.report import build_run_report

    tables = {
        t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        for t in ("orders", "events", "documents")
    }
    report = build_run_report(tables)
    schema = _json.load(open("/root/reference/piperider_cli/profiler/schema.json"))
    errs = list(Draft7Validator(schema).iter_errors(report))
    assert not errs, [e.message for e in errs[:5]]


def test_cardinality_guard_routes_to_approx(spark):
    """Exact mode with a column whose HLL cardinality estimate exceeds
    exact_distribution_cap: that column auto-routes to the sketch path
    (approx distinct + percentile_approx quantiles, no topk/histogram/
    non-dup, ``_distribution_mode`` marker) while the other columns keep
    the exact distribution pass (r2 verdict item 5: the degenerate
    single-task cumsum must be guarded in code, not in a docstring)."""
    from piperider_spark.profiler.core import ProfilerConfig, profile_table

    df = spark.createDataFrame(
        [(float(i) + 0.5, i % 10, f"s{i % 7}") for i in range(5000)],
        "hi double, lo long, s string",
    )
    prof = profile_table(df, "t", ProfilerConfig(exact_distribution_cap=1000))
    hi, lo, s = prof["columns"]["hi"], prof["columns"]["lo"], prof["columns"]["s"]
    # guarded column: sketchy but complete
    assert hi["_distribution_mode"] == "approx" and hi["_quantile_mode"] == "approx"
    assert abs(hi["distinct"] - 5000) / 5000 < 0.2
    assert hi["p50"] is not None and abs(hi["p50"] - 2500.5) < 100
    assert "non_duplicates" not in hi and hi.get("histogram") is None
    # low-cardinality columns unaffected: exact distribution intact
    assert "_distribution_mode" not in lo and lo["distinct"] == 10
    assert lo["non_duplicates"] == 0 and lo["histogram"] is not None
    assert "_distribution_mode" not in s and s["topk"]["counts"][0] > 0
    # default cap never fires at fixture scale
    exact = profile_table(df, "t")
    assert "_distribution_mode" not in exact["columns"]["hi"]
    assert exact["columns"]["hi"]["p50"] == 2499.5  # ceil(0.5*5000)=2500th value


def test_cardinality_guard_markers_stripped_from_report(spark):
    """The underscore diagnostics stay in-memory: run.json (clean_nulls)
    drops them so the reference-schema validation keeps passing."""
    from piperider_spark.profiler.core import ProfilerConfig
    from piperider_spark.profiler.report import build_run_report

    df = spark.createDataFrame(
        [(float(i),) for i in range(2000)], "hi double"
    )
    report = build_run_report(
        {"t": df}, config=ProfilerConfig(exact_distribution_cap=100),
        created_at="2026-01-01T00:00:00+00:00",
    )
    col = report["tables"]["t"]["columns"]["hi"]
    assert "_distribution_mode" not in col and "_quantile_mode" not in col
    assert col["p50"] is not None


def test_uuid_declared_profile(spark):
    """UUID columns: the reference routes warehouse UUID types to
    UUIDColumnProfiler (profiler.py:604-606, 1559-1599) — generic type
    "other" in run.json, counts algebra + distinct only. Spark has no UUID
    type, so the declared-type path stages strings with canonical-form
    regex validity, case-normalized like postgres renders UUIDs."""
    u1 = "123e4567-e89b-12d3-a456-426614174000"
    r = _staged(
        spark,
        [u1, u1.upper(), "00000000-0000-0000-0000-000000000000",
         "not-a-uuid", "123e4567e89b12d3a456426614174000", None],
        "uuid",
    )
    assert r["total"] == 6 and r["non_nulls"] == 5
    # upper/lower forms are the SAME uuid (postgres normalization);
    # missing-hyphen form is invalid under the canonical-form spec
    assert r["valids"] == 3 and r["invalids"] == 2
    assert r["distinct"] == 2
    assert r["type"] == "other" and r["schema_type"] == "UUID"
    # reference UUID result shape: no duplicates/topk/histogram keys
    for absent in ("duplicates", "non_duplicates", "topk", "histogram"):
        assert absent not in r


def test_uuid_inferred_from_strings(spark):
    from piperider_spark.profiler.core import infer_declared_types

    import uuid as uuid_mod

    vals = [str(uuid_mod.UUID(int=i)) for i in range(8)] + ["oops", None]
    df = spark.createDataFrame([(v,) for v in vals], "uid string")
    assert infer_declared_types(df) == {"uid": "uuid"}


def test_uuid_profile_report_validates_reference_schema(spark):
    """A run.json containing a UUID-profiled column must still validate
    against the reference's own schema.json (type lands in the enum as
    'other'; no extra keys)."""
    import jsonschema
    import json as json_mod

    from piperider_spark.profiler.core import ProfilerConfig, Profiler
    from piperider_spark.profiler.report import build_run_report

    u = "123e4567-e89b-12d3-a456-42661417400"
    df = spark.createDataFrame(
        [(u + "0",), (u + "1",), ("bad",), (None,)], "uid string"
    )
    report = build_run_report(
        {"t": df},
        created_at="2026-01-01T00:00:00+00:00",
        config=ProfilerConfig(declared_types={"uid": "uuid"}),
    )
    schema = json_mod.load(
        open("/root/reference/piperider_cli/profiler/schema.json")
    )
    jsonschema.validate(report, schema)
    col = report["tables"]["t"]["columns"]["uid"]
    assert col["type"] == "other" and col["distinct"] == 2


def test_uuid_approx_mode_skips_value_counts(spark):
    """approx mode: uuid columns take sketch distinct from job 1 and skip
    the exact value-counts shuffle (they are typically ~unique — exactly
    the pass approx mode exists to avoid)."""
    from piperider_spark.profiler.core import Profiler, ProfilerConfig

    import uuid as uuid_mod

    vals = [str(uuid_mod.UUID(int=i)) for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "uid string")
    r = Profiler(
        ProfilerConfig(approx=True, declared_types={"uid": "uuid"})
    ).profile_table(df, "t")["columns"]["uid"]
    assert r["type"] == "other" and r["valids"] == 50
    # HLL rsd 0.02 on 50 values: exact-ish but assert a tolerant band
    assert 45 <= r["distinct"] <= 55
    for absent in ("duplicates", "non_duplicates", "topk", "histogram"):
        assert absent not in r


def test_profile_survives_nan_and_sentinel_dates(spark):
    """Review findings, both previously crashed the whole table profile:
    (1) a double column containing a NaN made max() return NaN, which
    json_safe stringified to 'nan' and math.isfinite(str) raised
    TypeError; (2) a datetime column of far-future sentinel dates
    (9999-12-31) clamped only dmax to year 3000, producing a negative
    bucket count (np.bincount ValueError) or a ZeroDivisionError. Both
    columns must now profile, with the histogram skipped/clamped."""
    import datetime as _dt

    from piperider_spark.profiler.core import profile_table

    rows = [
        (float("nan"), _dt.datetime(9999, 12, 31), 1.0),
        (2.5, _dt.datetime(9999, 12, 31), 2.0),
        (3.5, _dt.datetime(9999, 12, 31), float("inf")),
    ]
    df = spark.createDataFrame(rows, "x double, d timestamp, y double")
    rep = profile_table(df, "weird")
    assert rep["row_count"] == 3
    # NaN/inf columns: stats exist, histogram skipped (non-finite bounds)
    assert rep["columns"]["x"]["non_nulls"] == 3
    assert "histogram" not in rep["columns"]["x"] or not rep["columns"]["x"].get("histogram")
    assert rep["columns"]["y"]["non_nulls"] == 3
    # sentinel dates: profiled without a crash
    assert rep["columns"]["d"]["non_nulls"] == 3


def test_metric_series_truncates_user_bounds(spark):
    """Review finding: user-supplied start/end were not grain-truncated,
    so the spine misaligned with the truncated aggregate keys and the
    additive zero-fill reported an all-zero series despite data."""
    from datetime import date

    import pandas as pd

    from piperider_spark.operators.metrics_engine import metric_series

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2026-01-03", "2026-02-10", "2026-03-20"]),
            "v": [1.0, 2.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = metric_series(
        df, "ts", "v", "sum", "month", start=date(2026, 1, 15), end=date(2026, 3, 15)
    )
    rows = {r.d: r.value for r in out.collect()}
    assert rows == {
        date(2026, 1, 1): 1.0,
        date(2026, 2, 1): 2.0,
        date(2026, 3, 1): 3.0,
    }


def test_report_symlink_id_and_stamp_fixes(spark, tmp_path, monkeypatch):
    """Review findings: (1) the `latest` symlink target was the
    cwd-relative run_dir, dangling for relative output dirs; (2) two
    same-second runs shared a dir and the second clobbered the first;
    (3) the run id came from python's salted str hash (irreproducible
    across processes, collides for equal created_at)."""
    import json
    import os

    from piperider_spark.profiler.report import build_run_report, write_run_json

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    monkeypatch.chdir(tmp_path)
    r1 = build_run_report({"t": df}, created_at="2026-08-21T01:02:03.111111+00:00")
    r2 = build_run_report({"t": df}, created_at="2026-08-21T01:02:03.222222+00:00")
    p1 = write_run_json(r1, "out")  # RELATIVE output dir
    p2 = write_run_json(r2, "out")
    assert p1 != p2  # same-second runs no longer share a dir
    latest = os.path.join("out", "latest")
    assert os.path.islink(latest)
    with open(os.path.join(latest, "run.json")) as fh:  # must not dangle
        assert json.load(fh)["id"] == r2["id"]
    # stable ids: same inputs -> same id; different created_at -> different
    r1b = build_run_report({"t": df}, created_at="2026-08-21T01:02:03.111111+00:00")
    assert r1b["id"] == r1["id"] and r1["id"] != r2["id"]


def test_csv_reader_user_options_override(spark, tmp_path):
    """Review finding: a user 'header' option crashed with 'got multiple
    values for keyword argument' instead of overriding the default."""
    from piperider_spark.sources.registry import DataSource

    p = tmp_path / "t.csv"
    p.write_text("1,foo\n2,bar\n")
    ds = DataSource("s", path=str(tmp_path), options={"header": "false", "inferSchema": "false"})
    df = ds.read_table(spark, "t")
    assert df.count() == 2  # headerless read keeps both rows

    # duplicate basenames list once
    (tmp_path / "t.json").write_text('{"a": 1}\n')
    assert DataSource("s", path=str(tmp_path)).list_tables(spark) == ["t"]


def test_bare_table_name_with_extension_uses_its_format(spark, tmp_path):
    """A table named with its own extension ("events.csv") reads in that
    extension's format, not the source's parquet default."""
    from piperider_spark.sources.registry import DataSource

    (tmp_path / "events.csv").write_text("a,b\n1,x\n2,y\n3,z\n")
    ds = DataSource("s", path=str(tmp_path))
    assert ds.fmt == "parquet"
    assert ds._resolve("events.csv") == (str(tmp_path / "events.csv"), "csv")
    df = ds.read_table(spark, "events.csv")
    assert df.columns == ["a", "b"]
    assert df.count() == 3


# ---- identifier quoting, driver cost, background array pass ----------------

def test_profile_quotes_backtick_and_dotted_names(spark):
    """Column names are quoted as identifiers everywhere: a backtick inside
    a name is doubled, a dot is part of the name, and struct leaves named
    either way profile like any other column."""
    schema = T.StructType([
        T.StructField("x`y", T.StringType()),
        T.StructField("p.q", T.LongType()),
        T.StructField("s", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("k`z", T.StringType()),
        ])),
    ])
    rows = [("a", 1, (1, "u")), ("a", 2, (2, "v")), ("b", None, (2, None)), (None, 3, None)]
    cols = profile_table(spark.createDataFrame(rows, schema), "t")["columns"]
    expect = {"x`y": (3, 2), "p.q": (3, 3), "s.a": (3, 2), "s.k`z": (2, 2)}
    assert {n: (cols[n]["non_nulls"], cols[n]["distinct"]) for n in expect} == expect


def _py4j_commands(spark, monkeypatch, n_cols: int) -> int:
    from py4j.clientserver import ClientServerConnection

    df = spark.range(0, 200, 1, 1).selectExpr(*[f"id % {i + 2} AS c{i}" for i in range(n_cols)])
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        profile_table(df, "t")
    return calls[0]


def test_profile_driver_commands_per_column(spark, monkeypatch):
    """Both passes are planned from SQL text: each extra profiled column
    costs a few py4j commands on the driver, not one per Column call."""
    narrow = _py4j_commands(spark, monkeypatch, 10)
    wide = _py4j_commands(spark, monkeypatch, 40)
    assert (wide - narrow) / 30 <= 50, (narrow, wide)


def test_array_pass_keeps_callers_job_group_and_joins(spark):
    """The background array pass runs every job under the caller's job
    group, and no thread outlives the call."""
    import threading

    sc = spark.sparkContext
    st = sc.statusTracker()

    def marker(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(st.getJobIdsForGroup(group))

    df = spark.createDataFrame(
        [(i, [f"t{i % 3}", "x"]) for i in range(200)], "id int, tags array<string>"
    )
    threads = threading.active_count()
    first = marker("before-array-profile")
    sc.setJobGroup("array-profile", "array profile job group")
    try:
        r = profile_table(df, "t")
    finally:
        last = marker("after-array-profile")
        sc.setJobGroup("", "")
    assert threading.active_count() == threads
    started = set(range(first + 1, last))
    assert started and set(st.getJobIdsForGroup("array-profile")) == started
    tags = r["columns"]["tags"]
    assert tags["total"] == 400 and tags["distinct"] == 4
    assert list(r["columns"]) == ["id", "tags"]


def test_array_pass_failure_surfaces_and_joins(spark, monkeypatch):
    """An error in the background array pass raises from profile_table, and
    its thread is gone when it does."""
    import threading

    from piperider_spark.profiler import core

    def failing(*args, **kwargs):
        raise RuntimeError("injected array profile failure")

    monkeypatch.setattr(core, "_profile_arrays", failing)
    df = spark.createDataFrame([(1, ["a"]), (2, None)], "id int, tags array<string>")
    threads = threading.active_count()
    with pytest.raises(RuntimeError, match="injected array profile failure"):
        profile_table(df, "t")
    assert threading.active_count() == threads
