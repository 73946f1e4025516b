"""Column profiler: PipeRider's metrics engine rebuilt as fused Spark jobs.

The reference emits 4-5 SQL statements *per column* (combined aggregates,
non-duplicates, top-k, histogram, quantiles — piperider_cli/profiler/
profiler.py:765-1030) and fans them out over a 5-thread pool. Spark lets us
do radically better at scale — this module profiles an entire table in TWO
actions (one table scan + one value-counts shuffle; under AQE the scheduler
splits them into about five jobs), regardless of column count:

  job 1  one aggregate ``selectExpr`` computing every per-column scalar
         aggregate (counts, min/max/avg/sum/stddev, flag counts, length
         stats) in a single scan — manual aggregate fusion taken to its
         limit (reference does this per column at profiler.py:827-852;
         Catalyst gives partial aggregation free).
  job 2  one ``stack(...)`` generator + ``groupBy(col_idx, value)`` over
         all profiled columns (the only other shuffle), then ONE
         ``mapInPandas`` pass over the per-value counts computing distinct /
         non-duplicates / top-k / exact percentile_disc quantiles / every
         histogram at once: all distribution metrics are functions of the
         value counts, and per column those fit in one python worker where
         sort/cumsum/bincount are single C calls. (Reference: 3-4 more
         statements per column — profiler.py:1620-1758, 1646-1728,
         1034-1196.)

Both passes are planned from SQL text, one JVM call per pass: building the
same expressions as pyspark ``Column`` objects costs hundreds of py4j round
trips per profiled column on the driver. ARRAY columns are profiled over
their exploded items on one background thread that starts before job 1, so
their passes overlap the table's own.

At 100 TB the dominant cost is the scan; 2 scans total vs 4-5 scans/column
is the difference between feasible and not. Metric semantics (bucket math,
label formatting, valids/invalids algebra, percentile_disc) replicate the
reference exactly — golden-value fixtures from the reference's own test
suite assert the numbers. The one scale caveat: a single column's distinct
values must fit one worker (~10^8 values); beyond that, ``approx=True``
switches distinct/quantiles to the sketch-based one-job path, same as the
reference's approx branches on redshift/athena (profiler.py:1163-1173).
"""

from __future__ import annotations

import decimal as _decimal
import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from piperider_spark.profiler.formatting import format_float, json_safe, percentage

HISTOGRAM_NUM_BUCKET = 50  # reference: profiler.py:27
TOPK_K = 50  # reference: profiler.py:1620


@dataclass
class ProfilerConfig:
    limit: int = 0                 # row-limit sampling (profiler.py:720-731)
    duplicate_rows: bool = False   # off by default, "time costing" (docs/config.md:29-35)
    approx: bool = False           # opt-in approx distinct/quantiles for 10^12-row scale
    # Safety valve for the exact distribution pass: job 2's per-column
    # value-count set must fit one python worker. Job 1 estimates a column's
    # cardinality with a cheap HLL; columns whose estimate exceeds this cap
    # are auto-routed to the sketch path (approx distinct + percentile_approx
    # quantiles, no topk/histogram/non-dup) and tagged
    # ``_distribution_mode: "approx"`` — instead of relying on callers
    # reading the scale caveat in this module's docstring. 5×10^7 distinct
    # (value, count) pairs ≈ a few GB in the pandas worker: safely below the
    # ~10^8 practical ceiling, far above any column exact fixtures profile.
    exact_distribution_cap: int = 50_000_000
    # Untyped-ingest validity: {column: declared generic type}. For STRING
    # staging columns (CSV/JSON ingest) the declared type drives a try_cast
    # validity transform — the reference's sqlite dynamic-typing algebra
    # (valids = count(casted), invalids = non_nulls − valids,
    # profiler.py:748-750; per-type rules at 802-809, 931-939, 1296-1305,
    # 1503-1511). Typed columns ignore their entry (invalids ≡ 0).
    declared_types: dict[str, str] | None = None


def classify_type(dt: T.DataType) -> tuple[str, bool]:
    """Map a Spark type to the reference's six generic types
    (profiler.py:567-615). Returns (generic_type, is_integer)."""
    if isinstance(dt, T.StringType):
        return "string", False
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer", True
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "numeric", False
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "datetime", False
    if isinstance(dt, T.BooleanType):
        return "boolean", False
    return "other", False


def _q(name: str) -> str:
    """SQL identifier for a literal column name or alias: backtick-quoted,
    inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _fc(name: str):
    """Column ref by literal (possibly dotted) top-level name."""
    return F.col(_q(name))


def flatten_schema(df: DataFrame) -> tuple[DataFrame, list[tuple[str, Any]]]:
    """Flatten STRUCT columns into dot-path leaf columns and collect ARRAY
    columns for the exploded pass (reference: BigQuery UNNEST CTE chain,
    profiler.py:358-418 — structs become `a.b` leaves over the SAME row
    space; arrays are profiled as their item type over UNNESTED rows).

    Returns (flat_df, arrays) where arrays is [(dot_path, Column)]. MAP
    columns stay as-is (classified "other" — the reference has no map
    type). The flatten is a pure projection: no shuffle, and Catalyst
    prunes unreferenced struct fields at the scan. A schema with no STRUCT
    or ARRAY column is returned as is, without building any Column.
    """
    fields = df.schema.fields
    if not any(isinstance(f.dataType, (T.StructType, T.ArrayType)) for f in fields):
        return df, []
    flat_cols: list = []
    arrays: list[tuple[str, Any]] = []

    def walk(path: str, dt: T.DataType, col) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                walk(f"{path}.{f.name}", f.dataType, col.getField(f.name))
        elif isinstance(dt, T.ArrayType):
            arrays.append((path, col))
        else:
            flat_cols.append(col.alias(path))

    for f in fields:
        walk(f.name, f.dataType, _fc(f.name))
    return df.select(*flat_cols), arrays


_ORIG_SUFFIX = "::orig"


def infer_declared_types(
    df: DataFrame, sample: int = 10_000, threshold: float = 0.5
) -> dict[str, str]:
    """Majority-vote type sniffing for an all-string staging DataFrame (the
    CSV/JSON untyped-ingest analogue of read_csv_auto's detection — dirty
    cells must NOT flip a column to string, they become `invalids`).

    One aggregate over a bounded sample computes per-column parse counts
    for each candidate type; the winner is the first candidate (boolean →
    integer → numeric → datetime) whose parse rate among non-null cells
    clears ``threshold``. Boolean additionally requires at least one
    literal true/false (otherwise 0/1 columns type as integer, matching
    the usual sniffer conventions).
    """
    str_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    if not str_cols:
        return {}
    s = df.limit(sample)
    exprs = []
    for name in str_cols:
        c = _fc(name)
        low = F.lower(F.trim(c))
        exprs += [
            F.count(c).alias(f"{name}::nn"),
            F.count(c.try_cast("bigint")).alias(f"{name}::int"),
            F.count(c.try_cast("double")).alias(f"{name}::num"),
            F.count(_valid_expr(c, "datetime")).alias(f"{name}::dt"),
            F.count(_valid_expr(c, "boolean")).alias(f"{name}::bool"),
            F.count_if(low.isin("true", "false")).alias(f"{name}::tf"),
            F.count(_valid_expr(c, "uuid")).alias(f"{name}::uuid"),
        ]
    row = s.agg(*exprs).collect()[0].asDict()
    out: dict[str, str] = {}
    for name in str_cols:
        nn = row[f"{name}::nn"]
        if not nn:
            continue
        need = threshold * nn
        if row[f"{name}::tf"] > 0 and row[f"{name}::bool"] >= need:
            out[name] = "boolean"
        elif row[f"{name}::int"] >= need:
            out[name] = "integer"
        elif row[f"{name}::num"] >= need:
            out[name] = "numeric"
        elif row[f"{name}::dt"] >= need and row[f"{name}::dt"] > row[f"{name}::num"]:
            out[name] = "datetime"
        elif row[f"{name}::uuid"] >= need:
            # disjoint from every parse above (a canonical UUID is neither a
            # number, a datetime, nor a boolean literal), so order is safe
            out[name] = "uuid"
    return out


def _valid_expr(c, declared: str):
    """Validity transform for a string staging column, mirroring the
    reference's sqlite dynamic-typing rules (NULL ⇒ invalid):

    * integer — try_cast via double (accepts '0' and '0.0' like sqlite's
      int/real typeof pass-through; rejects text — profiler.py:931-939),
      then to bigint so integer columns render as integers (labels, topk,
      int64-exact quantiles). Fractional strings truncate toward zero —
      a documented divergence from sqlite, the only reference backend
      where a real can sit in an integer column at all.
    * numeric — try_cast to double.
    * datetime — text parse first, then unixepoch for numeric strings
      (datetime(c) / datetime(c,'unixepoch'), profiler.py:1296-1305).
      The epoch branch is range-bounded to years 1..9999 — sqlite's
      datetime(c,'unixepoch') likewise NULLs out-of-range input, and an
      unbounded value (e.g. a millisecond-epoch string) would otherwise
      crash the profile at collect() with a year-out-of-range error.
    * boolean — only literal true/false/1/0 (profiler.py:1503-1511).
    * string — text staging is always valid text (only sqlite blobs are
      invalid for strings, profiler.py:802-809; Spark strings have no blob
      case).
    """
    if declared == "integer":
        # exact bigint parse FIRST — routing everything through double
        # would corrupt integer strings beyond 2^53; the double leg exists
        # only for the '0.0' real pass-through, range-guarded so overflow
        # counts as invalid instead of saturating to Long.MAX
        d = c.try_cast("double")
        bounded = F.when(
            (d >= -9.223372036854775e18) & (d <= 9.223372036854775e18), d
        ).try_cast("bigint")
        return F.coalesce(c.try_cast("bigint"), bounded)
    if declared == "numeric":
        return c.try_cast("double")
    if declared == "datetime":
        d = c.try_cast("double")
        epoch = F.when(
            (d >= -62135596800) & (d <= 253402300799), F.timestamp_seconds(d)
        )
        return F.coalesce(c.try_cast("timestamp"), epoch)
    if declared == "boolean":
        low = F.lower(F.trim(c))
        return F.when(low.isin("1", "true"), F.lit(True)).when(
            low.isin("0", "false"), F.lit(False)
        )
    if declared == "uuid":
        # canonical 8-4-4-4-12 hex form, case-insensitive, normalized to
        # lowercase like postgres's UUID type renders it. The reference
        # routes UUID-typed warehouse columns to UUIDColumnProfiler
        # (profiler.py:604-606, 1559-1599) where the type system makes every
        # non-null valid; Spark has no UUID type, so string staging + regex
        # validity is the untyped-ingest analog (invalids = malformed).
        return F.when(
            c.rlike(
                "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
                "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
            ),
            F.lower(c),
        )
    return c


# ---------------------------------------------------------------------------
# job 1: fused aggregate exprs
# ---------------------------------------------------------------------------

_QUANTILES = (0.05, 0.25, 0.50, 0.75, 0.95)
_QKEYS = ("p5", "p25", "p50", "p75", "p95")


def _percentile_approx(c: str) -> str:
    """percentile_approx of the identifier ``c`` at every _QUANTILES point."""
    points = ", ".join(f"{p!r}D" for p in _QUANTILES)
    return f"percentile_approx({c}, array({points}), 10000)"


def _agg_exprs(col: str, generic: str, approx: bool, guard: bool = True) -> list[str]:
    """Job 1's aggregates for one column as SQL text, each aliased
    ``<col>::<key>``."""
    c = _q(col)

    def agg(expr: str, key: str) -> str:
        return f"{expr} AS {_q(f'{col}::{key}')}"

    exprs = [agg(f"count({c})", "non_nulls")]
    if generic == "uuid" and approx:
        # approx mode: uuid columns are typically ~unique — sketch their
        # distinct in job 1 and skip the exact value-counts shuffle
        # entirely (they join skip_vc like quantile-only numerics)
        exprs.append(agg(f"approx_count_distinct({c}, 0.02D)", "approx_distinct"))
    if guard and not approx and generic in ("string", "integer", "numeric", "datetime", "uuid"):
        # cheap HLL cardinality estimate feeding the exact-distribution
        # guard (ProfilerConfig.exact_distribution_cap) — boolean/other
        # columns are bounded/skipped and need none
        exprs.append(agg(f"approx_count_distinct({c}, 0.05D)", "acd"))
    if generic == "string":
        ln = f"length({c})"
        exprs += [
            agg(f"count_if({ln} = 0)", "zero_length"),
            agg(f"avg({ln})", "avg"),
            agg(f"min({ln})", "min"),
            agg(f"max({ln})", "max"),
            agg(f"stddev({ln})", "stddev"),
        ]
    elif generic in ("integer", "numeric"):
        exprs += [
            agg(f"count_if({c} = 0)", "zeros"),
            agg(f"count_if({c} < 0)", "negatives"),
            agg(f"sum(CAST({c} AS DOUBLE))", "sum"),
            agg(f"avg({c})", "avg"),
            agg(f"min({c})", "min"),
            agg(f"max({c})", "max"),
            agg(f"stddev(CAST({c} AS DOUBLE))", "stddev"),
        ]
        if approx:
            exprs += [
                agg(_percentile_approx(c), "quantiles"),
                # sketch distinct so quantile-only columns can skip the exact
                # value-counts job entirely (the 10^12-row escape hatch —
                # reference approx branches, profiler.py:1163-1173)
                agg(f"approx_count_distinct({c}, 0.02D)", "approx_distinct"),
            ]
        # exact quantiles (the reference's percentile_disc default branch,
        # profiler.py:1184-1186) are NOT aggregated here: five builtin
        # percentile_disc calls buffer the column five times over. They are
        # derived from job 2's value counts instead (one cumulative-rank
        # window over already-shuffled (value, count) pairs — see
        # operators/quantiles.py for the standalone variant).
    elif generic == "datetime":
        exprs += [agg(f"min({c})", "min"), agg(f"max({c})", "max")]
    elif generic == "boolean":
        exprs += [agg(f"count_if({c} = true)", "trues")]
    return exprs


# ---------------------------------------------------------------------------
# job 2: fused value counts (distinct / non-duplicates / top-k)
# ---------------------------------------------------------------------------


def _value_counts(
    df: DataFrame, cols: list[str], numeric: set[str], topk_cols: set[str]
) -> DataFrame:
    """One ``stack`` generator + groupBy over the values of every profiled
    column: each input row yields one (ci, v, vn) row per column.

    Each value carries up to two representations: `v` (string — only for
    columns whose values are *rendered*, i.e. top-k candidates and
    datetimes; stringification is injective per type, and the reference
    stringifies top-k output anyway, profiler.py:1636-1638) and `vn`
    (double — only for numeric columns, feeding the exact-quantile
    derivation). Non-top-k numeric columns skip the string cast entirely:
    double→string rendering across millions of values is pure overhead for
    a column that only needs distinct/quantile math."""
    rows = []
    for i, c in enumerate(cols):
        v = _q(c) if (c in topk_cols or c not in numeric) else "NULL"
        vn = _q(c) if c in numeric else "NULL"
        rows.append(f"{i}, CAST({v} AS STRING), CAST({vn} AS DOUBLE)")
    pairs = df.selectExpr(f"stack({len(cols)}, {', '.join(rows)}) AS (ci, v, vn)").where(
        "v IS NOT NULL OR vn IS NOT NULL"
    )
    return pairs.groupBy("ci", "v", "vn").agg(F.count(F.lit(1)).alias("cnt"))



# ---------------------------------------------------------------------------
# job 3: fused histograms
# ---------------------------------------------------------------------------


def _numeric_bucket_plan(vmin: float, vmax: float, is_integer: bool) -> tuple[float, int]:
    """Interval + bucket-count rule, replicated from profiler.py:1655-1663."""
    nb = HISTOGRAM_NUM_BUCKET
    if is_integer:
        interval = math.ceil((vmax - vmin) / nb) if vmax > vmin else 1
        nb = math.ceil((vmax - vmin + 1) / interval)
    else:
        interval = (vmax - vmin) / nb if vmax > vmin else 1
    return interval, nb



def _numeric_histogram_shell(vmin, vmax, interval: float, nb: int, is_integer: bool) -> dict:
    """Labels / bin_edges, replicated from profiler.py:1690-1716."""
    labels, counts, bin_edges = [], [], []
    for i in range(nb):
        if is_integer:
            start = vmin + i * interval
            end = vmin + (i + 1) * interval
            label = f"{start}" if interval == 1 else f"{start} _ {end}"
        else:
            if interval >= 1:
                start = vmin + i * interval
                end = vmin + (i + 1) * interval
            else:
                start = vmin + i / (1 / interval)
                end = vmin + (i + 1) / (1 / interval)
            label = f"{format_float(start)} _ {format_float(end)}"
        labels.append(label)
        counts.append(0)
        bin_edges.append(start)
        if i == nb - 1:
            bin_edges.append(end)
    return {"labels": labels, "counts": counts, "bin_edges": bin_edges}


def _relativedelta():
    from dateutil.relativedelta import relativedelta

    return relativedelta


def _datetime_bucket_plan(vmin, vmax) -> dict:
    """Grain choice + edges, replicating profiler.py:1421-1454: yearly above
    4 years (interval = ceil(years/50)), monthly above 60 days, else daily."""
    relativedelta = _relativedelta()
    if isinstance(vmin, datetime):
        vmin_d, vmax_d = vmin.date(), vmax.date() if isinstance(vmax, datetime) else vmax
    else:
        vmin_d, vmax_d = vmin, vmax
    if isinstance(vmax, datetime):
        vmax_d = vmax.date()
    # The year-3000 cap applies to BOTH edges: a column of far-future
    # sentinel dates (9999-12-31 is common) previously clamped only dmax,
    # yielding a NEGATIVE bucket count (np.bincount ValueError in the
    # executor) or a ZeroDivisionError in the yearly branch when
    # dmin.year >= 3000 (review finding, both reproduced).
    if vmin_d.year >= 3000:
        vmin_d = date(2999, 12, 31)
    if vmax_d < vmin_d:
        vmax_d = vmin_d
    days_delta = (vmax_d - vmin_d).days

    if days_delta > 365 * 4:
        grain = "yearly"
        dmin = date(vmin_d.year, 1, 1)
        dmax = date(vmax_d.year, 1, 1) + relativedelta(years=+1) if vmax_d.year < 3000 else date(3000, 1, 1)
        k = max(math.ceil((dmax.year - dmin.year) / HISTOGRAM_NUM_BUCKET), 1)
        interval = relativedelta(years=+k)
        nb = max(math.ceil((dmax.year - dmin.year) / k), 1)
    elif days_delta > 60:
        grain = "monthly"
        interval = relativedelta(months=+1)
        dmin = date(vmin_d.year, vmin_d.month, 1)
        dmax = date(vmax_d.year, vmax_d.month, 1) + interval if vmax_d.year < 3000 else date(3000, 1, 1)
        period = relativedelta(dmax, dmin)
        nb = max(period.years * 12 + period.months, 1)
    else:
        grain = "daily"
        interval = relativedelta(days=+1)
        dmin = vmin_d
        dmax = vmax_d + interval if vmax_d.year < 3000 else date(3000, 1, 1)
        nb = max((dmax - dmin).days, 1)
    return {"grain": grain, "dmin": dmin, "interval": interval, "nb": nb}



def _datetime_histogram_shell(plan: dict) -> dict:
    labels, counts, bin_edges = [], [], []
    dmin, interval, nb = plan["dmin"], plan["interval"], plan["nb"]
    for i in range(nb):
        labels.append(f"{dmin + i * interval} - {dmin + (i + 1) * interval}")
        bin_edges.append(str(dmin + i * interval))
        counts.append(0)
    bin_edges.append(str(dmin + nb * interval))
    return {"labels": labels, "counts": counts, "bin_edges": bin_edges}


# ---------------------------------------------------------------------------
# job 2b: one python pass over the value counts for distribution stats
# ---------------------------------------------------------------------------


def _distribution_pass(
    vc: DataFrame,
    topk_ci: set[int],
    quantile_ci: set[int],
    hist_plans: dict[int, tuple],
    int_ci: set[int] | None = None,
) -> dict[int, dict]:
    """distinct / non-duplicates / top-k / exact quantiles / histograms for
    every column from ONE repartition("ci") + mapInPandas over the
    (ci, v, vn, cnt) value counts.

    Replaces three window/aggregate jobs plus job 3's extra full-table scan:
    all distribution metrics are functions of the per-value counts, and per
    column those fit comfortably in one python worker (≤ #distinct values),
    where sorting/cumsum/binning are single C calls. hist_plans[ci] is one
    of ("numeric", vmin, interval, nb, last_bound), ("length", lmin,
    interval, nb), ("datetime", grain, dmin_iso, k, nb).
    """
    import json as _json
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dfs = list(batches)
        if not dfs:
            return
        pdf = pd.concat(dfs, ignore_index=True)
        out_rows = []
        for ci, g in pdf.groupby("ci", sort=False):
            stats: dict = {
                "distinct": int(len(g)),
                "non_dup": int((g["cnt"] == 1).sum()),
            }
            if ci in topk_ci:
                top = g.sort_values(
                    ["cnt", "v"], ascending=[False, True], kind="mergesort"
                ).head(TOPK_K)
                stats["topk_v"] = top["v"].tolist()
                stats["topk_c"] = [int(c) for c in top["cnt"]]
            if ci in quantile_ci:
                # integer columns: quantiles from the exact string rendering
                # parsed as int64 — the double `vn` loses precision beyond
                # 2^53, diverging from the reference's exact percentile_disc
                # on the native type. Fallback to the double path for
                # int-typed columns whose values aren't int64-parsable
                # (declared-integer staging renders as '0.0').
                vals = cnts_q = None
                if int_ci and ci in int_ci:
                    gg = g.dropna(subset=["v"])
                    try:
                        vals_i = gg["v"].astype(np.int64).to_numpy()
                    except (ValueError, TypeError):
                        vals_i = None
                    if vals_i is not None and len(vals_i):
                        order = np.argsort(vals_i, kind="stable")
                        vals = vals_i[order]
                        cnts_q = gg["cnt"].to_numpy()[order]
                if vals is None:
                    gg = g.dropna(subset=["vn"]).sort_values("vn", kind="mergesort")
                    if len(gg):
                        vals = gg["vn"].to_numpy()
                        cnts_q = gg["cnt"].to_numpy()
                if vals is not None and len(vals):
                    cum = cnts_q.cumsum()
                    n = int(cum[-1])
                    qs = []
                    for p in _QUANTILES:
                        k = math.ceil(p * n)
                        v = vals[np.searchsorted(cum, k, side="left")]
                        qs.append(int(v) if isinstance(v, np.integer) else float(v))
                    stats["quantiles"] = qs
            plan = hist_plans.get(ci)
            if plan is not None:
                kind = plan[0]
                if kind in ("numeric", "length"):
                    if kind == "numeric":
                        _k, vmin, interval, nb, last_bound = plan
                        vals = g["vn"].to_numpy(dtype=float)
                        cnts = g["cnt"].to_numpy()
                        mask = ~np.isnan(vals)
                        vals, cnts = vals[mask], cnts[mask]
                    else:
                        _k, vmin, interval, nb, last_bound = plan
                        vals = g["v"].str.len().to_numpy(dtype=float)
                        cnts = g["cnt"].to_numpy()
                    # reference bucket rule incl. float boundary correction
                    # and last-bucket slack (profiler.py:1665-1670)
                    pos = (vals - vmin) / interval
                    b = np.floor(pos)
                    lower = vmin + interval * b
                    upper = vmin + interval * (b + 1)
                    b = np.where(vals < lower, b - 1, np.where(vals >= upper, b + 1, b))
                    b = np.where(b < 0, 0, b)
                    over = b >= nb
                    keep_over = over & (vals < last_bound)
                    b = np.where(keep_over, nb - 1, b)
                    sel = (~over) | keep_over
                    counts = np.bincount(
                        b[sel].astype(np.int64), weights=cnts[sel], minlength=nb
                    )
                    stats["hist"] = [int(c) for c in counts]
                elif kind == "datetime":
                    _k, grain, dmin_iso, kyears, nb = plan
                    dts = pd.to_datetime(g["v"], format="mixed", errors="coerce")
                    cnts = g["cnt"].to_numpy()
                    mask = dts.notna().to_numpy()
                    dts = dts[mask]
                    cnts = cnts[mask]
                    dmin = pd.Timestamp(dmin_iso)
                    if grain == "yearly":
                        b = np.floor((dts.dt.year.to_numpy() - dmin.year) / kyears)
                    elif grain == "monthly":
                        b = (dts.dt.year.to_numpy() - dmin.year) * 12 + (
                            dts.dt.month.to_numpy() - dmin.month
                        )
                    else:
                        b = (
                            dts.dt.normalize() - dmin
                        ).dt.days.to_numpy()
                    b = np.clip(b.astype(np.int64), 0, nb - 1)
                    counts = np.bincount(b, weights=cnts, minlength=nb)
                    stats["hist"] = [int(c) for c in counts]
            out_rows.append({"ci": int(ci), "stats": _json.dumps(stats)})
        if out_rows:
            yield pd.DataFrame(out_rows)

    import json

    rows = vc.repartition("ci").mapInPandas(fn, "ci int, stats string").collect()
    return {r["ci"]: json.loads(r["stats"]) for r in rows}


# ---------------------------------------------------------------------------
# orchestration
# ---------------------------------------------------------------------------


def _iso(v) -> str | None:
    if v is None:
        return None
    return v.isoformat()


def _profile_arrays(
    src_df: DataFrame, array_cols: list[tuple[str, Any]], cfg: ProfilerConfig, table_name: str
) -> dict[str, dict]:
    """Profile each ARRAY column as its item type over its exploded rows,
    one after another (one pruned-scan job pair per array column — the scan
    reads only that column). `total`/`samples` for these columns are the
    ITEM counts, exactly the reference's per-column UNNEST-CTE semantics;
    arrays-of-struct recurse into `path.field` leaves."""
    # limit=0: src_df is already row-limited, and item metrics must cover
    # ALL items of the sampled rows — re-applying the limit to exploded item
    # rows would under-sample arrays. The caller's cardinality-guard settings
    # propagate: the sub-profile must honor an explicit exact_distribution_cap
    # (review finding: it silently reverted to the default, so a
    # high-cardinality array column ran the exact pass the caller had routed
    # to the sketch). declared_types stays out: typed array items never go
    # through untyped staging.
    sub = Profiler(
        ProfilerConfig(
            limit=0,
            duplicate_rows=False,
            approx=cfg.approx,
            exact_distribution_cap=cfg.exact_distribution_cap,
        )
    )
    columns: dict[str, dict] = {}
    for path, arr_col in array_cols:
        exploded = src_df.select(F.explode(arr_col).alias(path))
        prof = sub._profile(exploded, f"{table_name}.{path}", background=False)
        for cname, cprof in prof["columns"].items():
            if cname == path:  # array of scalars: ARRAY<item> label
                cprof["schema_type"] = f"ARRAY<{cprof['schema_type']}>"
            columns[cname] = cprof
    return columns


class Profiler:
    def __init__(self, config: ProfilerConfig | None = None):
        self.config = config or ProfilerConfig()

    def profile_table(self, df: DataFrame, table_name: str) -> dict[str, Any]:
        return self._profile(df, table_name, background=True)

    def _profile(self, df: DataFrame, table_name: str, background: bool) -> dict[str, Any]:
        """profile_table's body. With ``background`` the ARRAY columns are
        profiled on a background thread; the array sub-profiles pass False,
        so at most one background action is in flight per call."""
        cfg = self.config
        if cfg.limit and cfg.limit > 0:
            row_count = df.count()
            samples, samples_p = row_count, 1
            if row_count > cfg.limit:
                df = df.limit(cfg.limit)
                samples = cfg.limit
                samples_p = percentage(cfg.limit, row_count)
        else:
            row_count = None  # no limit ⇒ row_count == job 1's total (saves a scan)
            samples, samples_p = None, 1

        # Nested types: STRUCT leaves flatten to `a.b` columns over the same
        # row space; ARRAY columns are profiled as their item type over the
        # exploded rows in a recursive pass (reference UNNEST flatten,
        # profiler.py:358-418, 571-573). The explode source keeps the limit.
        src_df = df
        df, array_cols = flatten_schema(df)

        # The array pass reads only its own columns and needs nothing from
        # jobs 1-2, so it starts first, on one thread, and overlaps them.
        # The target is wrapped in the caller's thread so its jobs keep the
        # caller's job group; leaving the `with` joins the thread on every
        # exit, and a failure in it raises here through result().
        with ThreadPoolExecutor(max_workers=1, thread_name_prefix="profile-arrays") as pool:
            arrays = None
            if array_cols and background:
                arrays = pool.submit(
                    inheritable_thread_target(df.sparkSession)(_profile_arrays),
                    src_df, array_cols, cfg, table_name,
                )
            df, total, columns = self._profile_columns(df, row_count, samples_p)
            columns.update(
                arrays.result()
                if arrays is not None
                else _profile_arrays(src_df, array_cols, cfg, table_name)
            )
        if row_count is None:
            row_count = samples = total

        result: dict[str, Any] = {
            "name": table_name,
            "row_count": row_count,
            "samples": samples,
            "samples_p": samples_p,
            "col_count": len(columns),
            "columns": columns,
        }

        if cfg.duplicate_rows:
            # over the flattened (struct-leaf) projection; array columns are
            # excluded from the row-identity key
            result.update(self._duplicate_rows(df, samples))
        return result

    def _profile_columns(
        self, df: DataFrame, row_count: int | None, samples_p: float
    ) -> tuple[DataFrame, int, dict[str, dict]]:
        """Jobs 1 and 2 over the flattened, non-array columns. Returns the
        projected frame, the profiled row count and the column profiles."""
        cfg = self.config

        # ---- untyped-ingest staging: validity transform per declared type
        string_cols = {
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        }
        declared = {
            name: g
            for name, g in (cfg.declared_types or {}).items()
            if name in string_cols
            and g in ("integer", "numeric", "datetime", "boolean", "string", "uuid")
        }
        schema_types = {f.name: f.dataType.simpleString().upper() for f in df.schema.fields}
        if declared:
            proj = []
            for f in df.schema.fields:
                if f.name in declared:
                    proj.append(_valid_expr(_fc(f.name), declared[f.name]).alias(f.name))
                    proj.append(_fc(f.name).alias(f.name + _ORIG_SUFFIX))
                    schema_types[f.name] = declared[f.name].upper()
                else:
                    proj.append(_fc(f.name))
            df = df.select(*proj)

        fields = []
        for f in df.schema.fields:
            if f.name.endswith(_ORIG_SUFFIX):
                continue
            if f.name in declared:
                g = declared[f.name]
                fields.append((f.name, g, g == "integer"))
            else:
                fields.append((f.name, *classify_type(f.dataType)))

        # A single-row-group input would run job 1's fused agg AND job 2's
        # exploded value-counts map side on ONE task — re-split those to
        # cluster parallelism. Threshold is strictly serial scans only: for
        # already-multi-partition inputs the repartition's full-table
        # shuffle (paid once per job, shuffles aren't shared across
        # actions) measured as a wash against the extra map parallelism.
        # (r4 alternatives measured and rejected: finer scan split cannot
        # help — a parquet row group is the atomic split unit, 9.5 s vs
        # 6.5 s; eager localCheckpoint of the repartition was a wash at
        # steady state and slower on the first run.)
        from piperider_spark.session import plan_width

        target = df.sparkSession.sparkContext.defaultParallelism
        if plan_width(df) < 2 <= target:
            df = df.repartition(target)

        # ---- job 1: one fused aggregation over every column --------------
        agg_exprs = ["count(1) AS `::total`"]
        for name, generic, _is_int in fields:
            agg_exprs += _agg_exprs(
                name, generic, cfg.approx, guard=cfg.exact_distribution_cap > 0
            )
        for name in declared:
            # non_nulls comes from the RAW staging column; count(valid c)
            # below is `valids` (the reference's algebra, profiler.py:748-750)
            agg_exprs.append(
                f"count({_q(name + _ORIG_SUFFIX)}) AS {_q(name + '::orig_non_nulls')}"
            )
        row = df.selectExpr(*agg_exprs).collect()[0].asDict()
        total = row["::total"]
        if row_count is None:
            row_count = total

        def rv(col, key):
            return json_safe(row.get(f"{col}::{key}"))

        # ---- job 2: fused value counts ------------------------------------
        numeric_cols = {
            name for name, generic, _ in fields if generic in ("integer", "numeric")
        }
        topk_cols = {
            name for name, generic, is_int in fields if generic == "string" or is_int
        }
        # approx mode: quantile-only numeric columns (float/double, no topk)
        # take distinct+quantiles from job 1's sketches and skip the exact
        # value-counts shuffle entirely — a numerics-only table profiles in
        # ONE job. Histogram and non_duplicates are omitted for them (at
        # 10^12 rows of ~unique doubles an exact per-value pass is the thing
        # being avoided; the reference's approx branches likewise only keep
        # sketchable metrics).
        skip_vc = (
            {name for name in numeric_cols if name not in topk_cols}
            | {name for name, generic, _ in fields if generic == "uuid"}
            if cfg.approx
            else set()
        )
        # exact-mode cardinality guard: a column whose HLL estimate exceeds
        # the cap would degenerate job 2's per-column pandas pass (and the
        # exact-quantile cumsum) — auto-route it to the sketch path instead
        # of relying on callers to opt into approx mode themselves
        overcap = set()
        if not cfg.approx and cfg.exact_distribution_cap:
            overcap = {
                name
                for name, generic, _ in fields
                if generic in ("string", "integer", "numeric", "datetime", "uuid")
                and (row.get(f"{name}::acd") or 0) > cfg.exact_distribution_cap
            }
        vc_cols = [
            name
            for name, generic, _ in fields
            if generic != "other" and name not in skip_vc and name not in overcap
        ]
        # over-cap numerics still get quantiles — from a percentile_approx
        # sketch pass over just those columns (one extra bounded job, paid
        # only when the guard fires; never at fixture scale)
        overcap_numeric = [n for n in overcap if n in numeric_cols]
        if overcap_numeric:
            qrow = df.selectExpr(
                *[
                    f"{_percentile_approx(_q(n))} AS {_q(n + '::quantiles')}"
                    for n in overcap_numeric
                ]
            ).collect()[0]
            row.update(qrow.asDict())
        uniq: dict[str, tuple[int, int]] = {}
        topk: dict[str, dict] = {}
        quantiles: dict[str, list] = {}
        hist_by_col: dict[str, dict] = {}

        # histogram plans/shells from job 1's min/max (the reference's
        # two-phase histogram, profiler.py:1030-1032) — executed inside the
        # distribution pass below, no extra table scan
        hist_plans: dict[int, tuple] = {}
        generic_by_name = {name: (generic, is_int) for name, generic, is_int in fields}
        for i, name in enumerate(vc_cols):
            generic, is_int = generic_by_name[name]
            if not row[f"{name}::non_nulls"]:
                continue
            if generic in ("integer", "numeric"):
                # raw row values, NOT rv(): json_safe stringifies NaN/inf
                # ('nan'), which made the isfinite guard raise TypeError and
                # crash the whole table profile on any column containing a
                # NaN (review finding — max() returns NaN when one exists).
                # Decimal→float here matches what json_safe did for the
                # finite path.
                vmin, vmax = row.get(f"{name}::min"), row.get(f"{name}::max")
                if isinstance(vmin, _decimal.Decimal):
                    vmin = float(vmin)
                if isinstance(vmax, _decimal.Decimal):
                    vmax = float(vmax)
                if (
                    vmin is None
                    or vmax is None
                    or not (math.isfinite(vmin) and math.isfinite(vmax))
                ):
                    continue
                interval, nb = _numeric_bucket_plan(vmin, vmax, is_int)
                hist_by_col[name] = _numeric_histogram_shell(vmin, vmax, interval, nb, is_int)
                last_bound = float(vmin) + float(interval) * nb + float(interval) / 100
                hist_plans[i] = ("numeric", float(vmin), float(interval), nb, last_bound)
            elif generic == "string":
                lmin, lmax = rv(name, "min"), rv(name, "max")
                if lmin is None:
                    continue
                interval, nb = _numeric_bucket_plan(lmin, lmax, True)
                hist_by_col[name] = _numeric_histogram_shell(lmin, lmax, interval, nb, True)
                last_bound = float(lmin) + float(interval) * nb + float(interval) / 100
                hist_plans[i] = ("length", float(lmin), float(interval), nb, last_bound)
            elif generic == "datetime":
                vmin, vmax = row.get(f"{name}::min"), row.get(f"{name}::max")
                if vmin is None or vmax is None:
                    continue
                plan = _datetime_bucket_plan(vmin, vmax)
                shell = _datetime_histogram_shell(plan)
                # no extra keys: the reference's histogram dict is exactly
                # {labels, counts, bin_edges} (schema.json forbids more)
                hist_by_col[name] = shell
                kyears = plan["interval"].years if plan["grain"] == "yearly" else 1
                hist_plans[i] = (
                    "datetime", plan["grain"], str(plan["dmin"]), kyears, plan["nb"]
                )

        if vc_cols and total:
            vc = _value_counts(df, vc_cols, numeric_cols, topk_cols)
            topk_ci = {i for i, c in enumerate(vc_cols) if c in topk_cols}
            quantile_ci = (
                set()
                if cfg.approx
                else {i for i, c in enumerate(vc_cols) if c in numeric_cols}
            )
            int_ci = {
                i for i, c in enumerate(vc_cols) if generic_by_name[c][1]
            }
            stats = _distribution_pass(vc, topk_ci, quantile_ci, hist_plans, int_ci)
            for ci, s in stats.items():
                name = vc_cols[ci]
                uniq[name] = (s["distinct"], s["non_dup"])
                if "topk_v" in s:
                    topk[name] = {"values": s["topk_v"], "counts": s["topk_c"]}
                if "quantiles" in s:
                    quantiles[name] = s["quantiles"]
                if "hist" in s and name in hist_by_col:
                    hist_by_col[name]["counts"] = s["hist"]

        # ---- assemble column dicts (reference result shape) ---------------
        columns: dict[str, dict] = {}
        for name, generic, is_int in fields:
            # typed columns: valids ≡ non_nulls, invalids ≡ 0
            # (docs/metrics.md:52); declared staging columns: valids =
            # count(try_cast c), invalids = non_nulls − valids
            valids = row[f"{name}::non_nulls"]
            non_nulls = row.get(f"{name}::orig_non_nulls", valids)
            nulls = total - non_nulls
            invalids = non_nulls - valids
            col: dict[str, Any] = {
                "name": name,
                # the reference reports UUID columns with generic type
                # "other" (profiler.py:604-606; schema.json's type enum has
                # no "uuid") while still computing distinct via
                # UUIDColumnProfiler — mirrored here
                "type": "other" if generic == "uuid" else generic,
                "schema_type": schema_types[name],
                # column total = full table row_count; samples = rows the
                # metrics actually saw after the limit (profiler.py:481-488,
                # 662-663); percentage denominators use the sample count.
                "total": row_count,
                "samples": total,
                "samples_p": samples_p,
                "non_nulls": non_nulls,
                "non_nulls_p": percentage(non_nulls, total),
                "nulls": nulls,
                "nulls_p": percentage(nulls, total),
                "valids": valids,
                "valids_p": percentage(valids, total),
                "invalids": invalids,
                "invalids_p": percentage(invalids, total) if invalids else 0,
            }
            if name in skip_vc:
                approx_distinct = rv(name, "approx_distinct")
                col.update(
                    {
                        "distinct": approx_distinct,
                        "distinct_p": percentage(approx_distinct, valids),
                    }
                )
            elif name in overcap:
                # cardinality-guard route: sketch distinct, quantiles from
                # the percentile_approx pass; topk/histogram/non-dup are
                # exactly what the guard exists to avoid. The underscore
                # keys are in-memory markers only (the report sink strips
                # them so run.json keeps validating the reference schema).
                acd = rv(name, "acd")
                col.update(
                    {
                        "distinct": acd,
                        "distinct_p": percentage(acd, valids),
                        "_distribution_mode": "approx",
                    }
                )
                if generic in ("integer", "numeric"):
                    col["_quantile_mode"] = "approx"
            elif generic == "uuid":
                # reference UUIDColumnProfiler result shape: counts algebra
                # + distinct only (profiler.py:1585-1599) — no duplicates/
                # topk/histogram keys
                distinct, _non_dup = uniq.get(name, (0, 0))
                col.update(
                    {
                        "distinct": distinct,
                        "distinct_p": percentage(distinct, valids),
                    }
                )
            elif generic != "other":
                distinct, non_dup = uniq.get(name, (0, 0))
                duplicates = valids - non_dup
                col.update(
                    {
                        "distinct": distinct,
                        "distinct_p": percentage(distinct, valids),
                        "duplicates": duplicates,
                        "duplicates_p": percentage(duplicates, valids),
                        "non_duplicates": non_dup,
                        "non_duplicates_p": percentage(non_dup, valids),
                    }
                )
            if generic == "string":
                zero_length = row[f"{name}::zero_length"]
                non_zero_length = valids - zero_length
                col.update(
                    {
                        "zero_length": zero_length,
                        "zero_length_p": percentage(zero_length, total),
                        "non_zero_length": non_zero_length,
                        "non_zero_length_p": percentage(non_zero_length, total),
                        "min": rv(name, "min"),
                        "min_length": rv(name, "min"),
                        "max": rv(name, "max"),
                        "max_length": rv(name, "max"),
                        "avg": rv(name, "avg"),
                        "avg_length": rv(name, "avg"),
                        "stddev": rv(name, "stddev"),
                        "stddev_length": rv(name, "stddev"),
                        "topk": topk.get(name) if valids else None,
                        "histogram": hist_by_col.get(name) if valids else None,
                        "histogram_length": hist_by_col.get(name) if valids else None,
                    }
                )
            elif generic in ("integer", "numeric"):
                zeros = row[f"{name}::zeros"]
                negatives = row[f"{name}::negatives"]
                col.update(
                    {
                        "zeros": zeros,
                        "zeros_p": percentage(zeros, total),
                        "negatives": negatives,
                        "negatives_p": percentage(negatives, total),
                        "positives": valids - zeros - negatives,
                        "positives_p": percentage(valids - zeros - negatives, total),
                        "min": rv(name, "min"),
                        "max": rv(name, "max"),
                        "sum": rv(name, "sum"),
                        "avg": rv(name, "avg"),
                        "stddev": rv(name, "stddev"),
                        "histogram": hist_by_col.get(name) if valids else None,
                    }
                )
                if self.config.approx or name in overcap:
                    qs = row.get(f"{name}::quantiles")
                    for k, v in zip(_QKEYS, qs or [None] * 5):
                        col[k] = json_safe(v)
                else:
                    for k, v in zip(_QKEYS, quantiles.get(name, [None] * 5)):
                        col[k] = json_safe(v)
                if is_int:
                    col["topk"] = topk.get(name) if valids else None
            elif generic == "datetime":
                col.update(
                    {
                        "min": _iso(row.get(f"{name}::min")),
                        "max": _iso(row.get(f"{name}::max")),
                        "histogram": hist_by_col.get(name) if valids else None,
                    }
                )
            elif generic == "boolean":
                trues = row[f"{name}::trues"]
                col.update(
                    {
                        "trues": trues,
                        "trues_p": percentage(trues, total),
                        "falses": valids - trues,
                        "falses_p": percentage(valids - trues, total),
                    }
                )
            columns[name] = col

        return df, total, columns

    def _duplicate_rows(self, df: DataFrame, samples: int) -> dict:
        """Table-level duplicate_rows: GROUP BY all columns HAVING count>1 →
        SUM(count) (reference: profiler.py:499-543; the generic branch — the
        Snowflake hash(*) shortcut maps to Catalyst's internal hashing)."""
        dup = (
            df.groupBy(*[_fc(c) for c in df.columns if not c.endswith(_ORIG_SUFFIX)])
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") > 1)
            .agg(F.sum("cnt"))
            .collect()[0][0]
        )
        dup = dup or 0
        return {"duplicate_rows": dup, "duplicate_rows_p": percentage(dup, samples)}


def profile_table(df: DataFrame, table_name: str, config: ProfilerConfig | None = None) -> dict:
    return Profiler(config).profile_table(df, table_name)
