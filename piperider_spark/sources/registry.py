"""File/catalog data sources.

Reference mapping (SURVEY.md §2.1):
  * connector registry  datasource/__init__.py:271-295 → FORMAT_READERS
  * CSV auto-schema     datasource/duckdb.py:171-209   → csv reader with
    header+inferSchema (Spark's inference ≈ read_csv_auto)
  * parquet scan        datasource/duckdb.py:213-285   → spark.read.parquet
  * table discovery     runner.py:588-592              → directory listing /
    spark.catalog.listTables
  * schema reflection   profiler.py:161-184            → df.schema (O(1)
    from file/catalog metadata — no thread pool needed)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMAT_READERS = {
    "parquet": lambda spark, path, opts: spark.read.options(**opts).parquet(path),
    # dict-merge, not keyword+**opts: a user-supplied 'header'/'inferSchema'
    # raised "got multiple values for keyword argument" instead of
    # overriding (review finding); merge order makes user options WIN
    "csv": lambda spark, path, opts: spark.read.options(
        **{"header": True, "inferSchema": True, **opts}
    ).csv(path),
    "json": lambda spark, path, opts: spark.read.options(**opts).json(path),
    "orc": lambda spark, path, opts: spark.read.options(**opts).orc(path),
    # raw text corpora: one document per line (`value` column) — pass
    # wholetext=True via options for one document per FILE
    "txt": lambda spark, path, opts: spark.read.options(**opts).text(path),
}

_EXTENSIONS = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".orc": "orc",
    ".txt": "txt",
}


@dataclass
class DataSource:
    """A directory of table files (one file/dir per table) or a catalog db."""

    name: str
    path: str | None = None          # directory source
    database: str | None = None      # catalog source (Iceberg etc.)
    fmt: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)

    def list_tables(self, spark: SparkSession) -> list[str]:
        if self.database is not None:
            return [t.name for t in spark.catalog.listTables(self.database)]
        out = []
        for entry in sorted(os.listdir(self.path)):
            base, ext = os.path.splitext(entry)
            if ext in _EXTENSIONS:
                out.append(base)
            elif os.path.isdir(os.path.join(self.path, entry)):
                out.append(entry)
        # de-duplicate (events.csv + events.json would list 'events' twice
        # and the profile loop would profile the extension-priority winner
        # twice while the other file is silently never profiled — review
        # finding); first occurrence wins, order preserved
        return list(dict.fromkeys(out))

    def _resolve(self, table: str) -> tuple[str, str]:
        """(path, fmt) for a table file/dir — the ONE extension-priority
        walk both the typed and untyped readers share (review finding: two
        hand-maintained copies could resolve different files)."""
        # a bare name that carries its own extension ("events.csv") reads
        # in that extension's format, not the source default
        bare_fmt = _EXTENSIONS.get(os.path.splitext(table)[1], self.fmt)
        candidates = [
            (os.path.join(self.path, f"{table}{ext}"), fmt)
            for ext, fmt in _EXTENSIONS.items()
        ] + [(os.path.join(self.path, table), bare_fmt)]
        for cand, fmt in candidates:
            if os.path.exists(cand):
                return cand, fmt
        raise FileNotFoundError(f"table {table!r} not found under {self.path}")

    def read_table(self, spark: SparkSession, table: str) -> DataFrame:
        if self.database is not None:
            return spark.table(f"{self.database}.{table}")
        cand, fmt = self._resolve(table)
        return FORMAT_READERS[fmt](spark, cand, self.options)

    def read_table_untyped(
        self, spark: SparkSession, table: str
    ) -> tuple[DataFrame, dict[str, str]]:
        """Untyped-ingest staging read for text formats: every column comes
        back as STRING, plus a declared-type map to feed the profiler's
        ``ProfilerConfig(declared_types=...)`` so valids/invalids follow the
        reference's dynamic-typing algebra (profiler.py:748-750) instead of
        silently nulling unparsable cells at scan time. Typed formats
        (parquet/orc) are returned as-is with an empty map (invalids == 0 by
        construction). Declared types come from majority-vote sniffing over
        a sample (infer_declared_types) -- Spark's own inference flips a
        column with even one dirty cell to plain string, hiding exactly the
        invalids the profile exists to count."""
        from piperider_spark.profiler.core import infer_declared_types

        if self.database is not None:
            # catalog tables are typed — invalids == 0 by construction
            return self.read_table(spark, table), {}
        resolved, fmt = self._resolve(table)
        if fmt not in ("csv", "json"):
            return self.read_table(spark, table), {}
        if fmt == "csv":
            raw = spark.read.options(**{"header": True, **self.options}).csv(resolved)
        else:
            raw = spark.read.options(
                **{"primitivesAsString": True, **self.options}
            ).json(resolved)
        return raw, infer_declared_types(raw)

    def reflect_schema(self, spark: SparkSession, table: str) -> T.StructType:
        return self.read_table(spark, table).schema


def list_tables(spark: SparkSession, path: str) -> list[str]:
    return DataSource("adhoc", path=path).list_tables(spark)


def read_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    return DataSource("adhoc", path=path).read_table(spark, table)


def reflect_schema(spark: SparkSession, path: str, table: str) -> T.StructType:
    return DataSource("adhoc", path=path).reflect_schema(spark, table)
