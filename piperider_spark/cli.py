"""Command-line interface (the reference's `piperider` CLI re-shaped).

    python -m piperider_spark.cli profile  --source <dir> [--table t ...] --output <dir>
    python -m piperider_spark.cli compare  --base run.json --target run.json
    python -m piperider_spark.cli filter   --input <transcripts> --output <dir> [pipeline flags]
    python -m piperider_spark.cli assert   --report run.json --assertions a.json

Reference command mapping: `piperider run` → profile (+ assert),
`piperider compare-reports` → compare, and the north-rule pipeline →
filter. argparse instead of click (no extra deps); HTML report bundle and
cloud upload are product shell, out of scope (SURVEY.md §7.4).
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_profile(args: argparse.Namespace) -> int:
    from piperider_spark.profiler.core import ProfilerConfig
    from piperider_spark.profiler.report import build_run_report, write_run_json
    from piperider_spark.session import get_spark
    from piperider_spark.sources import DataSource

    if not args.source and not args.dbt_state:
        print("profile: one of --source / --dbt-state is required", file=sys.stderr)
        return 2
    if args.dbt_state and (args.untyped or args.table):
        print(
            "profile: --untyped/--table have no effect with --dbt-state "
            "(the manifest selects the subjects and reads are typed) — "
            "drop the conflicting flags",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("piperider_spark.profile")
    if args.dbt_state:
        # `piperider run --dbt-state` analog: manifest picks the subjects,
        # run_results contributes tests, metrics evaluate on request.
        # --source registers its tables as temp views first so manifest
        # relations resolve in catalog-less sandboxes; on a cluster the
        # metastore provides them.
        from piperider_spark.sources.dbt import profile_dbt_state

        if args.source:
            src = DataSource("cli", path=args.source)
            for t in src.list_tables(spark):
                src.read_table(spark, t).createOrReplaceTempView(t)
        report = profile_dbt_state(
            spark,
            args.dbt_state,
            tag=args.dbt_tag,
            config=ProfilerConfig(
                limit=args.limit,
                duplicate_rows=args.duplicate_rows,
                approx=args.approx,
            ),
            with_metrics=args.with_metrics,
        )
        path = write_run_json(report, args.output)
        print(path)
        return 0
    src = DataSource("cli", path=args.source)
    tables = args.table or src.list_tables(spark)
    if args.untyped:
        # text formats as string staging + sniffed declared types, so dirty
        # cells count as invalids instead of silently nulling at scan time
        # (the reference's sqlite dynamic-typing behaviour). declared_types
        # is per table — profile one table per report call.
        report: dict = build_run_report({}, datasource_name=args.source)
        for t in tables:
            raw, declared = src.read_table_untyped(spark, t)
            cfg = ProfilerConfig(
                limit=args.limit,
                duplicate_rows=args.duplicate_rows,
                approx=args.approx,
                declared_types=declared,
            )
            part = build_run_report({t: raw}, datasource_name=args.source, config=cfg)
            report["tables"].update(part["tables"])
    else:
        cfg = ProfilerConfig(
            limit=args.limit, duplicate_rows=args.duplicate_rows, approx=args.approx
        )
        report = build_run_report(
            {t: src.read_table(spark, t) for t in tables},
            datasource_name=args.source,
            config=cfg,
        )
    path = write_run_json(report, args.output)
    print(path)
    return 0


def cmd_compare(args: argparse.Namespace) -> int:
    from piperider_spark.profiler.compare import compare_reports, summary_markdown

    with open(args.base) as f:
        base = json.load(f)
    with open(args.target) as f:
        target = json.load(f)
    cs = compare_reports(base, target)
    print(summary_markdown(cs))
    if args.output:
        with open(args.output, "w") as f:
            json.dump(cs, f, indent=2, default=str)
    return 0


def cmd_diff_decisions(args: argparse.Namespace) -> int:
    from piperider_spark.profiler.compare import diff_decisions
    from piperider_spark.session import get_spark

    spark = get_spark("piperider_spark.diff")
    d = diff_decisions(
        spark.read.parquet(args.base), spark.read.parquet(args.target)
    )
    if args.output:
        d = d.persist()  # counts AND the write consume the diff join once
    counts = {r["status"]: r["count"] for r in d.groupBy("status").count().collect()}
    if args.output:
        d.write.mode("overwrite").parquet(args.output)
        d.unpersist()
    print(json.dumps({"status_counts": counts, "output": args.output}))
    return 0


def cmd_filter(args: argparse.Namespace) -> int:
    from piperider_spark.pipeline import run_pipeline
    from piperider_spark.session import get_spark

    # every other attribute is a run_pipeline parameter (add_pipeline_args)
    kwargs = {k: v for k, v in vars(args).items() if k not in ("cmd", "fn")}
    res = run_pipeline(get_spark("piperider_spark.filter"), **kwargs)
    print(json.dumps(res.__dict__))
    return 0


def cmd_assert(args: argparse.Namespace) -> int:
    from piperider_spark.profiler.assertions import evaluate_assertions, load_assertions

    with open(args.report) as f:
        report = json.load(f)
    with open(args.assertions) as f:
        spec = json.load(f)
    results = evaluate_assertions(report, load_assertions(spec))
    for r in results:
        print(f"[{r['status']:>6}] {r['name']} (actual={r['actual']})")
    failed = sum(1 for r in results if r["status"] == "failed")
    print(f"{len(results) - failed}/{len(results)} passed")
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    from piperider_spark.pipeline import add_pipeline_args

    p = argparse.ArgumentParser(prog="piperider_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("profile", help="profile tables → run.json")
    pp.add_argument("--source", help="directory of table files")
    pp.add_argument(
        "--dbt-state",
        help="dbt target dir (manifest.json [+ run_results.json]) — subjects "
        "come from the manifest; with --source its tables back the relations",
    )
    pp.add_argument("--dbt-tag", help="profile only manifest nodes with this tag")
    pp.add_argument(
        "--with-metrics",
        action="store_true",
        help="evaluate manifest metric definitions into the report",
    )
    pp.add_argument("--table", action="append", help="table name (repeatable; default all)")
    pp.add_argument("--output", required=True)
    pp.add_argument("--limit", type=int, default=0)
    pp.add_argument("--duplicate-rows", action="store_true")
    pp.add_argument("--approx", action="store_true")
    pp.add_argument(
        "--untyped",
        action="store_true",
        help="text formats: string staging + sniffed types; dirty cells → invalids",
    )
    pp.set_defaults(fn=cmd_profile)

    pc = sub.add_parser("compare", help="compare two run.json reports")
    pc.add_argument("--base", required=True)
    pc.add_argument("--target", required=True)
    pc.add_argument("--output")
    pc.set_defaults(fn=cmd_compare)

    pd_ = sub.add_parser(
        "diff-decisions", help="turn-level keep/drop churn between two runs"
    )
    pd_.add_argument("--base", required=True, help="decisions/ of the base run")
    pd_.add_argument("--target", required=True, help="decisions/ of the target run")
    pd_.add_argument("--output", help="write the per-turn diff as parquet")
    pd_.set_defaults(fn=cmd_diff_decisions)

    pf = sub.add_parser("filter", help="transcript quality-filter pipeline")
    add_pipeline_args(pf).set_defaults(fn=cmd_filter)

    pa = sub.add_parser("assert", help="evaluate assertions against a report")
    pa.add_argument("--report", required=True)
    pa.add_argument("--assertions", required=True)
    pa.set_defaults(fn=cmd_assert)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
