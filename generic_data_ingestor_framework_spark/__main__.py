"""CLI entry point — the reference's `main.py` contract on Spark.

    python -m generic_data_ingestor_framework_spark DATA_DIR \
        --table processed_data [--warehouse DIR] [--preview N] \
        [--mode parity|bulk] [--lossless] [--types json,csv,parquet] \
        [--schema-mode sorted|first_record] [--sqlite out.db]

Mirrors the reference CLI (`main.py:24-118`): validate directory →
ingest → save to table → print run report → optional preview.
"""

from __future__ import annotations

import argparse
import sys

from generic_data_ingestor_framework_spark import query as query_mod
from generic_data_ingestor_framework_spark import sink
from generic_data_ingestor_framework_spark.ingest import ingest_directory
from generic_data_ingestor_framework_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="generic_data_ingestor_framework_spark",
        description="Ingest a directory of JSON/CSV/Parquet files into a Spark table.",
    )
    ap.add_argument("directory", help="input directory to scan recursively")
    ap.add_argument("--table", default="processed_data", help="output table name")
    ap.add_argument("--warehouse", default=None, help="spark.sql.warehouse.dir")
    ap.add_argument("--preview", type=int, default=0, help="show N rows after ingest")
    ap.add_argument(
        "--mode", choices=["parity", "bulk"], default="parity",
        help="how files are grouped into reads: parity = one pass over the JSON "
        "files, per-file reads for the rest; bulk = one read per format, "
        "malformed JSON documents dropped instead of failing their file",
    )
    ap.add_argument("--lossless", action="store_true", help="keep native types (no all-TEXT projection)")
    ap.add_argument("--types", default=None, help="comma list of formats (json,csv,parquet,orc,xml)")
    ap.add_argument(
        "--schema-mode", choices=["sorted", "first_record"], default="sorted",
        help="sorted = CLI-path schema (union of keys); first_record = web-path parity",
    )
    ap.add_argument(
        "--sqlite", default=None, metavar="DB_PATH",
        help="also emit a portable sqlite .db (the reference's out.db hand-off)",
    )
    ap.add_argument(
        "--pipeline", default=None, metavar="SPEC_JSON",
        help="run a declarative pipeline spec (JSON file; see pipeline.py) "
        "instead of the plain ingest flow; DATA_DIR is ignored",
    )
    ap.add_argument(
        "--serve", type=int, default=None, metavar="PORT",
        help="start the interactive web surface (webapp.py — the "
        "reference's Streamlit upload/process/preview flow) on PORT; "
        "DATA_DIR becomes the server workdir",
    )
    args = ap.parse_args(argv)

    if args.serve is not None:
        from generic_data_ingestor_framework_spark.webapp import serve

        serve(get_spark("gdif-web"), args.directory, port=args.serve)
        return 0

    if args.pipeline:
        import json

        from generic_data_ingestor_framework_spark.pipeline import run_pipeline

        with open(args.pipeline) as fh:
            spec = json.load(fh)
        spark = get_spark("gdif-pipeline")
        df, manifest = run_pipeline(spark, spec, profile=True)
        for step in manifest["steps"]:
            print(f"  step {step['op']}: {step.get('rows', '?')} rows")
        print(f"Pipeline done ({manifest.get('sink', 'no sink')}).")
        if args.preview:
            df.show(args.preview, truncate=False)
        return 0

    extra = {"spark.sql.warehouse.dir": args.warehouse} if args.warehouse else None
    spark = get_spark("gdif-ingest", extra_conf=extra)
    try:
        df, report = ingest_directory(
            spark,
            args.directory,
            mode=args.mode,
            text_parity=not args.lossless,
            file_types=args.types.split(",") if args.types else None,
            schema_mode=args.schema_mode,
        )
    except NotADirectoryError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2

    print(f"Files processed:  {report.files_processed}")
    print(f"Files failed:     {report.files_failed}")
    print(f"Total records:    {report.total_records}")
    print(f"Dropped non-dict: {report.records_dropped_non_dict}")
    print(f"Elapsed:          {report.elapsed_sec:.2f}s "
          f"({report.throughput_rps:.0f} records/s)")
    for err in report.errors:
        print(f"  error: {err['file']}: {err['error']}")

    if df is None:
        print("No valid data found; nothing written.")
        return 1

    try:
        sink.create_table(spark, df, args.table)
    except ValueError as ex:  # an earlier run's table with other columns
        print(f"error: {ex}", file=sys.stderr)
        return 1
    n = sink.insert_data(spark, df, args.table)
    print(f"Wrote {n} rows to table '{args.table}'.")
    if args.sqlite:
        n_db = sink.write_sqlite(df, args.sqlite, args.table)
        print(f"Wrote {n_db} rows to sqlite artifact {args.sqlite}.")
    if args.preview:
        query_mod.preview(spark, args.table, args.preview).show(truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
