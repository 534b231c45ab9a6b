"""CLI entry point — the reference's ``python dump_table.py
--output_path DIR`` (``dump_table.py:175-179``, click), generalized.

Usage::

    python -m omop_dump_to_parquet_spark.cli \
        --source-parquet /root/testdata/sf0.001/lineitem.parquet \
        --output-path /tmp/lake --row-limit 2000000

    python -m omop_dump_to_parquet_spark.cli \
        --jdbc-url jdbc:... --table NOTE \
        --partition-column NOTE_ID --num-partitions 16 \
        --cast PROVIDER_ID=long --output-path /data/omop_notes

``--row-limit`` defaults to the reference's ``DEFAULT_N_TO_FETCH``
(2,000,000, ``dump_table.py:24-28``); pass ``--grab-everything`` to
dump the full table (≙ the ``GRAB_EVERYTHING`` env switch,
``readme.md:35-37``).
"""

from __future__ import annotations

import argparse
import sys

from .sinks import REFERENCE_SIZING
from .sources.jdbc import DEFAULT_FETCH_SIZE

DEFAULT_N_TO_FETCH = 2_000_000  # reference dump_table.py:28


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="omop-dump", description="Dump a table to a sized Parquet lake."
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--source-parquet", help="input parquet path")
    src.add_argument("--jdbc-url", help="JDBC URL of the source database")
    p.add_argument("--table", help="source table name (JDBC)")
    p.add_argument("--partition-column", help="numeric column to split the scan")
    p.add_argument("--lower-bound", type=int)
    p.add_argument("--upper-bound", type=int)
    p.add_argument("--num-partitions", type=int)
    p.add_argument("--fetch-size", type=int, default=DEFAULT_FETCH_SIZE)
    p.add_argument("--row-limit", type=int, default=DEFAULT_N_TO_FETCH)
    p.add_argument(
        "--grab-everything",
        action="store_true",
        help="dump the full table (ignore --row-limit)",
    )
    p.add_argument(
        "--cast",
        action="append",
        default=[],
        metavar="COL=TYPE",
        help="schema normalization cast, repeatable",
    )
    p.add_argument("--output-path", required=True)
    p.add_argument(
        "--max-records-per-file",
        type=int,
        default=REFERENCE_SIZING["rows_per_file"],
    )
    p.add_argument("--num-files", type=int)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    # Validate EVERY pure argument error before get_spark: JVM
    # startup costs seconds and leaves a stray session —
    # pointless for a usage mistake argparse could have named.
    for c in args.cast:
        if "=" not in c:
            print(
                f"--cast expects COL=TYPE, got {c!r}", file=sys.stderr
            )
            return 2
    casts = dict(c.split("=", 1) for c in args.cast)
    if not args.source_parquet and not args.table:
        print("--table is required with --jdbc-url", file=sys.stderr)
        return 2

    from .plans import dump_table
    from .session import get_spark
    from .sources.jdbc import read_jdbc_table

    spark = get_spark("omop-dump")
    if args.source_parquet:
        source = spark.read.parquet(args.source_parquet)
    else:
        source = read_jdbc_table(
            spark,
            args.jdbc_url,
            args.table,
            partition_column=args.partition_column,
            lower_bound=args.lower_bound,
            upper_bound=args.upper_bound,
            num_partitions=args.num_partitions,
            fetch_size=args.fetch_size,
        )

    result = dump_table(
        spark,
        source,
        args.output_path,
        row_limit=None if args.grab_everything else args.row_limit,
        casts=casts,
        max_records_per_file=args.max_records_per_file,
        num_files=args.num_files,
    )
    r = result.report
    print(
        f"rows={result.rows_written} files={r.n_files} "
        f"max_file_rows={r.max_file_rows} bytes={r.total_bytes} "
        f"count_ok={r.count_matches} schema_ok={r.schema_matches} "
        f"write_s={result.write_s:.2f} verify_s={result.verify_s:.2f}"
    )
    return 0 if result.ok else 1


if __name__ == "__main__":
    sys.exit(main())
