"""Job-runner CLI: the ``spark-submit <job> <input> <output> <conf>``
surface of the reference (SURVEY.md §5/§7 — every reference job shares
``main(inputPath, outputPath, configFile)``), re-expressed over the query
registry: ``python -m beymani_spark run <query> --sf-dir <dir> --out <path>``
executes any registered query against the fixture tables and writes the
result; ``list`` enumerates the registry. The HOCON config file becomes
the query's keyword defaults (SURVEY §7: "config file becomes keyword
arguments"), so the CLI adds no second configuration language — callers
needing non-default knobs use the Python API the registry builders wrap.

Kept deliberately thin: session construction goes through
sources.tables.get_spark (UTC session, nanos handling, code-cache sizing)
so CLI runs hit the same verified read path as the driver contract.
"""
from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="beymani_spark",
        description="Run registry queries against the parquet fixture tables.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="execute one registered query")
    runp.add_argument("query", help="registry query name (see: list)")
    from .plans.registry import DRIVER_SF_DIR

    runp.add_argument(
        "--sf-dir",
        default=DRIVER_SF_DIR,
        help="fixture directory with the parquet tables",
    )
    runp.add_argument(
        "--out",
        default=None,
        help="output path; omit to print --show rows to stdout instead",
    )
    runp.add_argument(
        "--format",
        default="parquet",
        choices=["parquet", "csv", "json"],
        help="sink format for --out (csv cannot carry array/struct columns)",
    )
    runp.add_argument("--show", type=int, default=20, help="rows to print without --out")

    sub.add_parser("list", help="list registered queries")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from .plans import QUERIES

    if args.cmd == "list":
        for name, q in sorted(QUERIES.items()):
            mark = "oracle" if q.oracle is not None else "rows-only"
            print(f"{name}\t{mark}")
        return 0

    if args.query not in QUERIES:
        print(f"unknown query: {args.query!r} (see: python -m beymani_spark list)",
              file=sys.stderr)
        return 2

    from .functions import caching
    from .sources.tables import get_spark

    spark = get_spark()
    with caching.scope():
        df = QUERIES[args.query].builder(spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").format(args.format).save(args.out)
            print(f"{args.query}: wrote {args.out} ({args.format})")
        else:
            df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
