"""CLI entrypoint: run any registry query from the shell — the
switch-over surface for a reference user (the reference repo is driven
as `spark-submit sparkpykafkajoin.py`; this engine is driven as
`python -m <package> run <query>`).

Commands
--------
list                      print every registry query (* = oracle-paired)
run NAME [NAME...]        execute queries and print results
show NAME                 print the physical plan (explain formatted)
oracle NAME               print the DuckDB oracle SQL, if any

Options: --sf-dir PATH (default /root/testdata/sf0.01), --cpus N
(default $SPARK_GRAFT_CPUS, else the cores this process may run on),
--limit N (default 20 rows printed), --json (NDJSON rows
to stdout instead of the table renderer).
"""

from __future__ import annotations

import argparse
import json
import sys

from .session import DEFAULT_CPUS


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog=__package__, description=__doc__)
    p.add_argument("command", choices=["list", "run", "show", "oracle"])
    p.add_argument("names", nargs="*")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--json", action="store_true")
    args = p.parse_args(argv)

    from .plans.queries import REGISTRY

    if args.command == "list":
        for name, (_, oracle) in sorted(REGISTRY.items()):
            print(f"{'*' if oracle else ' '} {name}")
        return 0

    if args.command == "oracle":
        for name in args.names:
            sql = REGISTRY[name][1]
            print(sql.strip() if sql else f"-- {name}: rows-only (no oracle)")
        return 0

    if not args.names:
        p.error("run/show need at least one query name")

    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        p.error(f"unknown queries: {unknown} (see `list`)")

    from . import get_spark

    spark = get_spark(
        app_name="stedi-cli",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        for name in args.names:
            df = REGISTRY[name][0](spark, args.sf_dir)
            if args.command == "show":
                print(f"-- {name}")
                df.explain("formatted")
            elif args.json:
                for row in df.limit(args.limit).toJSON().collect():
                    print(row)
            else:
                print(f"-- {name}")
                df.show(args.limit, truncate=40)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
