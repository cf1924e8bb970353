"""The shell every Spark job runs in: the session flags, and a ``main``
that parses, builds the session, runs the job and prints its summary."""

from __future__ import annotations

import argparse
import json

from ..session import make_session


def add_session_args(parser: argparse.ArgumentParser) -> None:
    parser.add_argument("--master", default=None)
    parser.add_argument("--shuffle-partitions", type=int, default=None)
    parser.add_argument(
        "--conf",
        action="append",
        default=[],
        help="spark conf key=value (repeatable), as with spark-submit; "
        "overrides the built-in defaults",
    )


def main(app: str, parse_args, run, argv=None) -> None:
    """``run(args, spark)`` returns the job's summary dict, printed as one
    JSON line."""
    args = parse_args(argv)
    spark = make_session(app, args.master, args.shuffle_partitions, args.conf)
    print(json.dumps(run(args, spark), sort_keys=True))
