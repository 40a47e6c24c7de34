"""``python -m clickhousedatamocker_spark`` — the clickhouse-client-shaped
entry point: run CH-dialect statements against a warehouse directory.

Mirrors the three clickhouse-client flows the reference's scripts use
(setup.sh / insert_data.sh / monitor_metrics.sh):

- ``--query "SQL"`` one-shot (``-q``), repeatable — statements run in order
  in ONE engine/session, so ``-q "CREATE ..." -q "INSERT ..." -q "SELECT"``
  works like a client script. Results print as TabSeparated (the
  clickhouse-client default) unless the statement carries its own
  ``FORMAT``/``INTO OUTFILE`` clause.
- ``--queries-file f.sql``: run a ``;``-separated statement file.
- no query: read statements from stdin (the ``clickhouse-client <<EOF``
  heredoc flow).

``--warehouse`` (default ``./warehouse``) persists the catalog + parts
between invocations, so separate CLI runs see the same tables — the
clickhouse-server role collapses into the directory.
"""

from __future__ import annotations

import argparse
import sys


def _split_statements(text: str) -> list[str]:
    """Split on ``;`` outside string literals, comments and parentheses."""
    from clickhousedatamocker_spark.functions.compat import _split_top

    return _split_top(text, ";")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m clickhousedatamocker_spark",
        description="clickhouse-client-shaped CLI over the PySpark engine",
    )
    ap.add_argument("-q", "--query", action="append", default=[], help="statement to run (repeatable)")
    ap.add_argument("--queries-file", help="file of ;-separated statements")
    ap.add_argument("--warehouse", default="./warehouse", help="warehouse directory (persists tables)")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] cores (default: SPARK_GRAFT_CPUS or all)")
    ap.add_argument("--data", help="payload path for INSERT ... FORMAT statements (stdin-file equivalent)")
    ap.add_argument(
        "--settings",
        action="append",
        default=[],
        metavar="K=V",
        help="session setting applied before any statement (repeatable; the "
        "clickhouse-client --setting flag): semantic keys act (final, limit, "
        "offset, max_result_rows, session_timezone), the rest are recorded "
        "for system.settings",
    )
    args = ap.parse_args(argv)

    stmts: list[str] = []
    for q in args.query:
        stmts.extend(_split_statements(q))
    if args.queries_file:
        with open(args.queries_file) as f:
            stmts.extend(_split_statements(f.read()))
    if not stmts:
        stmts = _split_statements(sys.stdin.read())
    if not stmts:
        ap.error("no statements (use -q, --queries-file, or stdin)")

    import os

    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.session import get_spark

    if args.cpus is not None:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    spark = get_spark(app_name="clickhousedatamocker-cli")
    engine = Engine(spark, args.warehouse)
    rc = 0
    try:
        import re as _re

        for s in args.settings:
            if "=" not in s:
                ap.error(f"--settings needs K=V, got {s!r}")
            k, v = s.split("=", 1)
            engine.sql(f"SET {k.strip()} = {v.strip()}")
        for stmt in stmts:
            # --data is the INSERT ... FORMAT payload; passing it to a bare
            # SELECT ... FORMAT would redirect the result INTO that file,
            # clobbering the payload — SELECT output belongs on stdout here
            is_insert = _re.match(r"\s*INSERT\b", stmt, _re.IGNORECASE) is not None
            df = engine.sql(stmt, data=args.data if is_insert else None)
            if df is not None and df.columns:
                # TabSeparated to stdout, clickhouse-client's default
                for row in df.collect():
                    print("\t".join("\\N" if v is None else str(v) for v in row))
    except Exception as ex:  # loud, single-line, nonzero exit — script-friendly
        first = str(ex).strip().splitlines()[0] if str(ex).strip() else type(ex).__name__
        print(f"error: {first}", file=sys.stderr)
        rc = 1
    finally:
        spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
