"""Interactive SQL REPL — the reference's ``connect`` verb.

The reference manager's only query surface is an interactive Presto
shell (reference: presto-mgr.py:268-273; demo transcript
README.md:92-110 runs ``select * from user`` and ``select sum(income)
from user``). This module is that surface on Spark:

    python -m presto_on_ray_spark.cli --sf-dir /root/testdata/sf0.001

- statements end with ``;`` (multi-line input accumulates until then);
- Presto-dialect SQL goes through dialect.translate (Engine.sql), so
  approx_distinct / strpos / MySQL date patterns work;
- results render as an aligned table with a row count, like the
  Presto CLI;
- ``quit`` / ``exit`` / EOF leaves the shell.

Scale note: the REPL collects at most --max-rows (default 100) rows to
the driver — it is a human window onto a result, never a transfer
path; CTAS / INSERT (sources.tables) is the bulk egress.

Transport: the shell's session comes from ``get_spark``, so result
partitions reach Python over AF_UNIX sockets, not loopback TCP (whose
delayed ACK held each paged partition pull ~40 ms). ``main`` stops the
session on exit, EOF or SIGTERM, which removes those socket files.
"""

from __future__ import annotations

import argparse
import sys
from typing import IO

PROMPT = "presto> "
CONT_PROMPT = "     -> "


def format_table(columns: list[str], rows: list[tuple]) -> str:
    """Aligned ASCII table in the Presto CLI style."""
    cells = [[("NULL" if v is None else str(v)) for v in row] for row in rows]
    widths = [
        max(len(col), *(len(r[i]) for r in cells)) if cells else len(col)
        for i, col in enumerate(columns)
    ]
    header = " | ".join(col.ljust(w) for col, w in zip(columns, widths))
    sep = "-+-".join("-" * w for w in widths)
    lines = [" " + header, " " + sep]
    for r in cells:
        lines.append(" " + " | ".join(v.ljust(w) for v, w in zip(r, widths)))
    return "\n".join(lines)


_END = object()


def run_statement(
    engine,
    statement: str,
    out: IO[str],
    max_rows: int = 100,
    max_input_bytes: int | None = None,
    pool: str | None = None,
    page: bool = False,
    in_stream: IO[str] | None = None,
) -> None:
    """Execute one statement and print the result.

    ``page=False`` (the -e / piped mode): one ``max_rows`` window, like
    before. ``page=True`` (interactive REPL): stream the FULL result in
    ``max_rows``-sized pages through ``toLocalIterator()`` — the same
    memory bound as the REST server's paging (one page + one in-transit
    partition on the driver, never a full collect), prompting between
    pages like presto-cli's pager ('q' stops)."""
    df = engine.sql(statement, max_input_bytes=max_input_bytes, pool=pool)
    if df is None or not df.columns:
        print("OK", file=out)
        return
    if not page:
        rows = df.limit(max_rows + 1).collect()
        truncated = len(rows) > max_rows
        rows = rows[:max_rows]
        print(format_table(df.columns, [tuple(r) for r in rows]), file=out)
        note = f" (first {max_rows} rows)" if truncated else ""
        print(f"({len(rows)} row{'s' if len(rows) != 1 else ''}){note}\n", file=out)
        return
    it = df.toLocalIterator()
    pending = next(it, _END)
    total, stopped = 0, False
    try:
        while pending is not _END and not stopped:
            chunk: list = []
            while pending is not _END and len(chunk) < max_rows:
                chunk.append(pending)
                pending = next(it, _END)
            # widths align within a page (each page prints its own header,
            # like a terminal pager re-drawing)
            print(format_table(df.columns, [tuple(r) for r in chunk]), file=out)
            total += len(chunk)
            if pending is not _END:
                print("-- more? [Enter continues, q stops] --", end="",
                      file=out, flush=True)
                answer = in_stream.readline() if in_stream is not None else ""
                if answer.strip().lower().startswith("q"):
                    stopped = True
    finally:
        # 'q' (or an error) abandons the stream mid-way: close the
        # iterator so its driver-side socket/serving thread and the
        # partially-run job are released now, not at GC time
        close_fn = getattr(it, "close", None)
        if close_fn is not None:
            try:
                close_fn()
            except Exception:
                pass
    note = " (stopped)" if stopped else ""
    print(f"({total} row{'s' if total != 1 else ''}){note}\n", file=out)


def repl(engine, in_stream: IO[str], out: IO[str], max_rows: int = 100,
         interactive: bool = True, max_input_bytes: int | None = None,
         pool: str | None = None) -> None:
    """Statement loop: accumulate lines until ';', execute, print."""
    buf: list[str] = []
    if interactive:
        print(PROMPT, end="", file=out, flush=True)
    while True:
        # readline() (not iteration) so run_statement's pager prompt can
        # read from the same stream mid-statement without the buffered-
        # iterator conflict Python raises on real files
        line = in_stream.readline()
        if line == "":  # EOF
            break
        stripped = line.strip()
        if not buf and stripped.lower() in ("quit", "exit", "quit;", "exit;", r"\q"):
            break
        buf.append(line)
        if stripped.endswith(";"):
            statement = "\n".join(buf).strip().rstrip(";")
            buf = []
            if statement:
                try:
                    # interactive shells page the full result; piped /
                    # -e input keeps the bounded window
                    run_statement(engine, statement, out, max_rows=max_rows,
                                  max_input_bytes=max_input_bytes, pool=pool,
                                  page=interactive, in_stream=in_stream)
                except Exception as exc:  # show the error, keep the shell alive
                    msg = str(exc).splitlines()[0] if str(exc) else repr(exc)
                    print(f"ERROR: {msg}", file=out)
        if interactive:
            print(PROMPT if not buf else CONT_PROMPT, end="", file=out, flush=True)
    if interactive:
        print("", file=out)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m presto_on_ray_spark.cli",
        description="Interactive Presto-dialect SQL shell on Spark "
        "(the reference's `connect` verb).",
    )
    parser.add_argument(
        "--sf-dir", default=None,
        help="fixture directory to register as the catalog (tables "
        "region/nation/.../embeddings)",
    )
    parser.add_argument("--master", default="local[*]")
    parser.add_argument("--max-rows", type=int, default=100)
    parser.add_argument(
        "-e", "--execute", default=None,
        help="run these ;-separated statements and exit (non-interactive)",
    )
    parser.add_argument(
        "--max-query-bytes", type=int, default=None,
        help="admission control: reject statements whose estimated "
        "input exceeds this many bytes (the reference's "
        "query.max-memory analogue; see resource_pools.py)",
    )
    parser.add_argument(
        "--pool", default=None,
        help="FAIR scheduler pool for this shell's statements "
        "(per-query isolation; enable FAIR mode via session conf)",
    )
    args = parser.parse_args(argv)

    import signal

    from presto_on_ray_spark.engine import Engine
    from presto_on_ray_spark.session import get_spark

    # a terminated shell still runs spark.stop(), which removes the
    # session's socket files (a killed process leaves them behind)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = get_spark(
        app_name="presto-on-ray-spark-cli",
        master=args.master,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        engine = Engine(spark)
        if args.sf_dir:
            engine.register_tables(args.sf_dir)
            print(f"catalog: {args.sf_dir}", file=sys.stdout)
        if args.execute is not None:
            import io

            text = args.execute if args.execute.rstrip().endswith(";") else args.execute + ";"
            # one statement per line so the ';'-terminated loop sees each
            # (statement bodies with literal ';' belong in the REPL)
            text = text.replace(";", ";\n")
            repl(engine, io.StringIO(text), sys.stdout,
                 max_rows=args.max_rows, interactive=False,
                 max_input_bytes=args.max_query_bytes, pool=args.pool)
        else:
            repl(engine, sys.stdin, sys.stdout, max_rows=args.max_rows,
                 interactive=sys.stdin.isatty(),
                 max_input_bytes=args.max_query_bytes, pool=args.pool)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
