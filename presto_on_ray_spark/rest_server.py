"""Presto REST protocol endpoint — the coordinator wire surface.

The reference's presto-cli speaks Presto's public client REST protocol
to the coordinator: ``POST /v1/statement`` with the SQL text as the
body, then follow ``nextUri`` until ``stats.state`` is terminal
(reference presto-mgr.py:268-273 execs that CLI against
``coordinator_host:port``; the protocol itself is documented public
Presto behavior). This module serves that protocol shape over the
engine, so an HTTP client can run Presto-dialect SQL without JDBC:

    eng = Engine(spark).register_tables(sf_dir)
    srv = PrestoRestServer(eng)          # ephemeral port
    srv.start()
    # POST http://host:port/v1/statement  body: SELECT ...
    # -> {"id", "columns", "nextUri", "stats": {"state": ...}}
    srv.stop()

Protocol fidelity (the subset real clients depend on):
- first response carries ``columns`` (name + Presto type rendering)
  and a ``nextUri``; data pages follow — the handshake presto-cli
  performs;
- results stream in ``page_rows``-sized chunks through successive
  ``nextUri`` pages backed by ``DataFrame.toLocalIterator()``, so the
  driver never materializes more than one page plus one Spark
  partition at a time (Presto's protocol pages the same way); each
  partition comes from the JVM over an AF_UNIX socket in a
  ``get_spark`` session (``session._socket_dir``), where loopback TCP
  held every pull ~40 ms on a delayed ACK;
- the most recent page of each query is retryable (the client
  protocol allows re-fetching a failed transfer); older pages are
  gone once the client advances;
- errors return ``stats.state = "FAILED"`` plus an ``error`` object
  with ``message``/``errorName`` (the fields the CLI prints) — both
  for planning errors at submit and runtime errors mid-stream;
- DELETE /v1/statement/{id} cancels (drops the open iterator).

Memory bound: per in-flight query the driver holds ``page_rows``
decoded rows (the cached current page) plus toLocalIterator's single
in-transit partition buffer; at most ``_max_buffered`` queries are
retained (LRU), so server-side memory is O(page_rows × 128) rows
regardless of result size. ``max_rows`` (optional) additionally caps
the total rows a query may return — a client-window knob, not a
memory requirement anymore.

With ``read_only=True`` the server rejects the mutating statement
family (INSERT / DELETE / CREATE / DROP / ALTER / TRUNCATE / MERGE /
UPDATE / ANALYZE) with a FAILED PERMISSION_DENIED payload — bind to a
non-loopback address only with this on (main() warns loudly
otherwise), since the engine otherwise executes destructive
statements (emulated DELETE rewrites tables, CREATE/DROP VIEW).
"""

from __future__ import annotations

import base64
import collections
import datetime
import json
import math
import re
import threading
import uuid
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import types as T

from presto_on_ray_spark.type_names import presto_type_name

# back-compat alias (tests and engine historically imported from here)
_presto_type = presto_type_name


from presto_on_ray_spark.engine import (  # shared with the engine's own
    _EXPLAIN_WRITE_RE,                    # plan-only introspection guards
    _classification_view,
)

_MUTATING_RE = re.compile(
    r"^\s*(INSERT|DELETE|UPDATE|MERGE|CREATE|DROP|ALTER|TRUNCATE|ANALYZE)\b",
    re.IGNORECASE,
)
_PREPARE_BODY_RE = re.compile(r"(?is)^\s*PREPARE\s+(\w+)\s+FROM\s+(.*)$")
_EXECUTE_NAME_RE = re.compile(r"(?is)^\s*EXECUTE\s+(\w+)\b")
# wrappers whose INNER text the engine dispatches through Engine.sql:
# the read-only guard must recurse through them (ADVICE r7 — 'EXPLAIN
# DELETE FROM t' / 'SHOW STATS FOR (DELETE FROM t)' reached the
# mutating path before erroring)
_EXPLAIN_PREFIX_RE = re.compile(
    r"(?is)^\s*EXPLAIN\s+(?:\(\s*[^)]*\)\s+)?(?:(ANALYZE)\s+(?:VERBOSE\s+)?)?(.+)$"
)
_SHOW_STATS_WRAP_RE = re.compile(
    r"(?is)^\s*SHOW\s+STATS\s+FOR\s*\(\s*(.+?)\s*\)\s*$"
)


def _json_value(v):
    """Row value -> Presto's JSON wire rendering."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        # Presto's wire spellings, parseable by Double.parseDouble
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        # Presto's interval day-to-second rendering: [-]D HH:MM:SS.mmm.
        # Exact integer math (Python normalizes: days carries the sign,
        # seconds/microseconds are non-negative) — no float rounding.
        ms = (v.days * 86400 + v.seconds) * 1000 + v.microseconds // 1000
        sign, a = ("-", -ms) if ms < 0 else ("", ms)
        d, rem = divmod(a, 86_400_000)
        h, rem = divmod(rem, 3_600_000)
        m, rem = divmod(rem, 60_000)
        s, frac = divmod(rem, 1000)
        return f"{sign}{d} {h:02d}:{m:02d}:{s:02d}.{frac:03d}"
    if isinstance(v, datetime.time):
        return v.strftime("%H:%M:%S.%f")[:-3]
    if isinstance(v, dict):
        return {str(_json_value(k)): _json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        # covers Row too (a tuple subclass): Presto renders row values
        # as JSON arrays on the wire, same as arrays
        return [_json_value(x) for x in v]
    return v


class _OpenQuery:
    """Server-side state of one streaming result: the open row
    iterator, a one-row lookahead (to decide whether a nextUri is
    due), the latest produced page (retryable), and the job group the
    iterator's jobs run under. Every query gets a group (the
    watchdog's if armed, else its own) — applied on the SUBMIT thread
    around toLocalIterator() creation, because that is the thread
    whose local properties the iterator's JVM serving thread inherits
    (jobs are launched there, NOT on the page-serving handler
    threads) — so the watchdog and DELETE cancellation can INTERRUPT
    an in-flight page pull rather than wait for it."""

    __slots__ = ("columns", "it", "pending", "page_no", "cached", "lock",
                 "watchdog", "gid", "_sc", "closed")

    def __init__(self, columns: list[dict], it, sc, gid: str,
                 watchdog=None):
        self.columns = columns
        self.it = it
        self.pending = None     # lookahead row, consumed before `it`
        self.page_no = 0        # number of the latest produced page
        self.cached: dict | None = None  # that page's payload
        # RLock so _page's own failure path may close() while holding
        # it; an external close() does NOT take this lock — it cancels
        # the job group instead, which interrupts an in-flight pull
        self.lock = threading.RLock()
        self.watchdog = watchdog    # resource_pools.Watchdog, if armed
        self.gid = gid              # group the iterator's jobs run under
        self._sc = sc
        self.closed = False

    def close(self) -> None:
        """Release driver resources deterministically and promptly:
        mark closed (page pulls that lost the race report CANCELLED,
        never FINISHED), disarm the watchdog timer, cancel the query's
        job group (interrupts an in-flight toLocalIterator partition
        job instead of blocking behind it), and close the iterator
        (driver-side socket/serving thread). Never blocks on the page
        lock; safe to call more than once."""
        self.closed = True
        if self.watchdog is not None:
            self.watchdog.disarm()
            self.watchdog = None
        try:
            self._sc.cancelJobGroup(self.gid)
        except Exception:
            pass
        it, self.it = self.it, iter(())
        close_fn = getattr(it, "close", None)
        if close_fn is not None:
            try:
                close_fn()  # raises harmlessly if mid-pull on another thread
            except Exception:
                pass


class PrestoRestServer:
    """Minimal Presto client-protocol server over an Engine."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 max_rows: int | None = None, page_rows: int = 1000,
                 read_only: bool = False):
        self.engine = engine
        self.max_rows = max_rows          # optional TOTAL row cap
        self.page_rows = max(1, page_rows)  # rows per nextUri page
        self.read_only = read_only
        # bounded LRU: entries whose nextUri is never followed must not
        # pin memory forever on a long-running server; open iterators
        # stay until evicted, exhausted, or DELETEd
        self._results: "collections.OrderedDict[str, _OpenQuery]" = (
            collections.OrderedDict()
        )
        self._max_buffered = 128
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, payload: dict) -> None:
                try:
                    body = json.dumps(payload).encode()
                except (TypeError, ValueError) as exc:
                    # an unrenderable value must surface as a FAILED
                    # payload, never a dropped connection mid-response
                    payload = {
                        "id": payload.get("id", "unknown"),
                        "error": {
                            "message": f"result not JSON-renderable: {exc}",
                            "errorName": "SERIALIZATION_ERROR",
                            "errorCode": 3,
                        },
                        "stats": {"state": "FAILED"},
                    }
                    body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                if self.path.rstrip("/") != "/v1/statement":
                    self._send(404, {"error": {"message": "not found"}})
                    return
                n = int(self.headers.get("Content-Length", "0"))
                sql = self.rfile.read(n).decode("utf-8")
                # nextUri must be client-routable: derive from the Host
                # header (binding to 0.0.0.0 makes self.url useless to
                # remote clients), falling back to the bind address
                host = self.headers.get("Host")
                base = f"http://{host}" if host else outer.url
                self._send(200, outer._submit(sql, base))

            def do_GET(self):
                parts = self.path.strip("/").split("/")
                # /v1/statement/{id}/{page}
                if len(parts) == 4 and parts[:2] == ["v1", "statement"]:
                    host = self.headers.get("Host")
                    base = f"http://{host}" if host else outer.url
                    try:
                        page_no = int(parts[3])
                    except ValueError:
                        page_no = -1
                    self._send(200, outer._page(parts[2], page_no, base))
                    return
                self._send(404, {"error": {"message": "not found"}})

            def do_DELETE(self):
                parts = self.path.strip("/").split("/")
                if len(parts) >= 3 and parts[:2] == ["v1", "statement"]:
                    with outer._lock:
                        dropped = outer._results.pop(parts[2], None)
                    if dropped is not None:
                        dropped.close()  # cancel = release iterator + watchdog
                    # RFC 9110: 204 carries no content
                    self.send_response(204)
                    self.end_headers()
                    return
                self._send(404, {"error": {"message": "not found"}})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # -- lifecycle ----------------------------------------------------
    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "PrestoRestServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        with self._lock:
            open_queries = list(self._results.values())
            self._results.clear()
        for state in open_queries:
            state.close()

    # -- protocol -----------------------------------------------------
    @staticmethod
    def _fail(qid: str, message: str, name: str, code: int) -> dict:
        return {
            "id": qid,
            "error": {"message": message, "errorName": name, "errorCode": code},
            "stats": {"state": "FAILED"},
        }

    def _mutating_keyword(self, stmt: str) -> str | None:
        """Read-only guard: the mutating keyword ``stmt`` would execute,
        or None. Strips leading comments first, and follows PREPARE /
        EXECUTE one level so neither 'PREPARE p FROM CREATE VIEW ...'
        nor 'EXECUTE p' of a mutating prepared text slips through
        (ADVICE r6: the raw prefix regex was bypassable both ways).
        Also recurses through the EXPLAIN [(opts)] [ANALYZE] prefix and
        the SHOW STATS FOR ( ... ) wrapper, whose inner statements the
        engine dispatches via Engine.sql (ADVICE r7). Classification
        runs on the engine's shared normalized view, so comment
        prefixes, paren wrapping, WITH-CTE-prefixed INSERT, and
        Hive-style FROM-multi-insert all classify as the DML they
        would execute."""
        stmt = _classification_view(stmt)
        if m := _MUTATING_RE.match(stmt):
            return m.group(1).upper()
        if m := _EXPLAIN_PREFIX_RE.match(stmt):
            inner = m.group(2)  # already comment-free (view above)
            if m.group(1) is None and (mw := _EXPLAIN_WRITE_RE.match(inner)):
                # plain EXPLAIN of INSERT/CTAS is plan-only at the
                # engine (TableWriter rendering, never executed), so a
                # read-only server allows it — but the source query
                # body still gets dispatched, so recurse into THAT
                return self._mutating_keyword(mw.group(5))
            return self._mutating_keyword(inner)
        if m := _SHOW_STATS_WRAP_RE.match(stmt):
            return self._mutating_keyword(m.group(1))
        if m := _PREPARE_BODY_RE.match(stmt):
            return self._mutating_keyword(m.group(2))
        if m := _EXECUTE_NAME_RE.match(stmt):
            # resolve against the engine's prepared-statement registry
            # (names are stored lowercased); unknown names fall through
            # to the engine's own "no such prepared statement" error
            body = getattr(self.engine, "_prepared", {}).get(m.group(1).lower())
            if body is not None:
                return self._mutating_keyword(body)
        return None

    def _submit(self, sql: str, base_url: str | None = None) -> dict:
        qid = uuid.uuid4().hex[:16]
        stmt = sql.strip().rstrip(";")
        if self.read_only and (kw := self._mutating_keyword(stmt)):
            return self._fail(
                qid, f"{kw} is not allowed on a read-only server",
                "PERMISSION_DENIED", 4,
            )
        wd = None  # set after detach; disarmed on any failure below
        try:
            df = self.engine.sql(stmt)
            if df is None:
                return {
                    "id": qid,
                    "columns": [{"name": "result", "type": "varchar"}],
                    "data": [["OK"]],
                    "stats": {"state": "FINISHED"},
                }
            if self.max_rows is not None:
                df = df.limit(self.max_rows)
            columns = [
                {"name": f.name, "type": presto_type_name(f.dataType)}
                for f in df.schema.fields
            ]
            # lazy: toLocalIterator runs one Spark job per partition as
            # the client pages, never a full collect on the driver.
            # Its jobs are launched by a JVM serving thread CREATED
            # HERE, which inherits THIS thread's local properties —
            # not the later page-serving handler threads' — so the
            # job group (the watchdog's if armed, else the query's
            # own) and the FAIR pool must be in effect around the
            # toLocalIterator() call itself for the watchdog, DELETE
            # cancellation, and pool isolation to govern the stream.
            sc = self.engine.spark.sparkContext
            wd = (self.engine.detach_watchdog()
                  if hasattr(self.engine, "detach_watchdog") else None)
            gid = wd.group if wd is not None else f"rest-{qid}"
            pool = getattr(self.engine, "_pool", None)
            sc.setLocalProperty("spark.jobGroup.id", gid)
            sc.setLocalProperty("spark.job.interruptOnCancel", "true")
            if pool is not None:
                sc.setLocalProperty("spark.scheduler.pool", pool)
            try:
                it = df.toLocalIterator()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
                sc.setLocalProperty("spark.scheduler.pool", None)
            state = _OpenQuery(columns, it, sc, gid, watchdog=wd)
        except Exception as exc:
            if wd is not None:
                # ownership was detached from the engine above but never
                # reached an _OpenQuery: disarm here or the Timer thread
                # lives until query_max_run_time and fires on a dead
                # group (ADVICE r7)
                wd.disarm()
            return self._fail(
                qid, str(exc).splitlines()[0] if str(exc) else repr(exc),
                type(exc).__name__, 1,
            )
        with self._lock:
            self._results[qid] = state
            evicted = []
            while len(self._results) > self._max_buffered:
                evicted.append(self._results.popitem(last=False)[1])
        for old in evicted:  # outside the lock: close() may touch the JVM
            old.close()
        # first response: columns + nextUri (the presto-cli handshake);
        # data pages follow
        return {
            "id": qid,
            "columns": columns,
            "nextUri": f"{base_url or self.url}/v1/statement/{qid}/1",
            "stats": {"state": "RUNNING"},
        }

    def _page(self, qid: str, page_no: int, base_url: str | None = None) -> dict:
        with self._lock:
            state = self._results.get(qid)
            if state is not None:
                self._results.move_to_end(qid)
        if state is None:
            return self._fail(
                qid, f"unknown or finished query: {qid}", "NOT_FOUND", 2
            )
        with state.lock:
            if page_no == state.page_no and state.cached is not None:
                return state.cached  # protocol-sanctioned retry (also
                # covers re-fetching the FINAL page after exhaustion)
            if state.closed:
                return self._fail(
                    qid, f"query {qid} was cancelled", "QUERY_CANCELLED", 2
                )
            if page_no != state.page_no + 1:
                return self._fail(
                    qid, f"page {page_no} of {qid} is no longer available",
                    "PAGE_GONE", 2,
                )
            rows, more = [], False
            # NOTE: no properties are (re-)applied here — the
            # iterator's jobs run on the JVM serving thread that
            # inherited the submit thread's group/pool at
            # toLocalIterator() creation (_submit), so they are
            # governed regardless of which handler thread pulls pages.
            try:
                while len(rows) < self.page_rows:
                    if state.pending is not None:
                        rows.append(state.pending)
                        state.pending = None
                    else:
                        rows.append(next(state.it))
                # page full — look one row ahead so the terminal page
                # never dangles an empty nextUri follow-up
                state.pending = next(state.it)
                more = True
            except StopIteration:
                pass
            except Exception as exc:  # runtime failure mid-stream
                was_cancelled = state.closed  # a concurrent close
                with self._lock:
                    self._results.pop(qid, None)
                state.close()
                if was_cancelled:
                    return self._fail(
                        qid, f"query {qid} was cancelled", "QUERY_CANCELLED", 2
                    )
                return self._fail(
                    qid, str(exc).splitlines()[0] if str(exc) else repr(exc),
                    type(exc).__name__, 1,
                )
            if state.closed:
                # a concurrent DELETE landed mid-pull and swapped the
                # iterator: this is a cancellation, never a FINISHED
                # page with silently truncated data
                return self._fail(
                    qid, f"query {qid} was cancelled", "QUERY_CANCELLED", 2
                )
            payload = {
                "id": qid,
                "columns": state.columns,
                "data": [[_json_value(v) for v in row] for row in rows],
                "stats": {"state": "RUNNING" if more else "FINISHED"},
            }
            if more:
                payload["nextUri"] = (
                    f"{base_url or self.url}/v1/statement/{qid}/{page_no + 1}"
                )
            state.page_no = page_no
            state.cached = payload
            if not more:
                state.close()  # exhausted: socket + watchdog released
            return payload


def main(argv: list[str] | None = None) -> int:
    """Standalone coordinator-style endpoint:

        python -m presto_on_ray_spark.rest_server \
            --sf-dir /root/testdata/sf0.01 --port 8080
    """
    import argparse
    import signal
    import sys

    parser = argparse.ArgumentParser(prog="python -m presto_on_ray_spark.rest_server")
    parser.add_argument("--sf-dir", default=None)
    parser.add_argument("--host", default="127.0.0.1")
    parser.add_argument("--port", type=int, default=8080)
    parser.add_argument("--max-rows", type=int, default=None,
                        help="optional total row cap per query")
    parser.add_argument("--page-rows", type=int, default=1000,
                        help="rows per nextUri page (driver memory bound)")
    parser.add_argument("--read-only", action="store_true",
                        help="reject INSERT/DELETE/DDL statements")
    args = parser.parse_args(argv)

    if args.host not in ("127.0.0.1", "localhost", "::1") and not args.read_only:
        print(
            f"WARNING: binding to {args.host} WITHOUT --read-only exposes "
            "destructive statements (DELETE rewrites tables, CREATE/DROP "
            "VIEW) to every network client; pass --read-only unless this "
            "interface is trusted.",
            file=sys.stderr,
        )

    from presto_on_ray_spark.engine import Engine
    from presto_on_ray_spark.session import get_spark

    # a terminated server still runs spark.stop(), which removes the
    # session's socket files (a killed process leaves them behind)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = get_spark(app_name="presto-on-ray-spark-rest")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        eng = Engine(spark)
        if args.sf_dir:
            eng.register_tables(args.sf_dir)
        srv = PrestoRestServer(eng, host=args.host, port=args.port,
                               max_rows=args.max_rows, page_rows=args.page_rows,
                               read_only=args.read_only)
        print(f"serving Presto REST protocol at {srv.url}/v1/statement")
        try:
            srv._httpd.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            srv.stop()
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
