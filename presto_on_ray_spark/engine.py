"""Engine — the front door (SURVEY §3.3, §7 milestone 0).

The reference's user surface is: start a cluster, attach a catalog,
connect a SQL REPL (reference: presto-mgr.py:248-281). On Spark the
cluster/catalog plumbing is the platform's job, so the engine is a thin,
testable library over an existing SparkSession:

    eng = Engine(spark)                      # ~ start + connect
    eng.register_tables("/root/testdata/sf0.01")   # ~ catalog attach
    eng.sql("SELECT approx_distinct(l_orderkey) FROM lineitem")
    eng.table("lineitem").groupBy(...)       # DataFrame front door

Both front doors converge on one Catalyst logical plan (SURVEY §3.3).
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame, SparkSession

from presto_on_ray_spark import dialect
from presto_on_ray_spark.functions.registry import (
    register_function,
    register_presto_functions,
)
from presto_on_ray_spark.session import apply_session_defaults, local_relation
from presto_on_ray_spark.sources.tables import load_table, register_tables
from presto_on_ray_spark.type_names import presto_type_name as _presto_type


# Presto prepared-statement surface (public Presto 0.248 SQL:
# PREPARE / EXECUTE [USING ...] / DEALLOCATE PREPARE / DESCRIBE
# INPUT|OUTPUT — the statements presto-cli itself issues). The
# reference's shell (presto-mgr.py:268-273) exposes them implicitly by
# delegating to that CLI; here they are handled at the engine front
# door before dialect translation.
_PREPARE_RE = re.compile(r"^\s*PREPARE\s+(\w+)\s+FROM\s+(.+)$", re.IGNORECASE | re.DOTALL)
_EXECUTE_RE = re.compile(r"^\s*EXECUTE\s+(\w+)(?:\s+USING\s+(.+))?\s*$", re.IGNORECASE | re.DOTALL)
_DEALLOC_RE = re.compile(r"^\s*DEALLOCATE\s+PREPARE\s+(\w+)\s*$", re.IGNORECASE)
_DESC_INPUT_RE = re.compile(r"^\s*DESCRIBE\s+INPUT\s+(\w+)\s*$", re.IGNORECASE)
_DESC_OUTPUT_RE = re.compile(r"^\s*DESCRIBE\s+OUTPUT\s+(\w+)\s*$", re.IGNORECASE)

# Presto session-property statements (SET/RESET/SHOW SESSION). The ONE
# property the reference's manager actually configures is the per-query
# memory cap (presto-mgr.py:18-22 writes query.max-memory[-per-node]);
# here SET SESSION query_max_memory applies the engine's admission-
# control rendering of that cap (resource_pools.admit_or_raise) to
# every subsequent Engine.sql call.
_SET_SESSION_RE = re.compile(
    r"^\s*SET\s+SESSION\s+([\w.\-]+)\s*=\s*(.+?)\s*$", re.IGNORECASE | re.DOTALL
)
_RESET_SESSION_RE = re.compile(r"^\s*RESET\s+SESSION\s+([\w.\-]+)\s*$", re.IGNORECASE)
_SHOW_SESSION_RE = re.compile(r"^\s*SHOW\s+SESSION\s*$", re.IGNORECASE)

# Presto introspection statements (public presto-cli surface, same
# provenance as the prepared-statement family above):
#   EXPLAIN [(TYPE LOGICAL|DISTRIBUTED|VALIDATE|IO)] stmt
#   EXPLAIN ANALYZE [VERBOSE] stmt
#   SHOW STATS FOR table | (query)
#   ANALYZE table
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s+(?:\(\s*([^)]*)\)\s+)?(?:(ANALYZE)\s+(?:VERBOSE\s+)?)?(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_STATS_RE = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+(.+?)\s*$", re.IGNORECASE | re.DOTALL
)
_ANALYZE_RE = re.compile(r"^\s*ANALYZE\s+([\w.]+)\s*$", re.IGNORECASE)

# Statement families that EXECUTE (or change session/catalog state)
# when dispatched through Engine.sql. Presto's EXPLAIN (without
# ANALYZE) only PLANS, so the EXPLAIN / SHOW STATS FOR (query) paths
# must refuse these before dispatching — otherwise `EXPLAIN DELETE
# FROM t` would rewrite the table before raising (ADVICE r7). Nested
# EXPLAIN is included so `EXPLAIN EXPLAIN ANALYZE DELETE ...` can't
# tunnel through either.
_NONQUERY_INNER_RE = re.compile(
    r"^\s*(INSERT|DELETE|UPDATE|MERGE|CREATE|DROP|ALTER|TRUNCATE|ANALYZE|"
    r"USE|SET|RESET|PREPARE|DEALLOCATE|EXECUTE|START|COMMIT|ROLLBACK|"
    r"GRANT|REVOKE|CALL|EXPLAIN)\b",
    re.IGNORECASE,
)

# The two write statements Presto's EXPLAIN DOES plan (rendering a
# TableWriter over the source query's plan) without executing:
# INSERT INTO t [cols] query  /  CREATE TABLE t [...] AS query.
# Groups: 1 = INSERT target, 2 = INSERT column list, 3 = IF NOT
# EXISTS, 4 = CTAS target, 5 = source query body.
_EXPLAIN_WRITE_RE = re.compile(
    r"^\s*(?:INSERT\s+INTO\s+([\w.]+)(?:\s*\(([\w\s,]*)\))?"
    r"|CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
    r"(?:\s+WITH\s*\([^)]*\))?\s+AS)\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)

def _skip_comment(text: str, i: int) -> int | None:
    """Index just past the SQL comment starting at ``text[i]`` (-- to
    end of line, nested-aware /* */ block), or None if ``text[i]`` does
    not start a comment. The ONE comment lexer — every classification
    scanner goes through it, so comment-handling fixes can never
    diverge between call sites again (the round-8 bypass was exactly a
    lagging second copy)."""
    n = len(text)
    if text.startswith("--", i):
        j = text.find("\n", i)
        return n if j == -1 else j + 1
    if text.startswith("/*", i):
        depth, j = 1, i + 2
        while j < n and depth:
            if text.startswith("/*", j):
                depth, j = depth + 1, j + 2
            elif text.startswith("*/", j):
                depth, j = depth - 1, j + 2
            else:
                j += 1
        return j
    return None


def _strip_leading_comments(stmt: str) -> str:
    """Remove every leading SQL comment (-- line and nested-aware
    /* */ block) so statement-classification regexes see the first
    real keyword — both the introspection plan-only guards here and
    the REST read-only guard would otherwise be defeated by a comment
    prefix ('EXPLAIN /* c */ DROP VIEW v')."""
    i, n = 0, len(stmt)
    while i < n:
        if stmt[i].isspace():
            i += 1
        elif (j := _skip_comment(stmt, i)) is not None:
            i = j
        else:
            break
    return stmt[i:]


def _strip_outer_parens(text: str) -> str:
    """Remove exactly one pair of outer parentheses from ``text`` —
    the opening '(' must match the FINAL ')'. A naive ``strip("()")``
    eats every trailing ')', corrupting queries ending in an IN-list
    or subquery close. Single-quoted literals (with \'\' escapes) are
    skipped while balancing."""
    text = text.strip()
    if not (text.startswith("(") and text.endswith(")")):
        return text
    depth, in_str = 0, False
    for i, ch in enumerate(text):
        if in_str:
            if ch == "'":
                in_str = False  # '' escapes re-enter on the next quote
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                # outer pair closes before the end: not a single
                # wrapping pair, leave the text untouched
                return text if i < len(text) - 1 else text[1:-1].strip()
    return text


def _spark_raw_prefix(text: str, i: int) -> bool:
    """True when the quote at ``text[i]`` opens a Spark RAW string
    literal: a lone ``r``/``R`` immediately before it (``r'...'``,
    ``R"..."`` — Spark lexes these with NO escape processing at all).
    The r must not be the tail of a longer identifier: ``xr'..'`` AND
    ``1r'..'`` are both identifier + normal escaped string (Spark's
    lexer allows digit-leading identifiers, probed live: the
    UNSUPPORTED_TYPED_LITERAL "1R" error span shows the backslash
    escaping inside the adjacent literal), so any alphanumeric or
    underscore before the r blocks the raw reading."""
    if i == 0 or text[i - 1] not in "rR":
        return False
    return i < 2 or not (text[i - 2].isalnum() or text[i - 2] == "_")


def _blank_noncode(text: str, backslash_escapes: bool) -> str:
    """Length-preserving view of ``text`` with every comment (-- line,
    nested /* */ block) and every quoted span ('...', "...", `...`)
    replaced by spaces, leaving only SQL code characters.

    ``backslash_escapes`` selects the string-lexing rules: False =
    Presto (only doubled-quote escapes), True = Spark default
    (backslash escapes too, EXCEPT inside r'...' raw literals, which
    Spark lexes verbatim to the first closing quote — missing that
    rule desynced this view: a backslash-escaped literal plus a raw
    literal hid an INSERT from both views, round-9 ADVICE bypass).
    Classification scans BOTH views — the two engines lex the same
    text differently, and a guard that commits to one lexer can be
    desynchronized by a literal the other lexer reads past (the
    round-8 review produced live write bypasses this way).
    """
    out, i, n = [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"`":
            q = ch
            # Spark raw literal: no backslash escapes, ends at the
            # very first closing quote (a following quote starts a NEW
            # literal — Spark concatenates adjacent string tokens).
            raw = backslash_escapes and q != "`" and _spark_raw_prefix(text, i)
            out.append(" ")
            i += 1
            while i < n:
                c = text[i]
                if (
                    not raw
                    and backslash_escapes
                    and q != "`"
                    and c == "\\"
                    and i + 1 < n
                ):
                    out.append("  ")
                    i += 2
                    continue
                out.append(" ")
                i += 1
                if c == q:
                    if not raw and i < n and text[i] == q:  # doubled-quote escape
                        out.append(" ")
                        i += 1
                        continue
                    break
        elif (j := _skip_comment(text, i)) is not None:
            out.append(" " * (j - i))
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


_CTE_HEAD_RE = re.compile(r"(?is)^\s*WITH\b")
_FROM_HEAD_RE = re.compile(r"(?is)^\s*FROM\b")
# Write-POSITION syntax, not bare keywords: `merge` is this engine's
# own registered Presto aggregate (registry: merge -> hll_union_agg)
# and insert/update/delete are legal non-reserved identifiers, so a
# bare-keyword scan would refuse legitimate read queries. Every write
# form Spark can execute matches one of these shapes.
_WRITE_SYNTAX_RE = re.compile(
    r"(?is)\b(?:(INSERT)\s+(?:INTO|OVERWRITE)|(DELETE)\s+FROM"
    r"|(MERGE)\s+INTO|(UPDATE)\s+\S+\s+SET)\b"
)


def _write_syntax_in(blanked: str) -> str | None:
    if _CTE_HEAD_RE.match(blanked) or _FROM_HEAD_RE.match(blanked):
        if m := _WRITE_SYNTAX_RE.search(blanked):
            return next(g for g in m.groups() if g).upper()
    return None


def _hidden_write_keyword(text: str) -> str | None:
    """DML keyword reachable inside a WITH-CTE-prefixed or Hive-style
    FROM-prefixed statement (Spark's grammar allows ``WITH ... INSERT
    INTO ...`` and ``FROM t INSERT ...``), or None for a plain query.

    Fail-closed by construction: the scan runs over the code-only
    views under BOTH Presto and Spark string-lexing rules and flags a
    hit in EITHER — a write Spark would execute always has its
    write-position syntax outside Spark-lexed strings, so it cannot
    hide; the worst a crafted lexer mismatch can cause is refusing an
    exotic query. (Structural CTE parsing was tried first and each
    round of review produced a live bypass through a lexing corner —
    quoted CTE names, backslash escapes, nested comments. Scanning
    beats parsing here.)
    """
    for backslash_escapes in (False, True):
        if kw := _write_syntax_in(_blank_noncode(text, backslash_escapes)):
            return kw
    return None


def _classification_view(text: str) -> str:
    """Normalize ``text`` for statement-family classification: blank
    comments, peel wrapping paren pairs, and resolve WITH-/FROM-
    prefixed DML to its write keyword — so '( /* c */ (DELETE ...))',
    'WITH s AS (SELECT 1) INSERT ...' and 'FROM t INSERT ...' all
    classify as the DML they execute. Only the guards look at this
    view — the original text is what gets dispatched."""
    if kw := _hidden_write_keyword(text):
        return kw
    text = _blank_noncode(text, False).strip()
    while True:
        peeled = _strip_outer_parens(text)
        if peeled == text:
            return text
        # post-peel the text is already blanked (quote-free), so one
        # view is definitionally complete here; belt-and-suspenders
        # anyway, since Spark rejects parenthesized DML outright
        if kw := _write_syntax_in(peeled):
            return kw
        text = peeled.strip()


def _require_query(text: str, context: str) -> None:
    """Raise unless ``text`` classifies as a query statement — the
    shared refusal of the plan-only EXPLAIN / SHOW STATS guards."""
    view = _classification_view(text)
    if m := _NONQUERY_INNER_RE.match(view):
        raise ValueError(
            f"{context} requires a query statement, got "
            f"{m.group(1).upper()}"
        )


# Presto namespace statements: the reference's CLI connects with
# `--catalog mysql --schema test` (reference: presto-mgr.py:268-273,
# README.md:90) and Presto then resolves `user`, `test.user` and
# `mysql.test.user` to the same table. Temp views are single-part, so
# the engine tracks attached (catalog, schema) prefixes and strips
# them from qualified names before translation.
_USE_RE = re.compile(r"^\s*USE\s+(\w+)(?:\.(\w+))?\s*$", re.IGNORECASE)

# Presto catalog/DDL statement surface (public presto-cli statements;
# the reference's only demo session runs against `--catalog mysql
# --schema test`, reference README.md:90). SHOW ... LIKE patterns are
# SQL-LIKE (% / _) in Presto but fs-glob (* / ?) in Spark — passing
# them through verbatim silently matches nothing, so the engine
# intercepts and converts.
_SHOW_CATALOGS_RE = re.compile(
    r"^\s*SHOW\s+CATALOGS(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE
)
_SHOW_SCHEMAS_RE = re.compile(
    r"^\s*SHOW\s+SCHEMAS(?:\s+(?:FROM|IN)\s+(\w+))?(?:\s+LIKE\s+'([^']*)')?\s*$",
    re.IGNORECASE,
)
_SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([\w.]+))?(?:\s+LIKE\s+'([^']*)')?\s*$",
    re.IGNORECASE,
)
_SHOW_FUNCTIONS_RE = re.compile(
    r"^\s*SHOW\s+FUNCTIONS(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+(?:TABLE|VIEW)\s+([\w.]+)\s*$", re.IGNORECASE
)
_SHOW_COLUMNS_RE = re.compile(
    r"^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.]+)\s*$", re.IGNORECASE
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s*"
    r"(?:\(\s*([\w\s,]+?)\s*\)\s*)?AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.IGNORECASE
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TXN_RE = re.compile(
    r"^\s*(?:START\s+TRANSACTION(?:\s+[\w\s,]+)?|COMMIT(?:\s+WORK)?|"
    r"ROLLBACK(?:\s+WORK)?)\s*$",
    re.IGNORECASE,
)

_SIZE_RE = re.compile(r"^\s*([0-9.]+)\s*([KMGT]?B)\s*$", re.IGNORECASE)
_SIZE_FACTORS = {"B": 1, "KB": 1 << 10, "MB": 1 << 20, "GB": 1 << 30, "TB": 1 << 40}

# Presto duration literals ('100ms', '2s', '5m', '1.5h', '2d') — the
# value syntax of query.max-run-time and friends.
_DURATION_RE = re.compile(r"^\s*([0-9.]+)\s*(ns|us|ms|s|m|h|d)\s*$", re.IGNORECASE)
_DURATION_FACTORS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "h": 3600.0, "d": 86400.0,
}


def _parse_size_bytes(text: str) -> int:
    m = _SIZE_RE.match(text)
    if not m:
        raise ValueError(f"invalid size literal: {text!r} (expected e.g. '1GB')")
    return int(float(m.group(1)) * _SIZE_FACTORS[m.group(2).upper()])


def _parse_duration_seconds(text: str) -> float:
    m = _DURATION_RE.match(text)
    if not m:
        raise ValueError(f"invalid duration literal: {text!r} (expected e.g. '30s')")
    return float(m.group(1)) * _DURATION_FACTORS[m.group(2).lower()]


def _split_top_level_commas(text: str) -> list[str]:
    """Split a USING argument list on commas outside parens (string
    literals are already shielded to comma-free placeholders)."""
    parts, depth, buf = [], 0, []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def _substitute_placeholders(statement: str, args: list[str]) -> str:
    """Replace positional ``?`` placeholders (outside string literals)
    with the given SQL literal texts, in order. Errors loudly on an
    arity mismatch — Presto does too."""
    shielded, lits = dialect._shield_literals(statement)
    n = shielded.count("?")
    if n != len(args):
        raise ValueError(
            f"prepared statement has {n} parameter(s) but {len(args)} "
            "value(s) were supplied in USING"
        )
    for a in args:
        shielded = shielded.replace("?", a, 1)
    return dialect._restore_literals(shielded, lits)


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = apply_session_defaults(spark)
        register_presto_functions(spark)
        self._sf_dir: str | None = None
        self._prepared: dict[str, str] = {}
        self._session_props: dict[str, str] = {}
        self._admission_bytes: int | None = None
        self._max_run_time_s: float | None = None
        self._pool: str | None = None
        self._deferred_views: set[str] = set()
        # serializes deferred-view materialization: Engine.sql serves
        # concurrent per-thread callers, and without the lock two
        # threads referencing the same deferred view both construct the
        # operator DataFrame, run its bounded driver jobs, and
        # double-track the persist (ADVICE r13)
        self._deferred_lock = threading.Lock()
        self.last_job_group: str | None = None
        # per-THREAD armed watchdog (job groups are thread-local in
        # Spark, so the handle must be too: concurrent sql() callers —
        # e.g. the REST server's per-request threads — must never
        # disarm or detach each other's kill switch)
        self._watchdog_tl = threading.local()
        self._table_stats: dict[str, list[tuple]] = {}
        # attached Presto-style namespaces: {catalog: {schema, ...}}
        self._catalogs: dict[str, set[str]] = {}
        self._current_schema: tuple[str, str] | None = None

    # -- catalog ------------------------------------------------------
    def register_tables(
        self,
        sf_dir: str,
        names: list[str] | None = None,
        catalog: str = "parquet",
        schema: str = "default",
    ) -> "Engine":
        """Attach the fixture parquet catalog as temp views, reachable
        both bare and as ``catalog.schema.table`` (attach_catalog)."""
        register_tables(self.spark, sf_dir, names)
        self._sf_dir = sf_dir
        return self.attach_catalog(catalog, schema)

    def attach_catalog(self, catalog: str, schema: str = "default") -> "Engine":
        """Attach a Presto-style catalog.schema namespace over the
        registered views, so queries may write ``catalog.schema.table``
        (and, once USE selects the namespace, ``schema.table``) exactly
        as against the reference's `--catalog mysql --schema test`
        session (reference: README.md:90-102). The first attach becomes
        the current namespace."""
        self._catalogs.setdefault(catalog.lower(), set()).add(schema.lower())
        if self._current_schema is None:
            self._current_schema = (catalog.lower(), schema.lower())
        return self

    def _strip_namespace(self, sql_text: str) -> str:
        """Rewrite attached ``catalog.schema.table`` (and current-
        namespace ``schema.table``) references to the bare view name,
        outside string literals. Two-part names are only stripped when
        the trailing identifier is a registered table, so struct-field
        access through a like-named alias is never touched."""
        if not self._catalogs:
            return sql_text
        shielded, lits = dialect._shield_literals(sql_text)
        for cat, schemas in self._catalogs.items():
            for sch in schemas:
                pat = re.compile(
                    rf"(?i)\b{re.escape(cat)}\.{re.escape(sch)}\.(\w+)"
                )
                shielded = pat.sub(r"\1", shielded)
        if self._current_schema is not None:
            _, sch = self._current_schema
            pat = re.compile(rf"(?i)\b{re.escape(sch)}\.(\w+)")
            shielded = pat.sub(
                lambda m: m.group(1)
                if self.spark.catalog.tableExists(m.group(1))
                else m.group(0),
                shielded,
            )
        return dialect._restore_literals(shielded, lits)

    def table(self, name: str) -> DataFrame:
        import os

        from presto_on_ray_spark.sources.tables import TABLES

        if (
            self._sf_dir is not None
            and name in TABLES
            and os.path.exists(os.path.join(self._sf_dir, f"{name}.parquet"))
        ):
            return load_table(self.spark, self._sf_dir, name)
        # anything else (user temp views, catalog tables) resolves
        # through the session catalog
        return self.spark.table(name)

    # -- SQL front door ----------------------------------------------
    def sql(
        self,
        text: str,
        *,
        max_input_bytes: int | None = None,
        pool: str | None = None,
    ) -> DataFrame:
        """Run Presto-dialect SQL (translated) on Spark.

        ``max_input_bytes`` applies admission control (the engine's
        rendering of the reference's query.max-memory caps,
        presto-mgr.py:18-22 — rejects before execution when Catalyst's
        input estimate exceeds the budget); ``pool`` tags this thread's
        actions with a FAIR scheduler pool for per-query isolation.
        See resource_pools.py.

        Prepared-statement statements (PREPARE / EXECUTE [USING] /
        DEALLOCATE PREPARE / DESCRIBE INPUT|OUTPUT) are handled here;
        PREPARE and DEALLOCATE return None (the REPL prints OK)."""
        # Every statement starts clean: cancel the previous query's
        # watchdog timer and drop its thread-local job group FIRST, so
        # even the statement paths that run their own Spark jobs
        # (EXPLAIN ANALYZE's count, SHOW STATS' aggregate) can never
        # execute under a stale group a pending timer is about to
        # cancel. (EXPLAIN's recursive self.sql(inner) then re-arms for
        # the inner query, which is exactly the coverage we want.)
        self._disarm_watchdog()
        self._materialize_deferred(text)
        handled = self._catalog_statement(text)
        if handled is NotImplemented:
            handled = self._introspection_statement(text)
        if handled is NotImplemented:
            handled = self._session_statement(text)
        if handled is NotImplemented:
            handled = self._prepared_statement(text)
        if handled is not NotImplemented:
            if handled is None or isinstance(handled, DataFrame):
                return handled
            text = handled  # EXECUTE: fall through with substituted SQL
        df = self.spark.sql(dialect.translate(self._strip_namespace(text)))
        cap = max_input_bytes if max_input_bytes is not None else self._admission_bytes
        if cap is not None:
            from presto_on_ray_spark.resource_pools import admit_or_raise

            admit_or_raise(df, cap)
        effective_pool = pool if pool is not None else self._pool
        if effective_pool is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", effective_pool
            )
        if self._max_run_time_s is not None:
            # runtime kill switch (Presto query.max-run-time): the
            # calling thread's actions for THIS query run under a
            # fresh job group that a daemon timer cancels at the
            # deadline; concurrent queries (other threads/pools) are
            # untouched. See resource_pools.arm_watchdog.
            from presto_on_ray_spark.resource_pools import arm_watchdog

            self._watchdog = arm_watchdog(
                self.spark, self._max_run_time_s,
                description=text.strip()[:120],
            )
            self.last_job_group = self._watchdog.group
            # thread-scoped record for kill_query (survives detach)
            self._watchdog_tl.last_group = self._watchdog.group
        return df

    @property
    def _watchdog(self):
        """The CALLING thread's armed watchdog (or None) — thread-local
        because Spark job groups are."""
        return getattr(self._watchdog_tl, "wd", None)

    @_watchdog.setter
    def _watchdog(self, wd) -> None:
        self._watchdog_tl.wd = wd

    def _disarm_watchdog(self) -> None:
        """Cancel the calling thread's pending watchdog timer (if any)
        and clear its job-group local properties, so neither the timer
        nor the stale group id can affect subsequent queries. Other
        threads' armed watchdogs are untouched."""
        from presto_on_ray_spark.resource_pools import clear_job_group

        if self._watchdog is not None:
            self._watchdog.disarm()
            self._watchdog = None
        clear_job_group(self.spark)

    def detach_watchdog(self):
        """Transfer ownership of the calling thread's armed watchdog to
        the caller (or None if none armed) — the slot is thread-local,
        so a concurrent submit on another thread can neither steal nor
        disarm this one. Used by servers that consume the
        result on OTHER threads (REST paging via toLocalIterator): the
        caller re-applies the group id on each consuming thread and
        disarms the timer itself when the query completes, so the next
        sql() on this thread won't cancel a still-streaming query's
        kill switch."""
        wd, self._watchdog = self._watchdog, None
        return wd

    def kill_query(self, job_group: str | None = None) -> None:
        """Cancel a running query's jobs (Presto's kill-query): by the
        job group arm_watchdog assigned, defaulting to the CALLING
        THREAD's most recently armed query (matching the thread-local
        watchdog scope — a concurrent arm on another thread must never
        redirect this kill), then to the engine-wide most recent as a
        last resort."""
        gid = (
            job_group
            or getattr(self._watchdog_tl, "last_group", None)
            or self.last_job_group
        )
        if gid is None:
            raise ValueError("no watchdog-armed query to kill")
        self.spark.sparkContext.cancelJobGroup(gid)

    def spark_sql(self, text: str) -> DataFrame:
        """Run native Spark SQL untranslated."""
        return self.spark.sql(text)

    # -- catalog / DDL statements (Presto SHOW family, views, DELETE) --
    @staticmethod
    def _like_to_regex(pattern: str) -> str:
        """Presto SHOW ... LIKE uses SQL-LIKE wildcards (% any run, _
        one char); compile to an anchored regex for local filtering."""
        out = []
        for ch in pattern:
            if ch == "%":
                out.append(".*")
            elif ch == "_":
                out.append(".")
            else:
                out.append(re.escape(ch))
        return "^" + "".join(out) + "$"

    def _catalog_statement(self, text: str):
        """Handle the Presto catalog/DDL statement family. Returns
        NotImplemented when ``text`` is none of them.

        SHOW CATALOGS/SCHEMAS reflect the engine's attached Presto
        namespaces (attach_catalog) plus Spark's own; SHOW TABLES /
        FUNCTIONS convert Presto's SQL-LIKE patterns to local regex
        filtering (Spark's glob would silently match nothing); SHOW
        CREATE TABLE synthesizes DDL from the resolved schema (temp
        views have no stored DDL); CREATE/DROP VIEW are session temp
        views — the same lifetime as the registered catalog; DELETE
        FROM is emulated for session-catalog tables via filtered
        rewrite (Spark parquet v1 tables have no row-level delete;
        Presto 0.248's own DELETE is connector-dependent); transaction
        control statements are accepted no-ops (Presto runs
        auto-commit against non-transactional connectors the same
        way)."""
        if m := _SHOW_CATALOGS_RE.match(text):
            names = sorted(set(self._catalogs) | {"spark_catalog"})
            if m.group(1) is not None:
                rx = re.compile(self._like_to_regex(m.group(1)))
                names = [n for n in names if rx.match(n)]
            return local_relation(self.spark, [(n,) for n in names], "Catalog STRING")
        if m := _SHOW_SCHEMAS_RE.match(text):
            cat, like = m.group(1), m.group(2)
            if cat is not None and cat.lower() in self._catalogs:
                names = sorted(self._catalogs[cat.lower()])
            elif cat is not None and cat.lower() == "spark_catalog":
                names = sorted(d.name for d in self.spark.catalog.listDatabases())
            elif cat is not None:
                # Presto errors on an unknown catalog rather than
                # returning some other catalog's schemas
                raise ValueError(
                    f"Catalog '{cat}' is not attached (Engine.attach_catalog)"
                )
            else:
                names = sorted(
                    {s for ss in self._catalogs.values() for s in ss}
                    | {d.name for d in self.spark.catalog.listDatabases()}
                )
            if like is not None:
                rx = re.compile(self._like_to_regex(like))
                names = [n for n in names if rx.match(n)]
            return local_relation(self.spark, [(n,) for n in names], "Schema STRING")
        if m := _SHOW_TABLES_RE.match(text):
            sch, like = m.group(1), m.group(2)
            attached = {s for ss in self._catalogs.values() for s in ss}
            # FROM may be a bare schema OR catalog.schema — compare the
            # trailing identifier against attached namespaces (the same
            # resolution _strip_namespace applies to table names)
            sch_tail = sch.lower().split(".")[-1] if sch is not None else None
            if sch_tail is not None and sch_tail not in attached:
                # a real Spark database: enumerate IT, not the current
                # one (listTables() with no argument only sees the
                # current database + temp views); temp views leak into
                # listTables(db) and are not that schema's tables
                rows = [
                    (t.name,)
                    for t in self.spark.catalog.listTables(sch_tail)
                    if not t.isTemporary
                ]
            else:
                rows = [(t.name,) for t in self.spark.catalog.listTables()]
            if like is not None:
                rx = re.compile(self._like_to_regex(like))
                rows = [r for r in rows if rx.match(r[0])]
            return local_relation(self.spark, sorted(rows), "Table STRING")
        if m := _SHOW_FUNCTIONS_RE.match(text):
            df = self.spark.sql("SHOW FUNCTIONS")
            if m.group(1) is not None:
                rx = self._like_to_regex(m.group(1))
                df = df.filter(df[df.columns[0]].rlike(rx))
            return df
        if m := _SHOW_COLUMNS_RE.match(text):

            name = self._strip_namespace(m.group(1))
            rows = [
                (f.name, _presto_type(f.dataType), "", "")
                for f in self.table(name).schema.fields
            ]
            return local_relation(
                self.spark, rows,
                "Column STRING, Type STRING, Extra STRING, Comment STRING",
            )
        if m := _SHOW_CREATE_RE.match(text):

            name = self._strip_namespace(m.group(1))
            fields = ",\n".join(
                f"   {f.name} {_presto_type(f.dataType)}"
                for f in self.table(name).schema.fields
            )
            ddl = f"CREATE TABLE {name} (\n{fields}\n)"
            return local_relation(self.spark, [(ddl,)], "`Create Table` STRING")
        if m := _CREATE_VIEW_RE.match(text):
            or_replace, name, cols, query_text = m.groups()
            parts = name.split(".")
            bare = parts[-1]
            # Views live in ONE session namespace (temp views). A
            # qualified name is accepted only when its prefix resolves
            # to an attached namespace — otherwise db1.v and db2.v
            # would silently collide on the bare name and a later
            # SELECT from either schema would read the same view
            # (Presto scopes views per schema).
            if len(parts) > 1:
                prefix = [p.lower() for p in parts[:-1]]
                attached_schemas = {
                    s for ss in self._catalogs.values() for s in ss
                }
                ok = (
                    (len(prefix) == 1 and prefix[0] in attached_schemas)
                    or (
                        len(prefix) == 2
                        and prefix[1] in self._catalogs.get(prefix[0], set())
                    )
                )
                if not ok:
                    raise ValueError(
                        f"CREATE VIEW {name}: namespace "
                        f"'{'.'.join(parts[:-1])}' is not an attached "
                        "catalog/schema — views live in the session "
                        "namespace (attach_catalog first, or use an "
                        "unqualified name)"
                    )
            if self.spark.catalog.tableExists(bare):
                from presto_on_ray_spark.sources.tables import TABLES

                existing = next(
                    (t for t in self.spark.catalog.listTables()
                     if t.name.lower() == bare.lower()), None,
                )
                is_table = (
                    existing is not None
                    and existing.tableType not in ("TEMPORARY", "VIEW")
                ) or (
                    # the registered fixture relations are TABLES of the
                    # attached catalog even though Spark holds them as
                    # temp views
                    self._sf_dir is not None and bare.lower() in TABLES
                )
                if is_table:
                    # Presto: a TABLE under that name blocks CREATE
                    # [OR REPLACE] VIEW — shadowing the catalog's
                    # tables would corrupt every later query
                    raise ValueError(f"'{bare}' is a table, not a view")
                if or_replace is None:
                    # Presto: CREATE VIEW without OR REPLACE errors on
                    # an existing view
                    raise ValueError(f"View '{bare}' already exists")
            body = self.sql(query_text)
            if cols is not None:
                body = body.toDF(*[c.strip() for c in cols.split(",")])
            body.createOrReplaceTempView(bare)
            return None
        if m := _DROP_VIEW_RE.match(text):
            if_exists, name = m.group(1), m.group(2)
            dropped = self.spark.catalog.dropTempView(name.split(".")[-1])
            if not dropped:
                # not a temp view: delegate on the namespace-stripped
                # name (drops a permanent view, no-ops under IF EXISTS,
                # or errors loudly — never a silent no-op)
                kw = "IF EXISTS " if if_exists else ""
                self.spark.sql(
                    f"DROP VIEW {kw}{self._strip_namespace(name)}"
                )
            return None
        if m := _DELETE_RE.match(text):
            return self._emulated_delete(
                self._strip_namespace(m.group(1)), m.group(2)
            )
        if _TXN_RE.match(text):
            return None
        return NotImplemented

    def _emulated_delete(self, name: str, cond: str | None) -> DataFrame:
        """DELETE FROM for session-catalog tables: rewrite the table to
        the retained rows (NULL predicates retain, like SQL DELETE),
        swapping via a temp table + rename so a failed write never
        clobbers the original. Returns Presto's one-row deleted count.

        Temp views are refused loudly (Presto can't DELETE from a view
        either): the rewrite would silently shadow the registered
        parquet-backed view with a managed copy, desynchronizing the
        Engine.table()/load_table read path from the SQL path."""
        # only a SINGLE-PART name can resolve to a session temp view
        # (a qualified showdb.t always names a catalog table, even when
        # a temp view shares the bare name); Spark lower-cases stored
        # identifiers, so compare case-insensitively or an uppercase
        # spelling would bypass the guard
        is_view = False
        if "." not in name:
            try:
                is_view = any(
                    t.name.lower() == name.lower()
                    and t.tableType in ("TEMPORARY", "VIEW")
                    for t in self.spark.catalog.listTables()
                )
            except Exception:
                is_view = False
        if is_view:
            raise ValueError(
                f"DELETE target '{name}' is a view (registered catalog views "
                "are read-only; CTAS a table first)"
            )
        src = self.spark.table(name)
        before = src.count()
        if cond is None:
            keep = src.limit(0)
        else:
            pred = dialect.translate(self._strip_namespace(cond))
            keep = src.filter(f"NOT coalesce(({pred}), false)")
        tmp = f"{name}__delete_tmp"
        old = f"{name}__delete_old"
        keep.write.mode("overwrite").saveAsTable(tmp)
        after = self.spark.table(tmp).count()
        # swap order preserves the ORIGINAL data through every failure
        # window: the old table is renamed aside (never dropped) until
        # the new one is installed under the target name
        self.spark.sql(f"DROP TABLE IF EXISTS {old}")
        self.spark.sql(f"ALTER TABLE {name} RENAME TO {old}")
        try:
            self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
        except Exception:
            # roll the original back under its name before re-raising
            self.spark.sql(f"ALTER TABLE {old} RENAME TO {name}")
            raise
        self.spark.sql(f"DROP TABLE {old}")
        return local_relation(self.spark, [(before - after,)], "rows BIGINT")

    # -- introspection (Presto EXPLAIN / SHOW STATS / ANALYZE) ---------
    def _introspection_statement(self, text: str):
        """Handle the Presto introspection statements (EXPLAIN family,
        SHOW STATS FOR, ANALYZE). Returns NotImplemented when ``text``
        is none of them.

        EXPLAIN output is one row in a ``Query Plan`` varchar column —
        Presto's exact shape. SHOW STATS returns Presto's seven-column
        stats relation (stats.py); ANALYZE computes and caches those
        stats (one aggregate scan) and returns the analyzed row count.
        """
        from presto_on_ray_spark import stats as _stats

        if m := _ANALYZE_RE.match(text):
            name = m.group(1)
            rows = _stats.table_stats(self.table(name))
            self._table_stats[name.lower()] = rows
            n = rows[-1][4]  # summary row carries row_count
            return local_relation(self.spark, [(float(n),)], "rows DOUBLE")
        if m := _SHOW_STATS_RE.match(text):
            target = m.group(1).strip()
            if target.startswith("("):
                inner = _strip_leading_comments(_strip_outer_parens(target))
                _require_query(inner, "SHOW STATS FOR (...)")
                df = self.sql(inner)
                return _stats.show_stats(self.spark, df)
            cached = self._table_stats.get(target.lower())
            if cached is not None:
                return _stats.stats_df(self.spark, cached)
            return _stats.show_stats(self.spark, self.table(target))
        if m := _EXPLAIN_RE.match(text):
            options, analyze, inner = m.groups()
            # comments must not hide the inner statement's first
            # keyword from the plan-only guards below
            inner = _strip_leading_comments(inner.strip())
            opts = {}
            for part in (options or "").split(","):
                kv = part.strip().split(None, 1)
                if len(kv) == 2:
                    opts[kv[0].upper()] = kv[1].strip().upper()
            # Presto's EXPLAIN (without ANALYZE) only plans. INSERT and
            # CTAS are planned (TableWriter over the source query, no
            # execution — Presto's rendering); every other statement
            # family is refused BEFORE dispatching, since self.sql()
            # would otherwise execute it (the emulated DELETE rewrites
            # tables, CREATE VIEW installs the view).
            if mw := _EXPLAIN_WRITE_RE.match(inner):
                ins_target, collist, if_not_exists, ctas_target, body = mw.groups()
                target = ins_target or ctas_target
                body = _strip_leading_comments(body.strip())
                if analyze is not None:
                    raise ValueError(
                        "EXPLAIN ANALYZE of a write statement is not "
                        "supported (it would execute the write)"
                    )
                _require_query(body, "EXPLAIN")
                from pyspark.sql import functions as _F

                src = self.sql(body)
                etype = opts.get("TYPE", "DISTRIBUTED")
                # resolve the write target like Presto's analysis does
                # (through the attached-namespace rewrite, like every
                # other statement path): INSERT requires an existing
                # table with matching arity and known column names;
                # CTAS (without IF NOT EXISTS) requires a fresh name
                from pyspark.errors import AnalysisException

                if ins_target is not None:
                    tgt = self.table(self._strip_namespace(ins_target))
                    cols = [c for c in (collist or "").replace(",", " ").split() if c]
                    if len({c.lower() for c in cols}) != len(cols):
                        raise ValueError(
                            "Insert column list contains duplicate columns"
                        )
                    known = {c.lower() for c in tgt.columns}
                    for c in cols:
                        if c.lower() not in known:
                            raise ValueError(
                                f"Insert column name does not exist in "
                                f"target table: {c}"
                            )
                    expected = len(cols) if cols else len(tgt.columns)
                    if len(src.columns) != expected:
                        raise ValueError(
                            f"INSERT has mismatched column count: "
                            f"{ins_target} expects {expected}, query "
                            f"produces {len(src.columns)}"
                        )
                else:
                    exists = True
                    try:
                        self.table(self._strip_namespace(ctas_target))
                    except AnalysisException:
                        exists = False  # only not-found means fresh;
                        # anything else (permissions, transient catalog
                        # failure) propagates above
                    if exists and if_not_exists is None:
                        raise ValueError(
                            f"Destination table '{ctas_target}' already exists"
                        )
                out = self._render_explain(src, etype, False)
                if etype == "IO":
                    # Presto's IO plan carries the outputTable alongside
                    # the input tables — render it as a final row
                    out = out.unionAll(
                        local_relation(
                            self.spark,
                            [(f"output-table: {target}", None, None,
                              None, None, "")],
                            out.schema,
                        )
                    )
                if etype in ("LOGICAL", "DISTRIBUTED"):
                    out = out.select(
                        _F.concat(
                            _F.lit(f"TableWriter[{target}]\n"),
                            _F.col("Query Plan"),
                        ).alias("Query Plan")
                    )
                return out
            _require_query(inner, "EXPLAIN")
            df = self.sql(inner)
            if df is None:
                raise ValueError("EXPLAIN requires a query statement")
            return self._render_explain(df, opts.get("TYPE", "DISTRIBUTED"),
                                        analyze is not None)
        return NotImplemented

    def _render_explain(self, df: DataFrame, etype: str, analyze: bool) -> DataFrame:
        from presto_on_ray_spark.plans.inspect import explain_formatted

        qe = df._jdf.queryExecution()
        if analyze:
            import time as _time

            start = _time.perf_counter()
            n = df.count()
            elapsed = _time.perf_counter() - start
            plan = (
                f"Queried {n} rows in {elapsed:.3f}s\n\n" + explain_formatted(df)
            )
        elif etype == "VALIDATE":
            # analysis already succeeded in self.sql(); mirror Presto's
            # single-row boolean result
            return local_relation(self.spark, [(True,)], "Valid BOOLEAN")
        elif etype == "IO":
            # input locations, one per distinct parent directory — the
            # engine's rendering of Presto's IO plan (input tables),
            # enriched (r6) with parquet-footer facts and the row-group
            # pruning the query's own pushed filters predict
            # (layout.footer_stats over plans.inspect ranges): the scan
            # cost a user reads BEFORE running the query.
            import os as _os

            from presto_on_ray_spark import layout as _layout
            from presto_on_ray_spark.plans.inspect import (
                pushed_filter_ranges_by_scan,
            )

            # part files fold into their dataset directory; single-file
            # locations are reported as-is. Bounded: distinct dataset
            # locations + footer reads only, never data pages.
            dirs = sorted({
                _os.path.dirname(f) if _os.path.basename(f).startswith("part-") else f
                for f in df.inputFiles()
            })
            # per-scan: each FileScan's PushedFilters apply only to its
            # own Location, so a filter on one table never predicts
            # pruning for another table sharing the column name
            by_scan = pushed_filter_ranges_by_scan(df)

            def _norm(p: str) -> str:
                # file:///x, file:/x and /x are the same local path
                return re.sub(r"^file:/*", "/", p).rstrip("/")

            def _ranges_for(d: str) -> dict:
                bare = _norm(d)
                dicts = [
                    ranges
                    for paths, ranges in by_scan
                    if any(
                        _norm(p) == bare or bare.startswith(_norm(p) + "/")
                        for p in paths
                    )
                ]
                if not dicts:
                    return {}
                # A row group is READ if ANY scan of this location reads
                # it, so the per-location prediction must WIDEN across
                # scans: keep only columns every scan bounds, lo=min,
                # hi=max (an unfiltered self-join scan → no pruning).
                out: dict = {}
                for c in set(dicts[0]).intersection(*map(set, dicts[1:])):
                    los = [dd[c][0] for dd in dicts]
                    his = [dd[c][1] for dd in dicts]
                    lo = None if any(v is None for v in los) else min(los)
                    hi = None if any(v is None for v in his) else max(his)
                    if lo is not None or hi is not None:
                        out[c] = (lo, hi)
                return out

            rows = []
            for d in dirs:
                ranges = _ranges_for(d)
                st = _layout.footer_stats(
                    d.removeprefix("file:"), ranges or None
                )
                rows.append((
                    d, st["files"], st["row_groups"], st["rows"],
                    st["row_groups_pruned"],
                    ", ".join(
                        f"{c} in [{lo if lo is not None else '-inf'}, "
                        f"{hi if hi is not None else 'inf'}]"
                        for c, (lo, hi) in sorted(ranges.items())
                    ),
                ))
            return local_relation(
                self.spark, rows,
                "input_location STRING, files INT, row_groups INT, "
                "rows BIGINT, row_groups_pruned INT, pushed_ranges STRING",
            )
        elif etype == "LOGICAL":
            plan = qe.optimizedPlan().toString()
        else:  # DISTRIBUTED (Presto's physical plan) — the default
            plan = explain_formatted(df)
        return local_relation(self.spark, [(plan,)], "`Query Plan` STRING")

    # -- session properties (Presto SET/RESET/SHOW SESSION) -----------
    def _session_statement(self, text: str):
        """Handle SET/RESET/SHOW SESSION. The recognized properties map
        onto the engine's governance knobs; unknown ones are stored and
        echoed by SHOW SESSION (Presto accepts catalog-defined
        properties the same way). Returns NotImplemented when ``text``
        is not a session statement."""
        if m := _SET_SESSION_RE.match(text):
            key = m.group(1).lower().replace("-", "_").replace(".", "_")
            raw = m.group(2).strip().rstrip(";").strip()
            value = raw[1:-1] if len(raw) >= 2 and raw[0] == raw[-1] == "'" else raw
            if key in ("query_max_memory", "query_max_memory_per_node"):
                self._admission_bytes = _parse_size_bytes(value)
            elif key == "query_max_run_time":
                self._max_run_time_s = _parse_duration_seconds(value)
            elif key == "scheduler_pool":
                self._pool = value or None
            self._session_props[key] = value
            return None
        if m := _RESET_SESSION_RE.match(text):
            key = m.group(1).lower().replace("-", "_").replace(".", "_")
            self._session_props.pop(key, None)
            if key in ("query_max_memory", "query_max_memory_per_node"):
                self._admission_bytes = None
            elif key == "query_max_run_time":
                self._max_run_time_s = None
            elif key == "scheduler_pool":
                self._pool = None
            return None
        if _SHOW_SESSION_RE.match(text):
            rows = sorted(self._session_props.items())
            return local_relation(self.spark, rows, "name STRING, value STRING")
        if m := _USE_RE.match(text):
            first, second = m.group(1).lower(), m.group(2)
            if second is not None:
                if second.lower() in self._catalogs.get(first, set()):
                    self._current_schema = (first, second.lower())
                    return None
                raise ValueError(
                    f"Schema '{first}.{second}' is not attached "
                    "(Engine.attach_catalog)"
                )
            # one-part USE: a schema of some attached catalog wins;
            # otherwise fall through to Spark's own USE <database>
            for cat, schemas in self._catalogs.items():
                if first in schemas:
                    self._current_schema = (cat, first)
                    return None
        return NotImplemented

    # -- prepared statements (Presto PREPARE/EXECUTE surface) ---------
    def _prepared_statement(self, text: str):
        """Dispatch PREPARE-family statements. Returns NotImplemented
        when ``text`` is not one of them (caller runs it normally), a
        substituted SQL string for EXECUTE, a DataFrame for DESCRIBE,
        or None for PREPARE / DEALLOCATE."""
        if m := _PREPARE_RE.match(text):
            self._prepared[m.group(1).lower()] = m.group(2).strip()
            return None
        if m := _DEALLOC_RE.match(text):
            self._prepared.pop(m.group(1).lower(), None)
            return None
        if m := _EXECUTE_RE.match(text):
            stmt = self._lookup_prepared(m.group(1))
            if m.group(2) is None:
                return _substitute_placeholders(stmt, [])  # arity check
            shielded, lits = dialect._shield_literals(m.group(2))
            args = [
                dialect._restore_literals(a, lits)
                for a in _split_top_level_commas(shielded)
            ]
            return _substitute_placeholders(stmt, args)
        if m := _DESC_INPUT_RE.match(text):
            stmt = self._lookup_prepared(m.group(1))
            shielded, _ = dialect._shield_literals(stmt)
            # Presto reports an inferred type per placeholder; without
            # full type inference every position is `unknown` (the
            # value Presto itself uses for undeterminable parameters).
            rows = [(i + 1, "unknown") for i in range(shielded.count("?"))]
            return local_relation(self.spark, rows, "position INT, type STRING")
        if m := _DESC_OUTPUT_RE.match(text):

            stmt = self._lookup_prepared(m.group(1))
            shielded, lits = dialect._shield_literals(stmt)
            analyzed = dialect._restore_literals(shielded.replace("?", "NULL"), lits)
            schema = self.spark.sql(dialect.translate(analyzed)).schema
            rows = [(f.name, _presto_type(f.dataType)) for f in schema.fields]
            return local_relation(self.spark, rows, "column_name STRING, type STRING")
        return NotImplemented

    def _lookup_prepared(self, name: str) -> str:
        stmt = self._prepared.get(name.lower())
        if stmt is None:
            raise ValueError(f"prepared statement not found: {name}")
        return stmt

    # -- extensibility (SURVEY §2.10) --------------------------------
    def register_function(self, name: str, fn, return_type) -> "Engine":
        register_function(self.spark, name, fn, return_type)
        return self

    def _materialize_deferred(self, text: str) -> None:
        """First-read materialization of deferred pipeline views: when
        a statement references a deferred name, construct the operator
        DataFrame NOW (running its bounded driver jobs), persist it
        (tracked — released by release_cached), and publish the temp
        view; later statements hit the cached view. Reference
        detection is a word-boundary match on the raw statement —
        views are plain identifiers, and a false positive (the name in
        a string literal) merely materializes early, never corrupts."""
        if not self._deferred_views:
            return
        import re

        from presto_on_ray_spark import suite
        from presto_on_ray_spark.caching import tracked_persist

        # the lock serializes concurrent materializers (ADVICE r13):
        # the loser blocks until the winner publishes the view, then
        # re-scans and finds the name gone — exactly-once construction,
        # and the loser's statement still sees the published view. A
        # materializer that FAILS leaves the name in the set, so a
        # later statement retries (same as before the lock).
        with self._deferred_lock:
            hit = [
                n for n in sorted(self._deferred_views)
                if re.search(rf"\b{re.escape(n)}\b", text, re.IGNORECASE)
            ]
            for name in hit:
                df = suite.QUERIES[name](self.spark, self._sf_dir)
                if df.isStreaming:
                    raise ValueError(
                        f"register_pipeline_views: {name!r} is a streaming "
                        f"query — its sink owns execution; it cannot back a "
                        f"deferred view"
                    )
                tracked_persist(df).createOrReplaceTempView(name)
                self._deferred_views.discard(name)

    def register_pipeline_views(
        self, names: list[str], deferred: bool = False
    ) -> "Engine":
        """Expose registered suite operators (dedup verdicts, quality
        scores, drift, the governance dashboard, ...) as temp views
        over the attached catalog, so the SQL front door can query and
        JOIN them like tables:

            eng.register_tables(sf).register_pipeline_views(
                ["corpus_health_report"])
            eng.sql("SELECT source, psi FROM corpus_health_report "
                    "WHERE psi > 0.25")

        ``names`` is explicit by design: registering a view CONSTRUCTS
        the operator's DataFrame, which for purely relational
        operators is free (Spark executes only when SQL reads the
        view, with pushdown into the operator plan like any subquery)
        but for driver-loop operators (kcenter_seeds' argmax
        iterations, refine_cells' Lloyd passes) runs their bounded
        driver jobs at registration — and any tracked persists an
        operator takes stay cached until release_cached(). Pick the
        views you need rather than registering the whole registry.

        ``deferred=True`` registers names LAZILY instead: nothing is
        constructed and zero Spark jobs run at registration (attaching
        the whole governance dashboard to a SQL session is free); the
        first Engine.sql statement that references a deferred name
        materializes it — runs the operator's bounded driver jobs
        once, persists the result (tracked; release_cached drops it),
        publishes the temp view — and later reads hit the cache.
        Deferred names resolve through THIS engine's sql() front door
        (raw spark.sql cannot see an unmaterialized deferred view).

        Requires register_tables first (operators read the attached
        fixture catalog); streaming queries are skipped eagerly
        (their sinks own execution) and raise at materialization when
        deferred (the name was explicitly requested — silently
        skipping would surface later as an unresolved view)."""
        from presto_on_ray_spark import suite

        suite.load_all()
        if self._sf_dir is None:
            raise ValueError(
                "register_pipeline_views: attach the table catalog first "
                "(register_tables) — pipeline operators read its parquet"
            )
        for name in names:
            if name not in suite.QUERIES:
                raise KeyError(
                    f"register_pipeline_views: {name!r} is not a registered "
                    f"suite query (see presto_on_ray_spark.suite.QUERIES)"
                )
            if deferred:
                # same lock the materializer holds while scanning /
                # discarding — an unguarded add racing that scan can
                # raise "set changed size during iteration" (ADVICE r14)
                with self._deferred_lock:
                    self._deferred_views.add(name)
                continue
            df = suite.QUERIES[name](self.spark, self._sf_dir)
            if df.isStreaming:
                continue
            df.createOrReplaceTempView(name)
        return self

    # -- introspection ------------------------------------------------
    def explain(self, df_or_sql) -> str:
        """Formatted physical plan — the engine's perf feedback loop."""
        from presto_on_ray_spark.plans.inspect import explain_formatted

        df = self.sql(df_or_sql) if isinstance(df_or_sql, str) else df_or_sql
        return explain_formatted(df)
