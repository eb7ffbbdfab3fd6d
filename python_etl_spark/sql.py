"""SQL surface for the lakehouse (r11 verdict #7): a documented
mini-router that lets SQL-ONLY users reach a :class:`VersionedTable`
— MERGE, DELETE, DESCRIBE HISTORY/DETAIL, time travel (``VERSION AS
OF`` / ``TIMESTAMP AS OF``), OPTIMIZE, RESTORE and VACUUM DRY RUN —
without importing the Python API. Analysts are the other half of a
data platform's users; until now every DML/utility verb was
Python-only.

Table references are spelled ``vt'<root path>'`` (a quoted-path table
literal, the DuckDB ``read_parquet('...')``/Delta ``delta.`<path>```
idea without backtick ambiguity). Every statement returns a DataFrame
— DML verbs return a one-row receipt (new version etc.), utility
verbs return their report — so the router composes with notebook /
BI tooling that expects ``sql() -> frame``.

Supported grammar (case-insensitive keywords; one statement per call):

* ``SELECT ... FROM vt'<path>' [VERSION AS OF n | TIMESTAMP AS OF ts]
  ...`` — every ``vt'...'`` reference (with optional time travel) is
  materialized as the snapshot read and substituted as a temp view;
  the REST of the statement is handed to ``spark.sql`` untouched, so
  the full Spark SQL surface (joins, windows, CTEs — also across
  several vt references) applies. ``ts`` is epoch seconds or an
  ISO-8601 string literal.
* ``MERGE INTO vt'<path>' AS t USING <source> AS s ON t.k = s.k [AND
  t.k2 = s.k2 ...] [WHEN MATCHED [AND <cond>] THEN UPDATE SET * |
  UPDATE SET [t.]col = expr[, ...]] [WHEN MATCHED [AND <cond>] THEN
  DELETE] [WHEN NOT MATCHED [AND <cond>] THEN INSERT * | INSERT
  (cols) VALUES (exprs)]`` — aliases MUST be ``t`` (target) and ``s``
  (source): clause conditions AND assignment expressions are
  evaluated over those names (the library contract). ``<source>`` is
  a registered view/table name, a parenthesized subquery, or another
  ``vt'...'`` reference. The ON clause must be an equality conjunction
  on same-named columns (the key-based merge the engine implements).
  ``UPDATE SET *`` / ``INSERT *`` are full-row semantics (the source
  must carry full rows); the column-subset spellings (r13) carry
  unassigned target columns unchanged on update and NULL-fill
  unassigned columns on insert — with a subset SET the source frame
  only needs the key columns plus whatever its expressions read.
  With no WHEN clause the statement is the plain upsert.
* ``INSERT INTO vt'<path>' <SELECT ...|VALUES (...), ...>`` —
  append-semantics insert (the Delta INSERT INTO shape); VALUES rows
  adopt the target's column order. ``INSERT OVERWRITE`` (r13) is the
  full-replace twin: the snapshot becomes exactly the SELECT/VALUES
  rows in one copy-on-write commit (history kept for time travel).
* ``sql_script(spark, "stmt1; stmt2; ...")`` — run several
  statements in order (quote-aware split on ``;``); returns the last
  statement's frame. One failed statement stops the script there —
  statements already run stay committed (outside a transaction, each
  DML verb is its own atomic commit).
* ``BEGIN [TRANSACTION] ... COMMIT | ROLLBACK`` (r14) — multi-table
  transaction: DML between BEGIN and COMMIT PREPARES invisible
  manifests on every table it touches; COMMIT's atomic
  coordinator-record creation makes them ALL visible at once (lazy
  finalize: a crash after that point loses nothing); ROLLBACK — or a
  statement failure inside a script transaction — discards the
  prepared state. Reads inside the transaction see its own prepared
  versions (read-your-writes); other writers are fenced with
  TransactionPendingError until COMMIT/ROLLBACK; DDL/catalog/
  maintenance verbs refuse inside a transaction.
* ``CREATE TABLE vt'<path>' [PARTITIONED BY (a, b)] AS <SELECT ...>``
  — CTAS bootstrap (vt references inside the SELECT resolve,
  including time travel, so CLONE-like statements compose).
* ``CREATE TABLE vt'<path>'|<name> (col TYPE [GENERATED ALWAYS AS
  (expr)][, ...][, CONSTRAINT n CHECK (expr)]) [PARTITIONED BY
  (a, b)]`` — empty-table DDL (r13): the schema-first bootstrap a
  COPY INTO or streaming sink needs before any row exists; generated
  columns and CHECK constraints are declared inline and enforced by
  every later write. ``col BIGINT GENERATED ALWAYS|BY DEFAULT AS
  IDENTITY [(START WITH n [INCREMENT BY m])]`` declares an IDENTITY
  column (r13; BY DEFAULT r14): ids are system-assigned on create/
  append/COPY INTO/INSERT (unique + monotone per commit, NOT
  contiguous — Delta's documented gap behavior; racing appends
  reassign on commit conflict), UPDATE on it refuses, and INSERT
  VALUES/SELECT map positionally to the NON-identity columns. With
  ALWAYS, writes supplying the column refuse; with BY DEFAULT a
  write MAY carry explicit ids — an INSERT whose arity covers the
  BY DEFAULT columns supplies them, explicit ids must be non-null
  and batch-unique, at-or-below-high-water ids are probed against
  live rows and refused on collision, and the high-water syncs past
  the batch so later auto-assignment never collides. MERGE on an
  identity table refuses (identity is append-style ingestion).
* ``TRUNCATE TABLE vt'<path>'|<name>`` — DELETE FROM without WHERE:
  one copy-on-write commit removes every row; time travel and the
  typed delete change feed are kept (not a history wipe).
* ``CREATE TABLE vt'<path>'|<name> SHALLOW CLONE vt'<src>'|<name>
  [VERSION AS OF n | TIMESTAMP AS OF ts]`` — zero-copy clone (r13):
  the new table's v0 references the source snapshot's data dirs by
  path (O(metadata), no byte copied; evolution state, constraints,
  DVs, stats all carried); a named destination materializes beside
  the catalog file and registers.
* ``UPDATE vt'<path>' SET col = expr[, col = expr ...] WHERE
  <predicate>`` — column-subset update via
  ``VersionedTable.update_where`` (dir-pruned copy-on-write;
  constraints re-validated, generated columns recomputed, change
  feed written).
* ``DELETE FROM vt'<path>' WHERE <predicate>`` — copy-on-write
  dir-pruned delete (bare column names in the predicate).
* ``DESCRIBE HISTORY vt'<path>'`` / ``DESCRIBE DETAIL vt'<path>'`` /
  ``DESCRIBE [TABLE] <ref>`` (schema with partition/generated/
  constraint annotations) / ``SHOW TABLES`` (the catalog listing) /
  ``SHOW PARTITIONS <ref>`` (r13: hive key=value segments from the
  current manifest's dir tree — metadata only, one listing per
  level; flat pre-partition-evolution dirs are not enumerated and a
  dir fully emptied by deletion vectors still lists — use SELECT
  DISTINCT for row-exact values).
* ``OPTIMIZE vt'<path>' [ZORDER BY (a, b, ...)]`` — the maintenance
  planner; returns the actions taken.
* ``RESTORE vt'<path>' TO VERSION AS OF n`` (also ``TO TIMESTAMP AS
  OF ts``) — zero-copy restore commit.
* ``VACUUM vt'<path>' [DRY RUN | RETAIN n HOURS]`` — DRY RUN is the
  DEFAULT (a silent sweep would end time travel); the destructive
  sweep requires the explicit ``RETAIN n HOURS`` clause, whose window
  is the in-flight-writer grace guard (r12 verdict #1).
* ``ALTER TABLE <ref> RENAME COLUMN a TO b | DROP COLUMN a | ADD
  COLUMN a <type> | ADD CONSTRAINT n CHECK (...) | DROP CONSTRAINT
  n``, and ``ALTER TABLE <name> RENAME TO <newname>`` — the schema-
  evolution verbs (r12 verdict #1), each routing to the certified
  library face (``rename_column`` / ``drop_column`` / ``add_column``
  / ``add_constraint`` / ``drop_constraint``; metadata-only commits).
* ``CREATE [OR REPLACE] VIEW <name> AS <SELECT ...>`` / ``DROP VIEW
  <name>`` / ``SHOW VIEWS`` — stored SQL views (r13): the catalog
  keeps the statement TEXT and every read re-substitutes it, so a
  view always reflects the current snapshots (and views) it
  references; validated by analysis at CREATE, definition cycles
  refused at read, read-only (DML on a view name refuses loudly).
  Views share the table namespace.
* ``CREATE [OR REPLACE] TABLE <name> USING versioned_table LOCATION
  '<root>'`` / ``DROP TABLE <name>`` — the named-table CATALOG (r12
  verdict #2, :mod:`python_etl_spark.catalog`): once registered, a
  bare ``<name>`` is accepted EVERYWHERE ``vt'<path>'`` is — in
  SELECT table position (session views keep precedence), as any DML/
  DDL/utility target, inside ``TABLE_CHANGES``, and a named CTAS
  materializes beside the catalog file. ``DROP TABLE`` forgets the
  name only; bytes stay.
* ``SELECT ... FROM TABLE_CHANGES(vt'<path>'|<name>, start[, end])``
  — the CDC read face (r12 verdict #3), routed to the REGISTERED
  ``table_changes`` batch source (held to etl_cdf_changes' oracle).
* ``SELECT ... FROM SNAPSHOT_DIFF(vt'<path>'|<name>, since[, upto])``
  — the re-baseline TVF (r13): full-row content diff between two
  snapshots shaped like the feed (insert/delete rows), for crossing
  feed barriers (overwrite / restore) where TABLE_CHANGES raises;
  reads both snapshots — reach for TABLE_CHANGES first.
* ``COPY INTO vt'<path>'|<name> FROM '<source>' FILEFORMAT =
  PARQUET|CSV|JSON [FORMAT_OPTIONS (k = 'v', ...)] [FORCE]`` —
  idempotent bulk file ingestion (r13): files already loaded by a
  prior COPY INTO of the same table are skipped (the load history
  publishes in the same atomic commit as the rows), so re-running a
  crashed or scheduled load never double-ingests; ``FORCE`` reloads.

Scale posture: the router only REWRITES statements — reads stay the
library's Catalyst scans (pushdown/pruning intact), DML routes to the
dir-pruned merge/delete, and utility verbs are metadata-only.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from python_etl_spark.frames import local_frame

_VT = r"vt\s*'([^']+)'"
_TRAVEL = (
    rf"{_VT}(?:\s+version\s+as\s+of\s+(\d+)"
    rf"|\s+timestamp\s+as\s+of\s+(?:'([^']+)'|([0-9.]+)))?"
)


def _table(path: str):
    from python_etl_spark.sinks.table import VersionedTable

    return VersionedTable(path)


def _find_keyword(stmt: str, kw: str, start: int = 0) -> int:
    """Index of the first whitespace-delimited ``kw`` OUTSIDE single-
    quoted literals and parentheses (depth 0), case-insensitive; -1
    when absent. The regex grammars split on keywords like WHERE/SET/
    USING/ON — a literal ``'a where b'`` or a subquery's own WHERE
    must never be the split point."""
    low = stmt.lower()
    kw = kw.lower()
    n, k = len(stmt), len(kw)
    i, depth, in_q = 0, 0, False
    while i < n:
        ch = stmt[i]
        if in_q:
            if ch == "'":
                # '' is an escaped quote inside a literal
                if i + 1 < n and stmt[i + 1] == "'":
                    i += 1
                else:
                    in_q = False
        elif ch == "'":
            in_q = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and low.startswith(kw, i)
            and i >= start
            and (i == 0 or stmt[i - 1].isspace())
            and (i + k == n or stmt[i + k].isspace())
        ):
            return i
        i += 1
    return -1


def _split_on_keyword(stmt: str, kw: str) -> tuple[str, str] | None:
    """(before, after) around the first depth-0 unquoted ``kw``, or
    None."""
    i = _find_keyword(stmt, kw)
    if i < 0:
        return None
    return stmt[:i].rstrip(), stmt[i + len(kw):].lstrip()


def _split_commas(text: str) -> list[str]:
    """Split on TOP-LEVEL commas only — expressions may carry
    function-call commas (depth-tracked) and quoted literals with
    ``''`` escapes (quote-tracked), neither of which is a boundary."""
    parts, depth, in_q, cur = [], 0, False, []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_q:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    cur.append("''")  # escaped quote: stay inside
                    i += 2
                    continue
                in_q = False
        elif ch == "'":
            in_q = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0 and not in_q:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _parse_assignments(set_clause: str, lhs_alias: str = "") -> dict:
    """``a = expr[, b = expr ...]`` → {col: expr-string}; the LHS may
    carry the given alias prefix (``t.col``), which is stripped."""
    assignments = {}
    pre = rf"(?:{lhs_alias}\.)?" if lhs_alias else ""
    for p in _split_commas(set_clause):
        am = re.match(rf"\s*{pre}(\w+)\s*=\s*(.+)$", p, re.DOTALL)
        if not am:
            raise ValueError(f"bad SET assignment: {p!r}")
        assignments[am.group(1)] = am.group(2).strip()
    return assignments


def _ts_to_epoch(ts: str) -> float:
    """TIMESTAMP AS OF literal → epoch seconds (float or ISO-8601;
    naive ISO strings are UTC)."""
    try:
        return float(ts)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()


def _resolve(spark: SparkSession, path: str, ver, ts_s, ts_n) -> DataFrame:
    t = _table(path)
    if ver is not None:
        return t.read(spark, int(ver))
    if ts_s is not None or ts_n is not None:
        return t.read_as_of(spark, _ts_to_epoch(ts_s if ts_s is not None else ts_n))
    return t.read(spark)


_VIEW_N = [0]

# TABLE_CHANGES(<ref>, start[, end]) — the CDC read face in SQL (the
# Delta table_changes() TVF shape; r12 verdict #3). <ref> is a vt
# literal or a catalog name; versions are integers (start exclusive?
# no — same [start, end] contract as the registered source).
_TCHANGES = (
    r"table_changes\s*\(\s*"
    r"(?:vt\s*'([^']+)'|([A-Za-z_][A-Za-z0-9_]*))\s*,\s*"
    r"(\d+)\s*(?:,\s*(\d+)\s*)?\)"
)

# SNAPSHOT_DIFF(<ref>, since[, upto]) — the re-baseline TVF (r13):
# content diff between two snapshots shaped like the change feed
# (insert/delete), for crossing feed barriers (overwrite/restore)
# where TABLE_CHANGES raises. Reads BOTH snapshots — the honest
# price of a lineage gap; reach for TABLE_CHANGES first.
_SDIFF = (
    r"snapshot_diff\s*\(\s*"
    r"(?:vt\s*'([^']+)'|([A-Za-z_][A-Za-z0-9_]*))\s*,\s*"
    r"(\d+)\s*(?:,\s*(\d+)\s*)?\)"
)


def _sub_unquoted(stmt: str, pattern, repl) -> str:
    """Apply ``pattern`` -> ``repl(match)`` only at positions OUTSIDE
    single-quoted literals and ``--`` comments (r12 advice: the old
    raw ``re.sub`` eagerly resolved a ``vt'...'`` mention inside a
    comment or string, constructing and reading a table the statement
    never references). Matches are also required to start at a word
    boundary so ``avt'x'`` can never half-match."""
    out = []
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if stmt[j] == "'":
                    if j + 1 < n and stmt[j + 1] == "'":
                        j += 2  # '' escape: stay inside the literal
                        continue
                    break
                j += 1
            out.append(stmt[i : j + 1])
            i = j + 1
        elif ch == "-" and i + 1 < n and stmt[i + 1] == "-":
            j = stmt.find("\n", i)
            j = n if j < 0 else j
            out.append(stmt[i:j])
            i = j
        else:
            m = pattern.match(stmt, i)
            if m and (i == 0 or not (stmt[i - 1].isalnum()
                                     or stmt[i - 1] in "_.$")):
                out.append(repl(m))
                i = m.end()
            else:
                out.append(ch)
                i += 1
    return "".join(out)


def _register_frame(df: DataFrame) -> str:
    _VIEW_N[0] += 1
    name = f"__vt_snapshot_{_VIEW_N[0]}"
    df.createOrReplaceTempView(name)
    return name


def _changes_frame(
    spark: SparkSession, root: str, start: int, end: int | None
) -> DataFrame:
    """The REGISTERED table_changes batch face (held to
    etl_cdf_changes' oracle) — not a private re-derivation."""
    from python_etl_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    r = spark.read.format("table_changes").option("startingVersion", start)
    if end is not None:
        r = r.option("endingVersion", end)
    return r.load(root)


def _substitute_views(spark: SparkSession, stmt: str) -> str:
    """Replace every ``TABLE_CHANGES(...)`` call, ``vt'...'
    [VERSION|TIMESTAMP AS OF ...]`` literal, and registered CATALOG
    NAME with a temp view of the corresponding frame. Quote- and
    comment-aware throughout."""

    def tc_repl(m: re.Match) -> str:
        root = m.group(1) or _catalog().resolve(m.group(2))
        end = int(m.group(4)) if m.group(4) is not None else None
        return _register_frame(
            _changes_frame(spark, root, int(m.group(3)), end)
        )

    stmt = _sub_unquoted(
        stmt, re.compile(_TCHANGES, re.IGNORECASE), tc_repl
    )

    def sd_repl(m: re.Match) -> str:
        root = m.group(1) or _catalog().resolve(m.group(2))
        end = int(m.group(4)) if m.group(4) is not None else None
        return _register_frame(
            _table(root).snapshot_diff(spark, int(m.group(3)), end)
        )

    stmt = _sub_unquoted(
        stmt, re.compile(_SDIFF, re.IGNORECASE), sd_repl
    )

    def vt_repl(m: re.Match) -> str:
        return _register_frame(
            _resolve(spark, m.group(1), m.group(2), m.group(3), m.group(4))
        )

    stmt = _sub_unquoted(
        stmt, re.compile(_TRAVEL, re.IGNORECASE), vt_repl
    )
    # catalog names (tables AND stored views): substitute a registered
    # name only where Spark's own resolution would fail (session
    # views/tables keep precedence — zero behavior change for existing
    # statements), and never when the word is qualified (db.name) or
    # called (name(...)). A stored view re-substitutes its saved text
    # RECURSIVELY (views over views, vt refs, TVFs), so it always
    # reflects the current snapshots; a definition cycle raises.
    cat = _catalog()
    names = cat.names()
    views = cat.views()
    low = stmt.lower()
    hits = [n for n in set(names) | set(views) if n in low]
    if hits:
        pat = re.compile(
            r"(?:" + "|".join(sorted(hits, key=len, reverse=True))
            + r")\b(?!\s*\()",
            re.IGNORECASE,
        )

        def name_repl(m: re.Match) -> str:
            n = m.group(0).lower()
            if (n not in names and n not in views) or (
                spark.catalog.tableExists(n)
            ):
                return m.group(0)
            if n in names:
                from python_etl_spark.sinks.table import VersionedTable

                return _register_frame(
                    VersionedTable(names[n]).read(spark)
                )
            stack = _view_stack()
            if n in stack:
                raise ValueError(
                    f"view definition cycle through '{n}' — a stored "
                    f"view cannot reference itself (directly or via "
                    f"another view)"
                )
            stack.add(n)
            try:
                frame = spark.sql(_substitute_views(spark, views[n]))
            finally:
                stack.discard(n)
            return _register_frame(frame)

        stmt = _sub_unquoted(stmt, pat, name_repl)
    return stmt


_VIEW_STACK = None


def _view_stack() -> set:
    """Per-thread set of view names currently being expanded (the
    recursion/cycle guard — sql() is exercised from threads in the
    concurrency soak, so this must not be shared)."""
    global _VIEW_STACK
    if _VIEW_STACK is None:
        import threading

        _VIEW_STACK = threading.local()
    if not hasattr(_VIEW_STACK, "s"):
        _VIEW_STACK.s = set()
    return _VIEW_STACK.s


def _catalog():
    from python_etl_spark.catalog import Catalog

    return Catalog()


# verbs whose FIRST operand is a table reference: a bare catalog name
# there is resolved to its vt literal before the verb grammar runs
_HEAD_NAME = re.compile(
    # the DESCRIBE suffixes are ATOMIC (?>...): without it, "DESCRIBE
    # HISTORY vt'...'" backtracks the matched "\s+history" OUT of the
    # head when "vt'" fails the name lookahead, mis-capturing
    # "history" as a catalog name to resolve
    r"(?is)^(?P<head>(?:merge\s+into|insert\s+(?:into|overwrite)|"
    r"copy\s+into|update|"
    r"delete\s+from|(?>describe(?:\s+history|\s+detail|\s+table)?)|"
    r"optimize|restore|truncate\s+table|"
    r"vacuum|alter\s+table)\s+)"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)(?![\w.'(])"
)


def _resolve_head_name(stmt: str) -> str:
    m = _HEAD_NAME.match(stmt)
    if not m:
        return stmt
    root = _catalog().resolve(m.group("name"))
    return f"{m.group('head')}vt'{root}'{stmt[m.end():]}"


def _receipt(spark: SparkSession, **kv) -> DataFrame:
    import json as _json

    cols = ", ".join(f"{k} string" for k in kv)
    return local_frame(
        spark,
        [tuple(_json.dumps(v) if not isinstance(v, str) else v
               for v in kv.values())],
        cols,
    )


def _merge(
    spark: SparkSession, stmt: str, explain: bool = False
) -> DataFrame:
    m = re.match(
        rf"merge\s+into\s+{_VT}\s+(?:as\s+)?(\w+)\s+using\s+(.+)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            "MERGE grammar: MERGE INTO vt'<path>' AS t USING <source> "
            "AS s ON t.k = s.k [WHEN ...] — see python_etl_spark.sql"
        )
    path, t_alias, rest = m.groups()
    # keyword splits are QUOTE- and PAREN-aware: a subquery source
    # carrying its own JOIN ... ON, or a literal containing ' on ' /
    # ' when ', must never be the split point
    so = _split_on_keyword(rest, "on")
    if so is None:
        raise ValueError("MERGE grammar: missing ON clause")
    source_part, tail = so
    parts = source_part.rsplit(None, 1)
    if len(parts) != 2:
        raise ValueError(
            f"MERGE grammar: USING needs '<source> [AS] <alias>', "
            f"got {source_part!r}"
        )
    source, s_alias = parts
    source = re.sub(r"\s+as$", "", source, flags=re.IGNORECASE).strip()
    wi = _find_keyword(tail, "when")
    on = tail[:wi].strip() if wi >= 0 else tail.strip()
    when_tail = tail[wi:] if wi >= 0 else None
    if t_alias.lower() != "t" or s_alias.lower() != "s":
        raise ValueError(
            f"MERGE aliases must be 't' (target) and 's' (source) — "
            f"clause conditions evaluate over those names; got "
            f"'{t_alias}'/'{s_alias}'"
        )
    # source: vt literal, (subquery), or a view/table name
    source = source.strip()
    if re.fullmatch(_VT, source, re.IGNORECASE):
        src_df = _resolve(
            spark, re.match(_VT, source, re.IGNORECASE).group(1),
            None, None, None,
        )
    elif source.startswith("("):
        src_df = spark.sql(
            f"SELECT * FROM {_substitute_views(spark, source)} __src"
        )
    elif re.fullmatch(r"[\w.]+", source):
        src_df = spark.table(source)
    else:
        raise ValueError(f"unsupported MERGE source: {source!r}")
    # ON: equality conjunction on same-named columns -> merge keys
    keys = []
    for part in re.split(r"\s+and\s+", on.strip(), flags=re.IGNORECASE):
        em = re.fullmatch(
            r"\s*t\.(\w+)\s*=\s*s\.(\w+)\s*|\s*s\.(\w+)\s*=\s*t\.(\w+)\s*",
            part,
        )
        names = {g for g in (em.groups() if em else ()) if g}
        if not em or len(names) != 1:
            raise ValueError(
                f"MERGE ON must be an equality conjunction on "
                f"same-named columns (t.k = s.k AND ...); got {part!r}"
            )
        keys.append(names.pop())
    upd = dele = ins = None
    upd_set: dict | None = None
    ins_values: dict | None = None
    has_clause = False
    if when_tail:
        # scanner-based clause walk: segment boundaries are the
        # depth-0 unquoted WHEN keywords, the condition/THEN split is
        # the depth-0 unquoted THEN — a condition like
        # s.note = 'and then some' can never confuse the parse
        starts = []
        pos = 0
        while True:
            i = _find_keyword(when_tail, "when", pos)
            if i < 0:
                break
            starts.append(i)
            pos = i + 4
        if not starts or when_tail[: starts[0]].strip():
            raise ValueError(
                f"unsupported MERGE clause tail: "
                f"{when_tail[: starts[0] if starts else None]!r}"
            )
        for j, st in enumerate(starts):
            seg = when_tail[
                st + 4 : starts[j + 1] if j + 1 < len(starts) else None
            ].strip()
            ti = _find_keyword(seg, "then")
            if ti < 0:
                raise ValueError(f"MERGE clause missing THEN: {seg!r}")
            head, action = seg[:ti].strip(), seg[ti + 4 :].strip()
            hm = re.fullmatch(
                r"(not\s+matched|matched)(?:\s+and\s+(.*))?",
                head,
                re.IGNORECASE | re.DOTALL,
            )
            if not hm:
                raise ValueError(f"bad MERGE clause head: {head!r}")
            kind = re.sub(r"\s+", " ", hm.group(1).lower())
            cond = (hm.group(2) or "true").strip()
            act = re.sub(r"\s+", " ", action.lower())
            has_clause = True
            if act == "update set *":
                if kind != "matched":
                    raise ValueError("UPDATE requires WHEN MATCHED")
                upd = cond
            elif act.startswith("update set"):
                # column-subset assignments (r13): UPDATE SET
                # [t.]col = expr[, ...] over the t/s aliases
                if kind != "matched":
                    raise ValueError("UPDATE requires WHEN MATCHED")
                um = re.match(
                    r"update\s+set\s+(.+)$", action,
                    re.IGNORECASE | re.DOTALL,
                )
                upd_set = _parse_assignments(um.group(1), lhs_alias="t")
                upd = cond
            elif act == "delete":
                if kind != "matched":
                    raise ValueError("DELETE requires WHEN MATCHED")
                dele = cond
            elif act == "insert *":
                if kind != "not matched":
                    raise ValueError("INSERT requires WHEN NOT MATCHED")
                ins = cond
            elif act.startswith("insert"):
                # subset insert (r13): INSERT (c1, ...) VALUES (e1, ...)
                if kind != "not matched":
                    raise ValueError("INSERT requires WHEN NOT MATCHED")
                im = re.match(
                    r"insert\s*\(([^)]*)\)\s*values\s*\((.+)\)\s*$",
                    action,
                    re.IGNORECASE | re.DOTALL,
                )
                if not im:
                    raise ValueError(
                        f"INSERT grammar: INSERT * | INSERT (c1, ...) "
                        f"VALUES (e1, ...); got {action!r}"
                    )
                cols = [c.strip() for c in im.group(1).split(",")]
                vals = [v.strip() for v in _split_commas(im.group(2))]
                if len(cols) != len(vals) or not all(cols):
                    raise ValueError(
                        f"INSERT column/value count mismatch: "
                        f"{len(cols)} columns, {len(vals)} values"
                    )
                ins_values = dict(zip(cols, vals))
                ins = cond
            else:
                raise ValueError(
                    f"unsupported MERGE clause tail: {action!r} — "
                    f"UPDATE SET * | UPDATE SET col = expr, ... | "
                    f"DELETE | INSERT * | INSERT (cols) VALUES (exprs)"
                )
    t = _table(path)
    if explain:
        # EXPLAIN MERGE (r13 verdict #3): full grammar parse (a bad
        # statement fails identically), then the per-dir prune
        # decision instead of the commit — clause effects live where
        # the update keys live, so one discovery covers every flavor
        return t.explain_merge(src_df, keys=keys)
    if has_clause:
        v = t.merge(
            src_df,
            keys=keys,
            when_matched_update=upd,
            when_matched_delete=dele,
            when_not_matched_insert=ins,
            when_matched_set=upd_set,
            when_not_matched_insert_values=ins_values,
        )
    else:
        v = t.merge(src_df, keys=keys)
    return _receipt(spark, op="merge", path=path, version=str(v))


def _explain_mutation(
    spark: SparkSession, stmt: str, verb: str
) -> DataFrame:
    """EXPLAIN UPDATE / EXPLAIN DELETE (r13 verdict #3): parse the
    inner statement with the real verb's grammar (same refusals),
    validate UPDATE's SET targets against the schema like the real
    verb would, then return ``VersionedTable.explain_mutation``'s
    per-dir (dir, rows, matched_rows, action) decision without
    committing."""
    if verb == "UPDATE":
        m = re.match(
            rf"update\s+{_VT}\s+set\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        sw = _split_on_keyword(m.group(2), "where") if m else None
        if not m or sw is None:
            raise ValueError(
                "EXPLAIN UPDATE grammar: EXPLAIN UPDATE vt'<path>' "
                "SET col = expr[, ...] WHERE <pred>"
            )
        path = m.group(1)
        set_clause, pred = sw
        assignments = _parse_assignments(set_clause)
        t = _table(path)
        snap_cols = t.read(spark).columns
        unknown = [c for c in assignments if c not in snap_cols]
        if unknown:
            raise ValueError(
                f"UPDATE SET targets not in schema: {unknown}"
            )
        return t.explain_mutation(condition=pred)
    m = re.match(
        rf"delete\s+from\s+{_VT}\s+where\s+(.+)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            "EXPLAIN DELETE grammar: EXPLAIN DELETE FROM vt'<path>' "
            "WHERE <pred>"
        )
    return _table(m.group(1)).explain_mutation(condition=m.group(2))


def _parse_copy(stmt: str):
    """Shared COPY INTO grammar for the real verb and EXPLAIN COPY:
    returns (path, source, format, pattern, format_options,
    copy_options, force)."""
    m = re.match(
        rf"copy\s+into\s+{_VT}\s+from\s+'([^']+)'\s+"
        rf"fileformat\s*=\s*(\w+)"
        rf"(?:\s+pattern\s*=\s*'([^']+)')?"
        rf"(?:\s+format_options\s*\(([^)]*)\))?"
        rf"(?:\s+copy_options\s*\(([^)]*)\))?"
        rf"(\s+force)?$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            "COPY grammar: COPY INTO vt'<path>'|<name> FROM "
            "'<source>' FILEFORMAT = PARQUET|CSV|JSON [...] "
            "[PATTERN = '<glob>'] [FORMAT_OPTIONS (k = 'v', ...)] "
            "[COPY_OPTIONS ('mergeSchema' = 'true'|'false', "
            "'force' = 'true'|'false')] [FORCE]"
        )
    path, src, fmt, pat, raw_opts, raw_copts, force = m.groups()

    def _kv(raw, label):
        out = {}
        for kv in _split_commas(raw) if raw else []:
            km = re.match(r"\s*'?([\w.]+)'?\s*=\s*'([^']*)'\s*$", kv)
            if not km:
                raise ValueError(
                    f"bad {label} entry {kv!r} — expected "
                    f"key = '<value>'"
                )
            out[km.group(1)] = km.group(2)
        return out

    opts = _kv(raw_opts, "FORMAT_OPTIONS")
    copts = {k.lower(): v for k, v in _kv(
        raw_copts, "COPY_OPTIONS"
    ).items()}
    unknown = sorted(set(copts) - {"mergeschema", "force"})
    if unknown:
        raise ValueError(
            f"unsupported COPY_OPTIONS {unknown} — supported: "
            f"'mergeSchema', 'force'"
        )
    return (
        path,
        src,
        fmt.lower(),
        pat,
        opts,
        copts,
        bool(force) or str(copts.get("force", "")).lower() == "true",
    )


def _alter(spark: SparkSession, stmt: str) -> DataFrame:
    """ALTER TABLE — the schema-evolution verbs (r12 verdict #1).
    Every action routes to an already-certified library face; the
    router is pure surface. Grammar (one action per statement):

    * ``ALTER TABLE <name> RENAME TO <newname>`` — catalog rename
      (names only: a path-addressed table has no name to change).
    * ``ALTER TABLE <ref> RENAME COLUMN a TO b``
    * ``ALTER TABLE <ref> DROP COLUMN a``
    * ``ALTER TABLE <ref> ADD COLUMN a <ddl type>``
    * ``ALTER TABLE <ref> ADD CONSTRAINT name CHECK (<expr>)``
    * ``ALTER TABLE <ref> DROP CONSTRAINT name``
    * ``ALTER TABLE <ref> SYNC IDENTITY`` — recompute the identity
      high-water from live values (forward-only; the recovery face
      after clean_metadata truncation or restore)

    where ``<ref>`` is ``vt'<path>'`` or a catalog name."""
    m = re.match(
        r"alter\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s+rename\s+to\s+"
        r"([A-Za-z_][A-Za-z0-9_]*)$",
        stmt,
        re.IGNORECASE,
    )
    if m:
        _catalog().rename(m.group(1), m.group(2))
        return _receipt(
            spark,
            op="rename_table",
            name=m.group(1).lower(),
            new_name=m.group(2).lower(),
        )
    stmt = _resolve_head_name(stmt)
    m = re.match(
        rf"alter\s+table\s+{_VT}\s+(.+)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            "ALTER grammar: ALTER TABLE vt'<path>'|<name> RENAME "
            "COLUMN a TO b | DROP COLUMN a | ADD COLUMN a <type> | "
            "ADD CONSTRAINT n CHECK (...) | DROP CONSTRAINT n | "
            "SYNC IDENTITY, or "
            "ALTER TABLE <name> RENAME TO <newname> (names only)"
        )
    path, action = m.group(1), m.group(2).strip()
    t = _table(path)
    if re.fullmatch(r"sync\s+identity", action, re.IGNORECASE):
        # Delta's ALTER TABLE ... SYNC IDENTITY (r14): recompute the
        # identity high-water from the live column values —
        # forward-only, metadata-only commit (see
        # VersionedTable.sync_identity)
        import json as _json

        hw = t.sync_identity()
        return _receipt(
            spark,
            op="sync_identity",
            path=path,
            highwater=_json.dumps(hw, sort_keys=True),
        )
    am = re.match(
        r"rename\s+column\s+(\w+)\s+to\s+(\w+)$", action, re.IGNORECASE
    )
    if am:
        v = t.rename_column(am.group(1), am.group(2))
        return _receipt(
            spark, op="rename_column", path=path, version=str(v)
        )
    am = re.match(r"drop\s+column\s+(\w+)$", action, re.IGNORECASE)
    if am:
        v = t.drop_column(am.group(1))
        return _receipt(
            spark, op="drop_column", path=path, version=str(v)
        )
    am = re.match(
        r"add\s+column\s+(\w+)\s+(.+)$", action, re.IGNORECASE | re.DOTALL
    )
    if am:
        v = t.add_column(am.group(1), am.group(2).strip())
        return _receipt(
            spark, op="add_column", path=path, version=str(v)
        )
    am = re.match(
        r"add\s+constraint\s+(\w+)\s+check\s*\((.+)\)$",
        action,
        re.IGNORECASE | re.DOTALL,
    )
    if am:
        v = t.add_constraint(am.group(1), am.group(2).strip())
        return _receipt(
            spark, op="add_constraint", path=path, version=str(v)
        )
    am = re.match(
        r"drop\s+constraint\s+(\w+)$", action, re.IGNORECASE
    )
    if am:
        v = t.drop_constraint(am.group(1))
        return _receipt(
            spark, op="drop_constraint", path=path, version=str(v)
        )
    raise ValueError(
        f"unsupported ALTER action: {action!r} — RENAME COLUMN / "
        f"DROP COLUMN / ADD COLUMN / ADD CONSTRAINT ... CHECK / "
        f"DROP CONSTRAINT (RENAME TO works on catalog NAMES only: a "
        f"path-addressed table has no name to change)"
    )


def _balanced_prefix(text: str) -> tuple[str, str]:
    """Split ``text`` (which starts INSIDE an already-open paren) at
    the matching close paren: (inside, after). Quote-aware."""
    depth, in_q = 1, False
    for i, ch in enumerate(text):
        if in_q:
            if ch == "'":
                in_q = False
        elif ch == "'":
            in_q = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[:i], text[i + 1:]
    raise ValueError(f"unbalanced parentheses in: ({text}")


def _named_destination(name: str):
    """Resolve the on-disk root for a NAMED create destination, after
    refusing a taken name against BOTH catalog namespaces. Tables and
    views share one namespace; checking only names() would let a
    view-colliding CREATE write the table/clone to disk first and then
    fail at register(), stranding an orphaned root beside the catalog
    (round-13 advice, sql.py)."""
    import os

    cat = _catalog()
    n = name.lower()
    if n in cat.names():
        raise ValueError(
            f"table name '{n}' already exists — DROP TABLE it first "
            f"or pick another name"
        )
    if n in cat.views():
        raise ValueError(
            f"'{n}' is a VIEW — tables and views share one namespace; "
            f"DROP VIEW it first or pick another name"
        )
    return os.path.join(os.path.dirname(cat.path), n)


def _create_schema(spark: SparkSession, m: re.Match) -> DataFrame:
    """CREATE TABLE <ref> (<column defs>) [PARTITIONED BY (...)]:
    empty-table DDL. Column defs are ``col TYPE [GENERATED ALWAYS AS
    (expr)]`` plus table-level ``CONSTRAINT name CHECK (expr)``
    entries; types are full Spark DDL (DECIMAL(10,2), ARRAY<...>)."""
    from pyspark.sql.types import StructType

    path, name, rest = m.group(1), m.group(2), m.group(3)
    inside, after = _balanced_prefix(rest)
    after = after.strip()
    pby = None
    if after:
        pm = re.fullmatch(
            r"partitioned\s+by\s*\(([^)]+)\)", after, re.IGNORECASE
        )
        if not pm:
            raise ValueError(
                f"CREATE TABLE (schema) tail must be PARTITIONED BY "
                f"(a, b) or nothing; got {after!r}"
            )
        pby = [c.strip() for c in pm.group(1).split(",")]
    fields, generated, constraints, identity = [], {}, {}, {}
    for item in _split_commas(inside):
        item = item.strip()
        if not item:
            raise ValueError("empty column definition")
        cm = re.match(
            r"constraint\s+([A-Za-z_][A-Za-z0-9_]*)\s+check\s*\((.+)\)\s*$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if cm:
            constraints[cm.group(1)] = cm.group(2).strip()
            continue
        im = re.match(
            r"([A-Za-z_][A-Za-z0-9_]*)\s+(bigint|long)\s+generated"
            r"\s+(always|by\s+default)\s+as\s+identity"
            r"(?:\s*\(\s*start\s+with\s+(-?\d+)"
            r"(?:\s+increment\s+by\s+(-?\d+))?\s*\))?\s*$",
            item,
            re.IGNORECASE,
        )
        if im:
            col = im.group(1)
            identity[col] = {
                "start": int(im.group(4) or 1),
                "step": int(im.group(5) or 1),
                "mode": (
                    "default"
                    if im.group(3).lower().startswith("by")
                    else "always"
                ),
            }
            fields.append(f"{col} bigint")
            continue
        gm = re.match(
            r"([A-Za-z_][A-Za-z0-9_]*)\s+(.+?)\s+generated\s+always"
            r"\s+as\s*\((.+)\)\s*$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if gm:
            col, typ, expr = gm.groups()
            generated[col] = expr.strip()
        else:
            dm = re.match(
                r"([A-Za-z_][A-Za-z0-9_]*)\s+(.+)$", item, re.DOTALL
            )
            if not dm:
                raise ValueError(f"bad column definition: {item!r}")
            col, typ = dm.groups()
        fields.append(f"{col} {typ.strip()}")
    if not fields:
        raise ValueError("CREATE TABLE (schema) needs at least one column")
    # identity columns are GENERATED ALWAYS: the bootstrap frame must
    # not carry them — create() assigns them (they land last in the
    # physical column order)
    schema = StructType.fromDDL(
        ", ".join(f for f in fields if f.split()[0] not in identity)
    )
    if not schema.fields and identity:
        raise ValueError(
            "a table cannot consist of identity columns only"
        )
    if path is None:
        path = _named_destination(name)
    v = _table(path).create(
        local_frame(spark, [], schema),
        partition_by=pby,
        constraints=constraints or None,
        generated=generated or None,
        identity=identity or None,
    )
    if name is not None:
        _catalog().register(name, path)
    return _receipt(
        spark,
        op="create",
        path=path,
        version=str(v),
        columns=str(len(schema.fields)),
    )


def sql(spark: SparkSession, statement: str) -> DataFrame:
    """Route one lakehouse SQL statement (module docstring grammar).
    Everything returns a DataFrame."""
    stmt = statement.strip().rstrip(";").strip()
    head = stmt.split(None, 2)
    verb = head[0].upper() if head else ""
    if verb in ("BEGIN", "COMMIT", "ROLLBACK"):
        # multi-table transaction verbs (r13 verdict #4). BEGIN
        # [TRANSACTION] opens a thread-local transaction: every DML
        # until COMMIT is PREPARED (invisible everywhere else), the
        # COMMIT's coordinator-record creation is the atomic
        # all-or-none visibility point, and ROLLBACK discards the
        # prepared state. Statement semantics inside a transaction:
        # reads (SELECT/WITH/EXPLAIN/SHOW/DESCRIBE) see committed
        # state plus THIS transaction's prepared versions; DML
        # (INSERT/MERGE/UPDATE/DELETE/COPY/TRUNCATE) prepares; DDL,
        # catalog and maintenance verbs are refused (they are not
        # table commits and could not be rolled back). A crash before
        # COMMIT leaves nothing visible; a crash after COMMIT
        # finalizes lazily on the next read of each table.
        from python_etl_spark.sinks.table import (
            begin_transaction,
            commit_transaction,
            rollback_transaction,
        )

        if verb == "BEGIN":
            if not re.fullmatch(
                r"begin(\s+transaction)?", stmt, re.IGNORECASE
            ):
                raise ValueError("BEGIN grammar: BEGIN [TRANSACTION]")
            tid = begin_transaction()
            return _receipt(spark, op="begin", txn=tid)
        if len(head) > 1:
            raise ValueError(f"{verb} takes no arguments")
        if verb == "COMMIT":
            rep = commit_transaction()
            return _receipt(
                spark,
                op="commit",
                txn=rep["id"],
                tables=json.dumps(rep["tables"], sort_keys=True),
            )
        rep = rollback_transaction()
        return _receipt(spark, op="rollback", txn=rep["id"])
    from python_etl_spark.sinks.table import _txn_ctx

    if _txn_ctx() is not None and verb not in (
        "SELECT", "WITH", "EXPLAIN", "SHOW", "DESCRIBE",
        "INSERT", "MERGE", "UPDATE", "DELETE", "COPY", "TRUNCATE",
    ):
        raise ValueError(
            f"{verb} is not allowed inside a transaction — only reads "
            f"and table DML (INSERT/MERGE/UPDATE/DELETE/COPY INTO/"
            f"TRUNCATE) participate in BEGIN ... COMMIT"
        )
    if verb in ("SELECT", "WITH"):
        return spark.sql(_substitute_views(spark, stmt))
    if verb == "EXPLAIN":
        inner = stmt.split(None, 1)[1].strip() if len(head) > 1 else ""
        iverb = inner.split(None, 1)[0].upper() if inner else ""
        if iverb in ("MERGE", "UPDATE", "DELETE"):
            # EXPLAIN <DML> (r13 verdict #3): the statement parses
            # through the SAME grammar as the real verb, then returns
            # the per-dir prune decision (candidate dirs from min-max
            # stats, bloom-admitted dirs, per-file refinement, exact
            # probe, rewrite-vs-carry) WITHOUT committing.
            inner = _resolve_head_name(inner)
            if iverb == "MERGE":
                return _merge(spark, inner, explain=True)
            return _explain_mutation(spark, inner, iverb)
        if iverb == "COPY":
            # EXPLAIN COPY INTO (r14): the per-file load/skip
            # decision (load | skip_history | skip_pattern) without
            # committing — stage listing + manifest-meta history
            # only, no data file opened
            inner = _resolve_head_name(inner)
            (path, src, fmt, pat, opts, _copts, force) = _parse_copy(
                inner
            )
            return _table(path).explain_copy_into(
                spark,
                src,
                file_format=fmt,
                options=opts or None,
                force=force,
                pattern=pat,
            )
        # plain EXPLAIN [EXTENDED|FORMATTED|...] SELECT: Spark's own
        # explain over the substituted statement
        return spark.sql(_substitute_views(spark, stmt))
    if verb == "ALTER":
        return _alter(spark, stmt)
    if verb == "DROP":
        m = re.match(
            r"drop\s+(table|view)\s+([A-Za-z_][A-Za-z0-9_]*)$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "DROP grammar: DROP TABLE <name> (forgets the "
                "catalog name only; data and history stay at the "
                "root — remove bytes with VersionedTable.vacuum / "
                "clean_metadata) | DROP VIEW <name>"
            )
        if m.group(1).lower() == "view":
            _catalog().unregister_view(m.group(2))
            return _receipt(spark, op="drop_view", name=m.group(2))
        root = _catalog().unregister(m.group(2))
        return _receipt(spark, op="drop_table", name=m.group(2), path=root)
    if verb in (
        "MERGE", "INSERT", "UPDATE", "DELETE", "DESCRIBE",
        "OPTIMIZE", "RESTORE", "VACUUM", "COPY", "TRUNCATE",
    ):
        stmt = _resolve_head_name(stmt)
    if verb == "TRUNCATE":
        m = re.match(rf"truncate\s+table\s+{_VT}$", stmt, re.IGNORECASE)
        if not m:
            raise ValueError(
                "TRUNCATE grammar: TRUNCATE TABLE vt'<path>'|<name> — "
                "removes every row as ONE copy-on-write commit (time "
                "travel and the typed delete change feed are kept; "
                "this is DELETE FROM without WHERE, not a history wipe)"
            )
        from pyspark.sql import functions as F

        t = _table(m.group(1))
        v = t.delete_where(F.lit(True))
        return _receipt(
            spark, op="truncate", path=m.group(1), version=str(v)
        )
    if verb == "MERGE":
        return _merge(spark, stmt)
    if verb == "COPY":
        (path, src, fmt, pat, opts, copts, force) = _parse_copy(stmt)
        res = _table(path).copy_into(
            spark,
            src,
            file_format=fmt,
            options=opts or None,
            force=force,
            pattern=pat,
            allow_evolution=(
                str(copts.get("mergeschema", "")).lower() == "true"
            ),
        )
        return _receipt(
            spark,
            op="copy_into",
            path=path,
            **{k: str(v) for k, v in res.items()},
        )
    if verb == "INSERT":
        m = re.match(
            rf"insert\s+(into|overwrite)\s+{_VT}\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "INSERT grammar: INSERT INTO|OVERWRITE vt'<path>' "
                "<SELECT ...|VALUES ...> (full-row; INTO appends, "
                "OVERWRITE replaces the snapshot as one CoW commit)"
            )
        mode, path, body = m.groups()
        body = body.strip()
        t = _table(path)
        target = t.read(spark).schema
        # identity columns: GENERATED ALWAYS ones never appear in the
        # positional mapping (the write path assigns ids); GENERATED
        # BY DEFAULT ones are OPTIONAL — the row arity picks between
        # the without-ids mapping (auto-assign) and the with-ids
        # mapping (explicit ids, validated by the write path)
        id_spec = t.identity_columns()
        always = {
            c for c, s in id_spec.items()
            if str(s.get("mode", "always")) != "default"
        }
        tf_auto = [f for f in target.fields if f.name not in id_spec]
        tf_full = [f for f in target.fields if f.name not in always]

        def _pick(n):
            if n == len(tf_auto):
                return tf_auto
            if n == len(tf_full):
                return tf_full
            want = (
                f"{len(tf_auto)}"
                if len(tf_auto) == len(tf_full)
                else f"{len(tf_auto)} (ids auto-assigned) or "
                     f"{len(tf_full)} (explicit BY DEFAULT ids)"
            )
            raise ValueError(
                f"INSERT arity mismatch: target takes {want} "
                f"columns, got {n}"
            )

        if body.upper().startswith("VALUES"):
            # VALUES rows need the target's column names; bare NULL
            # literals type as VOID and must coerce to the target
            # column types (ANSI INSERT semantics) or the append's
            # drift guard refuses them
            from pyspark.sql import functions as F
            from pyspark.sql.types import NullType

            df = spark.sql(f"SELECT * FROM ({body}) AS v")
            tfields = _pick(len(df.columns))
            df = df.toDF(*[f.name for f in tfields])
            df = df.select(
                *[
                    (
                        F.col(f.name).cast(t.dataType).alias(f.name)
                        if isinstance(f.dataType, NullType)
                        else F.col(f.name)
                    )
                    for f, t in zip(df.schema.fields, tfields)
                ]
            )
        else:
            # ANSI INSERT without a column list is POSITIONAL: the
            # SELECT's columns map to the target's by position (so
            # computed expressions need no AS aliases), same as the
            # VALUES form
            df = spark.sql(_substitute_views(spark, body))
            tfields = _pick(len(df.columns))
            df = df.toDF(*[f.name for f in tfields])
            from pyspark.sql import functions as F
            from pyspark.sql.types import NullType

            df = df.select(
                *[
                    (
                        F.col(f.name).cast(t.dataType).alias(f.name)
                        if isinstance(f.dataType, NullType)
                        else F.col(f.name)
                    )
                    for f, t in zip(df.schema.fields, tfields)
                ]
            )
        if mode.lower() == "overwrite":
            # full REPLACE as one CoW commit (old dirs stay readable
            # for time travel until vacuum) — Delta INSERT OVERWRITE
            v = _table(path).overwrite(df)
            return _receipt(
                spark, op="insert_overwrite", path=path, version=str(v)
            )
        v = _table(path).append(df)
        return _receipt(spark, op="insert", path=path, version=str(v))
    if verb == "CREATE":
        # CREATE [OR REPLACE] VIEW <name> AS <select> — a stored SQL
        # view (r13): the catalog keeps the TEXT; reads re-substitute
        # it, so the view tracks current snapshots. Validated by
        # analyzing the substituted statement before storing.
        m = re.match(
            r"create\s+(or\s+replace\s+)?view\s+"
            r"([A-Za-z_][A-Za-z0-9_]*)\s+as\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            replace, name, body = m.groups()
            body = body.strip()
            if not re.match(r"(select|with)\b", body, re.IGNORECASE):
                raise ValueError(
                    "CREATE VIEW body must be a SELECT/WITH statement"
                )
            # analysis-only validation: a typo'd column or unknown
            # table fails NOW, not at first read. The name being
            # defined rides the expansion stack so a definition that
            # would close a cycle (through any chain of views) is
            # refused HERE, not at first read — this also rejects a
            # self-referential redefinition (text-substituted views
            # cannot reference themselves).
            stack = _view_stack()
            if name.lower() in stack:  # pragma: no cover - nested
                raise ValueError(f"view definition cycle through '{name}'")
            stack.add(name.lower())
            try:
                spark.sql(_substitute_views(spark, body)).schema
            finally:
                stack.discard(name.lower())
            _catalog().register_view(name, body, replace=bool(replace))
            return _receipt(spark, op="create_view", name=name)
        # CREATE [OR REPLACE] TABLE <name> USING versioned_table
        # LOCATION '<root>' — catalog registration (metadata only;
        # the root may already hold a table or be created later)
        m = re.match(
            r"create\s+(or\s+replace\s+)?table\s+"
            r"([A-Za-z_][A-Za-z0-9_]*)\s+using\s+versioned_table\s+"
            r"location\s+'([^']+)'$",
            stmt,
            re.IGNORECASE,
        )
        if m:
            replace, name, root = m.groups()
            _catalog().register(name, root, replace=bool(replace))
            return _receipt(
                spark, op="create_table", name=name, path=root
            )
        m = re.match(
            rf"create\s+table\s+(?:{_VT}|([A-Za-z_][A-Za-z0-9_]*))"
            rf"\s+shallow\s+clone\s+"
            rf"(?:{_TRAVEL}|([A-Za-z_][A-Za-z0-9_]*))$",
            stmt,
            re.IGNORECASE,
        )
        if m:
            # CREATE TABLE <dest> SHALLOW CLONE <src> [time travel] —
            # zero-copy clone (r13): the new table's v0 references the
            # source snapshot's data dirs by path, O(metadata)
            path, name, src_path, ver, ts_s, ts_n, src_name = m.groups()
            if src_path is None:
                src_path = _catalog().resolve(src_name)
            if path is None:
                path = _named_destination(name)
            src = _table(src_path)
            v = src.latest_version()
            if ver is not None:
                v = int(ver)
            elif ts_s is not None or ts_n is not None:
                v = src.version_as_of(
                    _ts_to_epoch(ts_s if ts_s is not None else ts_n)
                )
            src.clone(path, version=v)
            if name is not None:
                _catalog().register(name, path)
            return _receipt(
                spark,
                op="shallow_clone",
                path=path,
                source=src.root,
                source_version=str(v),
            )
        m = re.match(
            rf"create\s+table\s+(?:{_VT}|([A-Za-z_][A-Za-z0-9_]*))"
            rf"\s*\((.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if m and not re.match(
            rf"create\s+table\s+(?:{_VT}|[A-Za-z_][A-Za-z0-9_]*)"
            rf"\s+(?:as|shallow|partitioned)\b",
            stmt,
            re.IGNORECASE,
        ):
            # CREATE TABLE <ref> (col TYPE [GENERATED ALWAYS AS
            # (expr)][, ...][, CONSTRAINT n CHECK (expr)])
            # [PARTITIONED BY (a, b)] — empty-table DDL (r13): the
            # schema-first bootstrap a COPY INTO / streaming target
            # needs before any row exists
            return _create_schema(spark, m)
        m = re.match(
            rf"create\s+table\s+(?:{_VT}|([A-Za-z_][A-Za-z0-9_]*))"
            rf"(?:\s+partitioned\s+by\s*\(([^)]+)\))?"
            rf"\s+as\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "CREATE grammar: CREATE TABLE vt'<path>'|<name> "
                "[PARTITIONED BY (a, b)] AS <SELECT ...>, CREATE "
                "TABLE vt'<path>'|<name> (col TYPE [GENERATED ALWAYS "
                "AS (expr)], ..., [CONSTRAINT n CHECK (expr)]) "
                "[PARTITIONED BY (a, b)], CREATE "
                "TABLE vt'<path>'|<name> SHALLOW CLONE vt'<src>'|"
                "<name> [VERSION|TIMESTAMP AS OF ...], or CREATE "
                "[OR REPLACE] TABLE <name> USING versioned_table "
                "LOCATION '<root>'"
            )
        path, name, pby, body = m.groups()
        if path is None:
            # named CTAS: materialize beside the catalog file so the
            # user never touches a path; refuse a taken name
            path = _named_destination(name)
        df = spark.sql(_substitute_views(spark, body.strip()))
        v = _table(path).create(
            df,
            partition_by=(
                [c.strip() for c in pby.split(",")] if pby else None
            ),
        )
        if name is not None:
            _catalog().register(name, path)
        return _receipt(spark, op="create", path=path, version=str(v))
    if verb == "UPDATE":
        m = re.match(
            rf"update\s+{_VT}\s+set\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        sw = _split_on_keyword(m.group(2), "where") if m else None
        if not m or sw is None:
            raise ValueError(
                "UPDATE grammar: UPDATE vt'<path>' SET col = expr"
                "[, col = expr ...] WHERE <pred>"
            )
        path = m.group(1)
        set_clause, pred = sw
        assignments = _parse_assignments(set_clause)
        from pyspark.sql import functions as F

        t = _table(path)
        v = t.update_where(assignments, F.expr(pred))
        return _receipt(spark, op="update", path=path, version=str(v))
    if verb == "DELETE":
        m = re.match(
            rf"delete\s+from\s+{_VT}\s+where\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "DELETE grammar: DELETE FROM vt'<path>' WHERE <pred>"
            )
        from pyspark.sql import functions as F

        t = _table(m.group(1))
        v = t.delete_where(F.expr(m.group(2)))
        return _receipt(
            spark, op="delete", path=m.group(1), version=str(v)
        )
    if verb == "SHOW":
        pm = re.match(
            rf"show\s+partitions\s+(?:{_VT}|([A-Za-z_][A-Za-z0-9_]*))$",
            stmt,
            re.IGNORECASE,
        )
        if pm:
            # SHOW PARTITIONS <ref> — metadata only: hive key=value
            # segments parsed from the CURRENT manifest's dir tree
            # (one directory listing per level, never a data scan)
            import os as _os
            from urllib.parse import unquote

            root = pm.group(1) or _catalog().resolve(pm.group(2))
            t = _table(root)
            pcols = t.partition_columns()
            if not pcols:
                raise ValueError(
                    f"table at {root} is not partitioned — SHOW "
                    f"PARTITIONS needs a PARTITIONED BY table"
                )
            seen: set[tuple] = set()

            def _walk(d: str, depth: int, vals: tuple) -> None:
                if depth == len(pcols):
                    seen.add(vals)
                    return
                try:
                    entries = _os.listdir(d)
                except FileNotFoundError:
                    return
                for e in entries:
                    if e.startswith((f"{pcols[depth]}=",)):
                        _walk(
                            _os.path.join(d, e),
                            depth + 1,
                            vals + (unquote(e.split("=", 1)[1]),),
                        )

            for d in t._read_manifest()["data_dirs"]:
                _walk(d, 0, ())
            schema = ", ".join(f"{c} string" for c in pcols)
            return local_frame(spark, sorted(seen), schema)
        if re.match(r"show\s+views$", stmt, re.IGNORECASE):
            vs = sorted(_catalog().views().items())
            return local_frame(spark, vs, "name string, text string")
        if not re.match(r"show\s+tables$", stmt, re.IGNORECASE):
            raise ValueError(
                "SHOW grammar: SHOW TABLES | SHOW VIEWS | SHOW "
                "PARTITIONS vt'<path>'|<name>"
            )
        names = sorted(_catalog().names().items())
        return local_frame(spark, names, "name string, location string")
    if verb == "DESCRIBE":
        dm = re.match(
            rf"describe\s+(?:table\s+)?{_VT}$", stmt, re.IGNORECASE
        )
        if dm:
            # DESCRIBE [TABLE] <ref> — schema + invariants, the
            # spark.sql("DESCRIBE t") shape an analyst types first
            t = _table(dm.group(1))
            df = t.read(spark)
            gen = t.generated_columns()
            cons = t.constraints()
            pby = set(t.partition_columns())
            ident = t.identity_columns()

            def _note(name):
                if name in pby:
                    return "partition"
                if name in gen:
                    return f"generated: {gen[name]}"
                if name in ident:
                    s = ident[name]
                    mode = (
                        "by default"
                        if str(s.get("mode", "always")) == "default"
                        else "always"
                    )
                    return (
                        f"generated {mode} as identity "
                        f"(start {s['start']} increment {s['step']})"
                    )
                return ""

            rows = [
                (f.name, f.dataType.simpleString(), _note(f.name))
                for f in df.schema.fields
            ] + [
                (f"constraint:{n}", "check", e)
                for n, e in sorted(cons.items())
            ]
            return local_frame(
                spark, rows, "col_name string, data_type string, comment string"
            )
        m = re.match(
            rf"describe\s+(history|detail)\s+{_VT}$", stmt, re.IGNORECASE
        )
        if not m:
            raise ValueError(
                "DESCRIBE grammar: DESCRIBE [TABLE] vt'<path>'|<name> "
                "| DESCRIBE HISTORY|DETAIL vt'<path>'|<name>"
            )
        t = _table(m.group(2))
        if m.group(1).lower() == "history":
            rows = [
                (
                    h["version"],
                    h.get("op"),
                    float(h.get("committed_at") or 0.0),
                    h.get("num_rows"),
                    len(h.get("data_dirs") or []) or None,
                )
                for h in t.history()
            ]
            return local_frame(
                spark,
                rows,
                "version long, op string, committed_at double, "
                "num_rows long, n_dirs long",
            ).orderBy("version", ascending=False)
        d = t.detail()
        import json as _json

        return local_frame(
            spark,
            [(k, _json.dumps(v, default=str)) for k, v in sorted(d.items())],
            "property string, value string",
        )
    if verb == "OPTIMIZE":
        m = re.match(
            rf"optimize\s+{_VT}"
            rf"(?:\s+zorder\s+by\s*\(([^)]+)\))?$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "OPTIMIZE grammar: OPTIMIZE vt'<path>' "
                "[ZORDER BY (a, b)]"
            )
        cluster = (
            [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        )
        acts = _table(m.group(1)).optimize(spark, cluster_by=cluster)
        import json as _json

        return local_frame(
            spark,
            [
                (a["action"], a.get("version"), _json.dumps(a, default=str))
                for a in acts
            ]
            or [("noop", None, "{}")],
            "action string, version long, detail string",
        )
    if verb == "RESTORE":
        m = re.match(
            rf"restore\s+{_VT}\s+to\s+"
            rf"(?:version\s+as\s+of\s+(\d+)"
            rf"|timestamp\s+as\s+of\s+(?:'([^']+)'|([0-9.]+)))$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "RESTORE grammar: RESTORE vt'<path>' TO VERSION AS OF "
                "n | TO TIMESTAMP AS OF ts"
            )
        t = _table(m.group(1))
        if m.group(2) is not None:
            v = t.restore(int(m.group(2)))
        else:
            ts = m.group(3) if m.group(3) is not None else m.group(4)
            try:
                t0 = float(ts)
            except ValueError:
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(ts)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                t0 = dt.timestamp()
            v = t.restore_as_of(t0)
        return _receipt(
            spark, op="restore", path=m.group(1), version=str(v)
        )
    if verb == "VACUUM":
        m = re.match(
            rf"vacuum\s+{_VT}"
            rf"(?:\s+(dry\s+run)|\s+retain\s+(\d+(?:\.\d+)?)\s+hours)?$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "VACUUM grammar: VACUUM vt'<path>' [DRY RUN | RETAIN "
                "<n> HOURS] — DRY RUN is the default (a silent sweep "
                "would end time travel); deleting requires the "
                "EXPLICIT retention clause"
            )
        t = _table(m.group(1))
        if m.group(3) is not None:
            # the real sweep: RETAIN n HOURS is the in-flight-writer
            # grace window (r12 verdict #1 — an explicit retention is
            # the destructive opt-in, the Delta VACUUM contract)
            removed = t.vacuum(
                grace_seconds=float(m.group(3)) * 3600.0
            )
            return local_frame(spark, [(d,) for d in removed], "removed string")
        would = t.vacuum(dry_run=True)
        return local_frame(
            spark, [(d,) for d in would], "would_remove string"
        )
    raise ValueError(
        f"unsupported statement head {verb!r} — the router speaks "
        f"SELECT/WITH (with vt'...'/named-table time travel and "
        f"TABLE_CHANGES(...)), MERGE, INSERT, CREATE TABLE AS / "
        f"USING versioned_table LOCATION, DROP TABLE, UPDATE, "
        f"DELETE, ALTER TABLE (columns/constraints/RENAME TO), "
        f"DESCRIBE [TABLE|HISTORY|DETAIL], SHOW TABLES, OPTIMIZE, "
        f"RESTORE, VACUUM [DRY RUN | RETAIN n HOURS]"
    )


def sql_script(spark: SparkSession, script: str) -> DataFrame:
    """Run several ``;``-separated statements in order and return the
    LAST statement's frame (quote-aware split — a semicolon inside a
    string literal never splits; ``--`` line comments are stripped).

    TRANSACTIONS (r13 verdict #4): statements between ``BEGIN
    [TRANSACTION]`` and ``COMMIT`` are all-or-none across every table
    they touch — each DML PREPARES an invisible manifest, COMMIT's
    atomic coordinator-record creation is the visibility point, and
    lazy finalize makes a crash after that point lose nothing (see
    sinks/table.py's transaction protocol). ``ROLLBACK`` discards the
    prepared state. A statement FAILURE inside a transaction rolls the
    whole transaction back before the error propagates, and a script
    that ends inside an open transaction is rolled back and refused —
    so a script transaction can never leak prepared state. Outside a
    transaction the old contract holds: each DML verb is its own
    atomic commit, and a failing statement stops the script with
    everything before it already committed (the receipt frames name
    the versions, so a caller can RESTORE to unwind)."""
    stmts, cur, in_q = [], [], False
    i, n = 0, len(script)
    while i < n:
        ch = script[i]
        if in_q:
            if ch == "'":
                if i + 1 < n and script[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_q = False
            cur.append(ch)
        elif ch == "'":
            in_q = True
            cur.append(ch)
        elif ch == "-" and i + 1 < n and script[i + 1] == "-":
            while i < n and script[i] != "\n":
                i += 1
            continue
        elif ch == ";":
            stmts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    stmts.append("".join(cur))
    stmts = [s.strip() for s in stmts if s.strip()]
    if not stmts:
        raise ValueError("empty SQL script")
    from python_etl_spark.sinks.table import (
        _txn_ctx,
        rollback_transaction,
    )

    began_txn = False
    out = None
    try:
        for s in stmts:
            v = s.split(None, 1)[0].upper()
            out = sql(spark, s)
            if v == "BEGIN":
                began_txn = True
            elif v in ("COMMIT", "ROLLBACK"):
                began_txn = False
    except BaseException:
        if began_txn and _txn_ctx() is not None:
            rollback_transaction()  # all-or-none: a failed statement
        raise  # aborts the whole script transaction
    if began_txn and _txn_ctx() is not None:
        rollback_transaction()
        raise ValueError(
            "script ended inside an open transaction — nothing was "
            "committed; end the script with COMMIT or ROLLBACK"
        )
    return out
