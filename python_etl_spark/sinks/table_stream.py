"""``versioned_table``: the VersionedTable lakehouse sink as a
REGISTERED Spark format — batch (``df.write.format("versioned_table")
.option("path", root).save()``) and STREAMING
(``df.writeStream.format("versioned_table")...start()``) faces, so a
pipeline lands in the manifest-committed table without hand-written
foreachBatch plumbing.

Exactly-once contract (streaming): every micro-batch commits as ONE
append manifest carrying ``{"stream_sink_id", "stream_batch_id"}`` in
its meta — the idempotence record and the data land in the SAME atomic
manifest publish, so a replayed batch (Spark re-runs the last epoch
after a crash between sink commit and checkpoint write) is detected by
scanning back for this sink's newest committed batch id and skipped.
A sidecar file could drift from the manifests across a crash; the
manifest itself cannot.

Scale shape: executor tasks stream their Arrow record batches straight
to parquet part files in a task-owned tmp path (no driver data path);
the driver commit MOVES the files into a fresh commit dir (same-fs
rename) and publishes the manifest — O(files) driver work, zero data
through the driver. Table maintenance (optimize(), compaction, change
feeds) composes: the sink's commits are ordinary appends.

Hive-partitioned targets compose: an existing table's recorded layout
is reused automatically, a new table takes ``option("partitionBy",
"ds,hour")`` — each executor task splits its Arrow batches by the
partition values (vectorized string-cast + one groupby over ONLY the
partition columns, never the payload) and writes one part file per
(task, partition) under escaped ``name=value`` subpaths that match
Spark's own hive writer byte-for-byte (same escaping, same
``__HIVE_DEFAULT_PARTITION__`` null dir), so sink commits and library
``append`` commits interleave in one table and prune identically.
Schema is checked by NAME AND TYPE against the live snapshot footer
plus the partition columns: additive drift and type WIDENING commit
with ``option("allowEvolution", "true")`` (recording the widened
schema as the read-side cast target), a narrower stream conforms
through the same recorded schema, and anything else fails the commit
— a drifted stream can never poison the table.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


@dataclass
class _FilesMsg(WriterCommitMessage):
    files: list = field(default_factory=list)


# characters Spark's hive path writer escapes (ExternalCatalogUtils.
# escapePathName's set): matching it exactly keeps sink-written
# partition dirs byte-identical to library ``append`` dirs, so the
# path parser reads both back the same way
_NEEDS_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_hive(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _NEEDS_ESCAPE or ord(ch) < 0x20 else ch
        for ch in value
    )


def _hive_subpaths(tbl, part_cols: list) -> list:
    """Group a task's rows by partition value: ``[(hive subpath, row
    indices)]``. Vectorized — each partition column is Arrow-cast to
    its canonical string form (ISO dates, ``true``/``false`` bools:
    the same rendering Spark's hive writer uses) and the groupby runs
    over ONLY those string columns, never the payload."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {}
    for c in part_cols:
        arr = tbl.column(c)
        if pa.types.is_boolean(arr.type):
            s = pc.if_else(arr, pa.scalar("true"), pa.scalar("false"))
        else:
            s = pc.cast(arr, pa.string())
        cols[c] = s.to_pandas()
    groups = (
        pd.DataFrame(cols)
        .groupby(list(part_cols), dropna=False, sort=False)
        .indices
    )
    out = []
    for key, idx in groups.items():
        vals = key if isinstance(key, tuple) else (key,)
        segs = []
        for c, v in zip(part_cols, vals):
            if v is None or (isinstance(v, float) and v != v):
                segs.append(f"{c}=__HIVE_DEFAULT_PARTITION__")
            else:
                segs.append(f"{c}={_escape_hive(str(v))}")
        out.append(("/".join(segs), idx))
    return out


def _check_constraints_arrow(tbl, cons: dict) -> None:
    """Executor-side CHECK-constraint gate for the sink: DuckDB
    evaluates each expression straight over the task's Arrow batch
    (partition columns still present — they are dropped only at file
    write). Violation fails the task BEFORE any file lands, and the
    abort path sweeps nothing. Constraints must be ANSI-portable
    expressions (the same contract the oracle suite already imposes
    repo-wide); SQL semantics — only FALSE violates."""
    if not cons:
        return
    import duckdb

    con = duckdb.connect()
    con.register("batch", tbl)
    for name, expr in sorted(cons.items()):
        n = con.execute(
            f"SELECT count(*) FROM batch WHERE ({expr}) IS FALSE"
        ).fetchone()[0]
        if n:
            sample = con.execute(
                f"SELECT * FROM batch WHERE ({expr}) IS FALSE LIMIT 3"
            ).fetchall()
            raise ValueError(
                f"versioned_table sink: constraint '{name}' "
                f"({expr}) violated by {n} row(s); sample: {sample}"
            )


def _apply_generated_arrow(tbl, gen: dict):
    """Executor-side generated-column gate for the sink (mirrors
    ``VersionedTable._apply_generated``): absent columns are COMPUTED
    by DuckDB straight over the Arrow batch, present ones VERIFIED
    null-safely against their definition; a disagreeing value fails
    the task before any file lands."""
    if not gen:
        return tbl
    import duckdb

    con = duckdb.connect()
    con.register("batch", tbl)
    computed = []
    for col, expr in sorted(gen.items()):
        if col in tbl.column_names:
            n = con.execute(
                f"SELECT count(*) FROM batch "
                f"WHERE NOT ({col} IS NOT DISTINCT FROM ({expr}))"
            ).fetchone()[0]
            if n:
                raise ValueError(
                    f"versioned_table sink: generated column '{col}' "
                    f"carries {n} value(s) disagreeing with its "
                    f"definition ({expr}) — omit it to have it "
                    f"computed"
                )
        else:
            computed.append(f"({expr}) AS {col}")
    if computed:
        tbl = con.execute(
            f"SELECT *, {', '.join(computed)} FROM batch"
        ).arrow()
    return tbl


def _write_partition(
    root: str,
    iterator,
    part_cols: list | None = None,
    cons: dict | None = None,
    gen: dict | None = None,
) -> _FilesMsg:
    """Executor side: one task's Arrow batches -> one parquet part
    file per hive partition (or one file total, unpartitioned) under
    ``data/_tmp-sink/`` (task-owned names; abandoned files are swept
    by vacuum like any other orphan). Returns ``(tmp path, hive
    subpath)`` pairs so the driver places files without reopening
    them; partition columns are dropped from the file bytes — the
    path carries them, exactly like Spark's own hive layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows > 0]
    if not batches:
        return _FilesMsg([])
    tbl = pa.Table.from_batches(batches)
    tbl = _apply_generated_arrow(tbl, gen or {})
    _check_constraints_arrow(tbl, cons or {})
    tmpdir = os.path.join(root, "data", "_tmp-sink")
    os.makedirs(tmpdir, exist_ok=True)
    files = []
    if part_cols:
        missing = [c for c in part_cols if c not in tbl.column_names]
        if missing:
            raise ValueError(
                f"versioned_table sink: partition columns {missing} "
                f"missing from the stream (has {tbl.column_names})"
            )
        data = tbl.drop_columns(list(part_cols))
        for sub, idx in _hive_subpaths(tbl, part_cols):
            path = os.path.join(
                tmpdir, f"part-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(data.take(pa.array(idx)), path)
            files.append([path, sub])
    else:
        path = os.path.join(tmpdir, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, path)
        files.append([path, ""])
    return _FilesMsg(files)


def _first_footer_schema(table):
    """Arrow schema of the newest commit dir's first footer (None if
    the table is empty) — the sink's schema guard source."""
    import pyarrow.parquet as pq

    m = table._read_manifest()
    for d in reversed(m["data_dirs"]):
        for r, _dd, fs in os.walk(d):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    return pq.ParquetFile(
                        os.path.join(r, f)
                    ).schema_arrow
    return None


def _commit_files(
    root: str,
    files: list,
    op_meta: dict | None,
    overwrite: bool = False,
    part_cols: list | None = None,
    allow_evolution: bool = False,
) -> int | None:
    """Driver side: move the tasks' ``(tmp path, hive subpath)`` part
    files into a fresh commit dir and publish the manifest (append
    semantics; ``overwrite`` replaces the snapshot). Returns the
    committed version, or None when there were no rows (no empty
    commits)."""
    from python_etl_spark.sinks.table import (
        CommitConflictError,
        VersionedTable,
    )

    t = VersionedTable(root)
    if not files:
        return None
    import pyarrow.parquet as pq

    evolved = False
    schema_json = None
    if t.exists():
        footer = _first_footer_schema(t)
        # footer names are PHYSICAL: conform them through the rename
        # mapping so a post-rename stream (carrying the logical name)
        # is compared against the logical schema, not an old footer
        ren = {
            old: logical
            for logical, olds in (
                t._name_mapping(t.latest_version()) or {}
            ).items()
            for old in olds
        }
        want = (
            {ren.get(n, n) for n in footer.names}
            if footer is not None
            else None
        )
        stream_arrow = pq.ParquetFile(files[0][0]).schema_arrow
        got = set(stream_arrow.names) | set(part_cols or [])
        if want is not None:
            # the LOGICAL schema: footers still carry metadata-only
            # dropped columns, so subtract the retired names — and a
            # stream CARRYING a retired name is refused outright (a
            # re-added name would resurrect old values from
            # never-rewritten files, the drop_column contract)
            dropped = set(t._dropped_columns(t.latest_version()))
            want = (want | set(t.partition_columns())) - dropped
            retired = sorted(got & dropped)
            if retired:
                raise ValueError(
                    f"versioned_table sink: columns {retired} were "
                    f"dropped and their names are retired — use a "
                    f"new name"
                )
            if got != want:
                if not allow_evolution:
                    raise ValueError(
                        f"versioned_table sink schema drift: table "
                        f"has {sorted(want)}, stream has "
                        f"{sorted(got)} — option('allowEvolution', "
                        f"'true') accepts additive drift"
                    )
                # additive evolution, the append(allow_evolution=True)
                # contract: new columns surface, missing ones
                # null-fill through the mergeSchema read
                evolved = True
            # TYPE face (the name guard alone would let a widened
            # stream land and brick every later multi-file read):
            # compare footer types column-by-column; widening needs
            # the evolution flag and records the widened schema as
            # the read-side cast target, a NARROWER stream conforms
            # through the same recorded schema, anything else refused
            import json as _json

            from pyspark.sql.pandas.types import from_arrow_schema
            from pyspark.sql.types import StructType

            from python_etl_spark.sinks.table import _is_widening

            wjson = t._widened_schema(t.latest_version())
            if wjson is not None:
                tbl_schema = StructType.fromJson(_json.loads(wjson))
            else:
                tbl_schema = from_arrow_schema(footer)
            st_schema = from_arrow_schema(stream_arrow)
            t_by = {
                ren.get(f.name, f.name): f.dataType
                for f in tbl_schema.fields
                if ren.get(f.name, f.name) not in dropped
            }
            s_by = {f.name: f.dataType for f in st_schema.fields}
            widened = False
            conform = wjson is not None
            for nme in sorted(set(t_by) & set(s_by)):
                a, b = t_by[nme], s_by[nme]
                if a == b:
                    continue
                if _is_widening(a, b):
                    widened = True  # stream widens the table column
                elif _is_widening(b, a):
                    conform = True  # narrower stream: cast-read it
                else:
                    raise ValueError(
                        f"versioned_table sink type drift on "
                        f"'{nme}': table has {a.simpleString()}, "
                        f"stream has {b.simpleString()} — not a "
                        f"supported widening"
                    )
            if widened and not allow_evolution:
                raise ValueError(
                    "versioned_table sink: stream widens column "
                    "types — option('allowEvolution', 'true') opts "
                    "into type widening"
                )
            if widened or conform or (evolved and wjson is not None):
                # the cast-conforming read target: every table column
                # at the WIDER of the two types, stream-only columns
                # appended — refreshed on every evolving commit once
                # the table has ever widened (the stale-schema_json
                # hazard the append path fixed this round)
                fields = []
                for f in tbl_schema.fields:
                    ln = ren.get(f.name, f.name)  # logical name
                    if ln in dropped:
                        continue
                    b = s_by.get(ln)
                    if b is not None and _is_widening(f.dataType, b):
                        fields.append(type(f)(ln, b, True))
                    else:
                        fields.append(
                            type(f)(ln, f.dataType, True)
                        )
                have = {f.name for f in fields}
                for f in st_schema.fields:
                    if f.name not in have:
                        fields.append(
                            type(f)(f.name, f.dataType, True)
                        )
                schema_json = StructType(fields).json()
                evolved = True
    d = os.path.join(root, "data", f"commit-{uuid.uuid4().hex[:12]}")
    os.makedirs(d)
    for i, (f, sub) in enumerate(sorted(files)):
        dest = os.path.join(d, sub) if sub else d
        os.makedirs(dest, exist_ok=True)
        os.replace(f, os.path.join(dest, f"part-{i:05d}.parquet"))
    if not t.exists():
        meta0 = dict(op_meta or {})
        if part_cols:
            # recorded exactly like create(partition_by=...): appends
            # from either face then reuse one sticky hive layout
            meta0["partition_by"] = list(part_cols)
        try:
            return t._commit([d], "create", 0, meta0 or None)
        except CommitConflictError:
            raise RuntimeError(
                f"lost create race on {root} to a concurrent writer"
            ) from None
    if evolved:
        op_meta = dict(op_meta or {})
        op_meta["schema_evolved"] = True
        if schema_json is not None:
            op_meta["schema_json"] = schema_json
    for attempt in range(t.max_retries + 1):
        cur = t._read_manifest()
        v = cur["version"] + 1
        try:
            if overwrite:
                return t._commit([d], "overwrite", v, op_meta)
            return t._commit(
                cur["data_dirs"] + [d],
                "append",
                v,
                op_meta,
                carry_stats=cur.get("dir_stats"),
                dvs=cur.get("dvs"),
                carry_blooms=cur.get("dir_blooms"),
                carry_schemas=cur.get("dir_schemas"),
                carry_files=cur.get("file_stats"),
            )
        except CommitConflictError:
            if attempt == t.max_retries:
                raise


def _resolve_part_cols(root: str, options) -> list | None:
    """The commit's hive layout: an existing table's recorded
    ``partition_by`` wins (and a disagreeing ``partitionBy`` option is
    refused — a silently ignored option would shadow-write the wrong
    layout); a new table takes the option."""
    from python_etl_spark.sinks.table import VersionedTable

    opt = options.get("partitionBy") or options.get("partitionby")
    opt_cols = (
        [c.strip() for c in opt.split(",") if c.strip()] if opt else None
    )
    t = VersionedTable(root)
    if t.exists():
        have = t.partition_columns()
        if opt_cols is not None and opt_cols != have:
            raise ValueError(
                f"versioned_table sink: option partitionBy={opt_cols} "
                f"disagrees with the table's recorded hive layout "
                f"{have}"
            )
        return have or None
    return opt_cols


def _resolve_constraints(root: str) -> dict:
    from python_etl_spark.sinks.table import VersionedTable

    t = VersionedTable(root)
    return t.constraints() if t.exists() else {}


def _opt_bool(options, name: str) -> bool:
    v = options.get(name) or options.get(name.lower())
    return str(v).lower() in ("true", "1", "yes")


def _resolve_generated(root: str) -> dict:
    from python_etl_spark.sinks.table import VersionedTable

    t = VersionedTable(root)
    return t.generated_columns() if t.exists() else {}


class _VTBatchWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("versioned_table requires a table root path")
        self.overwrite = overwrite
        self.part_cols = _resolve_part_cols(self.root, options)
        self.cons = _resolve_constraints(self.root)
        self.gen = _resolve_generated(self.root)
        self.evolve = _opt_bool(options, "allowEvolution")

    def write(self, iterator):
        return _write_partition(
            self.root, iterator, self.part_cols, self.cons, self.gen
        )

    def commit(self, messages):
        files = [f for m in messages if m is not None for f in m.files]
        _commit_files(
            self.root,
            files,
            None,
            overwrite=self.overwrite,
            part_cols=self.part_cols,
            allow_evolution=self.evolve,
        )

    def abort(self, messages):
        for m in messages:
            for f, _sub in m.files if m is not None else []:
                try:
                    os.unlink(f)
                except OSError:
                    pass


class _VTStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming appends: the micro-batch's id rides the
    manifest meta, and a replayed epoch is skipped by consulting the
    newest committed id for this sink (walked once on restart, cached
    after)."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("versioned_table requires a table root path")
        # one logical sink per (table, sinkId): lets two different
        # queries append to one table without confusing their epochs
        self.sink_id = options.get("sinkId", "default")
        self.part_cols = _resolve_part_cols(self.root, options)
        # resolved once at stream start: a constraint added MID-stream
        # applies from the next (re)start, like Delta's per-query snap
        self.cons = _resolve_constraints(self.root)
        self.gen = _resolve_generated(self.root)
        self.evolve = _opt_bool(options, "allowEvolution")
        self._last: int | None = None
        self._scanned = False

    def _last_committed(self) -> int | None:
        """Newest stream_batch_id this sink committed — walk the
        manifest tail back from latest (bounded by the metadata-
        cleanup horizon; cached after the first call, so steady-state
        commits never re-walk)."""
        from python_etl_spark.sinks.table import VersionedTable

        t = VersionedTable(self.root)
        latest = t.latest_version()
        if latest is None:
            return None
        for v in range(latest, -1, -1):
            try:
                meta = t._read_manifest(v).get("meta", {})
            except FileNotFoundError:
                return None  # cleaned below the checkpoint: no record
            if (
                meta.get("stream_sink_id") == self.sink_id
                and meta.get("stream_batch_id") is not None
            ):
                return int(meta["stream_batch_id"])
        return None

    def write(self, iterator):
        return _write_partition(
            self.root, iterator, self.part_cols, self.cons, self.gen
        )

    def commit(self, messages, batchId: int):
        if not self._scanned:
            self._last = self._last_committed()
            self._scanned = True
        files = [f for m in messages if m is not None for f in m.files]
        if self._last is not None and batchId <= self._last:
            # replayed epoch (crash between sink commit and checkpoint
            # write): the data is already in a manifest — drop the
            # duplicate part files
            for f, _sub in files:
                try:
                    os.unlink(f)
                except OSError:
                    pass
            return
        v = _commit_files(
            self.root,
            files,
            {"stream_sink_id": self.sink_id, "stream_batch_id": batchId},
            part_cols=self.part_cols,
            allow_evolution=self.evolve,
        )
        if v is not None:
            self._last = batchId

    def abort(self, messages, batchId: int):
        for m in messages:
            for f, _sub in m.files if m is not None else []:
                try:
                    os.unlink(f)
                except OSError:
                    pass


class VersionedTableDataSource(DataSource):
    """``spark.dataSource.register(VersionedTableDataSource)`` then
    ``df.write.format("versioned_table").option("path", root).save()``
    or ``df.writeStream.format("versioned_table").option("path", root)
    .option("sinkId", "nightly").start()`` to write, and
    ``spark.read.format("versioned_table").option("versionAsOf", 3)
    .load(root)`` to read (``timestampAsOf`` for wall-clock time
    travel; default latest — sources/table_read.py, held hash-equal
    to ``VersionedTable.read``). Change feeds stay on the
    ``table_changes`` source. Write options: ``path`` (table root),
    ``sinkId`` (stream epoch namespace, default "default"),
    ``partitionBy`` (comma-separated hive layout for a table the sink
    CREATES; an existing table's recorded layout is reused and a
    disagreeing option refused)."""

    @classmethod
    def name(cls) -> str:
        # Default-ON filter pushdown from the one hook every consumer
        # passes through (r14, closing the carried r12 ask #4):
        # ``spark.dataSource.register(VersionedTableDataSource)`` calls
        # ``name()`` on the DRIVER with the user's session active, so
        # registering the format enables
        # spark.sql.python.filterPushdown.enabled for that session —
        # a vanilla-Spark consumer then gets dir/file skipping from a
        # plain ``.load().where(...)`` with zero options instead of a
        # silent 100 TB full scan. Spark 4.1 hard-requires the conf
        # for any reader implementing pushFilters, which is why this
        # cannot live in the reader itself (reader() runs in a
        # session-less worker). Opt-outs: ``.option("pushdown",
        # "false")`` per read, or set the conf back to false after
        # registering (reads then degrade to the plain full-scan
        # reader — never a raise; pytest-pinned). Worker-side calls of
        # name() see no active session and change nothing.
        try:
            from pyspark.sql import SparkSession

            s = SparkSession.getActiveSession()
            if s is not None:
                k = "spark.sql.python.filterPushdown.enabled"
                if str(s.conf.get(k, "false")).lower() != "true":
                    s.conf.set(k, "true")
        except Exception:  # pragma: no cover - session-less context
            pass
        return "versioned_table"

    def __init__(self, options):
        super().__init__(options)
        # named-table indirection (r12 verdict #2): .option("table",
        # name) resolves through the catalog (.option("catalog",
        # path) overrides its location — planning may run in a
        # Python worker where the session conf is unreachable, so
        # explicit-path or PYTHON_ETL_CATALOG is the robust spelling)
        if not options.get("path") and options.get("table"):
            from python_etl_spark.catalog import Catalog

            options["path"] = Catalog(options.get("catalog")).resolve(
                options["table"]
            )

    def schema(self):
        from python_etl_spark.sources.table_read import (
            resolve_version,
            snapshot_struct,
        )

        root = self.options.get("path")
        if not root:
            raise ValueError("versioned_table requires a path")
        return snapshot_struct(root, resolve_version(root, self.options))

    @staticmethod
    def _planner_pushdown_enabled() -> bool:
        """Is spark.sql.python.filterPushdown.enabled TRUE in the
        session planning this read? reader() runs in a session-less
        Python worker, but the worker KNOWS: the pushdown-enabled
        path plans through pyspark's data_source_pushdown_filters
        worker module, and the plain path
        (plan_data_source_read) reads the ``enable_pushdown`` conf
        bool off the socket before calling reader(). Walk the call
        stack for either signal; anything unrecognized (future
        pyspark refactor, direct library use) returns False — the
        conservative plain reader, never a broken plan."""
        import sys

        try:
            f = sys._getframe(1)
            while f is not None:
                mod = f.f_globals.get("__name__", "")
                if mod.endswith("data_source_pushdown_filters"):
                    return True
                if mod.endswith("plan_data_source_read"):
                    return bool(f.f_locals.get("enable_pushdown"))
                f = f.f_back
        except Exception:  # pragma: no cover - stack introspection
            pass
        return False

    def reader(self, schema):
        from python_etl_spark.sources.table_read import (
            _PushdownSnapshotReader,
            VersionedTableSnapshotReader,
        )

        # pushdown is DEFAULT-ON where legal (r12 verdict #4): Spark
        # 4.1 raises for any reader that implements pushFilters while
        # the session conf spark.sql.python.filterPushdown.enabled is
        # false (its default), so "auto" probes the planning worker
        # for the conf and picks the skipping reader only when the
        # session allows it — vanilla sessions keep the plain reader
        # with zero options. pushdown=true forces (old opt-in
        # spelling), pushdown=false is the opt-OUT.
        mode = str(self.options.get("pushdown", "auto")).lower()
        if mode == "true" or (
            mode == "auto" and self._planner_pushdown_enabled()
        ):
            return _PushdownSnapshotReader(self.options, schema)
        return VersionedTableSnapshotReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return _VTBatchWriter(self.options, overwrite)

    def streamReader(self, schema):
        from python_etl_spark.sources.table_read import (
            VersionedTableStreamReader,
        )

        return VersionedTableStreamReader(self.options, schema)

    def streamWriter(self, schema, overwrite: bool):
        return _VTStreamWriter(self.options)
