"""``table_changes``: a VersionedTable's row-level change feed as a
REGISTERED Spark data source whose stream offsets are COMMIT VERSIONS
(the Delta ``table_changes``/``readChangeFeed`` shape; VERDICT r9 #5).

The round-9 streaming fold consumed the feed as a file-source glob over
``data/cdf-*`` — workable, but its offsets are file names, so a vacuum
or compaction racing the stream can surface dirs out of commit order,
and a re-baseline barrier (overwrite, ``track_changes=False``) is
silently invisible. Here the offset IS the commit version: each
micro-batch covers exactly the manifests in ``(start, end]``, appends
surface as typed ``insert`` rows, merge/delete commits replay their
persisted cdf files (typed ``cdf-*/_change_type=<t>/`` partitions, or
the flat files older commits wrote), compactions contribute nothing,
and a barrier op inside the pending range raises — the stream fails
loudly telling the consumer to re-baseline, exactly like the batch
``row_changes``.

Scale shape: ``partitions()`` plans ONE InputPartition per change
file (driver-side metadata walk, O(commits in range)); ``read`` runs
on executors and yields Arrow record batches straight from the parquet
file — no driver data path, the WarcDataSource pattern. Hive-
partitioned appends recover their partition-column values from the
``name=value`` path segments.

Usage::

    from python_etl_spark.sources.table_changes import (
        TableChangesDataSource,
    )
    spark.dataSource.register(TableChangesDataSource)
    feed = (spark.readStream.format("table_changes")
            .option("startingVersion", 0)   # exclusive, like row_changes
            .load(table_root))
    # batch face: the whole feed of a version range
    spark.read.format("table_changes").option("startingVersion", -1) \
        .load(table_root)
"""

from __future__ import annotations

import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"


class _ChangeFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        change_type: str | None,
        version: int,
        renames: dict | None = None,
    ):
        self.path = path
        self.change_type = change_type  # None: the file carries its own
        self.version = version
        # column-rename mapping as of the planned end version:
        # {logical name: [older physical names, newest first]} — lets
        # the executor read a pre-rename file's old column under the
        # current logical name (planner-attached so the executor needs
        # no manifest access)
        self.renames = renames


def _parquet_files(d: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return out


def _plan_partitions(
    root: str, start_v: int, end_v: int
) -> list[_ChangeFilePartition]:
    """One partition per change file for commits in ``(start_v,
    end_v]`` — the driver-side metadata walk. Raises on re-baseline
    barriers (overwrite / feed-less merge/delete / restore), surfacing
    them as STREAM ERRORS instead of silent gaps."""
    from python_etl_spark.sinks.table import VersionedTable

    t = VersionedTable(root)
    renames = t._name_mapping(end_v) or None
    parts: list[_ChangeFilePartition] = []
    prev_dirs: set[str] = (
        set(t._read_manifest(start_v)["data_dirs"]) if start_v >= 0 else set()
    )
    for v in range(max(start_v, -1) + 1, end_v + 1):
        m = t._read_manifest(v)
        op = m.get("op")
        if op in ("append", "create"):
            for d in m["data_dirs"]:
                if d not in prev_dirs:
                    for f in _parquet_files(d):
                        parts.append(
                            _ChangeFilePartition(f, "insert", v, renames)
                        )
        elif op in (
            "compact", "compact_bins", "rename", "drop",
            "add_constraint", "drop_constraint", "add_column",
            "sync_identity",
        ):
            pass  # row-preserving rewrite / metadata-only: no rows
        elif op in ("merge", "delete", "delete_mor", "update") and m.get("cdf_dir"):
            for f in _parquet_files(m["cdf_dir"]):
                # typed layout: the change type is the file's
                # ``_change_type=<t>`` path segment; flat legacy files
                # (no segment) carry their own column
                parts.append(
                    _ChangeFilePartition(
                        f, _part_value(f, CHANGE_TYPE), v, renames
                    )
                )
        else:
            raise ValueError(
                f"table_changes: commit v{v} is a '{op}' with no change "
                f"feed (overwrite, restore, or track_changes=False) — "
                f"re-baseline the consumer from the v{v} snapshot and "
                f"restart with startingVersion={v}"
            )
        prev_dirs = set(m["data_dirs"])
    return parts


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _part_value(path: str, col: str) -> str | None:
    """Raw ``col=value`` segment of a hive path, URL-unescaped the way
    Spark's partition discovery does (Spark escapes ``/ : %`` etc. as
    ``%XX`` when writing); ``__HIVE_DEFAULT_PARTITION__`` is NULL."""
    from urllib.parse import unquote

    mm = re.search(f"/{re.escape(col)}=([^/]+)/", path)
    if not mm:
        return None
    raw = unquote(mm.group(1))
    return None if raw == _HIVE_NULL else raw


def _infer_part_type(values: list[str]):
    """Spark-shaped partition-column type inference over the observed
    path values (the subset the library read path produces for this
    repo's tables): int32 -> IntegerType, int64 -> LongType, float ->
    DoubleType, ISO date -> DateType, else StringType — so the feed's
    partition columns carry the SAME types a hive-discovering
    ``spark.read.parquet(dir)`` infers, keeping the registered source
    hash-identical to the library ``row_changes`` path."""
    import datetime

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
    )

    vals = [v for v in values if v is not None]
    if not vals:
        return StringType()

    def _all(fn) -> bool:
        for v in vals:
            try:
                fn(v)
            except (ValueError, TypeError):
                return False
        return True

    if _all(int):
        ints = [int(v) for v in vals]
        if all(-(2**31) <= i < 2**31 for i in ints):
            return IntegerType()
        return LongType()
    if _all(float):
        return DoubleType()
    if _all(datetime.date.fromisoformat):
        return DateType()
    return StringType()


def _feed_struct(root: str):
    """Data schema from the newest commit dir's parquet footer (the
    most evolved one) + the two change columns."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType, StringType, StructField

    from python_etl_spark.sinks.table import VersionedTable

    t = VersionedTable(root)
    m = t._read_manifest()
    files = []
    for d in reversed(m["data_dirs"]):
        files = _parquet_files(d)
        if files:
            break
    if not files:
        raise FileNotFoundError(f"no parquet files under {root}")
    st = from_arrow_schema(pq.ParquetFile(files[-1]).schema_arrow)
    drops = t._dropped_columns(m["version"])
    renames = t._name_mapping(m["version"])
    if renames:
        # the sampled footer may predate a rename: surface its old
        # physical columns under the current logical names
        from pyspark.sql.types import StructType as _ST

        st = _ST(
            [
                next(
                    (
                        type(f)(logical, f.dataType, True)
                        for logical, aliases in renames.items()
                        if f.name in aliases and logical not in st.names
                    ),
                    f,
                )
                for f in st.fields
            ]
        )
    if drops:
        # dropped (retired) columns never surface in the feed; the
        # executor read ignores file columns absent from this schema
        from pyspark.sql.types import StructType as _ST2

        st = _ST2([f for f in st.fields if f.name not in drops])
    # hive layout: partition columns live in the PATHS, not the files —
    # type them by Spark-shaped inference over the observed (unescaped)
    # path values so the feed matches the library read's hive types
    part_cols = [c for c in t.partition_columns() if c not in st.names]
    if part_cols:
        samples: dict[str, list] = {c: [] for c in part_cols}
        for d in m["data_dirs"]:
            for f in _parquet_files(d):
                for c in part_cols:
                    if len(samples[c]) < 256:
                        samples[c].append(_part_value(f, c))
        for col in part_cols:
            st = st.add(StructField(col, _infer_part_type(samples[col])))
    st = st.add(StructField(CHANGE_TYPE, StringType()))
    st = st.add(StructField(COMMIT_VERSION, LongType()))
    return st


def _read_partition(partition: _ChangeFilePartition, spark_schema):
    """Executor-side: one parquet file -> Arrow batches conformed to
    the feed schema (missing columns null-filled or recovered from
    hive ``name=value`` path segments; change columns appended)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(spark_schema)
    if partition is None or partition.path is None:
        return  # sentinel for an empty plan (Spark needs >=1 split)
    tbl = pq.read_table(partition.path)
    n = len(tbl)
    arrays = []
    for field in arrow_schema:
        if field.name == CHANGE_TYPE and partition.change_type is not None:
            arrays.append(
                pa.array([partition.change_type] * n, pa.string())
            )
        elif field.name == COMMIT_VERSION:
            arrays.append(pa.array([partition.version] * n, pa.int64()))
        elif field.name in tbl.column_names:
            arrays.append(
                tbl.column(field.name).cast(field.type).combine_chunks()
            )
        elif partition.renames is not None and any(
            a in tbl.column_names
            for a in partition.renames.get(field.name, [])
        ):
            # pre-rename file: its old physical column carries the
            # current logical name's values
            a = next(
                a
                for a in partition.renames[field.name]
                if a in tbl.column_names
            )
            arrays.append(tbl.column(a).cast(field.type).combine_chunks())
        elif f"/{field.name}=" in partition.path:
            # hive partition value from the path, URL-unescaped (and
            # __HIVE_DEFAULT_PARTITION__ -> NULL) like Spark discovery
            raw = _part_value(partition.path, field.name)
            if raw is None:
                arrays.append(pa.nulls(n, field.type))
            else:
                arrays.append(
                    pa.array([raw] * n, pa.string()).cast(field.type)
                )
        else:  # pre-evolution file: surface the column as NULL
            arrays.append(pa.nulls(n, field.type))
    out = pa.Table.from_arrays(arrays, schema=arrow_schema)
    yield from out.to_batches()


def _resolve_starting(options, default: int) -> int:
    """The stream/batch start version (EXCLUSIVE): an explicit
    ``startingVersion`` wins; ``startingTimestamp`` (epoch seconds or
    an ISO-8601 string, read as UTC) resolves to the version BEFORE
    the first commit stamped at-or-after it — commit stamps are
    monotone per table (the committer of N+1 re-reads N's manifest
    before stamping), so one reverse walk suffices. Both options
    together are refused (Delta's rule)."""
    sv = options.get("startingVersion")
    ts = options.get("startingTimestamp") or options.get(
        "startingtimestamp"
    )
    if sv is not None and ts is not None:
        raise ValueError(
            "pass startingVersion OR startingTimestamp, not both"
        )
    if ts is None:
        return int(sv) if sv is not None else default
    try:
        t0 = float(ts)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        t0 = dt.timestamp()
    from python_etl_spark.sinks.table import VersionedTable

    t = VersionedTable(options["path"])
    latest = t.latest_version()
    if latest is None:
        raise FileNotFoundError(
            f"no committed version at {options['path']}"
        )
    first = None
    for v in range(latest, -1, -1):
        try:
            m = t._read_manifest(v)
        except FileNotFoundError:
            break  # below the metadata horizon: nothing older exists
        if m.get("committed_at", 0) >= t0:
            first = v
        else:
            break
    if first is None:
        # timestamp after the newest commit: empty feed from latest
        return latest
    return first - 1


class _TableChangesBatchReader(DataSourceReader):
    def __init__(self, options, schema):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("table_changes requires a table root path")
        self.start_v = _resolve_starting(options, -1)
        self.end_v = options.get("endingVersion")
        self.spark_schema = schema

    def partitions(self):
        from python_etl_spark.sinks.table import VersionedTable

        end = (
            int(self.end_v)
            if self.end_v is not None
            else VersionedTable(self.root).latest_version()
        )
        parts = _plan_partitions(self.root, self.start_v, end)
        if not parts:
            # empty range (e.g. startingTimestamp after the newest
            # commit): Spark's Python source needs >=1 split — hand it
            # a sentinel the executor reads as zero rows
            return [_ChangeFilePartition(None, None, -1, None)]
        return parts

    def read(self, partition):
        yield from _read_partition(partition, self.spark_schema)


class _TableChangesStreamReader(DataSourceStreamReader):
    """Offsets are commit versions: ``{"version": N}`` = everything up
    to and including manifest N has been processed. latestOffset moves
    to the table's current latest; partitions() plans the manifest
    range exactly, so a checkpoint restart resumes at the right
    version no matter what compaction/vacuum did in between (cdf and
    append dirs are retained while their manifests live).

    ADMISSION CONTROL (r10 verdict #1): ``maxCommitsPerTrigger``
    bounds each micro-batch to at most N commits past the stream's
    position — a backfill from version 0 of a long-history table
    proceeds in bounded, individually-checkpointed micro-batches
    (failure redoes one slice; state pressure scales with the trigger,
    not table history), the Delta ``maxFilesPerTrigger`` idea at
    commit granularity. The position is tracked from partitions() /
    commit() (the Python stream-reader API passes no start to
    latestOffset, and calls latestOffset BEFORE initialOffset on new
    queries). One seam remains: the FIRST batch of a fresh-or-
    restarted query is constructed before any partitions() call, so
    the in-memory position is unknown then — pass a ``streamId`` and
    the reader persists its committed position to
    ``<root>/_streams/<streamId>`` (atomic replace; advisory — never
    ahead of the checkpoint, so the cap stays correct; a missing
    sidecar means a fresh stream whose position is startingVersion),
    keeping even that first batch bounded. Without a streamId that
    one batch falls back to unbounded — bounding blindly could hand
    Spark an end below a restart's checkpointed start, regressing the
    offset log into replay duplicates (correctness of the ranges is
    unaffected either way). Setting the cap WITHOUT a streamId
    therefore emits a ``UserWarning`` naming this unbounded-first-
    batch edge at stream construction."""

    def __init__(self, options, schema):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("table_changes requires a table root path")
        self.start_v = _resolve_starting(options, 0)
        mct = options.get("maxCommitsPerTrigger")
        self.max_commits = int(mct) if mct is not None else None
        if self.max_commits is not None and self.max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        self.stream_id = options.get("streamId")
        if self.max_commits is not None and not self.stream_id:
            # loud, once, at stream construction: without the sidecar
            # the FIRST batch after a restart is unbounded (see
            # latestOffset) — a user who set the cap for driver-memory
            # reasons must know the cap has a restart hole
            import warnings

            warnings.warn(
                "table_changes: maxCommitsPerTrigger set without "
                "streamId — the cap holds while the stream runs, but "
                "the FIRST batch after a restart is UNBOUNDED (no "
                "sidecar to recover the position from; bounding "
                "blindly could regress the checkpointed offset). "
                "Pass .option('streamId', '<stable-name>') to keep "
                "every batch bounded across restarts.",
                stacklevel=2,
            )
        self._pos: int | None = None
        self.spark_schema = schema

    def _sidecar(self) -> str:
        return os.path.join(self.root, "_streams", str(self.stream_id))

    def initialOffset(self) -> dict:
        self._pos = self.start_v
        return {"version": self.start_v}

    def latestOffset(self) -> dict:
        from python_etl_spark.sinks.table import VersionedTable

        v = VersionedTable(self.root).latest_version()
        latest = v if v is not None else self.start_v
        if self.max_commits is None:
            return {"version": latest}
        base = self._pos
        if base is None and self.stream_id:
            try:
                with open(self._sidecar()) as f:
                    base = int(f.read().strip())
            except FileNotFoundError:
                # no sidecar yet: a FRESH stream (Spark calls
                # latestOffset before initialOffset on new queries) —
                # commit() is the sidecar's only writer, so the
                # position provably never advanced past
                # startingVersion; bounding from it is safe
                base = self.start_v
            except (OSError, ValueError):
                # sidecar EXISTS but is unreadable/corrupt: the true
                # position is unknown and may sit ABOVE start_v —
                # bounding from start_v could hand Spark an end BELOW
                # the checkpointed start (regressed offset -> replay
                # duplicates on a later restart; r12 advice, low).
                # One unbounded batch, then partitions() re-teaches.
                base = None
        if base is None:
            # no streamId and no in-memory position (a restart at a
            # committed boundary): bounding blindly could return an
            # end BELOW the checkpointed start, and Spark would log a
            # REGRESSED offset whose later replay duplicates rows —
            # one unbounded batch, then partitions() re-teaches the
            # position and the cap resumes
            return {"version": latest}
        # NEVER self-advance the position here: Spark may call
        # latestOffset several times before a batch runs (the
        # availableNow wrapper captures its target this way), and a
        # self-advancing position would coalesce those calls into one
        # giant batch — only partitions()/commit() (a batch actually
        # planned/landed) move the position. Under availableNow each
        # RUN therefore drains one bounded slice (restart-safe; rerun
        # to drain more); a continuous trigger paces the whole
        # backfill in bounded batches.
        return {"version": max(base, min(latest, base + self.max_commits))}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        pos = max(s, e)  # a degenerate e < s must not drag _pos back
        self._pos = pos if self._pos is None else max(self._pos, pos)
        if e <= s:
            return []
        return _plan_partitions(self.root, s, e)

    def read(self, partition):
        yield from _read_partition(partition, self.spark_schema)

    def commit(self, end: dict) -> None:
        # retention rides the table's metadata, not the stream; the
        # committed position lands in the advisory sidecar so a
        # restarted bounded stream stays bounded from its first batch
        v = int(end["version"])
        self._pos = v if self._pos is None else max(self._pos, v)
        if self.stream_id:
            try:
                os.makedirs(os.path.dirname(self._sidecar()), exist_ok=True)
                tmp = f"{self._sidecar()}.tmp-{os.getpid()}"
                with open(tmp, "w") as f:
                    f.write(str(v))
                os.replace(tmp, self._sidecar())
            except OSError:
                pass  # advisory only


class TableChangesDataSource(DataSource):
    """``spark.dataSource.register(TableChangesDataSource)`` then
    ``spark.read/readStream.format("table_changes").load(root)``.
    Options: ``startingVersion`` (exclusive; stream default 0, batch
    default -1 = include the create), ``endingVersion`` (batch only,
    default latest), ``maxCommitsPerTrigger`` (stream only: admission
    control — each micro-batch covers at most N commits; default
    unbounded for compat), ``streamId`` (stream only: name for the
    advisory position sidecar that keeps the cap effective across
    restarts at committed boundaries), ``table`` + optional
    ``catalog`` (named-table indirection, r14 / r13 verdict #6: the
    batch AND streaming face resolve a catalog name instead of a
    pasted path — resolution happens ONCE at DataSource construction
    on the driver, so a catalog RENAME mid-stream does not redirect a
    running stream; it keeps reading the table it resolved at start,
    and only a restart re-resolves. That is the safe semantic: offsets
    are commit versions OF A TABLE, so silently retargeting a renamed
    name onto a different table would replay foreign versions)."""

    def __init__(self, options):
        super().__init__(options)
        # same named-table indirection as versioned_table's faces
        # (sinks/table_stream.py): .option("catalog", path) overrides
        # the store location because streams may plan where the
        # session conf is unreachable.
        if not options.get("path") and options.get("table"):
            from python_etl_spark.catalog import Catalog

            options["path"] = Catalog(options.get("catalog")).resolve(
                options["table"]
            )

    @classmethod
    def name(cls) -> str:
        return "table_changes"

    def schema(self):
        return _feed_struct(self.options.get("path"))

    def reader(self, schema):
        return _TableChangesBatchReader(self.options, schema)

    def streamReader(self, schema):
        return _TableChangesStreamReader(self.options, schema)
