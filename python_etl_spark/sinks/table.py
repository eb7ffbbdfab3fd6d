"""Versioned parquet table with atomic manifest commits — a minimal
lakehouse-style sink (Iceberg/Delta shape, zero external deps) so MERGE
and CDC compaction land somewhere durable.

Layout::

    <root>/
      data/commit-<uuid12>/       part-*.parquet  (one dir per commit
      data/commit-<uuid12>/       ...   ATTEMPT — no version in the
                                  name: an append writes its dir before
                                  the commit race is decided, so any
                                  embedded version number could lie
                                  about the owning manifest; manifests
                                  are the only dir→version authority)
      data/cdf-<uuid12>/_change_type=<t>/  part-*.parquet  (a
                                  DML commit's row-level change feed,
                                  one subdir per change type: insert /
                                  update_preimage / update_postimage /
                                  delete, hive-partitioned further on
                                  the table's partition columns. Written
                                  by the SAME job as the commit's data
                                  dir: that job writes every row under
                                  cdf-<uuid12>/ tagged, and its
                                  _change_type=data partition is then
                                  renamed to data/commit-<uuid12>/.
                                  Older commits wrote one flat dir with
                                  a _change_type column; readers take
                                  both. No file: the commit changed no
                                  row.)
      data/dv-<uuid12>/           part-*.parquet  (tombstones of a
                                  merge-on-read delete)
      _manifests/v00000000.json                (one manifest per version)
      _manifests/ckpt-v00000010.json           (checkpoint: summary of
                                  all manifests <= v, written every
                                  checkpoint_interval commits — bounds
                                  history/schema-evolution/as-of scans
                                  to checkpoint + tail, and lets
                                  clean_metadata() drop old manifests
                                  so the metadata dir stays bounded on
                                  a long-lived append-every-night
                                  table, the Delta checkpoint idea)
      _manifests/_latest                       (version CACHE, advisory)

A manifest lists the data DIRECTORIES visible in that version, so a
snapshot read is ``spark.read.parquet(*dirs)`` — parquet pushdown,
pruning, and partitioned layouts all still apply. It also records each
dir's read schema (``dir_schemas``, and ``cdf_schema`` for the change
feed), taken at commit time from the Spark schema the writer stored in
the parquet footer: every snapshot, probe and change-feed read passes
it to ``.schema(...)`` and so runs no schema-inference job. Dirs of
manifests written before schemas were recorded fall back to inference.

Commit protocol (safe under CONCURRENT writers):

* data dirs carry a per-attempt uuid suffix, so two in-flight writers
  can never write into (or orphan-clean) each other's directory;
* the manifest for version N is published with ``os.link(tmp, path)``
  — atomic fail-on-exists on POSIX — so exactly ONE writer wins each
  version and every loser gets ``CommitConflictError`` (the
  check-then-``os.rename`` it replaces would silently clobber the
  winner: rename replaces an existing destination);
* the true latest version is derived by LISTING ``_manifests/`` (the
  ``_latest`` file is only a cache, refreshed best-effort after each
  publish) — a crash between manifest publish and cache refresh
  self-heals on the next read instead of wedging the table;
* ``append``/``merge``/``delete_where``/``compact`` retry on conflict
  against a RE-READ snapshot (append re-lists the winner's dirs;
  the copy-on-write ops recompute from the new base), giving
  serializable last-writer-wins semantics with bounded retries.

Every writer commits through ``_commit(dirs, op, version, ...,
base=)``, where ``base`` is the manifest the op was planned on (the
head it read; the restored version for ``restore``; the source for
``clone``). Each dir the new manifest keeps from ``base`` carries
``base``'s records for it: dir and file stats, read schema, bloom and
deletion-vector scope; only new dirs are footer-walked, and a
rewritten dir's records and DV scope drop with it. A merge-on-read
delete adds its one new DV entry (``dv=``); a rename passes a base
whose stats are re-keyed to the new name. All conflict retries go
through ``_retry_commit``: it re-reads the manifest, re-runs the op's
attempt against it and gives up after ``max_retries`` conflicts;
append and overwrite write their data dir once and retry only the
manifest. The four rewrites (``compact``, ``compact_bins``,
``compact_tail``, DV materialization) are one routine,
``_rewrite_dirs``, that differs only in which dirs it picks and how it
clusters.

Readers see either the old or the new version, never a half-commit.
Old versions stay readable (time travel) until ``vacuum``; data dirs
abandoned by a crashed or conflicted writer are unreachable (no
manifest references them) and are swept by ``vacuum`` too.

Operations:

* ``create`` / ``append`` — new commit dir + manifest (append lists old
  dirs + the new one). No data rewrite.
* ``merge`` — copy-on-write MERGE (upsert semantics via
  ``operators.upsert``): reads the touched dirs of the current
  snapshot, merges the updates frame, writes one new commit dir. By
  default it ALSO persists a row-level change feed for the commit
  (``data/cdf-<uuid12>/`` + manifest ``cdf_dir``) — the Delta CDF
  idea — in the same pass: the merge's key window tags every row as
  data or insert / update_preimage / update_postimage, and ONE write
  emits both.
* ``delete_where`` / ``delete_keys`` / ``update_where`` — the same
  one-pass copy-on-write rewrite; removed rows persist as ``delete``
  change rows, updated ones as pre/post-image pairs, by default.
* ``read`` — latest or ``version=`` snapshot. ``changes`` — appended
  rows only (raises across rewrites); ``row_changes`` — the typed
  feed that survives merge/delete/compact.

MERGE and DELETE are DIR-PRUNED copy-on-write (the Iceberg/Delta CoW
shape): the writer finds the commit dirs that actually hold matched
keys / matching rows — manifest min-max stats first, then an exact
key semi-join (merge) or a predicate probe (delete) over the
stats-surviving dirs only — rewrites JUST those dirs into one new
commit dir, and carries every untouched dir BY REFERENCE in the new
manifest (bytes, paths and skipping stats unchanged). A nightly
upsert of 0.1% of keys into a 100 TB table therefore costs a scan of
the key columns plus a rewrite of the touched dirs, never a corpus
rewrite. The commit protocol above is exactly the Delta/Iceberg
"optimistic concurrency + atomic metadata swap" shape, restricted to
a filesystem with atomic link (POSIX); on object stores the link step
maps to a conditional PUT.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _active_spark() -> SparkSession:
    """The session, THREAD-SAFELY: getActiveSession() is thread-local
    and returns None in a worker thread a user spawned for concurrent
    DML (r12 verdict #7 soak exposed this in update_where) —
    builder.getOrCreate() falls back to the process-default session
    without creating a new one."""
    return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

_MANIFEST_DIR = "_manifests"
_LATEST = "_latest"
_MANIFEST_RE = re.compile(r"v(\d{8})\.json$")
_CKPT_RE = re.compile(r"ckpt-v(\d{8})\.json$")
_DEFAULT_RETRIES = 3
_DEFAULT_CHECKPOINT_INTERVAL = 10
# footer key-value entry where Spark's parquet writer stores the
# frame's StructType json (what schema inference would read back)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# change-feed rows carry their type in this column; a one-pass commit
# writes data and feed partitioned on it (``<cdf dir>/_change_type=<t>``)
_CHANGE_TYPE = "_change_type"


_WIDEN_ORDER = ["tinyint", "smallint", "int", "bigint"]  # simpleString names

# per-dir key-bloom sizing (opt-in via create(bloom_keys=...)): the
# bitmap is manifest-embedded (base64), so it is SIZE-CAPPED — dirs
# with more distinct probe positions than the cap supports simply get
# no bloom and degrade to the min-max + exact-probe path
_BLOOM_K = 4  # probe count
_BLOOM_MAX_BITS = 1 << 21  # 2 Mbit = 256 KiB bitmap ceiling per dir
_BLOOM_MAX_KEYS = 200_000  # rows above this: skip (FP would be useless)
_BLOOM_PROBE_CAP = 100_000  # driver-side update-key probe bound


def _is_widening(src, dst) -> bool:
    """Is src -> dst a lossless type widening (the public
    Delta/Iceberg type-evolution set): integer up-casts, float ->
    double, decimal precision growth that keeps every old value
    representable (scale grows no faster than precision headroom)."""
    from pyspark.sql.types import DecimalType

    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
            and (dst.precision, dst.scale) != (src.precision, src.scale)
        )
    s, d = src.simpleString(), dst.simpleString()
    if s in _WIDEN_ORDER and d in _WIDEN_ORDER:
        return _WIDEN_ORDER.index(s) < _WIDEN_ORDER.index(d)
    if s in _WIDEN_ORDER and d == "double":
        return s in ("tinyint", "smallint", "int")  # exact in a double
    return (s, d) == ("float", "double")


def _as_nullable(dt):
    """Spark's ``DataType.asNullable``: every field, array element and
    map value nullable, recursively — the shape every parquet read
    resolves to, whatever nullability the writer declared."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _schema_of(js: str):
    """The StructType of a manifest-recorded schema json."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(js))


def _merged_schema(schemas: list):
    """The schema a ``mergeSchema`` read over dirs with these schemas
    resolves to (Spark's StructType.merge folded in path order: left
    fields keep their place, new right fields append), or None when
    two dirs disagree on a column's type or its case — readers then
    fall back to inference, which merges or raises exactly as before."""
    from pyspark.sql.types import StructType

    fields: dict[str, object] = {}
    lower: dict[str, str] = {}
    for st in schemas:
        for f in st.fields:
            have = fields.get(f.name)
            if have is None:
                if lower.get(f.name.lower(), f.name) != f.name:
                    return None
                fields[f.name] = f
                lower[f.name.lower()] = f.name
            elif have.dataType != f.dataType:
                return None
    return StructType(list(fields.values()))


class CommitConflictError(RuntimeError):
    """Another writer committed this version first. The losing
    attempt's data dir is unreachable (vacuum sweeps it); retry
    against a re-read snapshot or abort."""


class TransactionPendingError(RuntimeError):
    """A multi-table transaction holds a PREPARED (uncommitted)
    version on this table. Writers must wait for its COMMIT/ROLLBACK
    — or, if its driver crashed, clear it with
    :meth:`VersionedTable.abort_pending_txn`. Deliberately NOT a
    CommitConflictError: retrying cannot help, so the retry loops
    surface this immediately instead of spinning."""


# ---------------------------------------------------------------------------
# Multi-table transactions (r13 verdict #4): BEGIN ... COMMIT over any
# number of VersionedTables, generalizing the forget_across coordinator
# journal into true all-or-none visibility.
#
# Protocol (two-phase, single-driver):
#   1. PREPARE — between begin_transaction() and commit_transaction(),
#      every table commit on this thread writes its manifest to
#      ``_manifests/txn-<id>-v<N>.json`` instead of ``v<N>.json``.
#      Prepared manifests are INVISIBLE to every other reader (they
#      never match the committed-manifest pattern) and embed the
#      coordinator record's path. The preparing thread itself reads
#      its own prepared versions (statement 2 of a script sees
#      statement 1), via the thread-local context below.
#   2. COMMIT POINT — commit_transaction() atomically creates the
#      coordinator record (fail-on-exists link, the manifest-publish
#      pattern) with ``state: committed`` and the table->version map.
#      This single filesystem operation is the all-or-none boundary:
#      before it, no reader anywhere sees any of the transaction;
#      after it, every reader sees all of it.
#   3. FINALIZE — each prepared manifest is published into its real
#      version slot and the txn file unlinked. A crash between 2 and
#      3 is safe: any later reader that encounters a txn file follows
#      its embedded coordinator path and LAZILY finalizes (committed),
#      ignores (pending — coordinator absent), or cleans (aborted).
#
# Concurrency: a pending prepared version BLOCKS other writers on that
# table (TransactionPendingError — the slot is reserved), which is what
# serializes the transaction against concurrent single-table commits.
# Readers are never blocked. A transaction is thread-local and
# single-driver by design — the SQL face is ``sql_script("BEGIN; ...;
# COMMIT")`` — matching the engine's one-coordinator posture.
# ---------------------------------------------------------------------------
_TXN_RE = re.compile(r"txn-([0-9a-f]{8,32})-v(\d{8})\.json$")
_TXN_LOCAL = None


def _txn_ctx() -> dict | None:
    global _TXN_LOCAL
    if _TXN_LOCAL is None:
        import threading

        _TXN_LOCAL = threading.local()
    return getattr(_TXN_LOCAL, "ctx", None)


def begin_transaction(txn_id: str | None = None) -> str:
    """Open a multi-table transaction on THIS thread; returns the
    transaction id. Every VersionedTable commit until
    :func:`commit_transaction` / :func:`rollback_transaction` is
    PREPARED (invisible to other readers) instead of published. The
    coordinator record lands at ``<first prepared table's
    root>/_txn/<id>.json`` — its atomic creation at commit time is
    the all-or-none visibility point."""
    _txn_ctx()  # init the local
    if getattr(_TXN_LOCAL, "ctx", None) is not None:
        raise RuntimeError(
            f"a transaction is already active on this thread "
            f"({_TXN_LOCAL.ctx['id']}) — nested BEGIN is not supported"
        )
    tid = txn_id or uuid.uuid4().hex[:16]
    if not re.fullmatch(r"[0-9a-f]{8,32}", tid):
        raise ValueError("txn_id must be 8-32 lowercase hex chars")
    _TXN_LOCAL.ctx = {
        "id": tid,
        "coordinator": None,
        "prepared": {},  # abs root -> {version: txn manifest path}
        "order": [],  # (abs_root, root, version, path) in prepare order
    }
    return tid


def _coordinator_state(path: str) -> str | None:
    try:
        with open(path) as f:
            return json.load(f).get("state")
    except (FileNotFoundError, json.JSONDecodeError):
        return None  # absent/torn = transaction never committed


def commit_transaction() -> dict:
    """COMMIT the thread's transaction: atomically publish the
    coordinator record (the all-or-none point), then finalize every
    prepared manifest into its real version slot. Returns ``{"id",
    "coordinator", "tables": {root: version}}``. A crash after the
    coordinator record exists but before finalize completes loses
    nothing: readers lazily finalize from the record."""
    ctx = _txn_ctx()
    if ctx is None:
        raise RuntimeError("no transaction is active on this thread")
    try:
        if not ctx["order"]:
            return {"id": ctx["id"], "coordinator": None, "tables": {}}
        coord = ctx["coordinator"]
        tables = {}
        for _a, root, v, _p in ctx["order"]:
            tables[root] = max(v, tables.get(root, v))
        rec = {
            "id": ctx["id"],
            "state": "committed",
            "tables": tables,
        }
        os.makedirs(os.path.dirname(coord), exist_ok=True)
        tmp = f"{coord}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, coord)  # THE commit point (fail-on-exists)
        except FileExistsError:
            st = _coordinator_state(coord)
            if st != "committed":
                raise RuntimeError(
                    f"transaction {ctx['id']} was already "
                    f"{st or 'recorded'} at {coord} — cannot commit"
                ) from None
        finally:
            os.unlink(tmp)
        for _a, root, v, p in ctx["order"]:
            VersionedTable(root)._finalize_txn_file(ctx["id"], v, p)
        return {"id": ctx["id"], "coordinator": coord, "tables": tables}
    finally:
        _TXN_LOCAL.ctx = None


def rollback_transaction() -> dict:
    """ROLLBACK the thread's transaction: record ``state: aborted``
    in the coordinator and unlink every prepared manifest. Data dirs
    the prepared commits wrote become unreachable (vacuum sweeps
    them). Nothing was ever visible."""
    ctx = _txn_ctx()
    if ctx is None:
        raise RuntimeError("no transaction is active on this thread")
    try:
        coord = ctx["coordinator"]
        if coord is not None:
            if _coordinator_state(coord) == "committed":
                raise RuntimeError(
                    f"transaction {ctx['id']} already committed — "
                    f"ROLLBACK is impossible; RESTORE the tables to "
                    f"unwind"
                )
            os.makedirs(os.path.dirname(coord), exist_ok=True)
            tmp = f"{coord}.tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(
                    {"id": ctx["id"], "state": "aborted"}, f, indent=1
                )
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, coord)
        for _a, _root, _v, p in ctx["order"]:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
        return {"id": ctx["id"], "tables": {}}
    finally:
        _TXN_LOCAL.ctx = None


class ConstraintViolationError(RuntimeError):
    """A write carried rows that fail a table CHECK constraint. The
    write is refused BEFORE any manifest publish — the table is
    unchanged. Carries the constraint name, its expression, and up to
    three sample violating rows."""


class VersionedTable:
    def __init__(
        self,
        root: str,
        max_retries: int = _DEFAULT_RETRIES,
        checkpoint_interval: int = _DEFAULT_CHECKPOINT_INTERVAL,
    ):
        self.root = root
        self._mdir = os.path.join(root, _MANIFEST_DIR)
        self.max_retries = max_retries
        self.checkpoint_interval = checkpoint_interval

    # ------------------------------ internals -----------------------------
    # per-FILE stats are manifest-embedded: cap the files-per-dir so a
    # pathological many-file commit cannot bloat the metadata (dirs
    # over the cap keep dir-level stats only — prune granularity
    # degrades, correctness does not)
    _FILE_STATS_MAX_FILES = 64

    @classmethod
    def _dir_stats_full(cls, path: str) -> tuple[dict, dict, str | None]:
        """One footer walk, two granularities (metadata-only, driver-
        side, no Spark job): the dir-level per-column [min, max]
        rollup, and PER-FILE stats ``{relpath: {"rows": n, "cols":
        {col: [min, max]}}}`` (the Delta add-file shape; r10 verdict
        #5) so readers can open a strict subset of a dir's files.
        Only JSON-safe column types are kept (ints, floats, strings,
        date/timestamp as ISO strings); columns with a missing stat in
        any row group of a file are dropped from that file (and from
        the dir rollup — conservative: no stat means no pruning).
        Third: the Spark data schema (StructType json) the writer
        stored under the footer's row-metadata key, or None for files
        Spark did not write."""
        import datetime

        import pyarrow.parquet as pq

        stats: dict[str, list] = {}
        dropped: set[str] = set()
        files_out: dict[str, dict] = {}
        schema_json: str | None = None

        def _js(v):
            if isinstance(v, (bool, int, float, str)):
                return v
            if isinstance(v, bytes):
                try:
                    return v.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            if isinstance(v, (datetime.date, datetime.datetime)):
                return v.isoformat()
            return None

        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                md = pq.ParquetFile(full).metadata
                if schema_json is None:
                    raw = (md.metadata or {}).get(_SPARK_ROW_METADATA)
                    schema_json = raw.decode() if raw else None
                fstats: dict[str, list] = {}
                fdropped: set[str] = set()
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        name = col.path_in_schema
                        if "." in name or name in fdropped:
                            continue
                        try:
                            st = col.statistics
                            bad = (
                                st is None
                                or not st.has_min_max
                                or _js(st.min) is None
                                or _js(st.max) is None
                            )
                        except Exception:
                            # pyarrow can't extract stats for some
                            # physical types (e.g. fixed-len decimals)
                            bad = True
                        if bad:
                            fdropped.add(name)
                            fstats.pop(name, None)
                            dropped.add(name)
                            stats.pop(name, None)
                            continue
                        lo, hi = _js(st.min), _js(st.max)
                        cur = fstats.get(name)
                        if cur is None:
                            fstats[name] = [lo, hi]
                        else:
                            cur[0] = min(cur[0], lo)
                            cur[1] = max(cur[1], hi)
                        if name not in dropped:
                            cur = stats.get(name)
                            if cur is None:
                                stats[name] = [lo, hi]
                            else:
                                cur[0] = min(cur[0], lo)
                                cur[1] = max(cur[1], hi)
                files_out[os.path.relpath(full, path)] = {
                    "rows": md.num_rows,
                    "cols": fstats,
                }
        if len(files_out) > cls._FILE_STATS_MAX_FILES:
            files_out = {}
        return stats, files_out, schema_json

    @staticmethod
    def _read_schema(path: str, data_json: str | None) -> str | None:
        """The schema ``spark.read.parquet(path)`` resolves, as json,
        from the footer's data schema WITHOUT a schema-inference job:
        reads mark every column nullable, and hive ``name=value``
        subdirs add partition columns, typed by Spark's driver-side
        partition discovery (a file listing, no job). None when the
        footer carried no Spark schema — readers then infer."""
        if data_json is None:
            return None
        from pyspark.sql.types import StructType

        st = _as_nullable(StructType.fromJson(json.loads(data_json)))
        if any("=" in n for n in os.listdir(path)):
            st = _active_spark().read.schema(st).parquet(path).schema
        return st.json()

    @staticmethod
    def _dir_rows(path: str) -> int:
        """Row count of every parquet file under ``path`` from the
        FOOTERS (metadata-only — no Spark job, no data read); the
        driver-side walk is bounded by files-per-commit."""
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        return total

    @staticmethod
    def _has_parquet(path: str) -> bool:
        """Does the tree under ``path`` hold at least one parquet
        file? A (hive-partitioned) dynamic writer given an EMPTY frame
        emits zero part files, and listing such a dir in a manifest
        bricks every later snapshot read (UNABLE_TO_INFER_SCHEMA) —
        rewrite commits must drop the dir instead."""
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def bloom_columns(self) -> list[str]:
        """Key columns declared for per-dir bloom stats at create time
        (``bloom_keys=``), sticky like partition_by and carried by
        checkpoints. Empty list = feature off."""
        if not self.exists():
            return []
        try:
            return (
                self._read_manifest(0).get("meta", {}).get("bloom_keys", [])
            )
        except FileNotFoundError:
            ckpt = self._latest_checkpoint()
            return ckpt.get("bloom_keys", []) if ckpt else []

    def generated_columns(self) -> dict:
        """Generated-column definitions declared at create time
        (``generated={col: sql expr}``), sticky like partition_by and
        carried by checkpoints and clones. A write missing the column
        gets it COMPUTED (Delta's generated-column shape); a write
        carrying it is VERIFIED against the expression (null-safe
        equality) and refused on mismatch — a caller-supplied value
        silently disagreeing with the definition would poison every
        downstream read that trusts the invariant."""
        if not self.exists():
            return {}
        try:
            return (
                self._read_manifest(0).get("meta", {}).get("generated", {})
            )
        except FileNotFoundError:
            ckpt = self._latest_checkpoint()
            return ckpt.get("generated", {}) if ckpt else {}

    def identity_columns(self) -> dict:
        """IDENTITY column specs declared at create time
        (``identity={col: {"start": n, "step": m[, "mode":
        "always"|"default"]}}`` — the Delta ``GENERATED ALWAYS|BY
        DEFAULT AS IDENTITY`` shapes), sticky like ``generated`` and
        carried by checkpoints. ``always`` (the default mode): writes
        must NOT supply the column — ``create``/``append``/
        ``copy_into``/``overwrite`` assign values that are UNIQUE and
        monotone per commit but NOT contiguous (partition-parallel
        assignment leaves gaps — Delta's documented behavior).
        ``default`` (r14, r13 verdict #7): a write MAY supply the
        column — explicit ids must be non-null and batch-distinct,
        explicit ids at or below the current high-water are probed
        against the live snapshot and refused on collision (a
        column-pruned scan, only when below-water ids are present),
        and the high-water SYNCS past the batch extreme so later
        auto-assignment never collides. Either way the last used
        value rides each assigning commit's manifest meta
        (``identity_highwater``), and a commit conflict
        reassigns/re-probes from the winner's mark, so two racing
        appends can never mint the same id."""
        if not self.exists():
            return {}
        try:
            return (
                self._read_manifest(0).get("meta", {}).get("identity", {})
            )
        except FileNotFoundError:
            ckpt = self._latest_checkpoint()
            return ckpt.get("identity", {}) if ckpt else {}

    def _identity_highwater(self, cur: dict) -> dict:
        """Last used id per identity column as of ``cur`` — the most
        recent commit carrying ``identity_highwater`` (every assigning
        commit does; non-assigning commits — delete, optimize — are
        walked past, metadata-only). A manifest dropped by
        clean_metadata forces the honest fallback: one scan of the
        column — ``max`` for a positive step, ``min`` for a negative
        one (the "last used" id is the extreme in the step's
        direction). CAVEAT (documented, not silent): the scan sees
        only LIVE rows, so if deletes removed the extreme ids AND
        clean_metadata truncated every manifest that recorded the
        mark, previously minted ids below the scan result can be
        reassigned; time-travel/CDF readers of pre-truncation
        versions could then see an id twice. Assigning commits always
        re-stamp ``identity_highwater``, so one append after any
        truncation restores the durable mark."""
        spec = self.identity_columns()
        for i in range(cur["version"], -1, -1):
            try:
                m = self._read_manifest(i).get("meta") or {}
            except FileNotFoundError:
                break
            hw = m.get("identity_highwater")
            if hw is not None:
                return {c: int(v) for c, v in hw.items()}
        spark = _active_spark()
        row = self.read(spark, cur["version"]).select(
            *[
                (
                    F.max(c) if int(s["step"]) > 0 else F.min(c)
                ).alias(c)
                for c, s in spec.items()
            ]
        ).first()
        return {
            c: (
                int(row[c]) if row[c] is not None
                else int(s["start"]) - int(s["step"])
            )
            for c, s in spec.items()
        }

    @staticmethod
    def _assign_identity(
        df: DataFrame, spec: dict, hw: dict
    ) -> tuple[DataFrame, dict]:
        """Add CONTIGUOUS identity values above ``hw`` to a frame that
        lacks the columns — ``id = hw + step * (global_pos + 1)``.
        Global positions come from ``monotonically_increasing_id``'s
        documented layout (partition id in the high bits, a contiguous
        0-based record number in the low 33) over a CHECKPOINTED frame
        (materialized once, so the recorded high-water can never
        disagree with the written bytes), plus per-partition offsets:
        one O(#partitions)-row count agg broadcast-joined back. Zero
        row shuffles, zero Python, contiguous per commit (gaps only
        appear when a conflict retry orphans an attempt — Delta's
        documented identity behavior)."""
        mono = "__ident_mono"
        df = df.withColumn(mono, F.monotonically_increasing_id())
        df = df.localCheckpoint(eager=True)
        spark = df.sparkSession
        # Integer bit arithmetic, not floating division: a double is
        # exact only below 2^53, so `mono / 2^33` misrounds the pid
        # once partition ids pass ~2^20 — plausible on a wide cluster.
        pid = F.shiftright(F.col(mono), 33)
        loc = F.col(mono).bitwiseAND(F.lit((1 << 33) - 1))
        counts = sorted(
            (r["__pid"], r["n"])
            for r in df.groupBy(pid.alias("__pid"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        offsets, acc = [], 0
        for p, n in counts:
            offsets.append((int(p), acc))
            acc += int(n)
        off_df = spark.createDataFrame(
            offsets or [(0, 0)], "__pid long, __off long"
        )
        out = df.withColumn("__pid", pid).join(
            F.broadcast(off_df), "__pid", "left"
        )
        new_hw = dict(hw)
        for c, s in spec.items():
            step = int(s["step"])
            out = out.withColumn(
                c,
                (
                    F.lit(int(hw[c]))
                    + F.lit(step)
                    * (F.col("__off") + loc + 1)
                ).cast("long"),
            )
            new_hw[c] = int(hw[c]) + step * acc
        return out.drop(mono, "__pid", "__off"), new_hw

    def _accept_explicit_identity(
        self,
        df: DataFrame,
        spec: dict,
        hw: dict,
        probe_version: int | None,
    ) -> dict:
        """Validate EXPLICIT ids supplied for ``GENERATED BY
        DEFAULT`` identity columns (r14, r13 verdict #7) and return
        the synced high-water for those columns. Three gates, two
        actions: one agg over the batch (nulls, in-batch duplicates,
        extremes), then — only when ids sit at or below the current
        mark, i.e. in already-minted territory — a semi-join probe of
        the live snapshot at ``probe_version`` refusing collisions
        with existing rows. ``probe_version=None`` skips the probe
        (create: nothing minted yet; overwrite: the snapshot being
        replaced cannot collide with its replacement). Ids ABOVE the
        mark are safe by construction — never minted — so the common
        keep-your-ids-above-water loader pays only the one agg.

        Scale shape: the agg is a full-batch reduce (O(batch)); the
        probe reads ONLY the identity column of the snapshot
        (parquet column pruning) and only the below-water distinct
        ids of the batch join against it — no full-row scan, no
        driver data path."""
        spark = df.sparkSession
        aggs = []
        for c in spec:
            aggs += [
                F.count(F.lit(1)).alias(f"__n_{c}"),
                F.count(c).alias(f"__nn_{c}"),
                F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
                F.min(c).alias(f"__lo_{c}"),
                F.max(c).alias(f"__hi_{c}"),
            ]
        row = df.agg(*aggs).first()
        new_hw = {}
        for c, s in spec.items():
            step = int(s["step"])
            if row[f"__nn_{c}"] != row[f"__n_{c}"]:
                raise ValueError(
                    f"identity column '{c}' is GENERATED BY DEFAULT: "
                    f"supply every row's id or omit the column — "
                    f"NULL ids are refused (no per-row mixing)"
                )
            if row[f"__nd_{c}"] != row[f"__n_{c}"]:
                raise ValueError(
                    f"explicit ids for identity column '{c}' repeat "
                    f"within the batch — ids must be unique"
                )
            if row[f"__n_{c}"] == 0:
                new_hw[c] = int(hw[c])
                continue
            lo, hi = int(row[f"__lo_{c}"]), int(row[f"__hi_{c}"])
            below = (
                F.col(c) <= hw[c] if step > 0 else F.col(c) >= hw[c]
            )
            has_below = (lo <= hw[c]) if step > 0 else (hi >= hw[c])
            if probe_version is not None and has_below:
                live = self.read(spark, probe_version).select(c)
                dup = (
                    live.join(
                        df.where(below).select(c).distinct(),
                        c,
                        "semi",
                    )
                    .limit(3)
                    .collect()
                )
                if dup:
                    raise ValueError(
                        f"explicit ids {sorted(r[c] for r in dup)} "
                        f"for identity column '{c}' collide with "
                        f"existing rows (ids at or below the "
                        f"high-water {hw[c]} are probed; keep "
                        f"explicit ids above it to skip the probe)"
                    )
            new_hw[c] = max(int(hw[c]), hi) if step > 0 else min(
                int(hw[c]), lo
            )
        return new_hw

    def _split_identity(self, ident: dict, df_cols, verb: str):
        """Partition an identity spec into (explicit BY DEFAULT
        columns the frame supplies, columns to auto-assign),
        refusing a supplied GENERATED ALWAYS column."""
        supplied = sorted(set(ident) & set(df_cols))
        bad = [
            c for c in supplied
            if str(ident[c].get("mode", "always")) != "default"
        ]
        if bad:
            raise ValueError(
                f"identity column(s) {bad} are GENERATED ALWAYS — "
                f"{verb} must not supply them (declare GENERATED BY "
                f"DEFAULT AS IDENTITY to allow explicit ids)"
            )
        return (
            {c: ident[c] for c in supplied},
            {c: s for c, s in ident.items() if c not in supplied},
        )

    def _apply_generated(self, df: DataFrame, gen: dict) -> DataFrame:
        """Compute absent generated columns; verify present ones in
        ONE action (same shape as the constraint gate)."""
        if not gen:
            return df
        verify = []
        for col, expr in sorted(gen.items()):
            if col in df.columns:
                verify.append((col, expr))
            else:
                df = df.withColumn(col, F.expr(expr))
        if verify:
            tags = [
                F.when(
                    ~F.expr(f"({c} <=> ({e}))"), F.lit(c)
                )
                for c, e in verify
            ]
            bad = (
                df.withColumn(
                    "_gen_bad", F.array_compact(F.array(*tags))
                )
                .where(F.size("_gen_bad") > 0)
                .limit(3)
                .collect()
            )
            if bad:
                names = sorted({n for r in bad for n in r["_gen_bad"]})
                raise ConstraintViolationError(
                    f"generated column(s) {names} carry values that "
                    f"disagree with their definition "
                    f"({ {n: gen[n] for n in names} }); omit the "
                    f"column to have it computed, or fix the values; "
                    f"sample: {[r.asDict() for r in bad]}"
                )
        return df

    def cluster_keys(self) -> list[str]:
        """Clustering keys declared at create time (``cluster_keys=``,
        the Delta liquid-clustering idea): a bare ``optimize()`` then
        maintains the layout without the nightly job knowing the
        schema. Sticky like partition_by; carried by checkpoints and
        clones."""
        if not self.exists():
            return []
        try:
            return (
                self._read_manifest(0)
                .get("meta", {})
                .get("cluster_keys", [])
            )
        except FileNotFoundError:
            ckpt = self._latest_checkpoint()
            return ckpt.get("cluster_keys", []) if ckpt else []

    def constraints(self, version: int | None = None) -> dict:
        """Live CHECK constraints at ``version`` (default latest):
        ``{name: sql expr}``. SQL-standard semantics — a row VIOLATES
        when the expression evaluates FALSE (NULL passes, so NOT NULL
        is spelled ``"col IS NOT NULL"``). Declared at ``create(
        constraints=...)`` or added/dropped later as metadata-only
        commits; enforced on every row-adding write path (append,
        overwrite, merge, the registered sink) BEFORE any manifest
        publish."""
        if not self.exists():
            return {}
        v = self.latest_version() if version is None else version
        return dict(self._evolution_state(v)[4])

    def _enforce_constraints(self, df: DataFrame, cons: dict) -> None:
        """ONE Spark action checks every constraint: each row gets the
        array of constraint names whose expression IS FALSE for it;
        the first <=3 violating rows come back as the error sample.
        Cost: one extra scan of the batch being written (the Delta
        invariant-check shape)."""
        if not cons:
            return
        tags = [
            F.when(F.expr(f"({e}) IS FALSE"), F.lit(n))
            for n, e in sorted(cons.items())
        ]
        bad = (
            df.withColumn("_violated", F.array_compact(F.array(*tags)))
            .where(F.size("_violated") > 0)
            .limit(3)
            .collect()
        )
        if bad:
            names = sorted({n for r in bad for n in r["_violated"]})
            sample = [
                {k: v for k, v in r.asDict().items() if k != "_violated"}
                for r in bad
            ]
            raise ConstraintViolationError(
                f"constraint(s) {names} violated "
                f"({ {n: cons[n] for n in names} }); "
                f"sample rows: {sample}"
            )

    @staticmethod
    def _validate_portable_exprs(
        schema: "StructType", exprs: dict, kind: str
    ) -> None:
        """Declaration-time gate: every CHECK-constraint / generated-
        column expression is enforced by TWO engines — Catalyst on the
        batch write paths, DuckDB inside the registered streaming
        sink's executor gate (sinks/table_stream.py). An expression
        only Spark parses (backticked names, Spark-only functions)
        would make the FIRST stream batch fail with an opaque task
        error months after declaration — so parse it against DuckDB
        NOW, over a 0-row probe relation with the table's schema, and
        refuse the declaration with a message naming the offending
        expression. Skipped silently when duckdb is absent (then the
        streaming gate can't run either)."""
        try:
            import duckdb
            from pyspark.sql.pandas.types import to_arrow_schema
        except ImportError:  # pragma: no cover - duckdb is baked in
            return
        try:
            probe = to_arrow_schema(schema).empty_table()
        except Exception:
            return  # exotic Spark type with no Arrow image: gate off
        con = duckdb.connect()
        con.register("probe", probe)
        for name, expr in sorted(exprs.items()):
            try:
                con.execute(f"SELECT ({expr}) FROM probe").fetchall()
            except Exception as exc:
                raise ValueError(
                    f"{kind} '{name}' expression ({expr}) is not "
                    f"ANSI-portable: the streaming sink's executor "
                    f"gate evaluates it with DuckDB, which rejects it "
                    f"({exc}). Use portable syntax/functions (no "
                    f"backticks, no Spark-only builtins)."
                ) from None

    def sync_identity(self) -> dict:
        """Recompute the identity high-water from the LIVE column
        values (Delta's ``ALTER TABLE ... SYNC IDENTITY``) and stamp
        it in a METADATA-ONLY commit. The recovery/ops face of the
        identity surface: after ``clean_metadata`` truncated the
        manifests that carried the mark, or after a ``restore_to`` of
        an older version, the walked mark can be stale — sync scans
        ONLY the identity columns (parquet column pruning), takes the
        extreme in each step's direction, and takes it FORWARD only:
        the synced mark is ``max(scanned, walked)`` for a positive
        step (``min`` for negative), so sync can never move the mark
        backward and re-mint ids an older version already used.
        Returns the synced ``{col: mark}``; raises on a table with no
        identity columns."""
        spark = SparkSession.active()
        spec = self.identity_columns()
        if not spec:
            raise ValueError(
                f"no identity columns declared at {self.root}"
            )

        def _attempt(cur):
            walked = self._identity_highwater(cur)
            row = self.read(spark, cur["version"]).select(
                *[
                    (
                        F.max(c) if int(s["step"]) > 0 else F.min(c)
                    ).alias(c)
                    for c, s in spec.items()
                ]
            ).first()
            hw = {}
            for c, s in spec.items():
                scanned = (
                    int(row[c]) if row[c] is not None
                    else int(s["start"]) - int(s["step"])
                )
                hw[c] = (
                    max(walked[c], scanned)
                    if int(s["step"]) > 0
                    else min(walked[c], scanned)
                )
            self._commit_metadata(
                cur, "sync_identity", {"identity_highwater": hw}
            )
            return hw

        return self._retry_commit(_attempt)

    def add_constraint(self, name: str, expr: str) -> int:
        """Add a CHECK constraint as a METADATA-ONLY commit. The whole
        current snapshot is validated first (one Spark job) — a table
        already carrying violating rows refuses the constraint, like
        Delta's ADD CONSTRAINT."""
        spark = SparkSession.active()

        def _attempt(cur):
            cons = self.constraints(cur["version"])
            if name in cons:
                raise ValueError(
                    f"constraint '{name}' already exists: {cons[name]}"
                )
            # validates the expression parses AND the snapshot passes
            snap = self.read(spark, cur["version"])
            self._validate_portable_exprs(
                snap.schema, {name: expr}, "constraint"
            )
            self._enforce_constraints(snap, {name: expr})
            return self._commit_metadata(
                cur,
                "add_constraint",
                {"constraint_add": {"name": name, "expr": expr}},
            )

        return self._retry_commit(_attempt)

    def _constraint_refs(
        self, col: str, version: int | None = None
    ) -> list[str]:
        """Names of constraints whose expression mentions ``col`` as a
        standalone identifier (plain or backticked) — the rename/drop
        guard: mutating a referenced column would silently break or
        skew the check."""
        if not self.exists():
            return []
        pat = re.compile(
            rf"(?<![A-Za-z0-9_]){re.escape(col)}(?![A-Za-z0-9_])"
        )
        return sorted(
            n
            for n, e in self.constraints(version).items()
            if pat.search(e)
        )

    def _generated_refs(self, col: str) -> list[str]:
        """Generated columns whose NAME or DEFINITION involves
        ``col`` — the rename/drop guard's second face (a renamed
        source column would silently break the computed invariant)."""
        gen = self.generated_columns()
        if not gen:
            return []
        pat = re.compile(
            rf"(?<![A-Za-z0-9_]){re.escape(col)}(?![A-Za-z0-9_])"
        )
        return sorted(
            n for n, e in gen.items() if n == col or pat.search(e)
        )

    def drop_constraint(self, name: str) -> int:
        """Drop a CHECK constraint (metadata-only commit). Unknown
        names raise — a typo silently 'succeeding' would leave the
        constraint enforced."""

        def _attempt(cur):
            if name not in self.constraints(cur["version"]):
                raise ValueError(f"no constraint named '{name}'")
            return self._commit_metadata(
                cur, "drop_constraint", {"constraint_drop": name}
            )

        return self._retry_commit(_attempt)

    @staticmethod
    def _bloom_probe_exprs(cols: list[str], m: int) -> list:
        """The k probe-position expressions for one key: SPARK-side
        xxhash64 with the probe index as an extra hashed literal, so
        the commit path and the merge probe can never drift (same
        engine, same expression)."""
        return [
            F.pmod(
                F.xxhash64(*[F.col(c) for c in cols], F.lit(i)),
                F.lit(m),
            ).cast("long")
            for i in range(_BLOOM_K)
        ]

    def _dir_bloom(
        self, path: str, cols: list[str], schema_json: str | None = None
    ) -> dict | None:
        """Bloom filter over the key columns of one commit dir:
        ``{"cols", "m", "k", "b64"}`` with a power-of-two bit count
        ~8x the dir's rows (FP ~2-3%), or None when the dir is too big
        for the manifest-embedded cap / the columns are absent — no
        bloom means no pruning, never wrong answers. One Spark job
        over just the key columns of the new dir per commit (the
        Delta stats-collection shape, opt-in)."""
        import base64

        spark = _active_spark()
        if spark is None:
            return None
        n = self._dir_rows(path)
        if n == 0 or n > _BLOOM_MAX_KEYS:
            return None
        df = self._read_dir(
            spark, path, None,
            schema=_schema_of(schema_json) if schema_json else None,
        )
        if any(c not in df.columns for c in cols):
            return None
        m = max(1024, 1 << (n * 8 - 1).bit_length())
        m = min(m, _BLOOM_MAX_BITS)
        pos = (
            df.select(
                F.explode(
                    F.array(*self._bloom_probe_exprs(cols, m))
                ).alias("p")
            )
            .distinct()
            .collect()
        )
        bits = bytearray(m // 8)
        for r in pos:
            p = r["p"]
            bits[p >> 3] |= 1 << (p & 7)
        return {
            "cols": list(cols),
            "m": m,
            "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(bits)).decode(),
        }

    def _bloom_candidates(
        self, manifest: dict, keys: list[str], upd_keys: DataFrame,
        dirs: list[str],
    ) -> list[str]:
        """Second metadata pass of touched-dir discovery (r10 verdict
        #4): min-max stats never prune uuid/hash-shaped keys, so dirs
        that survived the stats pass are tested against their per-dir
        key BLOOMS — a dir stays a candidate only if some update key
        hits all k bits (or it has no usable bloom). The update keys'
        probe positions are collected driver-side under a hard cap
        (the nightly-batch shape); a bigger batch skips this pass —
        the exact semi-join probe downstream is always exact, so a
        bloom false positive only costs that dir's key scan."""
        import base64

        kcols = sorted(keys)
        blooms = manifest.get("dir_blooms") or {}
        usable = {
            d: b
            for d, b in blooms.items()
            if d in dirs
            and sorted(b.get("cols", [])) == kcols
            and b.get("k") == _BLOOM_K
        }
        if not usable:
            return dirs
        ms = sorted({b["m"] for b in usable.values()})
        rows = (
            upd_keys.select(
                *[
                    F.array(*self._bloom_probe_exprs(kcols, m)).alias(
                        f"p{m}"
                    )
                    for m in ms
                ]
            )
            .limit(_BLOOM_PROBE_CAP + 1)
            .collect()
        )
        if len(rows) > _BLOOM_PROBE_CAP:
            return dirs  # corpus-scale batch: the cap keeps the driver safe
        probes = {
            m: [tuple(r[f"p{m}"]) for r in rows] for m in ms
        }
        out = []
        for d in dirs:
            b = usable.get(d)
            if b is None:
                out.append(d)
                continue
            bits = base64.b64decode(b["b64"])
            hit = any(
                all(bits[p >> 3] & (1 << (p & 7)) for p in ps)
                for ps in probes[b["m"]]
            )
            if hit:
                out.append(d)
        return out

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._mdir, f"v{version:08d}.json")

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self._mdir, f"ckpt-v{version:08d}.json")

    def _atomic_write(self, path: str, payload: str) -> None:
        """Replace-on-exists atomic write — for the _latest CACHE only
        (losing a race here is harmless: readers re-derive from the
        manifest listing)."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    def _publish(self, path: str, payload: str) -> None:
        """Atomic FAIL-on-exists publish for manifests: os.link raises
        FileExistsError if the destination exists (atomic on POSIX),
        so concurrent writers of the same version get exactly one
        winner — unlike os.rename, which silently replaces."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflictError(
                f"version already committed by a concurrent writer: {path}"
            ) from None
        finally:
            os.unlink(tmp)
        # durability: fsync the directory so the link survives a crash
        dfd = os.open(self._mdir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _txn_files(self) -> list[tuple[str, int, str]]:
        """(txn id, intended version, path) of every prepared-manifest
        file on this table. Empty in the overwhelmingly common case —
        one extra fullmatch per listed name, no I/O."""
        try:
            names = os.listdir(self._mdir)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            m = _TXN_RE.fullmatch(n)
            if m:
                out.append(
                    (m.group(1), int(m.group(2)),
                     os.path.join(self._mdir, n))
                )
        return out

    def _resolve_txn_files(self) -> list[dict]:
        """Walk this table's prepared-manifest files and settle every
        one whose transaction already reached a terminal coordinator
        state: COMMITTED files are lazily finalized into their real
        version slot (a crash between the coordinator commit point and
        finalize loses nothing — the first reader finishes the job),
        ABORTED files are unlinked. Returns the entries still PENDING
        (coordinator absent or non-terminal), excluding the current
        thread's own in-flight prepares."""
        ctx = _txn_ctx()
        mine = ctx["id"] if ctx else None
        pending = []
        for tid, v, p in self._txn_files():
            if tid == mine:
                continue
            try:
                with open(p) as f:
                    man = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # finalized by a racer / mid-write
            coord = (man.get("txn") or {}).get("coordinator")
            state = _coordinator_state(coord) if coord else None
            if state == "committed":
                self._finalize_txn_file(tid, v, p, manifest=man)
            elif state == "aborted":
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
            else:
                pending.append(
                    {"id": tid, "version": v, "path": p,
                     "coordinator": coord}
                )
        return pending

    def _finalize_txn_file(
        self, tid: str, version: int, path: str, manifest: dict | None = None
    ) -> None:
        """Publish a COMMITTED transaction's prepared manifest into its
        real version slot and unlink the txn file. Idempotent: a
        racer/crash-retry that finds the slot taken by the SAME
        transaction treats it as done; a slot taken by anything else
        is impossible under the writer guard and raises."""
        if manifest is None:
            try:
                with open(path) as f:
                    manifest = json.load(f)
            except FileNotFoundError:
                return  # another reader finalized fully
        try:
            self._publish(
                self._manifest_path(version),
                json.dumps(manifest, indent=1),
            )
        except CommitConflictError:
            try:
                with open(self._manifest_path(version)) as f:
                    owner = (json.load(f).get("txn") or {}).get("id")
            except (FileNotFoundError, json.JSONDecodeError):
                owner = None
            if owner != tid:
                raise RuntimeError(
                    f"transaction {tid} lost version slot v{version} "
                    f"at {self.root} to another commit — the writer "
                    f"guard was bypassed; manual repair needed"
                ) from None
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass
        try:
            cached = self._cached_latest()
            if cached is None or cached < version:
                self._atomic_write(
                    os.path.join(self._mdir, _LATEST), str(version)
                )
        except OSError:
            pass

    def abort_pending_txn(self, txn_id: str | None = None) -> list[str]:
        """Operator hammer for a transaction whose driver crashed
        BEFORE its commit point: record ``aborted`` in each pending
        transaction's coordinator (so every other table's leftover
        prepared files self-clean on their next read) and unlink this
        table's prepared files. A transaction whose coordinator
        already says ``committed`` is finalized instead — it cannot be
        aborted. Returns the settled txn ids."""
        done = []
        for tid, v, p in self._txn_files():
            if txn_id is not None and tid != txn_id:
                continue
            try:
                with open(p) as f:
                    man = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            coord = (man.get("txn") or {}).get("coordinator")
            if coord and _coordinator_state(coord) == "committed":
                self._finalize_txn_file(tid, v, p, manifest=man)
            else:
                if coord:
                    os.makedirs(os.path.dirname(coord), exist_ok=True)
                    tmp = f"{coord}.tmp-{uuid.uuid4().hex}"
                    with open(tmp, "w") as f:
                        json.dump(
                            {"id": tid, "state": "aborted"}, f, indent=1
                        )
                        f.flush()
                        os.fsync(f.fileno())
                    os.replace(tmp, coord)
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
            done.append(tid)
        return sorted(set(done))

    def _retry_commit(self, attempt, cur: dict | None = None):
        """The one optimistic-concurrency loop every writer commits
        through: run ``attempt(cur)`` against the manifest it plans
        on and, when its publish loses the version race
        (``CommitConflictError``), re-read the winner's manifest and
        run it again, up to ``max_retries`` times. ``cur`` is an
        already-read first base (append and overwrite plan on the
        manifest they read before writing their data dir, which a
        retry does not rewrite)."""
        for i in range(self.max_retries + 1):
            if cur is None or i:
                cur = self._read_manifest()
            try:
                return attempt(cur)
            except CommitConflictError:
                if i == self.max_retries:
                    raise

    def _commit_metadata(
        self, cur: dict, op: str, meta: dict, base: dict | None = None
    ) -> int:
        """A METADATA-ONLY commit on top of ``cur``: the same dirs,
        the same rows, new ``meta``."""
        return self._commit(
            cur["data_dirs"],
            op,
            cur["version"] + 1,
            meta,
            num_rows=self.row_count(cur["version"]),
            base=base or cur,
        )

    def _commit(
        self,
        dirs: list[str],
        op: str,
        version: int,
        meta: dict | None = None,
        num_rows: int | None = None,
        feed: tuple | None = None,
        base: dict | None = None,
        dv: dict | None = None,
    ) -> int:
        """Publish version ``version`` listing ``dirs``. ``base`` is the
        manifest the op was planned on: every dir it already lists
        keeps its per-dir records from it (stats, file stats, read
        schema, bloom, deletion-vector scope); ``dv`` is a
        merge-on-read delete's new deletion-vector entry."""
        import time

        # dir-granularity data-skipping stats: footer-derived per-column
        # [min, max] for every dir in this snapshot. Carried forward
        # from ``base`` so each commit footer-walks ONLY its new dir;
        # dirs absent from the carry (pre-stats manifests) are walked
        # once and propagate. The same walk records each new dir's
        # read schema, which every later read passes to
        # ``.schema(...)`` instead of running a schema-inference job;
        # dirs of older manifests have none and stay on inference.
        base = base or {}
        carry = base.get("dir_stats") or {}
        carry_f = base.get("file_stats") or {}
        carry_s = base.get("dir_schemas") or {}
        dir_stats = {}
        file_stats = {}
        dir_schemas = {}
        for d in dirs:
            if d in carry:
                dir_stats[d] = carry[d]
                if d in carry_f:
                    file_stats[d] = carry_f[d]
                if d in carry_s:
                    dir_schemas[d] = carry_s[d]
            else:
                ds, fs, sj = self._dir_stats_full(d)
                dir_stats[d] = ds
                if fs:
                    file_stats[d] = fs
                sj = self._read_schema(d, sj)
                if sj is not None:
                    dir_schemas[d] = sj
        manifest = {
            "version": version,
            "op": op,
            "data_dirs": dirs,
            # footer-derived rows in THIS commit's new dir (appends: the
            # batch; copy-on-write ops: the full snapshot; partial ops
            # pass the snapshot total explicitly) — powers the
            # metadata-only row_count(), the Delta commit-stats idea
            "num_rows": (
                self._dir_rows(dirs[-1]) if num_rows is None else num_rows
            ),
            # wall-clock commit stamp: powers read_as_of time travel.
            # Taken immediately before the atomic publish; monotone per
            # table even with concurrent writers, because the committer
            # of version N+1 re-reads the manifest of N (published
            # after N's stamp) before stamping its own.
            "committed_at": time.time(),
        }
        manifest["dir_stats"] = dir_stats
        if dir_schemas:
            manifest["dir_schemas"] = dir_schemas
        if file_stats:
            # per-FILE [min, max] + row counts (the Delta add-file
            # shape): read_pruned and the merge probe open a strict
            # subset of a dir's files when these can prune
            manifest["file_stats"] = file_stats
        # per-dir key blooms (opt-in): carried for untouched dirs, one
        # Spark job over the commit's own new dir; dirs that lost
        # their bloom (size cap, pre-bloom manifests) just don't prune
        bcols = (meta or {}).get("bloom_keys") or (
            self.bloom_columns() if version > 0 else []
        )
        if bcols:
            carry_b = base.get("dir_blooms") or {}
            dir_blooms = {}
            for d in dirs:
                if d in carry_b:
                    dir_blooms[d] = carry_b[d]
                elif d == dirs[-1]:
                    b = self._dir_bloom(d, bcols, dir_schemas.get(d))
                    if b:
                        dir_blooms[d] = b
            if dir_blooms:
                manifest["dir_blooms"] = dir_blooms
        if meta:
            manifest["meta"] = meta
        if feed:
            # row-level change feed for this commit (merge/delete):
            # typed change rows live OUTSIDE data_dirs — snapshot reads
            # never see them, row_changes() reads nothing else
            manifest["cdf_dir"], cdf_schema = feed
            if cdf_schema is not None:
                manifest["cdf_schema"] = cdf_schema
        # live deletion vectors: [{"dir": tombstone parquet dir,
        # "deleted": {data dir: rows removed}}] — reads anti-join each
        # entry against exactly the dirs in its "deleted" scope; a
        # rewritten dir's scope drops with it (see _carry_dvs)
        dvs = self._carry_dvs(base, dirs) or []
        if dv:
            dvs.append(dv)
        if dvs:
            manifest["dvs"] = dvs
        os.makedirs(self._mdir, exist_ok=True)
        # transaction fencing (r13 verdict #4): a PREPARED version from
        # another transaction reserves its slot — writers fail fast
        # (not a retryable conflict) until that txn commits/aborts or
        # an operator clears it. Settled txns self-clean here first.
        blocking = self._resolve_txn_files()
        if blocking:
            ids = sorted({b["id"] for b in blocking})
            raise TransactionPendingError(
                f"transaction(s) {ids} hold prepared version(s) on "
                f"{self.root} — COMMIT/ROLLBACK them, or clear a "
                f"crashed one with abort_pending_txn()"
            )
        ctx = _txn_ctx()
        if ctx is not None:
            # PREPARE instead of publish: the manifest lands under the
            # txn namespace (invisible to every other reader), embeds
            # the coordinator path for lazy crash recovery, and the
            # context records it so later statements of the SAME
            # transaction read this table at the prepared version.
            if ctx["coordinator"] is None:
                ctx["coordinator"] = os.path.join(
                    self.root, "_txn", f"{ctx['id']}.json"
                )
            if os.path.exists(self._manifest_path(version)):
                raise CommitConflictError(
                    f"version already committed by a concurrent "
                    f"writer: {self._manifest_path(version)}"
                )
            manifest["txn"] = {
                "id": ctx["id"],
                "coordinator": ctx["coordinator"],
            }
            tp = os.path.join(
                self._mdir, f"txn-{ctx['id']}-v{version:08d}.json"
            )
            self._publish(tp, json.dumps(manifest, indent=1))
            aroot = os.path.abspath(self.root)
            ctx["prepared"].setdefault(aroot, {})[version] = tp
            ctx["order"].append((aroot, self.root, version, tp))
            return version
        self._publish(
            self._manifest_path(version), json.dumps(manifest, indent=1)
        )
        # best-effort cache refresh; never regress it (a slow writer of
        # an older version must not roll the hint backwards)
        try:
            cached = self._cached_latest()
            if cached is None or cached < version:
                self._atomic_write(
                    os.path.join(self._mdir, _LATEST), str(version)
                )
        except OSError:
            pass  # cache only — latest_version() re-derives from listing
        # periodic checkpoint: only the (unique) winner of version N can
        # reach this point for N, so there is no write race; best-effort
        # because a missing checkpoint only costs scan length, never
        # correctness (everything re-derives from the manifests).
        if (
            self.checkpoint_interval > 0
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            try:
                self._write_checkpoint(version, manifest)
            except OSError:
                pass
        return version

    def _write_checkpoint(self, version: int, manifest: dict) -> None:
        """Summarize all manifests <= version into one file. Built from
        the PREVIOUS checkpoint plus the manifest tail, so writing a
        checkpoint is itself O(interval) reads, not O(commits)."""
        prev = self._latest_checkpoint(version - 1)
        commits: list[dict] = list(prev["commits"]) if prev else []
        evolved = bool(prev["schema_evolved"]) if prev else False
        schema_json = prev.get("schema_json") if prev else None
        renames: list[dict] = list(prev.get("renames") or []) if prev else []
        drops: list[str] = list(prev.get("drops") or []) if prev else []
        cons: dict = dict(prev.get("constraints") or {}) if prev else {}

        def _fold(meta: dict) -> None:
            nonlocal evolved, schema_json, cons
            evolved = evolved or bool(meta.get("schema_evolved"))
            if meta.get("schema_json"):
                schema_json = meta["schema_json"]
            if meta.get("rename"):
                renames.append(meta["rename"])
            if meta.get("drop"):
                drops.append(meta["drop"])
            if meta.get("constraints"):
                cons = dict(meta["constraints"])
            if meta.get("constraint_add"):
                ev = meta["constraint_add"]
                cons[ev["name"]] = ev["expr"]
            if meta.get("constraint_drop"):
                cons.pop(meta["constraint_drop"], None)
            if meta.get("clone_state"):
                cs = meta["clone_state"]
                evolved = bool(cs.get("schema_evolved"))
                schema_json = cs.get("schema_json")
                renames[:] = list(cs.get("renames") or [])
                drops[:] = list(cs.get("drops") or [])
                cons = dict(cs.get("constraints") or {})

        start = commits[-1]["version"] + 1 if commits else 0
        for i in range(start, version):
            m = self._read_manifest(i)
            commits.append(
                {
                    "version": i,
                    "op": m.get("op"),
                    "committed_at": m.get("committed_at"),
                    "num_rows": m.get("num_rows"),
                }
            )
            _fold(m.get("meta", {}))
        commits.append(
            {
                "version": version,
                "op": manifest.get("op"),
                "committed_at": manifest.get("committed_at"),
                "num_rows": manifest.get("num_rows"),
            }
        )
        _fold(manifest.get("meta", {}))
        ckpt = {
            "version": version,
            "manifest": manifest,
            "schema_evolved": evolved,
            "schema_json": schema_json,
            "renames": renames,
            "drops": drops,
            "constraints": cons,
            "partition_by": self.partition_columns(),
            "bloom_keys": self.bloom_columns(),
            "generated": self.generated_columns(),
            "identity": self.identity_columns(),
            "cluster_keys": self.cluster_keys(),
            "commits": commits,
        }
        self._atomic_write(self._ckpt_path(version), json.dumps(ckpt))

    def _latest_checkpoint(self, upto: int | None = None) -> dict | None:
        """Newest checkpoint at or below ``upto`` (None = any)."""
        try:
            names = os.listdir(self._mdir)
        except FileNotFoundError:
            return None
        best = None
        for n in names:
            m = _CKPT_RE.fullmatch(n)
            if m:
                v = int(m.group(1))
                if (upto is None or v <= upto) and (best is None or v > best):
                    best = v
        if best is None:
            return None
        try:
            with open(self._ckpt_path(best)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _read_manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        ctx = _txn_ctx()
        if ctx is not None:
            # the preparing thread reads its OWN prepared versions —
            # statement 2 of a transaction sees statement 1's state
            p = ctx["prepared"].get(os.path.abspath(self.root), {}).get(v)
            if p is not None:
                with open(p) as f:
                    return json.load(f)
        try:
            with open(self._manifest_path(v)) as f:
                return json.load(f)
        except FileNotFoundError:
            # manifest dropped by clean_metadata — a checkpoint AT this
            # exact version still carries the full manifest
            ckpt = self._latest_checkpoint(v)
            if ckpt and ckpt["version"] == v:
                return ckpt["manifest"]
            raise FileNotFoundError(
                f"manifest v{v} was removed by clean_metadata "
                f"(time travel below the newest checkpoint has ended)"
            ) from None

    def _new_dir(self, kind: str) -> str:
        """A fresh ``data/<kind>-<uuid12>`` path (not created)."""
        return os.path.join(self.root, "data", f"{kind}-{uuid.uuid4().hex[:12]}")

    def _write_data(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> str:
        # uuid-only name: each ATTEMPT owns a fresh directory, so a
        # concurrent writer can neither collide with it nor mistake it
        # for its own orphan. Deliberately NO version component — an
        # append's dir is written before its commit race is decided, so
        # an embedded version number could disagree with the manifest
        # that ends up owning the dir (confusing operators inspecting
        # the layout); manifests are the only dir→version mapping.
        # Dirs abandoned by a crash or a lost commit race stay
        # unreachable until vacuum.
        out = self._new_dir("commit")
        w = df.write.mode("errorifexists")
        if partition_by:
            # hive-partitioned commit dirs: snapshot reads get partition
            # pruning on these columns for free (the 100 TB layout —
            # e.g. partition the nightly increment by ingest date and a
            # date predicate never opens old files)
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        return out

    # ------------------------------- public --------------------------------
    def exists(self) -> bool:
        return self.latest_version() is not None

    def _cached_latest(self) -> int | None:
        try:
            with open(os.path.join(self._mdir, _LATEST)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def latest_version(self) -> int | None:
        """Highest committed version, derived from the manifest LISTING
        (source of truth — manifests appear atomically via link). The
        ``_latest`` file is only a cache: a writer that crashed between
        manifest publish and cache refresh, or a stale cache left by a
        concurrent writer, self-heals here instead of wedging the
        table (next version would be recomputed too low and every
        commit would conflict forever)."""
        try:
            names = os.listdir(self._mdir)
        except FileNotFoundError:
            return None
        if any(_TXN_RE.fullmatch(n) for n in names):
            # settle finished transactions (lazy finalize/clean) so a
            # committed-but-unfinalized version becomes visible to
            # every reader; pending ones stay invisible
            self._resolve_txn_files()
            names = os.listdir(self._mdir)
        best = None
        for n in names:
            m = _MANIFEST_RE.fullmatch(n)
            if m:
                v = int(m.group(1))
                if best is None or v > best:
                    best = v
        ctx = _txn_ctx()
        if ctx is not None:
            mine = ctx["prepared"].get(os.path.abspath(self.root))
            if mine:
                mv = max(mine)
                best = mv if best is None else max(best, mv)
        return best

    def history(self) -> list[dict]:
        """One entry per committed version. Versions whose manifest was
        dropped by ``clean_metadata`` surface their checkpoint SUMMARY
        (version/op/committed_at, no data_dirs) instead."""
        v = self.latest_version()
        if v is None:
            return []
        ckpt = self._latest_checkpoint(v)
        summaries = (
            {c["version"]: c for c in ckpt["commits"]} if ckpt else {}
        )
        out = []
        for i in range(v + 1):
            try:
                out.append(self._read_manifest(i))
            except FileNotFoundError:
                if i in summaries:
                    out.append(dict(summaries[i]))
                else:
                    raise
        return out

    def meta(self, version: int | None = None) -> dict:
        """Caller-attached metadata of a committed version (e.g. the
        incremental-extract watermark) — rides in the manifest, so it
        became visible in the SAME atomic publish as the data."""
        if not self.exists():
            return {}
        return self._read_manifest(version).get("meta", {})

    def create(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
        bloom_keys: list[str] | None = None,
        constraints: dict | None = None,
        generated: dict | None = None,
        cluster_keys: list[str] | None = None,
        identity: dict | None = None,
    ) -> int:
        """``bloom_keys`` declares key columns for PER-DIR BLOOM stats
        (r10 verdict #4): every commit then embeds a size-capped bloom
        over those columns for its new dir in the manifest, and MERGE's
        touched-dir discovery tests update keys against the blooms
        between the min-max pass (useless for uuid/hash-shaped keys)
        and the exact semi-join probe — a nightly keyed upsert into a
        many-dir table then key-scans only the dirs that could hold a
        matched key."""
        if self.exists():
            raise RuntimeError(f"table already exists at {self.root}")
        if cluster_keys:
            # fail the misdeclaration HERE, not months later inside the
            # nightly bare optimize(): zorder_quantile needs >= 2 keys
            # and rank-orderable types (numeric/date/timestamp/string —
            # strings rank via sampled lexicographic boundaries).
            if len(cluster_keys) < 2:
                raise ValueError(
                    f"cluster_keys needs >= 2 columns to interleave "
                    f"(got {list(cluster_keys)}); declare none and "
                    f"optimize(zorder_by=...) ad hoc, or add a key"
                )
            types = dict(df.dtypes)
            for c in cluster_keys:
                dt = types.get(c)
                if dt is None:
                    raise ValueError(
                        f"cluster key '{c}' not in schema "
                        f"{sorted(types)}"
                    )
                if dt == "binary" or dt.startswith(
                    ("array", "map", "struct")
                ):
                    raise ValueError(
                        f"cluster key '{c}' ({dt}) has no rank order "
                        f"— numeric/date/timestamp/string only"
                    )
        hw0 = None
        if identity:
            # the stored spec carries "mode" only for BY DEFAULT —
            # plain ALWAYS specs keep the r13 two-key shape, so specs
            # written before modes existed and specs written now are
            # indistinguishable (both mean ALWAYS)
            identity = {
                c: {"start": int(s.get("start", 1)),
                    "step": int(s.get("step", 1)),
                    **(
                        {"mode": str(s.get("mode")).lower()}
                        if str(s.get("mode", "always")).lower()
                        != "always"
                        else {}
                    )}
                for c, s in identity.items()
            }
            clash = set(identity) & (
                set(generated or {}) | set(partition_by or [])
            )
            if clash:
                raise ValueError(
                    f"identity column(s) {sorted(clash)} cannot also "
                    f"be generated or partition columns"
                )
            for c, s in identity.items():
                if s["step"] == 0:
                    raise ValueError(f"identity '{c}' step must be nonzero")
                if s.get("mode", "always") not in ("always", "default"):
                    raise ValueError(
                        f"identity '{c}' mode must be 'always' or "
                        f"'default', got {s['mode']!r}"
                    )
            explicit, auto = self._split_identity(
                identity, df.columns, "the create frame"
            )
            base_hw = {
                c: s["start"] - s["step"] for c, s in identity.items()
            }
            hw0 = {}
            if explicit:
                # nothing minted yet, so no live probe — only the
                # null/duplicate gates and the high-water sync
                df = df.localCheckpoint(eager=True)
                hw0.update(
                    self._accept_explicit_identity(
                        df, explicit, base_hw, None
                    )
                )
            if auto:
                df, hw_auto = self._assign_identity(
                    df, auto, {c: base_hw[c] for c in auto}
                )
                hw0.update(hw_auto)
        if generated:
            df = self._apply_generated(df, generated)
        if constraints:
            self._enforce_constraints(df, constraints)
        if constraints or generated:
            self._validate_portable_exprs(
                df.schema,
                {**(constraints or {}),
                 **{f"generated:{k}": v for k, v in (generated or {}).items()}},
                "declared",
            )
        d = self._write_data(df, partition_by)
        if partition_by and not self._has_parquet(d):
            # empty frame + hive layout emits NO files (Spark writes
            # nothing per missing partition value) and the snapshot
            # read would fail schema inference: write one flat
            # schema-carrying file instead (the emptied-table pattern
            # merge/delete use); partition columns ride as ordinary
            # empty data columns and the per-dir conforming read
            # handles the mixed layout once real hive dirs append
            d = self._write_data(df.repartition(1))
        m = dict(meta or {})
        if partition_by:
            m["partition_by"] = list(partition_by)
        if bloom_keys:
            m["bloom_keys"] = list(bloom_keys)
        if constraints:
            m["constraints"] = dict(constraints)
        if generated:
            m["generated"] = dict(generated)
        if cluster_keys:
            m["cluster_keys"] = list(cluster_keys)
        if identity:
            m["identity"] = dict(identity)
            m["identity_highwater"] = hw0
        try:
            return self._commit([d], "create", 0, m or None)
        except CommitConflictError:
            # two concurrent creates: exactly one table exists, the
            # loser surfaces the same error a sequential second create
            # would have seen
            raise RuntimeError(
                f"table already exists at {self.root} "
                f"(lost create race to a concurrent writer)"
            ) from None

    def partition_columns(self, version: int | None = None) -> list[str]:
        """Partition layout in force at ``version`` (default latest):
        the create-time layout unless a later :meth:`set_partitioning`
        commit evolved it — new commits then land under the new hive
        layout while old dirs keep theirs, and the per-dir
        cast-conforming read unions both. Carried by checkpoints so it
        survives clean_metadata dropping old manifests."""
        if not self.exists():
            return []
        v = self.latest_version() if version is None else version
        try:
            pby = self._evolution_state(v)[5]
            if pby is not None:
                return list(pby)
        except FileNotFoundError:
            pass
        try:
            return (
                self._read_manifest(0).get("meta", {}).get("partition_by", [])
            )
        except FileNotFoundError:
            ckpt = self._latest_checkpoint()
            if ckpt is not None:
                return ckpt.get("partition_by", [])
            raise

    def set_partitioning(self, cols: list[str] | None) -> int:
        """EVOLVE the hive partition layout as a METADATA-ONLY commit
        (Iceberg partition evolution, realized manifest-side): commits
        AFTER this land under the new ``name=value`` layout, dirs
        written before keep theirs untouched, and every snapshot read
        conforms per dir — the commit records the current snapshot
        schema as the cast target, so a column moving between
        path-encoded and file-encoded keeps one type everywhere.
        ``cols=[]``/``None`` un-partitions future commits. A later
        :meth:`compact` rewrites the whole snapshot under the current
        layout (the 'materialize the evolution' maintenance story).
        The registered ``table_changes`` source and ``row_changes``
        treat the commit as a re-baseline barrier (a feed cannot mix
        two path layouts in one range); the appends-only ``changes``
        face barriers like any non-append."""
        spark = _active_spark()
        cols = list(cols or [])

        def _attempt(cur):
            have = self.partition_columns(cur["version"])
            if cols == have:
                raise ValueError(
                    f"table is already partitioned by {cols}"
                )
            snap = self.read(spark, cur["version"]).schema
            names = [f.name for f in snap.fields]
            missing = [c for c in cols if c not in names]
            if missing:
                raise ValueError(
                    f"cannot partition by {missing}: not in the "
                    f"snapshot schema {names}"
                )
            if len(set(cols)) != len(cols):
                raise ValueError(f"duplicate partition columns: {cols}")
            m = {
                "partition_by_new": cols,
                # pin every column's type: future dirs encode the new
                # partition columns in paths (losing footer types) and
                # old dirs already did so for the old layout — the
                # recorded schema makes both read back identically
                "schema_evolved": True,
                "schema_json": snap.json(),
            }
            return self._commit_metadata(cur, "set_partitioning", m)

        return self._retry_commit(_attempt)

    def append(
        self,
        df: DataFrame,
        meta: dict | None = None,
        allow_evolution: bool = False,
    ) -> int:
        from pyspark.sql.types import StructType

        cur = self._read_manifest()
        ident = self.identity_columns()
        if ident:
            explicit, auto = self._split_identity(
                ident, df.columns, "appends"
            )
            hw = self._identity_highwater(cur)
            new_hw = dict(hw)
            if explicit:
                df = df.localCheckpoint(eager=True)
                new_hw.update(
                    self._accept_explicit_identity(
                        df, explicit, hw, cur["version"]
                    )
                )
            if auto:
                df, hw_auto = self._assign_identity(df, auto, hw)
                new_hw.update({c: hw_auto[c] for c in auto})
        df = self._apply_generated(df, self.generated_columns())
        # schema guard: an append with drifted columns would poison the
        # snapshot read (parquet union mismatch) — fail at commit time
        # with names, not at some later read with a cast error.
        # allow_evolution=True opts into additive drift AND type
        # WIDENING (int->long, float->double, decimal growth): additive
        # batches are written as-is and snapshot reads switch to
        # mergeSchema (old rows surface the new columns as NULL); a
        # widening batch records the widened snapshot schema in the
        # manifest and reads conform every dir to it by CAST (parquet
        # mergeSchema cannot merge int with long). A batch NARROWER
        # than the table is always fine: it is up-cast before writing,
        # so the on-disk dirs never regress the schema.
        snap_schema = self.read(df.sparkSession, cur["version"]).schema
        have = {f.name: f.dataType for f in snap_schema.fields}
        got = {f.name: f.dataType for f in df.schema.fields}
        retired = sorted(set(got) & self._dropped_columns(cur["version"]))
        if retired:
            raise ValueError(
                f"append columns {retired} were dropped and their "
                f"names are retired (re-adding would resurrect the "
                f"old values from pre-drop files) — use a new name"
            )
        m = dict(meta or {})
        widened = False
        target_fields = []
        part_cols = set(self.partition_columns())
        for f in snap_schema.fields:
            g = got.get(f.name)
            if f.name in part_cols and g is not None:
                # hive partition columns: the snapshot type is PATH-
                # INFERRED (an int-looking dir value reads back int
                # whatever the batch wrote), so type comparison here
                # would flag phantom drift — name match suffices
                target_fields.append(type(f)(f.name, g, True))
            elif g is None or g == f.dataType:
                target_fields.append(f)
            elif _is_widening(g, f.dataType):
                target_fields.append(f)  # batch narrower: up-cast it
            elif _is_widening(f.dataType, g):
                widened = True  # table column widens to the batch type
                target_fields.append(type(f)(f.name, g, True))
            else:
                raise ValueError(
                    f"append type drift on '{f.name}': table has "
                    f"{f.dataType.simpleString()}, batch has "
                    f"{g.simpleString()} — not a supported widening"
                )
        extra = [n for n in df.columns if n not in have]
        for n in extra:
            target_fields.append(
                next(f for f in df.schema.fields if f.name == n)
            )
        target = StructType(target_fields)
        if set(got) != set(have) or widened:
            if not allow_evolution:
                raise ValueError(
                    f"append schema drift: table has {sorted(have)}, "
                    f"batch has {sorted(got)} "
                    f"(missing {sorted(set(have) - set(got))}, "
                    f"extra {sorted(set(got) - set(have))}"
                    f"{', widened types' if widened else ''}) "
                    f"— pass allow_evolution=True for additive evolution"
                )
            m["schema_evolved"] = True
            if widened or self._widened_schema(cur["version"]) is not None:
                # the widened snapshot schema: the read-side cast
                # target. Refreshed on EVERY evolving append once the
                # table has ever widened, not only when this batch
                # widens — an additive-only append after a widening
                # would otherwise leave the stale (pre-additive)
                # widened schema in force, and the cast-conforming
                # read would silently drop the new column from every
                # snapshot read (a later rewrite then makes the loss
                # durable on disk).
                m["schema_json"] = target.json()
        if any(got.get(f.name) not in (None, f.dataType) for f in target_fields):
            # conform the batch to the target types (up-casts narrower
            # batch columns; no-op otherwise). Extra columns keep their
            # batch types; missing columns stay missing (mergeSchema /
            # the cast path null-fills them at read).
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in target_fields
                    if f.name in got
                ]
            )
        checked_constraints = self.constraints(cur["version"])
        self._enforce_constraints(df, checked_constraints)
        if ident:
            m["identity_highwater"] = new_hw
        # the batch's data dir is written ONCE; only the manifest is
        # retried. An append does not depend on the base's CONTENT,
        # just its dir list, so a conflict retry re-reads the winner's
        # manifest and re-lists — no data rewrite. IDENTITY is the
        # exception: the assigned ids depend on the base's high-water
        # mark, so a conflict against a winner that moved the mark
        # REASSIGNS and rewrites (the first dir orphans; vacuum
        # sweeps it) — two racing appends can never mint the same id.
        d = self._write_data(df, self.partition_columns() or None)
        first = cur

        def _attempt(cur):
            nonlocal d, df, hw, new_hw, checked_constraints
            if cur is not first:
                if ident:
                    won_hw = self._identity_highwater(cur)
                    if won_hw != hw:
                        hw = won_hw
                        new_hw = dict(hw)
                        if explicit:
                            # explicit ids never reassign — but the
                            # winner may have minted into their range,
                            # so re-probe against ITS snapshot (a
                            # collision here is an honest refusal,
                            # not a retry)
                            new_hw.update(
                                self._accept_explicit_identity(
                                    df, explicit, hw, cur["version"]
                                )
                            )
                        if auto:
                            base = df.drop(*[c for c in auto])
                            df, hw_auto = self._assign_identity(
                                base, auto, hw
                            )
                            new_hw.update(
                                {c: hw_auto[c] for c in auto}
                            )
                            d = self._write_data(
                                df, self.partition_columns() or None
                            )
                        m["identity_highwater"] = new_hw
                # the winner may have ADDED a constraint after this
                # append validated — a re-commit without re-checking
                # would land rows add_constraint never saw (it
                # validated a snapshot that didn't contain them).
                # Generated-column defs are create-time-immutable, so
                # only the constraint set needs the recheck.
                now = self.constraints(cur["version"])
                if now != checked_constraints:
                    self._enforce_constraints(df, now)
                    checked_constraints = now
            # deleted rows stay deleted: the base's DVs carry over
            return self._commit(
                cur["data_dirs"] + [d], "append", cur["version"] + 1,
                m or None, base=cur,
            )

        return self._retry_commit(_attempt, cur)

    def _write_commit(
        self, tagged: DataFrame, partition_by: list[str] | None
    ) -> tuple[str | None, tuple[str, str | None]]:
        """ONE write job for a copy-on-write commit and its change
        feed. ``tagged`` carries ``_change_type``: ``data`` for the
        rows of the new snapshot dir, a change type otherwise. Rows
        land partitioned on it (and on the table's partition columns)
        under a fresh ``data/cdf-<uuid>``; the ``data`` partition is
        then renamed out to its own ``data/commit-<uuid>`` (same
        filesystem: a metadata move, no copy), leaving the cdf dir
        with change rows only. Returns (data dir, or None when the
        commit keeps no row; the feed as (cdf dir, read schema)). A
        crash before the commit leaves both dirs unreachable, and
        vacuum sweeps them, like any lost attempt's dirs."""
        part = list(partition_by or [])
        cdf = self._new_dir("cdf")
        tagged.write.mode("errorifexists").partitionBy(
            _CHANGE_TYPE, *part
        ).parquet(cdf)
        src = os.path.join(cdf, f"{_CHANGE_TYPE}=data")
        d = None
        if os.path.isdir(src):
            d = self._new_dir("commit")
            os.rename(src, d)
        return d, (cdf, self._feed_schema(cdf, tagged.schema, part))

    def _feed_schema(
        self, cdf: str, written, partition_by: list[str]
    ) -> str | None:
        """Read schema of a typed cdf dir: the footer's data columns,
        then ``_change_type`` and the table's partition columns, which
        live in the paths and keep the types they were WRITTEN with
        (partition discovery would re-infer them per commit). None for
        a feed with no file: readers skip it."""
        from pyspark.sql.types import StructType

        data = self._dir_stats_full(cdf)[2]
        if data is None:
            return None
        fields = StructType.fromJson(json.loads(data)).fields
        fields += [written[c] for c in [_CHANGE_TYPE] + partition_by]
        return _as_nullable(StructType(fields)).json()

    def _empty_feed(self) -> tuple[str, None]:
        """The change feed of a commit that changed no row: a fresh
        cdf dir with no file (no Spark job). Readers skip it."""
        out = self._new_dir("cdf")
        os.makedirs(out)
        return out, None

    def _write_dv(self, df: DataFrame) -> str:
        """Persist a merge-on-read DELETE's tombstone rows (distinct
        row values of the deleted rows) to ``data/dv-<uuid>``. Same
        attempt-owns-its-dir rule as ``_write_data``."""
        out = self._new_dir("dv")
        df.write.mode("errorifexists").parquet(out)
        return out

    @staticmethod
    def _apply_renames(
        frame: DataFrame,
        renames: dict | None,
        drops: set | None = None,
    ) -> DataFrame:
        """Conform a per-dir (or per-sidecar) frame to the CURRENT
        logical column names: ``renames`` maps each logical name to
        its older on-disk names (newest first) — a file written before
        a rename surfaces its old physical column under the new
        logical name, the Iceberg field-id/name-mapping idea with the
        mapping carried in manifests instead of parquet metadata.
        ``drops`` are RETIRED logical names (drop_column): projected
        out of pre-drop files after the rename conform, so the column
        vanishes from every read without touching a byte on disk."""
        if renames:
            cols = set(frame.columns)
            for logical, aliases in renames.items():
                if logical in cols:
                    continue
                for a in aliases:
                    if a in cols:
                        frame = frame.withColumnRenamed(a, logical)
                        cols.discard(a)
                        cols.add(logical)
                        break
        if drops:
            gone = [c for c in frame.columns if c in drops]
            if gone:
                frame = frame.drop(*gone)
        return frame

    def _name_mapping(self, upto: int) -> dict:
        """Cumulative column-rename mapping at or below ``upto``:
        ``{logical_name: [older names, newest first]}``. Empty dict
        when the table never renamed — every read path skips the
        conform entirely then."""
        return self._evolution_state(upto)[2]

    @staticmethod
    def _read_dir(
        spark: SparkSession,
        d: str,
        file_subsets: dict | None,
        evolved: bool = False,
        schema=None,
    ):
        """One commit-dir scan, narrowed to a per-file subset when the
        caller's stats pruned inside the dir: ``basePath`` keeps hive
        partition columns resolving exactly as the whole-dir read.
        Builds a FRESH DataFrameReader per dir — pyspark's
        ``reader.option`` mutates the reader in place, so a shared
        reader would leak one dir's basePath into its siblings.
        ``schema`` is the dir's manifest-recorded read schema: passing
        it skips the schema-inference job (None: infer)."""
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        elif evolved:
            reader = reader.option("mergeSchema", "true")
        files = (file_subsets or {}).get(d)
        if files:
            return reader.option("basePath", d).parquet(*files)
        return reader.parquet(d)

    @staticmethod
    def _dir_schemas(manifest: dict) -> dict:
        """``{dir: StructType}`` of the manifest-recorded read schemas
        (dirs committed before schemas were recorded are absent)."""
        return {
            d: _schema_of(js)
            for d, js in (manifest.get("dir_schemas") or {}).items()
        }

    @staticmethod
    def _scan_paths(
        spark: SparkSession, dirs: list[str], schemas: dict, evolved: bool
    ) -> DataFrame:
        """One multi-path parquet scan over ``dirs`` with the schema
        inference would resolve — the first dir's (plain read), or
        the path-order merge of all of them (``mergeSchema``) — taken
        from the recorded schemas; infers when any dir has none."""
        reader = spark.read
        have = [schemas.get(d) for d in dirs]
        schema = None
        if all(st is not None for st in have):
            schema = _merged_schema(have) if evolved else have[0]
        if schema is not None:
            reader = reader.schema(schema)
        elif evolved:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*dirs)

    def _dropped_columns(self, upto: int) -> set:
        """RETIRED logical column names at or below ``upto``
        (drop_column commits). A dropped name may never be re-added —
        with files never rewritten, a re-added name would resurrect
        the old values through mergeSchema — so the drift guards
        refuse it."""
        return self._evolution_state(upto)[3]

    def _union_dirs(
        self,
        spark: SparkSession,
        dirs: list[str],
        evolved: bool,
        tag_dir: bool = False,
        renames: dict | None = None,
        file_subsets: dict | None = None,
        drops: set | None = None,
        schemas: dict | None = None,
    ) -> DataFrame:
        """Union per-dir parquet scans (the multi-root shape ``read``
        uses for hive-partitioned dir lists), optionally tagging every
        row with its commit dir (``__dir``) so a driver can learn which
        dirs actually hold matching rows — the exact-touched-dirs probe
        behind dir-pruned MERGE/DELETE. Pre-rename dirs conform to the
        current logical names first, so key probes and unions see one
        schema; ``file_subsets`` narrows a dir's scan to the files its
        per-file stats admitted; ``schemas`` (from
        :meth:`_dir_schemas`) spares each scan its inference job."""
        schemas = schemas or {}
        frames = []
        for d in dirs:
            f = self._apply_renames(
                self._read_dir(
                    spark, d, file_subsets, evolved, schemas.get(d)
                ),
                renames,
                drops,
            )
            if tag_dir:
                f = f.withColumn("__dir", F.lit(d))
            frames.append(f)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=evolved)
        return out

    def _prune_files(
        self, manifest: dict, dirs: list[str], bounds: dict[str, tuple]
    ) -> tuple[list[str], dict]:
        """Per-FILE refinement of a dir-level prune (r10 verdict #5):
        for dirs carrying manifest ``file_stats``, drop files whose
        [min, max] provably miss ``bounds``; a dir whose every file
        prunes drops entirely, a strict subset records a file list for
        the scan, and dirs without per-file stats (old manifests,
        over-cap commits) pass through whole — same conservative
        posture as the dir pass."""
        fstats = manifest.get("file_stats") or {}
        kept_dirs: list[str] = []
        subsets: dict[str, list[str]] = {}
        for d in dirs:
            fs = fstats.get(d)
            if not fs:
                kept_dirs.append(d)
                continue
            keep = []
            for rel, rec in fs.items():
                admit = True
                for col, (lo, hi) in bounds.items():
                    s = rec.get("cols", {}).get(col)
                    if s is None or (lo is None and hi is None):
                        continue
                    try:
                        if (lo is not None and s[1] < lo) or (
                            hi is not None and s[0] > hi
                        ):
                            admit = False
                            break
                    except TypeError:
                        continue  # cross-type stat: keep the file
                if admit:
                    keep.append(rel)
            if not keep:
                continue  # every file pruned: drop the whole dir
            kept_dirs.append(d)
            if len(keep) < len(fs):
                subsets[d] = [os.path.join(d, rel) for rel in keep]
        return kept_dirs, subsets

    def _read_snapshot_subset(
        self,
        spark: SparkSession,
        manifest: dict,
        dirs: list[str],
        tag_dir: bool = False,
        file_subsets: dict | None = None,
    ) -> DataFrame:
        """Read a subset of a snapshot's data dirs with DELETION
        VECTORS applied (the merge-on-read half of delete_where):
        commit dirs are immutable, so each tombstone set applies
        exactly to the dirs that existed when it was committed — dirs
        are grouped by their applicable DV set, each group anti-joins
        its tombstones null-safely on the tombstone's columns, and a
        row re-inserted AFTER the delete (living in a newer dir) is
        never touched. Tables with no DVs take the exact scan shapes
        ``read`` always produced (multi-path scan / hive per-dir
        union), so existing plan-shape pins hold."""
        evolved, wjson, renames, drops, _cons, _pby = self._evolution_state(
            manifest["version"]
        )
        dvs = manifest.get("dvs", [])
        schemas = self._dir_schemas(manifest)

        def _scan(gdirs: list[str]) -> DataFrame:
            if wjson is not None:
                # TYPE-WIDENED table: parquet mergeSchema cannot merge
                # int with long, so every dir conforms to the recorded
                # widened schema by CAST (missing columns null-fill);
                # pre-rename dirs conform names FIRST (the rename
                # commit re-records schema_json under the new name)
                from pyspark.sql.types import StructType

                target = StructType.fromJson(json.loads(wjson))
                frames = []
                for d in gdirs:
                    f = self._apply_renames(
                        self._read_dir(
                            spark, d, file_subsets, schema=schemas.get(d)
                        ),
                        renames,
                        drops,
                    )
                    f = f.select(
                        *[
                            F.col(x.name).cast(x.dataType).alias(x.name)
                            if x.name in f.columns
                            else F.lit(None).cast(x.dataType).alias(x.name)
                            for x in target.fields
                        ]
                    )
                    if tag_dir:
                        f = f.withColumn("__dir", F.lit(d))
                    frames.append(f)
                out = frames[0]
                for f in frames[1:]:
                    out = out.unionByName(f)
                return out
            subset_hit = file_subsets and any(d in file_subsets for d in gdirs)
            if not tag_dir and not renames and not drops and not subset_hit and (
                len(gdirs) == 1 or not self.partition_columns()
            ):
                # single multi-path scan — only safe when no rename is
                # in force (a mixed pre/post-rename path list would
                # take one file's schema and misread the others) and no
                # per-file subset narrows a dir
                return self._scan_paths(spark, gdirs, schemas, evolved)
            if not tag_dir and len(gdirs) == 1:
                return self._apply_renames(
                    self._read_dir(
                        spark, gdirs[0], file_subsets, evolved,
                        schemas.get(gdirs[0]),
                    ),
                    renames,
                    drops,
                )
            return self._union_dirs(
                spark,
                gdirs,
                evolved,
                tag_dir=tag_dir,
                renames=renames,
                file_subsets=file_subsets,
                drops=drops,
                schemas=schemas,
            )

        if not dvs:
            return _scan(dirs)
        dv_schemas = {
            e["dir"]: _schema_of(e["schema"]) for e in dvs if e.get("schema")
        }
        groups: dict[tuple, list[str]] = {}
        for d in dirs:
            key = tuple(
                sorted(e["dir"] for e in dvs if d in e["deleted"])
            )
            groups.setdefault(key, []).append(d)
        outs = []
        for key, gdirs in groups.items():
            f = _scan(gdirs)
            for dvdir in key:
                # tombstones written before a rename conform too, so
                # the anti-join keys on current logical names
                tomb = self._apply_renames(
                    self._read_dir(
                        spark, dvdir, None, schema=dv_schemas.get(dvdir)
                    ),
                    renames,
                    drops,
                )
                cond = None
                for c in tomb.columns:
                    e = f[c].eqNullSafe(tomb[c])
                    cond = e if cond is None else (cond & e)
                f = f.join(tomb, cond, "left_anti")
            outs.append(f)
        out = outs[0]
        for f in outs[1:]:
            out = out.unionByName(f, allowMissingColumns=evolved)
        return out

    def _carry_dvs(
        self, manifest: dict, kept_dirs: list[str]
    ) -> list[dict] | None:
        """DV entries restricted to the dirs a rewrite KEEPS: a
        rewritten dir's deleted rows were materialized away by the
        DV-applied base read, so its tombstone scope drops; an entry
        whose scope empties drops entirely."""
        kept = set(kept_dirs)
        out = []
        for e in manifest.get("dvs", []):
            deleted = {
                d: n for d, n in e["deleted"].items() if d in kept
            }
            if deleted:
                out.append({**e, "deleted": deleted})
        return out or None

    def _logical_dir_rows(self, manifest: dict, d: str) -> int:
        """Rows of dir ``d`` visible in ``manifest``'s snapshot:
        physical footer rows minus the rows its applicable deletion
        vectors removed (counts recorded at DV-commit time, so this
        stays metadata-only)."""
        n = self._dir_rows(d)
        for e in manifest.get("dvs", []):
            n -= e["deleted"].get(d, 0)
        return n

    def _dml_matcher(self, condition, keys: DataFrame | None) -> tuple:
        """How a DELETE recognizes its rows, shared by delete_where,
        its merge-on-read mode and explain_mutation: (``match``: frame
        -> matched rows, ``tag``: frame -> frame + boolean ``__del``,
        per-key-column bounds or None). A predicate (``condition``:
        Column or SQL string) deletes where it is TRUE — a NULL result
        keeps the row (Delta DELETE semantics). A key frame
        (``keys``) matches by equality on its columns, NULLs never
        matching; its bounds prune dirs by stats, and a key set
        measured small is broadcast (see :meth:`_small_side`)."""
        if keys is None:
            cond = F.expr(condition) if isinstance(condition, str) else condition
            return (
                lambda df: df.where(cond),
                lambda df: df.withColumn(
                    "__del", F.coalesce(cond, F.lit(False))
                ),
                None,
            )
        kcols = list(keys.columns)
        bounds, n = self._key_bounds(keys, kcols)
        side = self._small_side(keys.select(*kcols), n)

        def _tag(df: DataFrame) -> DataFrame:
            # EXISTS, not a join: a duplicated key can neither repeat a
            # row nor need a dedup shuffle first
            hit = None
            for c in kcols:
                e = F.col(f"__k.`{c}`") == F.col(f"__b.`{c}`").outer()
                hit = e if hit is None else hit & e
            return df.alias("__b").select(
                "*", side.alias("__k").where(hit).exists().alias("__del")
            )

        return lambda df: df.join(side, kcols, "left_semi"), _tag, bounds

    def _mutation_probe(
        self, spark: SparkSession, cur: dict, match, bounds=None
    ) -> dict[str, int]:
        """Touched-dir discovery shared by delete_where, update_where
        and explain_mutation: ``{dir: rows matched}`` over the
        snapshot's dirs (physical rows, before deletion vectors), from
        one scan tagged per commit dir with only the columns
        ``match`` (a frame -> matched-rows callable) reads. ``bounds``
        (key-set deletes) first drops dirs whose stats miss them."""
        dirs = (
            self._stats_candidates(cur, bounds) if bounds else cur["data_dirs"]
        )
        if not dirs:
            return {}
        evolved, _wj, renames, drops, _c, _p = self._evolution_state(
            cur["version"]
        )
        probe = self._union_dirs(
            spark,
            dirs,
            evolved,
            tag_dir=True,
            renames=renames,
            drops=drops,
            schemas=self._dir_schemas(cur),
        )
        return {
            r["__dir"]: int(r["n"])
            for r in match(probe)
            .groupBy("__dir")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _merge_probe(
        self,
        spark: SparkSession,
        cur: dict,
        keys: list[str],
        bounds: dict[str, tuple],
        upd_keys: DataFrame,
    ) -> tuple:
        """Touched-dir discovery shared by merge and explain_merge, in
        its four passes: (stats-admitted dirs, bloom-admitted dirs,
        file-refined dirs, their per-file subsets, ``{dir: rows
        holding an update key}`` from the exact key probe over the
        refined dirs). ``upd_keys`` is the batch's key columns."""
        evolved, _wj, renames, drops, _c, _p = self._evolution_state(
            cur["version"]
        )
        stats_ok = self._stats_candidates(cur, bounds)
        bloom_ok = self._bloom_candidates(
            cur, keys, upd_keys.distinct(), stats_ok
        )
        # per-file refinement cuts the PROBE's scan only — a touched
        # dir still rewrites whole (CoW is dir-granular)
        kept, subsets = self._prune_files(cur, bloom_ok, bounds)
        probe_rows: dict[str, int] = {}
        if kept:
            probe = self._union_dirs(
                spark,
                kept,
                evolved,
                tag_dir=True,
                renames=renames,
                file_subsets=subsets,
                drops=drops,
                schemas=self._dir_schemas(cur),
            ).select("__dir", *keys)
            # ``upd_keys`` comes broadcast-hinted only when measured
            # small (_small_side): a corpus-scale updates batch still
            # plans a sane shuffled semi-join
            probe_rows = {
                r["__dir"]: int(r["n"])
                for r in probe.join(upd_keys, keys, "left_semi")
                .groupBy("__dir")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        return stats_ok, bloom_ok, kept, subsets, probe_rows

    @staticmethod
    def _key_bounds(updates: DataFrame, keys: list[str]) -> tuple[dict, int]:
        """Per-key-column [min, max] of an updates batch, and its row
        count — one tiny agg job, 2 scalars per key column plus the
        count — which power the metadata prune of touched-dir
        discovery and the broadcast decision of :meth:`_small_side`."""
        brow = updates.select(
            *[
                f
                for k in keys
                for f in (
                    F.min(k).alias(f"__lo_{k}"),
                    F.max(k).alias(f"__hi_{k}"),
                )
            ],
            F.count(F.lit(1)).alias("__n"),
        ).first()
        bounds = {k: (brow[f"__lo_{k}"], brow[f"__hi_{k}"]) for k in keys}
        return bounds, brow["__n"]

    @staticmethod
    def _small_side(keys: DataFrame, n: int) -> DataFrame:
        """``keys`` with a broadcast hint when its MEASURED size (``n``
        rows, ~64 B a column) fits the session's
        autoBroadcastJoinThreshold. A Python-built key frame has no
        size statistics, so without the hint the planner shuffles both
        sides — and Catalyst pushes a semi join below the snapshot's
        per-dir union, one exchange per dir. Broadcast, every dir
        shares one build side. A key set too big keeps the planner's
        own choice (a shuffled join), as a 10^8-key backlog must."""
        conf = keys.sparkSession._jsparkSession.sessionState().conf()
        if 0 <= n * 64 * len(keys.columns) <= conf.autoBroadcastJoinThreshold():
            return F.broadcast(keys)
        return keys

    def _stats_candidates(
        self, manifest: dict, bounds: dict[str, tuple]
    ) -> list[str]:
        """Dirs whose footer-derived [min, max] stats COULD intersect
        ``bounds`` (per-column [lo, hi] of the update keys) — the
        metadata-only first pass of touched-dir discovery. A dir
        survives unless SOME bounded column's ranges provably miss;
        missing stats or a cross-type comparison keep the dir
        (conservative, the read_pruned posture)."""
        stats = manifest.get("dir_stats", {})
        out = []
        for d in manifest["data_dirs"]:
            keep = True
            for col, (lo, hi) in bounds.items():
                s = stats.get(d, {}).get(col)
                if s is None or lo is None or hi is None:
                    continue
                try:
                    if s[1] < lo or s[0] > hi:
                        keep = False
                        break
                except TypeError:
                    continue  # cross-type stat: cannot prune, keep dir
            if keep:
                out.append(d)
        return out

    def copy_into(
        self,
        spark: SparkSession,
        source: str,
        file_format: str = "parquet",
        options: dict | None = None,
        force: bool = False,
        meta: dict | None = None,
        pattern: str | None = None,
        allow_evolution: bool = False,
    ) -> dict:
        """Idempotent bulk file ingestion (the Delta ``COPY INTO``
        shape): list the data files under ``source`` (recursive;
        ``_``/``.``-prefixed names skipped — writer sidecars), drop
        every file a prior ``copy_into`` of THIS table already
        loaded, read the remainder with ``spark.read.format(...)``,
        conform to the table schema BY NAME (types cast to the
        snapshot's; an extra source column or a missing non-generated
        table column refuses loudly — COPY INTO is schema-strict),
        and append them as ONE commit whose manifest meta records the
        loaded file list. The load history therefore publishes in the
        SAME atomic commit as the rows: re-running after a crash, on
        a schedule, or concurrently never double-loads — a file is in
        the history iff its rows are in the table. ``force=True``
        ignores the history and reloads everything listed.

        Returns ``{"version", "files_loaded", "files_skipped",
        "rows_loaded"}``; ``version`` is None when no new files.

        ``pattern`` (r13 verdict #5) filters the stage listing by a
        glob over each file's path relative to the stage root
        (fnmatch semantics; applied before the load history, so
        unmatched files stay loadable by a later wider pattern).
        ``allow_evolution=True`` lets an ADDITIVE or type-WIDENING
        stage batch evolve the table through the same append
        evolution path appends already certify (new columns join the
        schema, older rows surface them as NULL; widened types record
        the widened schema); a batch MISSING table columns refuses
        either way.

        File identity is the absolute path (Delta's rule): replacing
        a file's CONTENT in place is invisible — stage new bytes as
        new file names. ``clean_metadata`` truncates dropped
        versions' manifests to summaries, losing their slice of the
        load history; re-runs older than the kept window should pass
        ``force`` deliberately or re-stage under fresh names.

        Scale posture: the nightly-ingest face. History reads are
        metadata-only (manifest meta, never data); each run scans
        ONLY the new files; rows land via :meth:`append`, so
        constraints, generated columns, schema evolution guards and
        carried stats/blooms all apply unchanged.

        CONCURRENCY: the history-read → append window is serialized
        on an advisory flock at ``<root>/_copy.lock`` (the catalog
        mutators' pattern) — without it two simultaneous COPYs of the
        same stage both see an empty history and double-load. Local-
        FS semantics; on a network FS without flock it degrades to
        best-effort (schedule one loader per table there)."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def _copy_lock():
            os.makedirs(self.root, exist_ok=True)
            fd = os.open(
                os.path.join(self.root, "_copy.lock"),
                os.O_CREAT | os.O_RDWR,
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        with _copy_lock():
            return self._copy_into_locked(
                spark, source, file_format, options, force, meta,
                pattern, allow_evolution,
            )

    def explain_copy_into(
        self,
        spark: SparkSession,
        source: str,
        file_format: str = "parquet",
        options: dict | None = None,
        force: bool = False,
        pattern: str | None = None,
    ) -> DataFrame:
        """EXPLAIN for :meth:`copy_into` (r14, completing the r13
        verdict-#3 operability face): one row per staged file with
        the decision the real COPY would make — ``load`` (new file),
        ``skip_history`` (already in the committed load history;
        ``force=True`` turns these into loads), ``skip_pattern``
        (listed but excluded by ``PATTERN``). Commits nothing, opens
        no data file: the cost is the stage listing plus the
        manifest-meta history walk — both metadata-only. No lock is
        taken (a racing real COPY can change the answer, exactly as
        it would between an unlocked explain and a later run)."""
        return self._copy_into_locked(
            spark, source, file_format, options, force, None,
            pattern, False, dry_run=True,
        )

    def _copy_into_locked(
        self,
        spark: SparkSession,
        source: str,
        file_format: str,
        options: dict | None,
        force: bool,
        meta: dict | None,
        pattern: str | None = None,
        allow_evolution: bool = False,
        dry_run: bool = False,
    ) -> "dict | DataFrame":
        already: set[str] = set()
        if not force:
            for m_ in self.history():
                already.update((m_.get("meta") or {}).get("copy_files", ()))
        listed: list[str] = []
        import glob as _glob

        paths = (
            sorted(_glob.glob(source, recursive=True))
            if any(ch in source for ch in "*?[")
            else [source]
        )
        for p in paths:
            if os.path.isdir(p):
                for dirpath, dirnames, filenames in os.walk(p):
                    dirnames[:] = [
                        d for d in dirnames if not d.startswith(("_", "."))
                    ]
                    listed.extend(
                        os.path.abspath(os.path.join(dirpath, f))
                        for f in filenames
                        if not f.startswith(("_", "."))
                    )
            elif os.path.isfile(p) and not os.path.basename(p).startswith(
                ("_", ".")
            ):
                listed.append(os.path.abspath(p))
        listed = sorted(set(listed))
        pre_pattern = listed
        if pattern is not None:
            # PATTERN (r13 verdict #5, the Databricks COPY INTO
            # option): a glob over each file's path RELATIVE to the
            # stage root — 'part-*.parquet', 'ds=2024*/*.parquet'.
            # fnmatch semantics ('*' crosses '/'; use '[!_]' classes
            # as needed), applied AFTER the sidecar skip and BEFORE
            # the load history, so an unmatched file neither loads nor
            # enters the history (a later wider PATTERN still picks it
            # up). Idempotence is per-file, PATTERN-independent.
            import fnmatch

            base = os.path.abspath(
                source if os.path.isdir(source)
                else os.path.dirname(source) or "."
            )
            listed = [
                f
                for f in listed
                if fnmatch.fnmatch(os.path.relpath(f, base), pattern)
            ]
        if not listed and not dry_run:
            # a dry run reports the all-excluded listing instead of
            # raising — that IS the answer the operator asked for
            raise FileNotFoundError(
                f"COPY INTO source matched no data files: {source}"
                + (f" (PATTERN {pattern!r})" if pattern else "")
            )
        new_files = [f for f in listed if f not in already]
        if dry_run:
            # EXPLAIN COPY INTO: the per-file load decision the real
            # COPY would make, committing nothing — metadata-only
            # (the stage listing + manifest-meta history; no file is
            # opened, no row read)
            kept = set(listed)
            rows = [
                (
                    f,
                    "skip_pattern"
                    if f not in kept
                    else ("load" if f in set(new_files)
                          else "skip_history"),
                )
                for f in pre_pattern
            ]
            return spark.createDataFrame(
                rows or [("", "")], "file string, action string"
            ).where(F.col("file") != "")
        if not new_files:
            return {
                "version": None,
                "files_loaded": 0,
                "files_skipped": len(listed),
                "rows_loaded": 0,
            }
        reader = spark.read.format(file_format)
        if options:
            reader = reader.options(**options)
        df = reader.load(new_files)
        snap = self.read(spark).schema
        gen = set(self.generated_columns())
        ident = set(self.identity_columns())
        have = {f.name: f.dataType for f in snap.fields}
        got = set(df.columns)
        extra = sorted(got - set(have))
        missing = sorted(set(have) - got - gen - ident)
        ident_spec = self.identity_columns()
        self._split_identity(ident_spec, got, "stage files")
        if (extra and not allow_evolution) or missing:
            raise ValueError(
                f"COPY INTO schema mismatch: source has extra columns "
                f"{extra}, is missing table columns {missing} — COPY "
                f"INTO maps by name and is schema-strict (generated/"
                f"identity columns may be absent; they are computed). "
                f"Pass allow_evolution=True (SQL: COPY_OPTIONS "
                f"('mergeSchema' = 'true')) to let an ADDITIVE or "
                f"type-WIDENING stage batch evolve the table; a batch "
                f"missing table columns always refuses"
            )
        src_types = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in snap.fields:
            if f.name not in got:
                continue
            g = src_types[f.name]
            if allow_evolution and _is_widening(f.dataType, g):
                # stage batch WIDER than the table: keep the source
                # type and let append's evolution path widen the
                # recorded schema (r13 verdict #5)
                cols.append(F.col(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        if allow_evolution:
            cols.extend(F.col(n) for n in extra)
        df = df.select(*cols)
        rows = df.count()
        m = dict(meta or {})
        m["copy_files"] = new_files
        m["copy_source"] = source
        v = self.append(df, meta=m, allow_evolution=allow_evolution)
        return {
            "version": v,
            "files_loaded": len(new_files),
            "files_skipped": len(listed) - len(new_files),
            "rows_loaded": rows,
        }

    def explain_merge(
        self,
        updates: DataFrame,
        keys: list[str],
        version: int | None = None,
    ) -> DataFrame:
        """EXPLAIN for dir-pruned MERGE (r13 verdict #3): run the
        exact touched-dir discovery :meth:`merge` would run — the
        min-max stats pass, the bloom pass, the per-file refinement,
        and the exact key probe — WITHOUT committing, and return the
        per-dir prune decision so an operator can see what a MERGE
        would rewrite *before* running it. One row per snapshot data
        dir:

        * ``dir`` — commit dir path,
        * ``rows`` — logical rows visible in the snapshot (physical
          minus deletion-vector tombstones; metadata-only),
        * ``stats_admitted`` — survived the manifest min-max pass,
        * ``bloom_admitted`` — survived the per-dir key-bloom pass
          (true when the dir has no usable bloom: conservative),
        * ``files_total`` / ``files_admitted`` — per-file-stats
          refinement (null when the dir carries no file stats or was
          pruned before this stage),
        * ``probe_rows`` — rows holding a matched update key, from
          the exact probe over the admitted files (null when the dir
          was pruned before the probe; 0 = probed, no match),
        * ``action`` — ``rewrite`` | ``carry``.

        The decision pipeline is byte-identical to merge()'s (same
        helpers, same conservative posture), so the ``rewrite`` set
        equals the dirs the next merge with this batch rewrites —
        pytest-pinned. Cost: the bounds agg + the key-column probe
        scan of the admitted dirs; no write, no commit, no lock.
        Clause merges (conditional UPDATE/DELETE/INSERT) prune
        identically — all clause effects live where the update keys
        live — so one EXPLAIN covers every merge flavor."""
        spark = updates.sparkSession
        v = self.latest_version() if version is None else version
        cur = self._read_manifest(v)
        bounds, n = self._key_bounds(updates, keys)
        stats_ok, bloom_ok, kept, subsets, probe_rows = self._merge_probe(
            spark, cur, keys, bounds,
            self._small_side(updates.select(*keys), n),
        )
        stats_ok, bloom_ok, kept_set = set(stats_ok), set(bloom_ok), set(kept)
        fstats = cur.get("file_stats") or {}
        out = []
        for d in cur["data_dirs"]:
            fs = fstats.get(d)
            files_total = len(fs) if fs else None
            if fs is None or d not in bloom_ok:
                files_admitted = None
            elif d in subsets:
                files_admitted = len(subsets[d])
            elif d in kept_set:
                files_admitted = files_total
            else:
                files_admitted = 0  # every file pruned at this stage
            pr = probe_rows.get(d, 0) if d in kept_set else None
            out.append(
                (
                    d,
                    self._logical_dir_rows(cur, d),
                    d in stats_ok,
                    d in bloom_ok,
                    files_total,
                    files_admitted,
                    pr,
                    "rewrite" if pr else "carry",
                )
            )
        return spark.createDataFrame(
            sorted(out),
            "dir string, rows long, stats_admitted boolean, "
            "bloom_admitted boolean, files_total int, "
            "files_admitted int, probe_rows long, action string",
        )

    def explain_mutation(
        self,
        condition=None,
        keys: DataFrame | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """EXPLAIN for dir-pruned UPDATE / DELETE (r13 verdict #3):
        run the exact touched-dir probe :meth:`update_where` /
        :meth:`delete_where` would run — a scan with only the
        predicate (or join-key) columns materialized, tagged per
        commit dir — WITHOUT committing, and return the per-dir
        decision. One row per snapshot data dir: ``dir``, ``rows``
        (logical, DV-adjusted, metadata-only), ``matched_rows``
        (physical probe matches in the dir — the same pre-tombstone
        count the real probe decides on, so EXPLAIN and the DML can
        never disagree), ``action`` (``rewrite`` | ``carry``).

        ``condition`` is a Column / SQL-string predicate (UPDATE,
        predicate DELETE); ``keys`` is a key frame (delete_keys).
        Cost: one probe scan (Catalyst prunes unused columns and
        pushes the predicate into parquet) + one tiny per-dir agg."""
        spark = _active_spark()
        if (condition is None) == (keys is None):
            raise ValueError("pass exactly one of condition / keys")
        v = self.latest_version() if version is None else version
        cur = self._read_manifest(v)
        dirs = cur["data_dirs"]
        match, _tag, bounds = self._dml_matcher(condition, keys)
        counts = self._mutation_probe(spark, cur, match, bounds)
        out = [
            (
                d,
                self._logical_dir_rows(cur, d),
                counts.get(d, 0),
                "rewrite" if counts.get(d, 0) else "carry",
            )
            for d in dirs
        ]
        return spark.createDataFrame(
            sorted(out),
            "dir string, rows long, matched_rows long, action string",
        )

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        version_col: str | None = None,
        meta: dict | None = None,
        track_changes: bool = True,
        when_matched_update=None,
        when_matched_delete=None,
        when_not_matched_insert=None,
        allow_evolution: bool = False,
        when_matched_set: dict | None = None,
        when_not_matched_insert_values: dict | None = None,
    ) -> int:
        """DIR-PRUNED copy-on-write MERGE: update rows win on key
        collision, new keys are inserted (upsert semantics;
        ``version_col`` breaks ties inside a non-key-unique updates
        batch). On commit conflict the merge is RECOMPUTED against the
        winner's snapshot (unlike append, the output depends on the
        base's content), so concurrent merges serialize.

        Write cost is O(touched dirs), not O(table) (VERDICT r9 #2):
        touched-dir discovery runs in two passes — (1) metadata-only:
        drop dirs whose manifest min-max stats cannot contain any
        update key; (2) exact: scan ONLY the key columns of the
        surviving dirs and semi-join the (broadcast) distinct update
        keys, so a dir is rewritten iff it really holds a matched key.
        Untouched dirs are carried BY REFERENCE in the new manifest —
        bytes, paths and skipping stats unchanged (pytest-asserted) —
        and rows living in them never shuffle. An all-new-keys batch
        touches zero dirs and degenerates to an append-shaped write of
        just the batch. Note the pruned path leaves duplicate keys in
        untouched dirs in place (true MERGE semantics): only dirs
        holding UPDATED keys are re-keyed through the upsert window.

        With ``track_changes`` (default) the commit also persists a
        row-level CHANGE FEED (the Delta CDF shape): for every key the
        updates batch touches, the pre-merge row(s) land as
        ``update_preimage`` and the committed row as
        ``update_postimage``; brand-new keys land as ``insert``. The
        feed costs no extra pass: the key window that merges also tags
        every row as data or a change type, and ONE write lands the new
        data dir and the change rows together (:meth:`_write_commit`),
        so post-image and insert rows are the very rows written to the
        data dir and ``row_changes`` consumers fold exactly what
        readers see. A key whose update lost a ``version_col`` tie
        still emits a pre/post pair with identical values — additive
        folds net it to zero. Pass ``track_changes=False`` to write
        the data alone; that commit then becomes a re-baseline barrier
        for row_changes.

        SCHEMA EVOLUTION (r10 verdict #2): an updates batch whose
        schema DRIFTS from the snapshot (a new column, or a widened
        type) RAISES by default — the old behavior silently dropped
        unknown update columns (``updates.select(*snap_cols)``), losing
        data on the write path with no error. With
        ``allow_evolution=True`` the merge EVOLVES instead, reusing the
        append path's contract: new columns join the snapshot schema
        (rows in untouched dirs surface them as NULL via the
        mergeSchema/cast-conforming read), widened types record the
        widened snapshot schema in the manifest, and the change feed is
        written in the evolved schema. A batch NARROWER in type is
        up-cast as always; a batch MISSING a snapshot column raises
        either way (MERGE updates carry full rows — column-subset
        update semantics are a different operation).

        CONDITIONAL CLAUSES: passing any of ``when_matched_update`` /
        ``when_matched_delete`` / ``when_not_matched_insert`` switches
        to the full MERGE surface (operators.upsert.merge_clauses —
        conditions are Columns or SQL over ``t``/``s`` aliases; clause
        order delete, update, keep; insert only if its clause is
        given). The change feed types rows per fired clause: update
        pre/post pairs for updated keys, ``delete`` rows for
        matched-delete keys, ``insert`` for inserted keys — matched
        keys whose conditions all miss emit nothing. Dir pruning is
        identical (all clause effects live where the update keys
        live); ``version_col`` does not apply to the clause path.

        COLUMN-SUBSET ASSIGNMENTS (r13): ``when_matched_set`` maps
        column → expression (SQL over the ``t``/``s`` aliases) — the
        UPDATE action writes the assigned columns and carries every
        other target column unchanged, so the updates batch only needs
        the KEY columns plus whatever columns its expressions read
        (full-row width no longer required; snapshot columns the batch
        lacks surface as NULL ``s.<col>`` references).
        ``when_not_matched_insert_values`` is the subset INSERT
        (``INSERT (cols) VALUES (exprs)``): assigned columns evaluate,
        other non-key columns land NULL, keys come from the source key.
        Assigning a merge key or a GENERATED column raises (generated
        columns are recomputed from their expressions on the merged
        rows instead, so a SET touching a generated column's input
        propagates). Constraints and the change feed behave exactly as
        the full-row clause path."""
        from python_etl_spark.operators.upsert import merge_clauses, upsert

        subset = not (
            when_matched_set is None
            and when_not_matched_insert_values is None
        )
        clauses = subset or not (
            when_matched_update is None
            and when_matched_delete is None
            and when_not_matched_insert is None
        )
        spark = updates.sparkSession
        if self.identity_columns():
            raise ValueError(
                "MERGE is not supported on a table with IDENTITY "
                "columns — identity is for append-style ingestion "
                "(create/append/copy_into/INSERT INTO); key your "
                "merges on a natural key table instead"
            )
        _gen = self.generated_columns()
        if subset:
            bad = sorted(
                set(when_matched_set or {}) & set(_gen)
            ) + sorted(set(when_not_matched_insert_values or {}) & set(_gen))
            if bad:
                raise ValueError(
                    f"cannot SET generated column(s) {sorted(set(bad))} "
                    f"— they are recomputed from their expressions"
                )
            missing_keys = [k for k in keys if k not in updates.columns]
            if missing_keys:
                raise ValueError(
                    f"subset merge batch is missing key column(s) "
                    f"{missing_keys}"
                )
            bad_ins_keys = {
                k: v
                for k, v in (when_not_matched_insert_values or {}).items()
                if k in keys
                and re.fullmatch(rf"\s*s\.{re.escape(k)}\s*", str(v))
                is None
            }
            if bad_ins_keys:
                raise ValueError(
                    f"INSERT values for key column(s) "
                    f"{sorted(bad_ins_keys)} must be the bare source "
                    f"key (s.<key>) — keys are the merge identity"
                )
        else:
            # generated columns absent from the updates batch are
            # computed HERE (before the full-rows guard); present ones
            # are verified once, later, on the written frame like any
            # other invariant. Subset merges skip this: generated
            # columns are recomputed on the MERGED rows instead. A
            # generated column whose INPUT columns the batch lacks is
            # left absent so the full-rows guard reports the real
            # problem (missing snapshot columns) instead of an
            # unresolved-column analysis error.
            from pyspark.errors import AnalysisException

            computable = {}
            for c, e in _gen.items():
                if c in updates.columns:
                    continue
                try:  # does the expression resolve over the batch?
                    updates.select(F.expr(e)).schema
                    computable[c] = e
                except AnalysisException:
                    pass
            updates = self._apply_generated(updates, computable)
        bounds, n = self._key_bounds(updates, keys)
        upd_keys = self._small_side(updates.select(*keys), n)

        def _attempt(cur):
            from pyspark.sql.types import StructType

            evolved, _wj, _renames, _drops, _cons, _pby = self._evolution_state(
                cur["version"]
            )
            snap_schema = self.read(spark, cur["version"]).schema
            have = {f.name: f.dataType for f in snap_schema.fields}
            got = {f.name: f.dataType for f in updates.schema.fields}
            retired = sorted(
                set(got) & self._dropped_columns(cur["version"])
            )
            if retired:
                raise ValueError(
                    f"merge columns {retired} were dropped and their "
                    f"names are retired — use a new name"
                )
            miss = [f.name for f in snap_schema.fields if f.name not in got]
            if miss and not subset:
                raise ValueError(
                    f"merge updates batch is missing snapshot columns "
                    f"{miss} — MERGE updates must carry full rows "
                    f"(pass when_matched_set for column-subset merges)"
                )
            if miss and subset:
                # Mixing a subset clause with a FULL-ROW clause must
                # not dodge the full-rows guard: the full-row action
                # projects s.<col> / INSERT * verbatim, so a NULL-
                # filled missing column would silently overwrite
                # matched target values (or insert NULL-filled rows).
                # Delta raises an analysis error here; so do we.
                full_row = []
                if when_matched_set is None and (
                    when_matched_update is not None
                    and when_matched_update is not False
                ):
                    full_row.append("WHEN MATCHED ... UPDATE SET *")
                if when_not_matched_insert_values is None and (
                    when_not_matched_insert is not None
                    and when_not_matched_insert is not False
                ):
                    full_row.append("WHEN NOT MATCHED ... INSERT *")
                if full_row:
                    raise ValueError(
                        f"merge updates batch is missing snapshot "
                        f"columns {miss}, but {' and '.join(full_row)} "
                        f"writes full rows from the source — a subset "
                        f"batch would NULL-fill them. Carry full rows, "
                        f"or make every clause a column-subset clause "
                        f"(when_matched_set / "
                        f"when_not_matched_insert_values)"
                    )
            part_cols = set(self.partition_columns())
            widened = False
            target_fields = []
            for f in snap_schema.fields:
                if subset:
                    # subset merge never evolves: the table schema is
                    # the target; shared batch columns conform to it
                    # by cast, missing ones NULL-fill below
                    target_fields.append(f)
                    continue
                g = got[f.name]
                if f.name in part_cols:
                    # hive partition column: snapshot type is path-
                    # inferred, name match suffices (the append rule)
                    target_fields.append(type(f)(f.name, g, True))
                elif g == f.dataType:
                    target_fields.append(f)
                elif _is_widening(g, f.dataType):
                    target_fields.append(f)  # batch narrower: up-cast
                elif _is_widening(f.dataType, g):
                    widened = True
                    target_fields.append(type(f)(f.name, g, True))
                else:
                    raise ValueError(
                        f"merge type drift on '{f.name}': table has "
                        f"{f.dataType.simpleString()}, batch has "
                        f"{g.simpleString()} — not a supported widening"
                    )
            extra = [n for n in updates.columns if n not in have]
            if subset:
                pass  # extra batch columns are expression INPUTS
                # (s.<col> in assignments/conditions), never schema
                # evolution — they ride along in upd and the output
                # projection (base.columns) excludes them
            elif (extra or widened) and not allow_evolution:
                raise ValueError(
                    f"merge schema drift: batch has new columns {extra}"
                    f"{' and widened types' if widened else ''} — the "
                    f"snapshot schema is {sorted(have)}. Refusing to "
                    f"silently drop update data; pass "
                    f"allow_evolution=True to evolve the table schema"
                )
            if not subset:
                for n in extra:
                    target_fields.append(
                        next(
                            f for f in updates.schema.fields if f.name == n
                        )
                    )
            target = StructType(target_fields)
            upd = updates.select(
                *(
                    [
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        if f.name in got
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in target_fields
                    ]
                    + ([F.col(n) for n in extra] if subset else [])
                )
            )
            m = dict(meta or {})
            if not subset and (extra or widened):
                m["schema_evolved"] = True
                if widened or self._widened_schema(cur["version"]) is not None:
                    m["schema_json"] = target.json()
            probe_rows = self._merge_probe(
                spark, cur, keys, bounds, upd_keys
            )[-1]
            touched = [d for d in cur["data_dirs"] if probe_rows.get(d)]
            untouched = [d for d in cur["data_dirs"] if d not in touched]
            if touched:
                # DV-applied read: rows a merge-on-read delete removed
                # must not be resurrected by the rewrite. Conforming to
                # the TARGET schema in one projection handles all three
                # read shapes: post-evolution columns null-fill, widened
                # types cast, and this batch's new columns appear NULL
                # for pre-existing rows.
                base = self._read_snapshot_subset(spark, cur, touched)
                base = base.select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        if f.name in base.columns
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in target_fields
                    ]
                )
            else:
                base = spark.createDataFrame([], target)
            # ONE pass: the merge and its change feed come out of the
            # same key window (upsert) or key join (clauses), tagged
            # 'data' or a change type, and ONE write lands both
            ct = _CHANGE_TYPE if track_changes else None
            if clauses:
                out = merge_clauses(
                    base,
                    upd,
                    keys,
                    matched_update=when_matched_update,
                    matched_delete=when_matched_delete,
                    not_matched_insert=when_not_matched_insert,
                    matched_set=when_matched_set,
                    insert_values=when_not_matched_insert_values,
                    change_col=ct,
                )
            else:
                out = upsert(base, upd, keys, version_col, change_col=ct)
            # constraints + generated-column invariants check the
            # WRITTEN rows (clause expressions can mint violating
            # values an input-only check would miss). Subset merges
            # RECOMPUTE all generated columns (a SET touching a
            # generated column's input must propagate — the carried
            # pre-image value would be stale); pre-image and delete
            # rows keep the values they were stored with.
            gen = self.generated_columns()
            if subset and gen:
                old_side = (
                    F.col(ct).isin("update_preimage", "delete")
                    if ct
                    else F.lit(False)
                )
                for c, e in sorted(gen.items()):
                    out = out.withColumn(
                        c, F.when(old_side, F.col(c)).otherwise(F.expr(e))
                    )
            else:
                out = self._apply_generated(out, gen)
            merged = out.where(F.col(ct) == "data").drop(ct) if ct else out
            self._enforce_constraints(
                merged, self.constraints(cur["version"])
            )
            v = cur["version"] + 1
            part = self.partition_columns() or None
            feed = None
            if track_changes:
                d, feed = self._write_commit(out, part)
            else:
                d = self._write_data(out, part)
                if not self._has_parquet(d):
                    # a clause-MERGE can delete every row of the touched
                    # dirs and insert nothing — drop the file-less dir
                    # rather than brick later reads
                    d = None
            new_dirs = untouched + ([d] if d is not None else [])
            if not new_dirs:
                # whole table emptied: keep one schema-carrying file so
                # the snapshot stays readable (plain repartition(1)
                # write — a partitioned writer emits nothing for an
                # empty frame); the first file-less attempt dir is an
                # orphan vacuum sweeps
                d = self._write_data(merged.repartition(1))
                new_dirs = [d]
            total = sum(self._logical_dir_rows(cur, u) for u in untouched)
            total += self._dir_rows(d) if d is not None else 0
            return self._commit(
                new_dirs,
                "merge",
                v,
                m or None,
                num_rows=total,
                feed=feed,
                base=cur,
            )

        return self._retry_commit(_attempt)

    def overwrite(
        self,
        df: DataFrame,
        meta: dict | None = None,
        retry_conflict: bool = True,
    ) -> int:
        """Copy-on-write full REPLACE: the new snapshot is exactly
        ``df`` (one fresh commit dir; old dirs stay readable for time
        travel until vacuum). The maintained-rollup refresh commits
        through this — the merged aggregate state and its source
        bookmark land in ONE atomic publish. Unlike ``merge``/
        ``compact`` the output does not depend on the base's content,
        so the default conflict retry only re-lists the winner's
        version (no recompute) — RIGHT for a blind replace recomputed
        from an external source, WRONG for read-modify-write (the df
        derived from the pre-conflict snapshot would clobber the
        winner's contribution). Read-modify-write callers pass
        ``retry_conflict=False`` and recompute from the new snapshot
        themselves; :meth:`MaterializedRollup.refresh` does exactly
        that."""
        cur = self._read_manifest()
        meta = dict(meta or {}) or None
        ident = self.identity_columns()
        if ident:
            explicit, auto = self._split_identity(
                ident, df.columns, "overwrite frames"
            )
            hw = self._identity_highwater(cur)
            new_hw = dict(hw)
            if explicit:
                # no live probe: the snapshot being replaced cannot
                # collide with its replacement — but the high-water
                # stays monotone past the batch so time-travel
                # versions never share an id with later mints
                df = df.localCheckpoint(eager=True)
                new_hw.update(
                    self._accept_explicit_identity(
                        df, explicit, hw, None
                    )
                )
            if auto:
                df, hw_auto = self._assign_identity(df, auto, hw)
                new_hw.update({c: hw_auto[c] for c in auto})
            meta = dict(meta or {})
            meta["identity_highwater"] = new_hw
        df = self._apply_generated(df, self.generated_columns())
        self._enforce_constraints(df, self.constraints(cur["version"]))
        d = self._write_data(df, self.partition_columns() or None)

        def _attempt(cur):
            return self._commit(
                [d], "overwrite", cur["version"] + 1, meta, base=cur
            )

        if not retry_conflict:
            return _attempt(cur)
        return self._retry_commit(_attempt, cur)

    def compact(
        self,
        spark: SparkSession | None = None,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot into ONE commit dir (keeping
        the hive layout). A long-lived incremental table accretes one
        dir per nightly append, and the snapshot read unions one scan
        per dir — fine for tens, an analysis-time liability at
        thousands. Periodic compaction (exactly Iceberg/Delta rewrite)
        resets that to a single scan; the bookmark metadata of the
        latest version is carried forward so incremental loads are
        unaffected. Conflict retry recomputes from the new snapshot
        (the interleaved commit's rows must not be lost).

        ``sort_by`` is the DATA-CLUSTERING knob (Delta OPTIMIZE
        ZORDER's shape): range-repartition into ``n_files`` (default 8)
        and sort within partitions, so each output file / row group
        covers a TIGHT range of the sort key — parquet row-group
        min-max pruning and :meth:`read_pruned`'s dir skipping both
        sharpen.

        ``zorder_by`` is the MULTI-dimensional clustering knob: rows
        are ordered on the bit-interleaved quantile-bucket code of the
        named columns (operators/layout.zorder_quantile), so every
        output file is a tight bounding box in EVERY named dimension
        and a predicate on ANY of them prunes — a lexicographic
        ``sort_by=[a, b]`` gives perfect pruning on ``a`` and none on
        ``b``. Same single shuffle as ``sort_by``."""
        return self._rewrite_dirs(
            spark, "compact", lambda cur: cur["data_dirs"],
            sort_by, zorder_by, n_files,
        )

    def _rewrite_dirs(
        self,
        spark: SparkSession | None,
        op: str,
        pick,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> int | None:
        """The one dir-rewrite routine behind :meth:`compact`,
        :meth:`compact_bins`, :meth:`compact_tail` and DV
        materialization: ``pick(cur)`` names the dirs to rewrite
        (none: nothing to do, returns None); they are read with
        deletion vectors applied, optionally clustered (``sort_by``
        range-partitions into ``n_files``, default 8, and sorts
        within; ``zorder_by`` orders on the bit-interleaved
        quantile-bucket code of operators/layout.zorder_quantile),
        written as ONE new dir, and committed as ``op`` with every
        other dir carried by reference and the full snapshot row
        count. The head's meta carries over with its clustering
        provenance (``clustered_by``, which lets optimize() skip
        re-clustering its own output) replaced by this rewrite's
        clustering — stripped when it has none. Conflict retry
        re-picks against the winner's snapshot."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by OR zorder_by, not both")
        spark = spark or _active_spark()

        def _attempt(cur):
            hit = pick(cur)
            if not hit:
                return None
            keep = [d for d in cur["data_dirs"] if d not in hit]
            df = self._read_snapshot_subset(spark, cur, hit)
            if zorder_by:
                from python_etl_spark.operators.layout import (
                    zorder_quantile,
                )

                df = zorder_quantile(df, zorder_by, n_files or 8)
            elif sort_by:
                df = df.repartitionByRange(
                    n_files or 8, *sort_by
                ).sortWithinPartitions(*sort_by)
            nd = self._write_data(df, self.partition_columns() or None)
            if not self._has_parquet(nd):
                # the rewritten dirs held no live row: drop the
                # file-less dir, or keep one schema-carrying file
                # when no other dir remains to read
                nd = None if keep else self._write_data(df.repartition(1))
            total = sum(self._logical_dir_rows(cur, d) for d in keep)
            total += self._dir_rows(nd) if nd else 0
            # provenance, not the overlap observable, tells optimize()
            # a snapshot is already clustered: a multi-dim Z layout's
            # per-column overlap never reaches a single sort's near-zero
            m = dict(cur.get("meta") or {})
            m.pop("clustered_by", None)
            if zorder_by or sort_by:
                m["clustered_by"] = list(zorder_by or sort_by)
            return self._commit(
                keep + ([nd] if nd else []),
                op,
                cur["version"] + 1,
                m or None,
                num_rows=total,
                base=cur,
            )

        return self._retry_commit(_attempt)

    def restore(self, version: int) -> int:
        """RESTORE the table to an old snapshot (the Delta RESTORE
        command): a NEW commit whose dir list is exactly the old
        manifest's — zero data copy, the interim versions stay
        time-travelable until vacuum, and the restored dirs' skipping
        stats carry over. A rewrite barrier for both change feeds
        (a restore has no row lineage); incremental consumers
        re-baseline from the restored snapshot."""
        old = self._read_manifest(version)
        rows = self.row_count(version)
        # the old snapshot's records, tombstones included, come back
        return self._retry_commit(
            lambda cur: self._commit(
                old["data_dirs"],
                "restore",
                cur["version"] + 1,
                meta={"restored_from": version},
                num_rows=rows,
                base=old,
            )
        )

    def clone(
        self, dest_root: str, version: int | None = None
    ) -> "VersionedTable":
        """SHALLOW CLONE (Delta ``CLONE``'s zero-copy shape): a NEW
        table whose v0 references the source snapshot's data dirs
        BY PATH — no byte is copied, the commit is O(metadata). The
        clone carries the source's resolved evolution state (widened
        schema, rename mapping as its event chain, retired names),
        constraints, deletion vectors, hive layout, bloom keys, and
        skipping stats, so every read/write path behaves exactly as
        on the source at that version. Writes then DIVERGE: the
        clone's own commits land under ``dest_root`` and never touch
        the source; the source keeps evolving independently.

        The clone's own ``vacuum`` can never sweep source dirs (it
        walks only the clone's root). The documented hazard is the
        mirror one — Delta's too: ``vacuum`` ON THE SOURCE removes
        dirs a clone still references once the source itself no
        longer does (post-compact). Clone history starts at the clone
        (time travel below v0 stays with the source)."""
        if os.path.abspath(dest_root) == os.path.abspath(self.root):
            raise ValueError("clone target is the source itself")
        dst = VersionedTable(
            dest_root,
            max_retries=self.max_retries,
            checkpoint_interval=self.checkpoint_interval,
        )
        if dst.exists():
            raise RuntimeError(f"table already exists at {dest_root}")
        v = self.latest_version() if version is None else version
        src = self._read_manifest(v)
        evolved, wjson, mapping, drops, cons, _pby = self._evolution_state(v)
        events = []
        for logical, olds in mapping.items():
            chain = list(reversed(olds)) + [logical]
            events.extend(
                {"from": a, "to": b} for a, b in zip(chain, chain[1:])
            )
        m: dict = {
            "cloned_from": {"root": self.root, "version": v},
            "clone_state": {
                "schema_evolved": evolved,
                "schema_json": wjson,
                "renames": events,
                "drops": sorted(drops),
                "constraints": cons,
            },
        }
        # partition layout AS OF v, consistent with the constraint/
        # rename carry above: cloning an older version after a later
        # set_partitioning must stamp the clone with the layout its
        # referenced dirs were written under, not the newest one.
        # (bloom/generated/cluster keys are create-time-immutable, so
        # latest == as-of-v for those.)
        pby = self.partition_columns(v)
        if pby:
            m["partition_by"] = pby
        bkeys = self.bloom_columns()
        if bkeys:
            m["bloom_keys"] = bkeys
        gen = self.generated_columns()
        if gen:
            m["generated"] = gen
        ckeys = self.cluster_keys()
        if ckeys:
            m["cluster_keys"] = ckeys
        ident = self.identity_columns()
        if ident:
            # IDENTITY is create-time state like generated/bloom: the
            # clone must keep minting above the source's mark AS OF the
            # cloned version, or its first append re-mints ids the
            # referenced dirs already contain.
            m["identity"] = ident
            m["identity_highwater"] = self._identity_highwater(src)
        try:
            dst._commit(
                src["data_dirs"],
                "create",
                0,
                m,
                num_rows=self.row_count(v),
                base=src,
            )
        except CommitConflictError:
            raise RuntimeError(
                f"table already exists at {dest_root} "
                f"(lost create race to a concurrent writer)"
            ) from None
        return dst

    def read_pruned(
        self,
        spark: SparkSession,
        col: str | None = None,
        lo=None,
        hi=None,
        version: int | None = None,
        ranges: dict | None = None,
        eq: dict | None = None,
    ) -> DataFrame:
        """Snapshot read with DIR-GRANULARITY data skipping: commit
        dirs whose footer-derived [min, max] for a bounded column
        cannot intersect its range are never opened (the Iceberg/Delta
        file-statistics prune, one level up). The residual predicate
        is still applied to the surviving dirs, so results equal
        ``read().where(...)`` exactly; dirs with no recorded stat for
        a column are read (conservative). The 100 TB win is the
        nightly-append layout: each night's dir covers a tight
        ingest-date range, so a date-window query opens last week's
        dirs, never the corpus. Pass bounds in the stats' JSON value
        space (numbers, strings, ISO date strings).

        Single column: ``read_pruned(spark, "k", lo, hi)``. MULTI
        column: ``read_pruned(spark, ranges={"k": (lo, hi), "c":
        (lo, None)})`` — every bounded column prunes independently
        (a dir/file drops when ANY range provably misses it), which
        is exactly the payoff of a Z-ordered layout: each file is a
        bounding box in every clustered dimension, so a conjunctive
        range predicate multiplies the skip rates.

        POINT LOOKUP (r12): ``eq={"k": value, ...}`` binds exact
        values (a LIST of values = an IN-list multi-needle lookup).
        Each binding prunes via stats as the degenerate range [v, v]
        (lists as [min, max]), and when the bindings cover the
        table's declared ``bloom_keys`` the per-dir KEY BLOOMS are
        probed too — the prune that works where min-max cannot
        (uuid/hash-shaped keys, every dir spanning the whole key
        domain): a needle lookup into a 10k-dir table opens only the
        dirs whose bloom admits some needle (FP ~2-3% costs an extra
        dir read; a false negative is impossible — the probe runs
        the SAME Spark xxhash64 expressions the commit path used to
        build the bits). A single value is re-applied exactly (the
        [v, v] range IS the equality); a LIST is re-applied only as
        its [min, max] envelope — callers re-apply the IN predicate,
        same contract as ranges."""
        if ranges is None:
            if col is None and not eq:
                raise ValueError("pass col+lo/hi, ranges={...} or eq")
            ranges = {col: (lo, hi)} if col is not None else {}
        elif col is not None:
            raise ValueError("pass col OR ranges, not both")
        eq_lists: dict = {}
        if eq:
            for c, v in eq.items():
                if c in ranges:
                    raise ValueError(f"column '{c}' in both ranges and eq")
                vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
                if not vals:
                    raise ValueError(f"eq['{c}'] is an empty value list")
                eq_lists[c] = vals
                try:
                    ranges[c] = (min(vals), max(vals))
                except TypeError:
                    ranges[c] = (None, None)  # mixed types: no stat prune
        m = self._read_manifest(version)
        stats = m.get("dir_stats", {})
        dirs = []
        for d in m["data_dirs"]:
            admit = True
            for c, (rlo, rhi) in ranges.items():
                s = stats.get(d, {}).get(c)
                if s is None:
                    continue
                dlo, dhi = s
                try:
                    if (rlo is not None and dhi < rlo) or (
                        rhi is not None and dlo > rhi
                    ):
                        admit = False
                        break
                except TypeError:
                    # caller bound and persisted stat disagree on type
                    # (e.g. int bound vs ISO-string date stat): degrade
                    # to a conservative full read of this dir, the
                    # same "no stat means no pruning" posture
                    pass
            if admit:
                dirs.append(d)
        # bloom probe for point lookups covering the declared keys:
        # one 1-row Spark frame reuses the merge probe's machinery
        # (same xxhash64 exprs the commit path built the bits with)
        bcols = sorted(self.bloom_columns())
        if eq and bcols and set(bcols) <= set(eq) and dirs:
            import itertools

            types = {
                f.name: f.dataType
                for f in self.read(spark, m["version"]).schema.fields
            }
            if all(c in types for c in bcols):
                combos = list(
                    itertools.islice(
                        itertools.product(*[eq_lists[c] for c in bcols]),
                        _BLOOM_PROBE_CAP + 1,
                    )
                )
                if len(combos) <= _BLOOM_PROBE_CAP:
                    # The probe must hash EXACTLY what the commit path
                    # hashed. Build it from TYPED values under the
                    # table schema (r12 advice: str(value)+cast does
                    # not round-trip for binary / exotic decimal /
                    # timestamp keys — the probe would hash different
                    # bytes and bloom-prune dirs that HOLD the needle,
                    # a silent false negative). Only if a value is not
                    # directly representable in the column type (e.g.
                    # the caller passed "5" for a long key) degrade to
                    # the cast-from-string path, which is exact there
                    # because the value IS the string being cast.
                    from pyspark.sql.types import StructField, StructType

                    probe_schema = StructType(
                        [
                            StructField(c, types[c], True)
                            for c in bcols
                        ]
                    )
                    try:
                        frame = spark.createDataFrame(
                            [tuple(t) for t in combos], probe_schema
                        )
                    except (TypeError, ValueError):
                        frame = spark.createDataFrame(
                            [
                                tuple(
                                    None if v is None else str(v)
                                    for v in t
                                )
                                for t in combos
                            ],
                            ", ".join(f"{c} string" for c in bcols),
                        ).select(
                            *[
                                F.col(c).cast(types[c]).alias(c)
                                for c in bcols
                            ]
                        )
                    dirs = self._bloom_candidates(m, bcols, frame, dirs)
        # per-FILE refinement: inside surviving dirs, open only the
        # files whose footer stats admit every range (r10 verdict #5)
        dirs, subsets = self._prune_files(m, dirs, ranges)
        cond = F.lit(True)
        for c, (rlo, rhi) in ranges.items():
            if rlo is not None:
                cond = cond & (F.col(c) >= F.lit(rlo))
            if rhi is not None:
                cond = cond & (F.col(c) <= F.lit(rhi))
        if not dirs:
            # only the empty result needs the full snapshot's schema
            schema = self.read(spark, m["version"]).schema
            return spark.createDataFrame([], schema).where(cond)
        return self._read_snapshot_subset(
            spark, m, dirs, file_subsets=subsets
        ).where(cond)

    @staticmethod
    def _tree_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    def compact_bins(
        self,
        spark: SparkSession | None = None,
        small_bytes: int = 32 * 1024 * 1024,
    ) -> int | None:
        """Bin-packing PARTIAL compaction (the Iceberg
        rewrite_data_files shape): rewrite only the commit dirs whose
        on-disk size is below ``small_bytes`` into one dir; large dirs
        are KEPT untouched — on a 100 TB table full ``compact``
        rewrites the corpus to fix small-file accretion, while this
        touches only the accreted tail (nightly GB-scale appends).
        No-op (returns None) with fewer than two small dirs. The
        commit is op ``compact_bins``: ``changes()`` treats it as a
        rewrite barrier (the dir-list diff stops meaning new rows) and
        its manifest carries the FULL snapshot row count, so
        ``row_count()`` uses it as a base. Conflict retry recomputes
        against the winner's snapshot."""

        def _small(cur):
            small = [
                d for d in cur["data_dirs"]
                if self._tree_bytes(d) < small_bytes
            ]
            return small if len(small) >= 2 else None

        # the bin-pack rewrites its dirs UNCLUSTERED, so the clustering
        # provenance drops and the optimize() planner re-measures
        return self._rewrite_dirs(spark, "compact_bins", _small)

    def compact_tail(
        self,
        since_version: int,
        spark: SparkSession | None = None,
        zorder_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> int | None:
        """INCREMENTAL clustering (the Delta incremental-OPTIMIZE
        shape): rewrite ONLY the dirs added since ``since_version``
        (normally the last clustered-compact commit) into one
        clustered dir, carrying everything older by reference — a
        100 TB table pays nightly-tail cost, never a corpus rewrite,
        and per-file bounding boxes stay tight in both the old
        clustered dir and the new tail dir (read_pruned prunes at
        file granularity, so two clustered dirs skip as well as one).
        Commits as op ``compact_bins`` (row-preserving partial) with
        clustering provenance restored in the meta, so the optimize()
        planner recognizes the snapshot as clustered. No-op (None)
        when nothing landed since. ``zorder_by`` / ``sort_by`` /
        ``n_files`` cluster as in :meth:`compact`; both knobs at once
        raise."""
        base = set(self._read_manifest(since_version)["data_dirs"])
        return self._rewrite_dirs(
            spark,
            "compact_bins",
            lambda cur: [d for d in cur["data_dirs"] if d not in base],
            sort_by,
            zorder_by,
            n_files,
        )

    def _materialize_dvs(self, spark: SparkSession | None = None) -> int | None:
        """Rewrite ONLY the dirs that have deletion vectors applied
        (DV-applied read, so the tombstoned rows vanish physically),
        carry every clean dir by reference, and drop the emptied DV
        scopes. Row-preserving (logical rows unchanged), so it commits
        as a ``compact_bins`` op — change feeds are unaffected. No-op
        (None) when no DVs exist."""

        def _dv_hit(cur):
            return [
                d
                for d in cur["data_dirs"]
                if any(d in e["deleted"] for e in cur.get("dvs", []))
            ]

        return self._rewrite_dirs(spark, "compact_bins", _dv_hit)

    def _clustering_overlap(self, manifest: dict, col: str) -> float | None:
        """Clustering quality from footer ranges, METADATA-ONLY: the
        fraction of file pairs whose per-file [min, max] for ``col``
        intersect (0 = perfectly range-clustered, ->1 = every file
        spans the whole domain so range reads open everything).
        Sweep-line over the manifest's file_stats — no Spark job; None
        when fewer than two files carry the stat."""
        import heapq

        spans = []
        live = set(manifest["data_dirs"])
        for d, fs in (manifest.get("file_stats") or {}).items():
            if d not in live:
                continue
            for rec in fs.values():
                s = rec.get("cols", {}).get(col)
                if s is not None:
                    spans.append((s[0], s[1]))
        if len(spans) < 2:
            return None
        try:
            spans.sort()
        except TypeError:
            return None  # mixed-type stats: cannot judge, do not act
        heap: list = []
        overlapping = 0
        for lo, hi in spans:
            while heap and heap[0] < lo:
                heapq.heappop(heap)
            overlapping += len(heap)
            heapq.heappush(heap, hi)
        return overlapping / (len(spans) * (len(spans) - 1) // 2)

    def optimize(
        self,
        spark: SparkSession | None = None,
        small_bytes: int = 32 * 1024 * 1024,
        max_dirs: int = 16,
        dv_ratio: float = 0.10,
        vacuum_grace: float | None = None,
        cluster_by: str | list[str] | None = None,
        overlap_threshold: float = 0.5,
    ) -> list[dict]:
        """MAINTENANCE PLANNER (r10 verdict #6): one entrypoint that
        reads the table's own observables and schedules the cheapest
        fixing action for each pressure, in dependency order — the
        operational face a nightly pipeline calls unconditionally.

        * deletion-vector pressure — tombstoned rows >= ``dv_ratio``
          of the physical rows: materialize DVs by rewriting only the
          DV'd dirs (read-side anti-join cost returns to zero);
        * small-file accretion — >= 2 commit dirs under
          ``small_bytes``: bin-packing partial compaction
          (:meth:`compact_bins`);
        * dir-count — more than ``max_dirs`` dirs even after
          bin-packing: full :meth:`compact` (the union-scan liability);
        * clustering drift — with ``cluster_by`` (a column or a LIST
          of columns): when more than ``overlap_threshold`` of file
          pairs' footer ranges for the worst column intersect
          (metadata-only sweep over file_stats), rewrite clustered —
          range sort for one column, quantile-bucketed Z-ORDER for
          several (every file becomes a tight bounding box in every
          dimension) — the Delta OPTIMIZE ZORDER trigger, decided
          from the manifest alone;
        * metadata growth — manifest files exceed 2x the checkpoint
          interval: :meth:`checkpoint` + :meth:`clean_metadata`;
        * optionally ``vacuum_grace`` (seconds): sweep unreachable
          dirs — opt-in because it ends time travel.

        Returns one record per action taken (``[]`` on a healthy
        table — the no-op path costs a manifest read and a few
        os.walks, no Spark job). Thresholds are per-call so an
        operator can tighten them for hot tables.

        RACING LIVE WRITERS (r11 verdict #5): safe by construction —
        every action commits through the same optimistic manifest CAS
        as any writer, and on conflict the WRITER wins: the rewrite's
        retry re-reads the winner's manifest and recomputes from the
        new snapshot (interleaved appends are never lost; the sink's
        epoch-id dedup is untouched by a concurrent compact). A lost
        race costs the maintenance job a re-read and re-plan, never
        the pipeline a row — pinned by
        tests/test_table.py::test_optimize_races_live_streaming_sink."""
        spark = spark or _active_spark()
        actions: list[dict] = []
        cur = self._read_manifest()
        dvs = cur.get("dvs", [])
        if dvs:
            deleted = sum(sum(e["deleted"].values()) for e in dvs)
            total = self.row_count(cur["version"])
            if deleted and deleted / max(total + deleted, 1) >= dv_ratio:
                v = self._materialize_dvs(spark)
                if v is not None:
                    actions.append(
                        {
                            "action": "materialize_dvs",
                            "version": v,
                            "reason": (
                                f"{deleted} tombstoned rows >= "
                                f"{dv_ratio:.0%} of physical rows"
                            ),
                        }
                    )
        if cluster_by is None:
            cluster_by = self.cluster_keys() or None
        ccols = (
            [cluster_by] if isinstance(cluster_by, str)
            else list(cluster_by or [])
        )
        # one column -> range sort; several -> Z-order
        ckw = {"zorder_by" if len(ccols) > 1 else "sort_by": ccols}
        cact = "compact_zorder" if len(ccols) > 1 else "compact_clustered"
        if cluster_by:
            # the worst column's overlap decides (a layout is only as
            # good as the dimension reads actually filter on). Three-way:
            # (a) the head commit IS this clustering's output -> no-op;
            # (b) a clustered base exists and only appends/metadata
            #     landed since -> INCREMENTAL: cluster just the tail
            #     dirs (nightly cost, never the corpus);
            # (c) otherwise -> full clustered rewrite when the overlap
            #     observable passes the threshold.
            cur = self._read_manifest()
            already = cur.get("meta", {}).get("clustered_by") == ccols
            base_v = None
            if not already:
                _tail_ok = {
                    "append", "add_constraint", "drop_constraint",
                    "add_column", "sync_identity",
                    # metadata-only: cannot touch cluster keys
                }
                for i in range(cur["version"], -1, -1):
                    try:
                        m = self._read_manifest(i)
                    except FileNotFoundError:
                        break  # metadata horizon: full rewrite path
                    if m.get("meta", {}).get("clustered_by") == ccols:
                        base_v = i
                        break
                    if m.get("op") not in _tail_ok:
                        break  # a rewrite invalidated the provenance
            if already:
                pass
            elif base_v is not None:
                v = self.compact_tail(base_v, spark, **ckw)
                if v is not None:
                    actions.append(
                        {
                            "action": "compact_clustered_tail",
                            "version": v,
                            "reason": (
                                f"appends since the v{base_v} "
                                f"clustered base — tail-only rewrite"
                            ),
                        }
                    )
            else:
                ovs = {
                    c: self._clustering_overlap(cur, c) for c in ccols
                }
                known = {
                    c: o for c, o in ovs.items() if o is not None
                }
                if known and max(known.values()) >= overlap_threshold:
                    worst = max(known, key=known.get)
                    v = self.compact(spark, **ckw)
                    actions.append(
                        {
                            "action": cact,
                            "version": v,
                            "reason": (
                                f"{known[worst]:.0%} of file pairs "
                                f"overlap on '{worst}' (threshold "
                                f"{overlap_threshold:.0%})"
                            ),
                        }
                    )
        cur = self._read_manifest()
        # when a clustered layout is in force (head meta carries the
        # provenance), the PLAIN rewrites are superseded: a bin-pack
        # or full compact would rewrite UNCLUSTERED, stripping the
        # provenance and ping-ponging with next night's re-cluster.
        # Accretion on a clustered table is handled by the tail
        # rewrite above (dirs stay bounded at base + one tail).
        head_clustered = bool(
            cluster_by and cur.get("meta", {}).get("clustered_by")
        )
        small = [
            d
            for d in cur["data_dirs"]
            if self._tree_bytes(d) < small_bytes
        ]
        if len(small) >= 2 and not head_clustered:
            v = self.compact_bins(spark, small_bytes)
            if v is not None:
                actions.append(
                    {
                        "action": "compact_bins",
                        "version": v,
                        "reason": (
                            f"{len(small)} commit dirs under "
                            f"{small_bytes} bytes"
                        ),
                    }
                )
        cur = self._read_manifest()
        if len(cur["data_dirs"]) > max_dirs:
            # dir-count pressure: on a clustered layout the
            # consolidating rewrite is CLUSTERED (each tail rewrite
            # adds one dir, so every ~max_dirs nights the layout
            # re-consolidates to one dir — amortized full-rewrite
            # cost, provenance preserved); plain compact otherwise
            if head_clustered:
                v = self.compact(spark, **ckw)
                act = cact
            else:
                v = self.compact(spark)
                act = "compact"
            actions.append(
                {
                    "action": act,
                    "version": v,
                    "reason": (
                        f"{len(cur['data_dirs'])} dirs > max_dirs="
                        f"{max_dirs} after bin-packing"
                    ),
                }
            )
        if self.checkpoint_interval > 0:
            n_manifests = sum(
                1
                for n in os.listdir(self._mdir)
                if _MANIFEST_RE.fullmatch(n)
            )
            if n_manifests > 2 * self.checkpoint_interval:
                self.checkpoint()
                removed = self.clean_metadata()
                if removed:
                    actions.append(
                        {
                            "action": "clean_metadata",
                            "removed": len(removed),
                            "reason": (
                                f"{n_manifests} manifests > 2x "
                                f"checkpoint interval"
                            ),
                        }
                    )
        if vacuum_grace is not None:
            removed = self.vacuum(vacuum_grace)
            if removed:
                actions.append(
                    {
                        "action": "vacuum",
                        "removed": len(removed),
                        "reason": "unreachable data dirs",
                    }
                )
        return actions

    def compact_if_needed(
        self, spark: SparkSession | None = None, max_dirs: int = 16
    ) -> int | None:
        """Compact only when the current snapshot unions more than
        ``max_dirs`` commit dirs — the maintenance hook a nightly
        incremental pipeline calls unconditionally after its append:
        cheap no-op most nights, one rewrite when the union-scan cost
        has actually accreted. Returns the new version, or None if no
        compaction ran."""
        cur = self._read_manifest()
        if len(cur["data_dirs"]) <= max_dirs:
            return None
        return self.compact(spark)

    def delete_keys(
        self,
        keys: DataFrame,
        track_changes: bool = True,
        merge_on_read: bool = False,
    ) -> int:
        """KEY-SET delete (r12 verdict #8 — the GDPR mass-deletion
        shape): remove every row whose values match a row of ``keys``
        (matched on the key frame's column names). Unlike a
        ``delete_where(col.isin([...]))`` predicate, the key set is a
        DATAFRAME — a 10^8-key deletion backlog joins distributed
        (semi/anti join; AQE broadcasts when small) and never
        collects to the driver. Rows with NULL in a key column never
        match (SQL join semantics) — deletion lists don't carry NULL
        identities. Same dir-pruned copy-on-write (default) and
        deletion-vector (``merge_on_read=True``, key-column
        tombstones: every co-keyed row goes, which for an identity
        key is exactly the forget contract) modes as
        :meth:`delete_where`; re-deleting already-absent keys commits
        a no-op (idempotent re-run, the property
        ``operators.compliance.forget_across`` resumes on). One tiny
        agg over the key frame measures its [min, max] per column and
        its size: dirs whose stats miss the bounds are never probed,
        and a key set that fits the broadcast threshold is broadcast
        to the probe and the rewrite instead of shuffled."""
        missing = [c for c in keys.columns if c not in
                   self.read(keys.sparkSession).columns]
        if missing:
            raise ValueError(
                f"delete_keys columns {missing} not in the table schema"
            )
        return self.delete_where(
            None,
            track_changes=track_changes,
            merge_on_read=merge_on_read,
            key_cols=list(keys.columns) if merge_on_read else None,
            keys=keys,
        )

    def delete_where(
        self,
        condition,
        track_changes: bool = True,
        merge_on_read: bool = False,
        key_cols: list[str] | None = None,
        keys: DataFrame | None = None,
    ) -> int:
        """DELETE matching rows. ``condition`` is a Column predicate.
        Conflict retry recomputes against the winner's snapshot.

        Default mode is DIR-PRUNED copy-on-write: a probe job scans
        the snapshot with only the predicate columns materialized
        (Catalyst prunes the rest; the parquet filter pushes down) and
        collects the DISTINCT commit dirs that hold a matching row;
        only those dirs are rewritten with ``NOT condition``, every
        other dir is carried by reference — bytes, paths and skipping
        stats unchanged. A predicate matching nothing rewrites nothing
        (the commit still lands, with an empty change feed, so
        row_changes folds stay seamless).

        ``merge_on_read=True`` is the DELETION-VECTOR mode (Delta DVs /
        Iceberg positional deletes, at row-value granularity scoped to
        immutable commit dirs): the matched rows' distinct values land
        in a ``data/dv-*`` tombstone sidecar and NO data file is
        rewritten at all; ``read`` anti-joins each tombstone set
        against exactly the dirs that existed at delete time (so a row
        re-inserted later is never touched), ``compact`` materializes
        tombstones away, and the manifest records per-dir deleted
        counts so ``row_count`` stays metadata-only. The delete-heavy
        nightly pipeline pays O(matched rows) per delete instead of
        O(touched dirs), trading read-side anti-join cost until the
        next compaction.

        ``key_cols`` (merge-on-read only) is the WIDE-ROW ECONOMY
        (r10 verdict #7): tombstones store only the named key columns
        instead of full row values, so the read-side anti-join
        shuffles a narrow frame and the sidecar stays compact on wide
        tables. The caller asserts the keys are row-identifying within
        the snapshot (the invariant a MERGE-maintained table upholds)
        — with duplicate keys a key tombstone would remove every
        co-keyed row in the scoped dirs, not just the predicate's
        matches. Re-insert safety is unchanged (dir scoping, not
        values, is what protects newer rows). Default None keeps
        full-row tombstones, correct for any table.

        With ``track_changes`` (default) the commit persists the
        removed rows as ``delete`` change rows, so ``row_changes``
        consumers subtract them instead of re-baselining.

        ``keys`` (normally reached via :meth:`delete_keys`) swaps the
        predicate matcher for a DISTRIBUTED semi/anti join against a
        key frame — the same probe/rewrite/tombstone shapes, with the
        match decided by join instead of a Column."""
        spark = _active_spark()
        if (condition is None) == (keys is None):
            raise ValueError("pass exactly one of condition / keys")
        _match, _deleted, bounds = self._dml_matcher(condition, keys)
        if merge_on_read:
            return self._delete_mor(spark, _match, track_changes, key_cols)
        if key_cols:
            raise ValueError(
                "key_cols applies to merge_on_read=True deletes only"
            )

        def _attempt(cur):
            evolved = self._evolution_state(cur["version"])[0]
            dirs = cur["data_dirs"]
            hits = self._mutation_probe(spark, cur, _match, bounds)
            touched = [d for d in dirs if hits.get(d)]
            untouched = [d for d in dirs if not hits.get(d)]
            v = cur["version"] + 1
            snap_schema = self.read(spark, cur["version"]).schema
            new_dirs = list(untouched)
            total = sum(self._logical_dir_rows(cur, u) for u in untouched)
            kept = None
            feed = None
            if touched:
                # DV-applied read: already-tombstoned rows must not be
                # resurrected (or re-reported) by the rewrite
                base = self._read_snapshot_subset(spark, cur, touched)
                if evolved:
                    for f in snap_schema.fields:
                        if f.name not in base.columns:
                            base = base.withColumn(
                                f.name, F.lit(None).cast(f.dataType)
                            )
                base = base.select(*[f.name for f in snap_schema.fields])
                # ONE pass: every touched row is tagged kept ('data')
                # or 'delete', and one write lands the rewritten dir
                # and the delete feed together
                tagged = _deleted(base).select(
                    *base.columns,
                    F.when(F.col("__del"), F.lit("delete"))
                    .otherwise(F.lit("data"))
                    .alias(_CHANGE_TYPE),
                )
                kept = tagged.where(F.col(_CHANGE_TYPE) == "data").drop(
                    _CHANGE_TYPE
                )
                part = self.partition_columns() or None
                if track_changes:
                    d, feed = self._write_commit(tagged, part)
                else:
                    d = self._write_data(kept, part)
                    d = d if self._has_parquet(d) else None
                if d is not None:
                    new_dirs.append(d)
                    total += self._dir_rows(d)
            elif track_changes:
                # nothing matched: the commit still lands with an
                # (empty) feed, so row_changes folds stay seamless
                feed = self._empty_feed()
            if not new_dirs:
                # the predicate emptied the whole snapshot: force one
                # schema-carrying file (plain repartition(1) write — a
                # hive-partitioned writer emits zero files for an
                # empty frame, and an empty/absent dir list bricks
                # every later read with UNABLE_TO_INFER_SCHEMA)
                new_dirs.append(self._write_data(kept.repartition(1)))
            return self._commit(
                new_dirs, "delete", v, num_rows=total, feed=feed, base=cur
            )

        return self._retry_commit(_attempt)

    def _delete_mor(
        self,
        spark: SparkSession,
        match,
        track_changes: bool,
        key_cols: list[str] | None = None,
    ) -> int:
        """Merge-on-read DELETE (see :meth:`delete_where`): writes a
        tombstone sidecar + per-dir deleted counts, rewrites ZERO data
        files. The probe applies EXISTING deletion vectors first, so
        re-deleting an already-deleted row neither double-counts nor
        re-emits a change row. ``match`` is the matcher callable
        delete_where built (predicate where() or key-frame semi
        join)."""

        def _attempt(cur):
            dirs = cur["data_dirs"]
            v = cur["version"] + 1
            tagged = self._read_snapshot_subset(
                spark, cur, dirs, tag_dir=True
            )
            matched = match(tagged)
            matched.persist()
            try:
                per_dir = {
                    r["__dir"]: r["n"]
                    for r in matched.groupBy("__dir")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                n_matched = sum(per_dir.values())
                entry = None
                if per_dir:
                    # key-column tombstones when the caller declares
                    # row-identifying keys; full-row values otherwise —
                    # the read anti-join keys on whatever columns the
                    # sidecar carries, so both shapes share one path
                    tomb = matched.drop("__dir")
                    if key_cols:
                        tomb = tomb.select(*key_cols)
                    dv_dir = self._write_dv(tomb.distinct())
                    entry = {"dir": dv_dir, "deleted": per_dir}
                    dv_schema = self._read_schema(
                        dv_dir, self._dir_stats_full(dv_dir)[2]
                    )
                    if dv_schema is not None:
                        entry["schema"] = dv_schema
                feed = None
                if track_changes and per_dir:
                    # every row a change, none data: no data dir comes out
                    feed = self._write_commit(
                        matched.drop("__dir").withColumn(
                            _CHANGE_TYPE, F.lit("delete")
                        ),
                        None,
                    )[1]
                elif track_changes:
                    feed = self._empty_feed()
                total = self.row_count(cur["version"]) - n_matched
                return self._commit(
                    dirs,
                    "delete_mor",
                    v,
                    num_rows=total,
                    feed=feed,
                    base=cur,
                    dv=entry,
                )
            finally:
                matched.unpersist()

        return self._retry_commit(_attempt)

    def update_where(
        self,
        assignments: dict,
        condition,
        track_changes: bool = True,
    ) -> int:
        """Delta ``UPDATE``: SET ``assignments`` (``{col: Column or
        SQL expr}``) on the rows matching ``condition`` — the
        column-subset mutation MERGE deliberately refuses (merge
        updates carry full rows). DIR-PRUNED copy-on-write like
        :meth:`delete_where`: a probe collects the commit dirs holding
        a matching row, ONLY those dirs rewrite (deletion vectors
        applied first, so tombstoned rows are neither updated nor
        resurrected), untouched dirs are carried by reference. SQL
        semantics: a row whose condition evaluates NULL is left
        unchanged.

        Invariants hold like any write path: CHECK constraints are
        re-validated on the REWRITTEN rows pre-publish (an update that
        would break a constraint is refused with the table unchanged);
        assigning a GENERATED column directly is refused, and updating
        a generated column's SOURCE recomputes the generated value for
        the updated rows. With ``track_changes`` the commit persists
        ``update_preimage``/``update_postimage`` change rows, so
        ``row_changes``/``table_changes`` consumers fold it like a
        MERGE's update.

        Scale: O(touched dirs) rewrite + one probe scan with only the
        predicate columns materialized; at 100 TB an UPDATE touching
        one ingest day rewrites that day's dirs, never the corpus."""
        spark = _active_spark()
        gen = self.generated_columns()
        ident = self.identity_columns()
        for col in assignments:
            if col in gen:
                raise ValueError(
                    f"column '{col}' is GENERATED ({gen[col]}) — its "
                    f"value is derived; update the source columns"
                )
            if col in ident:
                raise ValueError(
                    f"column '{col}' is GENERATED ALWAYS AS IDENTITY "
                    f"— its values are system-assigned and immutable"
                )
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        # generated columns whose definition mentions an assigned
        # source: recompute for updated rows
        regen = {
            g: d
            for g, d in gen.items()
            if any(
                re.search(
                    rf"(?<![A-Za-z0-9_]){re.escape(c)}(?![A-Za-z0-9_])", d
                )
                for c in assignments
            )
        }

        def _attempt(cur):
            evolved = self._evolution_state(cur["version"])[0]
            dirs = cur["data_dirs"]
            snap_schema = self.read(spark, cur["version"]).schema
            unknown = [c for c in assignments if c not in snap_schema.names]
            if unknown:
                raise ValueError(
                    f"UPDATE SET targets not in schema: {unknown}"
                )
            hits = self._mutation_probe(
                spark, cur, self._dml_matcher(condition, None)[0]
            )
            touched = [d for d in dirs if hits.get(d)]
            untouched = [d for d in dirs if not hits.get(d)]
            v = cur["version"] + 1
            new_dirs = list(untouched)
            total = sum(self._logical_dir_rows(cur, u) for u in untouched)
            updated = None
            feed = None
            if touched:
                base = self._read_snapshot_subset(spark, cur, touched)
                if evolved:
                    for f in snap_schema.fields:
                        if f.name not in base.columns:
                            base = base.withColumn(
                                f.name, F.lit(None).cast(f.dataType)
                            )
                base = base.select(*[f.name for f in snap_schema.fields])
                # Materialize the predicate ON THE PRE-UPDATE frame once
                # (r12 advice, high): re-resolving `condition` against the
                # post-assignment frame made a SET that touches a condition
                # column (SET status='X' WHERE status='A') gate the regen,
                # the constraint check, and the CDF postimage on the NEW
                # values — committing constraint violations and writing
                # preimage rows with no matching postimage. Delta's UPDATE
                # evaluates the predicate on pre-images only. NULL
                # condition -> __fired NULL -> when() falls through and
                # where() excludes: row unchanged, same as before.
                cond_col = (
                    F.expr(condition)
                    if isinstance(condition, str)
                    else condition
                )
                base = base.withColumn("__fired", cond_col)
                fire = F.col("__fired")
                updated = base.select(
                    *[
                        (
                            F.when(
                                fire,
                                exprs[f.name].cast(f.dataType),
                            )
                            .otherwise(F.col(f.name))
                            .alias(f.name)
                            if f.name in exprs
                            else F.col(f.name)
                        )
                        for f in snap_schema.fields
                    ],
                    fire.alias("__fired"),
                )
                for g, d in regen.items():
                    # regen RECOMPUTES from the assigned (new) source
                    # values by design; only the gate is pre-image.
                    updated = updated.withColumn(
                        g,
                        F.when(fire, F.expr(d)).otherwise(F.col(g)),
                    )
                self._enforce_constraints(
                    updated.where(fire).drop("__fired"),
                    self.constraints(cur["version"]),
                )
                part = self.partition_columns() or None
                if track_changes:
                    # ONE pass: every row is data, fired rows are also
                    # post-images, and their pre-update values (the
                    # same scan, filtered) are the pre-images
                    tagged = updated.withColumn(
                        _CHANGE_TYPE,
                        F.explode(
                            F.array_compact(
                                F.array(
                                    F.lit("data"),
                                    F.when(fire, F.lit("update_postimage")),
                                )
                            )
                        ),
                    ).unionByName(
                        base.where(fire).withColumn(
                            _CHANGE_TYPE, F.lit("update_preimage")
                        )
                    ).drop("__fired")
                    d, feed = self._write_commit(tagged, part)
                else:
                    d = self._write_data(updated.drop("__fired"), part)
                    d = d if self._has_parquet(d) else None
                if d is not None:
                    new_dirs.append(d)
                    total += self._dir_rows(d)
            elif track_changes:
                feed = self._empty_feed()
            if not new_dirs:
                new_dirs.append(
                    self._write_data(updated.drop("__fired").repartition(1))
                )
            return self._commit(
                new_dirs, "update", v, num_rows=total, feed=feed, base=cur
            )

        return self._retry_commit(_attempt)

    def add_column(self, name: str, dtype) -> int:
        """ADD a nullable column as a METADATA-ONLY commit (the Delta
        / Iceberg ``ALTER TABLE ... ADD COLUMN`` shape — r12 verdict
        #1): no data file is touched. The commit records the widened
        snapshot schema (``schema_json``), so every read conforms each
        dir by cast and NULL-FILLS the new column for all pre-add
        files — the same machinery type-widening appends use. Time
        travel below the add does not show the column; appends after
        it must carry it (or pass ``allow_evolution=True``); re-adding
        a RETIRED (dropped) name is refused like everywhere else, and
        a name collision (current or pre-rename physical name) is
        refused. ``dtype`` is a DDL type string (``"bigint"``,
        ``"array<double>"``) or a ``DataType``.

        Scale: O(1) — one manifest write; carried stats/blooms/file
        stats ride along untouched (the new column has no stats until
        a batch actually writes it)."""
        from pyspark.sql.types import DataType, StructField, StructType

        spark = _active_spark()
        if isinstance(dtype, DataType):
            dt = dtype
        else:
            dt = StructType.fromDDL(f"`{name}` {dtype}").fields[0].dataType

        def _attempt(cur):
            snap = self.read(spark, cur["version"]).schema
            if name in snap.fieldNames():
                raise ValueError(f"column '{name}' already exists")
            if name in self._dropped_columns(cur["version"]):
                raise ValueError(
                    f"column name '{name}' was dropped and is retired "
                    f"(re-adding would resurrect the old values from "
                    f"pre-drop files) — use a new name"
                )
            target = StructType(
                list(snap.fields) + [StructField(name, dt, True)]
            )
            m = {"schema_evolved": True, "schema_json": target.json()}
            return self._commit_metadata(cur, "add_column", m)

        return self._retry_commit(_attempt)

    def rename_column(self, old: str, new: str) -> int:
        """RENAME a column as a METADATA-ONLY commit (r10 verdict #3 —
        the Iceberg field-id idea, realized as a manifest-carried
        name-mapping): no data file is touched; every read consults
        the cumulative mapping and surfaces pre-rename files' old
        physical column under the new logical name with full history.
        Appends/merges after the rename use the new name (an old-name
        batch fails the drift guard loudly); time travel BELOW the
        rename keeps the old name (the mapping is walked only up to
        the read version); ``row_changes`` across the rename conforms;
        ``changes`` (appends-only) raises at the rename commit like
        any non-append — re-baseline. Carried dir stats and any
        recorded widened schema are re-keyed to the new name so
        stats pruning and the cast-conforming read keep working.
        Renaming a hive partition column is refused (the name is baked
        into every data path)."""
        from pyspark.sql.types import StructType

        spark = _active_spark()
        if old in self.partition_columns():
            raise ValueError(
                f"cannot rename hive partition column '{old}' — its "
                f"name is baked into every data path"
            )

        def _attempt(cur):
            names = self.read(spark, cur["version"]).columns
            if old not in names:
                raise ValueError(f"no column '{old}' to rename")
            if new in names:
                raise ValueError(f"column '{new}' already exists")
            if new in self._dropped_columns(cur["version"]):
                raise ValueError(
                    f"column name '{new}' was dropped and is retired"
                )
            refs = self._constraint_refs(old, cur["version"])
            if refs:
                raise ValueError(
                    f"cannot rename '{old}': referenced by constraint"
                    f"(s) {refs} — drop_constraint first, re-add "
                    f"against the new name"
                )
            grefs = self._generated_refs(old)
            if grefs:
                raise ValueError(
                    f"cannot rename '{old}': involved in generated "
                    f"column(s) {grefs}"
                )
            m: dict = {"rename": {"from": old, "to": new}}
            wjson = self._widened_schema(cur["version"])
            if wjson is not None:
                # keep the cast-conforming read's target in the new
                # name space (it is applied AFTER the rename conform)
                target = StructType.fromJson(json.loads(wjson))
                m["schema_json"] = StructType(
                    [
                        type(f)(new, f.dataType, True)
                        if f.name == old
                        else f
                        for f in target.fields
                    ]
                ).json()
            # the one commit that edits carried records: stats re-key
            # to the new name
            carry = {
                d: {new if c == old else c: v for c, v in st.items()}
                for d, st in (cur.get("dir_stats") or {}).items()
            }
            carry_f = {
                d: {
                    rel: {
                        "rows": rec.get("rows"),
                        "cols": {
                            new if c == old else c: v
                            for c, v in rec.get("cols", {}).items()
                        },
                    }
                    for rel, rec in fs.items()
                }
                for d, fs in (cur.get("file_stats") or {}).items()
            }
            return self._commit_metadata(
                cur,
                "rename",
                m,
                base={**cur, "dir_stats": carry, "file_stats": carry_f},
            )

        return self._retry_commit(_attempt)

    def drop_column(self, name: str) -> int:
        """DROP a column as a METADATA-ONLY commit (the rename's
        sibling): no file is touched; every read projects the column
        out of pre-drop files, time travel below the drop still shows
        it, and the NAME IS RETIRED — an append/merge/rename
        re-introducing it is refused, because with files never
        rewritten a re-added name would resurrect the old values
        through the schema-merging read. (Iceberg re-adds under a new
        field id; a manifest NAME-mapping has no second id space, so
        retirement is the sound contract.) Partition columns and the
        last remaining column are refused."""
        spark = _active_spark()
        if name in self.partition_columns():
            raise ValueError(
                f"cannot drop hive partition column '{name}' — its "
                f"name is baked into every data path"
            )
        refs = self._constraint_refs(name)
        if refs:
            raise ValueError(
                f"cannot drop '{name}': referenced by constraint(s) "
                f"{refs} — drop_constraint first"
            )
        grefs = self._generated_refs(name)
        if grefs:
            raise ValueError(
                f"cannot drop '{name}': involved in generated "
                f"column(s) {grefs}"
            )

        def _attempt(cur):
            names = self.read(spark, cur["version"]).columns
            if name not in names:
                raise ValueError(f"no column '{name}' to drop")
            if len(names) == 1:
                raise ValueError("cannot drop the last column")
            # live deletion vectors that CONTAIN the column would lose
            # anti-join selectivity after the drop (two rows differing
            # only in the dropped column collapse — the survivor would
            # be wrongly deleted); materialize them first. Time travel
            # is unaffected either way (the drop set is walked only up
            # to the read version).
            import pyarrow.parquet as pq

            for e in cur.get("dvs", []):
                files = [
                    os.path.join(r, f)
                    for r, _d, fs in os.walk(e["dir"])
                    for f in fs
                    if f.endswith(".parquet")
                ]
                if files and name in set(
                    pq.ParquetFile(files[0]).schema_arrow.names
                ):
                    raise ValueError(
                        f"cannot drop '{name}': live deletion vectors "
                        f"key on it — materialize them first "
                        f"(optimize() / compact())"
                    )
            m: dict = {"drop": name}
            wjson = self._widened_schema(cur["version"])
            if wjson is not None:
                from pyspark.sql.types import StructType

                target = StructType.fromJson(json.loads(wjson))
                m["schema_json"] = StructType(
                    [f for f in target.fields if f.name != name]
                ).json()
            return self._commit_metadata(cur, "drop", m)

        return self._retry_commit(_attempt)

    def snapshot_diff(
        self, spark: SparkSession, since_version: int,
        version: int | None = None,
    ) -> DataFrame:
        """Row-level DIFF between two snapshots by CONTENT (full-row
        anti-joins), shaped like the change feed: ``insert`` rows
        exist only in the newer snapshot, ``delete`` rows only in the
        older. This is the RE-BASELINE tool for consumers crossing a
        feed barrier (overwrite / restore / track_changes=False /
        partition evolution): ``row_changes`` raises there because no
        row lineage exists — the diff recovers the NET effect at the
        cost of reading both snapshots (two scans + one shuffle),
        which is exactly the honest price of a lineage gap; it is not
        a substitute for the feed on tables where commits carry
        lineage. Updates surface as delete+insert (content diff has
        no key knowledge).

        REACH FOR THE FEED FIRST: ``row_changes``/``changes()`` (or
        the registered ``table_changes`` source) read only the
        commits in range — at 100 TB that is last night's files; this
        method reads the WHOLE TABLE TWICE. Use snapshot_diff only
        when the feed raises at a re-baseline barrier, to recover the
        net effect across it, then resume the feed from the barrier
        version."""
        upto = self.latest_version() if version is None else version
        old_df = self.read(spark, since_version)
        new_df = self.read(spark, upto)
        # The two snapshots may straddle a schema evolution (additive
        # append, overwrite-with-new-schema) — exactly the barriers this
        # method exists to recover. Align BOTH frames to the union of
        # columns, null-filling what each side lacks, so the set ops see
        # identical column counts; a null-filled column diffs correctly
        # (old rows carry NULL there, evolved reads null-fill the same).
        new_types = dict(new_df.dtypes)
        old_types = dict(old_df.dtypes)
        union_cols = new_df.columns + [
            c for c in old_df.columns if c not in new_types
        ]

        def _conform(df, have):
            return df.select(*[
                F.col(c) if c in have
                else F.lit(None).cast(new_types.get(c) or old_types[c])
                .alias(c)
                for c in union_cols
            ])

        old_al, new_al = _conform(old_df, old_types), _conform(new_df, new_types)
        ins = new_al.exceptAll(old_al) \
            .withColumn("_change_type", F.lit("insert"))
        dels = old_al.exceptAll(new_al) \
            .withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    def version_as_of(self, ts: float) -> int:
        """The LAST version committed at or before ``ts`` (epoch
        seconds). Commit stamps are monotone (each committer re-reads
        its predecessor before stamping). The reverse scan walks the
        manifest TAIL and then the newest checkpoint's commit summary
        — bounded manifest opens on a long history."""
        v = self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        ckpt = self._latest_checkpoint(v)
        start = ckpt["version"] + 1 if ckpt else 0
        earliest = None
        for i in range(v, start - 1, -1):
            stamp = self._read_manifest(i).get("committed_at", 0.0)
            earliest = stamp
            if stamp <= ts:
                return i
        if ckpt:
            for c in reversed(ckpt["commits"]):
                stamp = c.get("committed_at", 0.0)
                earliest = stamp
                if stamp <= ts:
                    return c["version"]
        raise LookupError(
            f"no version committed at or before {ts} "
            f"(earliest is {earliest})"
        )

    def read_as_of(self, spark: SparkSession, ts: float) -> DataFrame:
        """Time travel by wall clock: the snapshot of
        :meth:`version_as_of`."""
        return self.read(spark, self.version_as_of(ts))

    def restore_as_of(self, ts: float) -> int:
        """RESTORE by wall clock (Delta RESTORE TIMESTAMP AS OF): a
        new zero-copy commit whose dir list is the
        :meth:`version_as_of` snapshot's."""
        return self.restore(self.version_as_of(ts))

    def _evolution_state(self, upto: int) -> tuple:
        """ALL schema-evolution facts at or below ``upto`` in ONE
        checkpoint load + ONE manifest-tail pass: (evolved flag,
        newest widened schema_json, rename mapping {logical: [older
        names, newest first]}, dropped-name set, constraint dict
        {name: check expr}, partition layout or None if never
        declared). Every read needs several of these — walking the
        tail once per read instead of once per fact keeps manifest
        opens O(interval), not O(facts x interval)."""
        ckpt = self._latest_checkpoint(upto)
        evolved = bool(ckpt and ckpt.get("schema_evolved"))
        schema_json = ckpt.get("schema_json") if ckpt else None
        events = list(ckpt.get("renames") or []) if ckpt else []
        drops = set(ckpt.get("drops") or []) if ckpt else set()
        cons = dict(ckpt.get("constraints") or {}) if ckpt else {}
        part_by = ckpt.get("partition_by") if ckpt else None
        start = ckpt["version"] + 1 if ckpt else 0
        for i in range(start, upto + 1):
            meta = self._read_manifest(i).get("meta", {})
            evolved = evolved or bool(meta.get("schema_evolved"))
            if meta.get("schema_json"):
                schema_json = meta["schema_json"]
            if meta.get("rename"):
                events.append(meta["rename"])
            if meta.get("drop"):
                drops.add(meta["drop"])
            if meta.get("constraints"):
                cons = dict(meta["constraints"])  # create-time full set
            if meta.get("constraint_add"):
                ev = meta["constraint_add"]
                cons[ev["name"]] = ev["expr"]
            if meta.get("constraint_drop"):
                cons.pop(meta["constraint_drop"], None)
            if meta.get("clone_state"):
                # a shallow clone's v0 INITIALIZES the evolution facts
                # to the source's resolved state (renames re-expressed
                # as the event chain, so the fold below is uniform)
                cs = meta["clone_state"]
                evolved = bool(cs.get("schema_evolved"))
                schema_json = cs.get("schema_json")
                events = list(cs.get("renames") or [])
                drops = set(cs.get("drops") or [])
                cons = dict(cs.get("constraints") or {})
            if meta.get("partition_by") is not None:
                part_by = list(meta["partition_by"])  # create/clone v0
            if meta.get("partition_by_new") is not None:
                part_by = list(meta["partition_by_new"])  # evolution
        mapping: dict[str, list[str]] = {}
        for ev in events:
            mapping[ev["to"]] = [ev["from"]] + mapping.pop(ev["from"], [])
        return evolved, schema_json, mapping, drops, cons, part_by

    def _widened_schema(self, upto: int) -> str | None:
        """The newest recorded widened-snapshot schema (StructType
        json) at or below ``upto``. None until a widening append
        happens; reads stay on the untouched fast paths then."""
        return self._evolution_state(upto)[1]

    def _schema_evolved(self, upto: int) -> bool:
        """Has any commit <= upto evolved the schema? One
        checkpoint-bounded tail walk via _evolution_state."""
        return self._evolution_state(upto)[0]

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        # _read_snapshot_subset handles: mergeSchema when any commit
        # evolved the schema (pre-evolution files surface the new
        # columns as NULL); hive-partitioned commit dirs as separate
        # partition roots (per-dir union — Spark refuses one multi-path
        # read via CONFLICTING_DIRECTORY_STRUCTURES — with partition
        # predicates still pushing into every branch); and deletion
        # vectors (anti-join scoped to the dirs each tombstone set was
        # committed against).
        m = self._read_manifest(version)
        return self._read_snapshot_subset(spark, m, m["data_dirs"])

    def row_count(self, version: int | None = None) -> int:
        """Snapshot row count from COMMIT METADATA alone — no Spark
        job, no file scan (beyond a footer-walk fallback for commits
        predating the stats). Walks back from ``version`` summing
        append batches until the nearest full-rewrite commit (whose
        num_rows is the whole snapshot), consulting checkpoint
        summaries where clean_metadata dropped manifests — O(commits
        since last rewrite), the Delta commit-stats read path."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        ckpt = self._latest_checkpoint(v)
        summaries = (
            {c["version"]: c for c in ckpt["commits"]} if ckpt else {}
        )
        total = 0
        for i in range(v, -1, -1):
            try:
                m = self._read_manifest(i)
            except FileNotFoundError:
                m = summaries.get(i)
                if m is None:
                    raise
            rows = m.get("num_rows")
            if rows is None:  # pre-stats commit: footer-walk its dirs
                dirs = m.get("data_dirs")
                if dirs is None:
                    raise LookupError(
                        f"v{i} has neither num_rows nor data_dirs "
                        f"(cleaned summary of a pre-stats commit)"
                    )
                if m.get("op") == "append":
                    rows = self._dir_rows(dirs[-1])
                else:
                    total += sum(self._dir_rows(d) for d in dirs)
                    return total
            total += rows
            if m.get("op") != "append":  # full-rewrite base reached
                return total
        return total

    def changes(
        self,
        spark: SparkSession,
        since_version: int,
        version: int | None = None,
    ) -> DataFrame:
        """Rows ADDED between ``since_version`` (exclusive) and
        ``version`` (inclusive; default latest) — the incremental-read
        face of the table (Delta "change data feed" restricted to
        appends). Reads ONLY the commit dirs that joined the manifest
        in the range: a nightly consumer of a 10k-commit 100 TB table
        scans last night's files, never the corpus.

        Valid only while every commit in the range is an ``append`` —
        a copy-on-write op (merge/delete/compact/overwrite) rewrites
        dirs, so the dir-list diff stops meaning "new rows"; the range
        guard raises then (consumers should re-baseline from the
        post-rewrite snapshot). The guard walks the manifest tail /
        checkpoint summaries, so it stays O(range), and the endpoint
        manifests must still exist (``clean_metadata`` may end
        incremental reads below the newest checkpoint, like time
        travel)."""
        upto = self.latest_version() if version is None else version
        if upto is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        if since_version > upto:
            raise ValueError(
                f"since_version {since_version} is beyond v{upto}"
            )
        cur = self._read_manifest(upto)
        if since_version == upto:
            return spark.createDataFrame(
                [], self.read(spark, upto).schema
            )
        # range guard: ops for (since, upto] — manifests first, the
        # newest checkpoint's commit summaries as the fallback when
        # clean_metadata dropped a tail manifest
        ckpt = self._latest_checkpoint(upto)
        summaries = (
            {c["version"]: c.get("op") for c in ckpt["commits"]}
            if ckpt
            else {}
        )
        for i in range(since_version + 1, upto + 1):
            try:
                op = self._read_manifest(i).get("op")
            except FileNotFoundError:
                op = summaries.get(i)
                if op is None:
                    raise
            if op not in ("append",):
                raise ValueError(
                    f"changes({since_version}, {upto}) crosses a "
                    f"'{op}' commit at v{i}: copy-on-write rewrites "
                    f"break the appended-dirs diff — re-baseline from "
                    f"the v{i} snapshot"
                )
        base_dirs = set(self._read_manifest(since_version)["data_dirs"])
        new_dirs = [d for d in cur["data_dirs"] if d not in base_dirs]
        if not new_dirs:
            return spark.createDataFrame(
                [], self.read(spark, upto).schema
            )
        evolved = self._schema_evolved(upto)
        schemas = self._dir_schemas(cur)
        if len(new_dirs) == 1 or not self.partition_columns():
            return self._scan_paths(spark, new_dirs, schemas, evolved)
        return self._union_dirs(spark, new_dirs, evolved, schemas=schemas)

    def ops_in_range(self, since_version: int, upto: int) -> list[str]:
        """Commit ops for ``(since_version, upto]`` — manifests first,
        the newest checkpoint's commit summaries as the fallback when
        clean_metadata dropped a tail manifest. Lets maintained-view
        consumers pick a fold strategy (pure-insert vs signed fold vs
        affected-key recompute) from METADATA alone, no Spark job."""
        ckpt = self._latest_checkpoint(upto)
        summaries = (
            {c["version"]: c.get("op") for c in ckpt["commits"]}
            if ckpt
            else {}
        )
        ops = []
        for i in range(since_version + 1, upto + 1):
            try:
                op = self._read_manifest(i).get("op")
            except FileNotFoundError:
                op = summaries.get(i)
                if op is None:
                    raise
            ops.append(op)
        return ops

    def row_changes(
        self,
        spark: SparkSession,
        since_version: int,
        version: int | None = None,
    ) -> DataFrame:
        """Typed ROW-LEVEL change feed between ``since_version``
        (exclusive) and ``version`` (inclusive; default latest) — the
        Delta CDF shape. Schema = data columns + ``_change_type``
        (``insert`` / ``update_preimage`` / ``update_postimage`` /
        ``delete``) + ``_commit_version`` (the committing version).

        Unlike :meth:`changes` (appends only), this survives
        copy-on-write rewrites: ``merge``/``delete_where`` commits
        replay from their persisted ``cdf-*`` dir, ``compact``/
        ``compact_bins`` are row-preserving and contribute nothing,
        and appends read just the appended dir with an ``insert``
        literal — so a consumer folds exactly the commits' deltas and
        NEVER rescans the corpus. Additive folds treat
        insert/update_postimage as +row and update_preimage/delete as
        -row; replaying the feed onto the ``since_version`` snapshot
        (latest change per key, drop deletes) reproduces the
        ``version`` snapshot.

        Re-baseline barriers that remain: ``overwrite`` (a blind
        replace carries no row lineage), a merge/delete committed with
        ``track_changes=False``, and ranges whose manifests
        ``clean_metadata`` dropped — all raise ``ValueError`` telling
        the consumer to re-baseline, exactly like :meth:`changes`.
        ``vacuum`` keeps a commit's cdf dir alive as long as its
        manifest exists (feed retention rides metadata retention)."""
        upto = self.latest_version() if version is None else version
        if upto is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        if since_version > upto:
            raise ValueError(
                f"since_version {since_version} is beyond v{upto}"
            )
        from pyspark.sql.types import LongType, StringType, StructField

        def _empty() -> DataFrame:
            schema = self.read(spark, upto).schema
            schema = schema.add(StructField("_change_type", StringType()))
            schema = schema.add(
                StructField("_commit_version", LongType())
            )
            return spark.createDataFrame([], schema)

        if since_version == upto:
            return _empty()
        evolved, _wj, renames, drops, _cons, _pby = self._evolution_state(upto)
        try:
            prev_dirs = set(
                self._read_manifest(since_version)["data_dirs"]
            )
        except FileNotFoundError:
            raise ValueError(
                f"row_changes({since_version}, {upto}): the "
                f"since_version manifest was removed by clean_metadata "
                f"— re-baseline from a current snapshot"
            ) from None
        frames: list[DataFrame] = []
        for i in range(since_version + 1, upto + 1):
            try:
                m = self._read_manifest(i)
            except FileNotFoundError:
                raise ValueError(
                    f"row_changes({since_version}, {upto}): manifest "
                    f"v{i} was removed by clean_metadata — re-baseline "
                    f"from a current snapshot"
                ) from None
            op = m.get("op")
            dirs = m["data_dirs"]
            if op in ("append", "create"):
                for d in dirs:
                    if d not in prev_dirs:
                        if not os.path.isdir(d):
                            # vacuum reclaimed a compacted-away append
                            # dir (feed history past vacuum ends, like
                            # Delta CDC past VACUUM retention)
                            raise ValueError(
                                f"row_changes({since_version}, {upto}):"
                                f" v{i}'s appended dir was vacuumed — "
                                f"re-baseline from a current snapshot"
                            )
                        scan = self._read_dir(
                            spark, d, None, evolved,
                            self._dir_schemas(m).get(d),
                        )
                        frames.append(
                            self._apply_renames(scan, renames, drops)
                            .withColumn("_change_type", F.lit("insert"))
                            .withColumn(
                                "_commit_version",
                                F.lit(i).cast("long"),
                            )
                        )
            elif op in (
                "compact", "compact_bins", "rename", "drop",
                "add_constraint", "drop_constraint", "add_column",
                "sync_identity",
            ):
                pass  # row-preserving rewrite / metadata-only rename
                # or drop: the feed is unaffected (pre-rename change
                # files conform to the current names via the mapping;
                # dropped columns project out)
            elif op in ("merge", "delete", "delete_mor", "update") and m.get("cdf_dir"):
                scan = self._read_feed(spark, m, evolved)
                if scan is not None:
                    frames.append(
                        self._apply_renames(scan, renames, drops).withColumn(
                            "_commit_version", F.lit(i).cast("long")
                        )
                    )
            else:
                raise ValueError(
                    f"row_changes({since_version}, {upto}) crosses a "
                    f"'{op}' commit at v{i} with no change feed "
                    f"(overwrite, or track_changes=False) — re-baseline "
                    f"from the v{i} snapshot"
                )
            prev_dirs = set(dirs)
        if not frames:
            return _empty()
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=evolved)
        return out

    def _read_feed(
        self, spark: SparkSession, m: dict, evolved: bool
    ) -> DataFrame | None:
        """The change rows one commit's manifest ``m`` persisted, data
        columns then ``_change_type``; None for an empty feed. Reads
        both layouts: a typed dir (``_change_type=<t>/`` partitions,
        schema recorded in the manifest, so no inference job) and the
        flat ``cdf-*`` dirs older commits wrote (``_change_type`` a
        file column; schema inferred)."""
        cdf, schema = m["cdf_dir"], m.get("cdf_schema")
        if schema is None and not self._has_parquet(cdf):
            return None
        scan = self._read_dir(
            spark, cdf, None, evolved, _schema_of(schema) if schema else None
        )
        # partition discovery puts the tag before hive columns
        return scan.select(
            *[c for c in scan.columns if c != _CHANGE_TYPE], _CHANGE_TYPE
        )

    @staticmethod
    def _tree_mtime(path: str) -> float:
        """Newest mtime anywhere under ``path`` (the dir itself, every
        subdir, every file). The in-flight-writer guard must use this,
        not the top-level dir mtime: a hive-partitioned write lands
        files in partition SUBDIRECTORIES (and Spark's _temporary
        staging), so a long-running partitioned write leaves the top
        dir's mtime stale while fresh activity continues below it."""
        try:
            newest = os.path.getmtime(path)
        except OSError:
            return 0.0
        for root, dirs, files in os.walk(path):
            for n in dirs + files:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(root, n))
                    )
                except OSError:
                    pass  # racing writer moved/removed it — keep max
        return newest

    def vacuum(
        self, grace_seconds: float = 0.0, dry_run: bool = False
    ) -> list[str]:
        """Drop data dirs unreachable from the LATEST version: ends
        time travel for older versions and sweeps dirs abandoned by
        crashed or commit-losing writers. Returns removed dirs.
        ``dry_run=True`` returns what WOULD be removed without
        touching a byte (the Delta VACUUM DRY RUN shape) — the audit
        an operator runs before ending time travel.

        ``grace_seconds`` is the in-flight-writer guard (the Delta
        VACUUM retention idea): dirs with write activity ANYWHERE in
        their tree within the window are kept even if unreachable,
        because an active writer's not-yet-committed dir is
        indistinguishable from an orphan. Default 0 keeps the
        historical offline-maintenance semantics; pass e.g. 3600 when
        vacuuming a table other jobs may be writing.

        Also sweeps ``*.tmp-*`` crash debris in ``_manifests`` older
        than the grace window: a writer that died between writing the
        manifest tmp file and os.link leaves the tmp behind (the
        finally-unlink never ran), and nothing else ever removes it."""
        import shutil
        import time

        live = set(self._read_manifest()["data_dirs"])
        # change-feed retention rides metadata retention: a commit's
        # cdf dir stays alive while its manifest (or the checkpoint
        # carrying it) exists, so row_changes() over any still-listed
        # range keeps working after a vacuum; clean_metadata dropping
        # old manifests is what releases their feed dirs.
        for name in os.listdir(self._mdir):
            is_txn = bool(_TXN_RE.fullmatch(name))
            if not (
                _MANIFEST_RE.fullmatch(name)
                or _CKPT_RE.fullmatch(name)
                or is_txn
            ):
                continue
            try:
                with open(os.path.join(self._mdir, name)) as f:
                    doc = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue
            m = doc.get("manifest", doc)  # ckpt carries a full manifest
            if is_txn:
                # a PREPARED transaction's dirs are reachable the
                # instant its coordinator commits — never sweep them
                live.update(m.get("data_dirs", []))
            if m.get("cdf_dir"):
                live.add(m["cdf_dir"])
            for e in m.get("dvs", []):
                # tombstone sidecars ride metadata retention like cdf
                # dirs (and the LATEST snapshot's reads depend on them)
                live.add(e["dir"])
        data_root = os.path.join(self.root, "data")
        cutoff = time.time() - grace_seconds
        removed = []
        for name in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, name)
            if full in live:
                continue
            if grace_seconds > 0 and self._tree_mtime(full) > cutoff:
                continue  # possibly an in-flight writer's dir
            if not dry_run:
                shutil.rmtree(full)
            removed.append(full)
        for name in sorted(os.listdir(self._mdir)):
            if ".tmp-" not in name:
                continue
            full = os.path.join(self._mdir, name)
            try:
                if grace_seconds > 0 and os.path.getmtime(full) > cutoff:
                    continue  # publisher may still be mid-link
                if not dry_run:
                    os.unlink(full)
                removed.append(full)
            except OSError:
                pass  # already gone (racing publisher's finally-unlink)
        return removed

    def detail(self) -> dict:
        """One metadata-only summary of the live table (the Delta
        DESCRIBE DETAIL shape): version, op, row count, dir/file/byte
        footprint of the CURRENT snapshot, layout, declared keys and
        invariants, evolution facts, and live-DV pressure. No Spark
        job — manifests and os.walks only."""
        cur = self._read_manifest()
        evolved, wjson, renames, drops, cons, _pby = (
            self._evolution_state(cur["version"])
        )
        n_files = 0
        n_bytes = 0
        for d in cur["data_dirs"]:
            for r, _dd, fs in os.walk(d):
                for f in fs:
                    if f.endswith(".parquet"):
                        n_files += 1
                        try:
                            n_bytes += os.path.getsize(
                                os.path.join(r, f)
                            )
                        except OSError:
                            pass
        dvs = cur.get("dvs", [])
        return {
            "root": self.root,
            "version": cur["version"],
            "op": cur.get("op"),
            "committed_at": cur.get("committed_at"),
            "num_rows": self.row_count(cur["version"]),
            "num_dirs": len(cur["data_dirs"]),
            "num_files": n_files,
            "size_bytes": n_bytes,
            "partition_columns": self.partition_columns(
                cur["version"]
            ),
            "bloom_keys": self.bloom_columns(),
            "constraints": cons,
            "generated_columns": self.generated_columns(),
            "schema_evolved": evolved,
            "renamed_columns": {k: v for k, v in renames.items()},
            "dropped_columns": sorted(drops),
            "live_dvs": len(dvs),
            "tombstoned_rows": sum(
                sum(e["deleted"].values()) for e in dvs
            ),
        }

    def checkpoint(self) -> int:
        """Force-write a checkpoint at the current latest version (the
        periodic one only lands on multiples of checkpoint_interval).
        Returns the checkpointed version."""
        cur = self._read_manifest()
        self._write_checkpoint(cur["version"], cur)
        return cur["version"]

    def clean_metadata(self) -> list[str]:
        """Bound the metadata directory: drop per-version manifests
        STRICTLY BELOW the newest checkpoint (whose summary — op,
        commit stamp, cumulative schema-evolution flag, and the full
        manifest of the checkpoint version itself — keeps
        history()/read_as_of()/snapshot reads working), plus all older
        checkpoint files. Time travel to the dropped versions ends,
        exactly like Delta log cleanup past a checkpoint; run vacuum()
        first/alongside to drop their now-unreferenced data dirs.
        Returns removed paths. No-op if no checkpoint exists."""
        ckpt = self._latest_checkpoint()
        if ckpt is None:
            return []
        keep = ckpt["version"]
        removed = []
        for name in sorted(os.listdir(self._mdir)):
            m = _MANIFEST_RE.fullmatch(name)
            c = _CKPT_RE.fullmatch(name)
            v = int((m or c).group(1)) if (m or c) else None
            if v is None or v >= keep or (c and v == keep):
                continue
            full = os.path.join(self._mdir, name)
            try:
                os.unlink(full)
                removed.append(full)
            except OSError:
                pass
        return removed
