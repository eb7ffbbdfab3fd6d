"""Keyed upsert / merge (the *load-with-updates* half of ETL).

``upsert`` merges an updates frame into a base frame by key: the
update row wins where keys collide, base rows pass through otherwise.
Implemented as union + windowed keep-first — one shuffle on the key,
no driver-side state, works at any scale. ``latest_by_key`` is the
same machinery for change-log compaction (keep the newest version of
each key, e.g. CDC streams)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str | None = None,
    change_col: str | None = None,
) -> DataFrame:
    """updates override base on key collisions; schemas must match.

    Without ``version_col``: update rows win unconditionally (classic
    MERGE). With ``version_col``: the HIGHEST version wins regardless
    of side, updates winning version ties — so a stale or replayed
    update can never regress a newer base row. That makes a CDC MERGE
    both idempotent (replaying a batch is a no-op once a newer version
    landed) and batch-order-robust (out-of-order micro-batches
    converge to the true latest state). ``updates`` should be
    key-unique; with several rows per key, ``version_col`` makes the
    survivor deterministic.

    NULL-version semantics: ordering is ``desc`` with Spark's default
    NULLS LAST, so a NULL version sorts below every non-null version
    on either side — an update row with a missing version loses to any
    versioned base row (no version ⇒ cannot prove it is newer). Two
    NULL versions fall back to the update-wins tie-break. Changelogs
    where null-versioned updates must still win should
    ``coalesce(version, <max sentinel>)`` before calling.

    CHANGE FEED in the same pass: with ``change_col`` every output row
    carries a tag in that column — ``data`` for a row of the merged
    result, or the change it records: ``update_preimage`` for each
    base row of a key the updates touch, ``update_postimage`` for
    that key's surviving row, ``insert`` for the surviving row of a
    key the base lacks. A row that is both data and a change appears
    once per tag. The tags come from the same key window (its
    whole-partition frame says which sides hold the key), so data and
    feed cost one shuffle together. Keys group as the window groups
    them (NULL keys form one group), so the feed types exactly the
    rows the data path replaced."""
    tagged = updates.withColumn("__pri", F.lit(0)).unionByName(
        base.withColumn("__pri", F.lit(1))
    )
    order = (
        [F.desc(version_col), F.asc("__pri")] if version_col
        else [F.asc("__pri")]
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = tagged.withColumn("__rn", F.row_number().over(w))
    if change_col is None:
        return ranked.where(F.col("__rn") == 1).drop("__pri", "__rn")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = ranked.withColumn(
        "__upd", F.min("__pri").over(whole) == 0
    ).withColumn("__base", F.max("__pri").over(whole) == 1)
    first = F.col("__rn") == 1
    matched = F.col("__upd") & F.col("__base")
    tags = F.array(
        F.when(first, F.lit("data")),
        F.when(matched & (F.col("__pri") == 1), F.lit("update_preimage")),
        F.when(matched & first, F.lit("update_postimage")),
        F.when(~F.col("__base") & first, F.lit("insert")),
    )
    return ranked.withColumn(
        change_col, F.explode(F.array_compact(tags))
    ).drop("__pri", "__rn", "__upd", "__base")


def latest_by_key(
    df: DataFrame,
    keys: list[str],
    version_col: str,
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """Change-log compaction: keep the highest-version row per key.

    Pass ``tiebreak`` column(s) that make the ordering total — without
    one, version ties are broken arbitrarily (nondeterministic across
    runs/partitionings)."""
    tiebreaks = (
        [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    )
    order = [F.desc(version_col)] + [F.desc(t) for t in tiebreaks]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_clauses(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    matched_update=None,
    matched_delete=None,
    not_matched_insert=True,
    return_actions: bool = False,
    matched_set: dict | None = None,
    insert_values: dict | None = None,
    change_col: str | None = None,
):
    """Full conditional MERGE (the public Delta/ANSI MERGE surface):

    * ``WHEN MATCHED AND <matched_delete> THEN DELETE`` — evaluated
      FIRST (the conventional clause order when both are given),
    * ``WHEN MATCHED AND <matched_update> THEN UPDATE SET *``,
    * otherwise matched target rows pass through unchanged,
    * ``WHEN NOT MATCHED AND <not_matched_insert> THEN INSERT *`` —
      pass ``True`` (default) for unconditional insert, ``False``/
      ``None`` to drop unmatched source rows.

    Conditions are Column expressions or SQL strings over the aliases
    ``t`` (target/base) and ``s`` (source/updates), e.g.
    ``"s.price > t.price"``. Omitting a clause (None/False) means that
    clause never fires — a MERGE with only ``matched_delete`` deletes
    matched rows and touches nothing else.

    COLUMN-SUBSET ASSIGNMENTS (the common Delta MERGE spelling):
    ``matched_set`` maps column → expression (Column or SQL over the
    ``t``/``s`` aliases); when given, the UPDATE action writes the
    assigned columns from their expressions and CARRIES every other
    target column unchanged — ``UPDATE SET qty = t.qty + s.qty``
    instead of full-row replacement. If ``matched_set`` is given with
    no ``matched_update`` condition the update clause fires for every
    matched row (condition True). ``insert_values`` likewise maps
    column → expression for the INSERT action (``INSERT (cols) VALUES
    (exprs)``): assigned columns evaluate their expressions, all other
    non-key columns land NULL, key columns always take the source key
    (the coalesced join key). Assigning a merge key in ``matched_set``
    raises — keys are the row identity.

    One full-outer join on the key (single shuffle, no driver state):
    each row gets an action — delete / update / keep / insert / skip —
    and the output projects source columns for update+insert, target
    columns otherwise. Both sides should be key-unique (the invariant
    a MERGE-maintained table upholds; Delta raises on multi-source
    matches for the same reason). With ``return_actions`` also returns
    a ``(keys..., action)`` frame so a change-feed writer can type its
    rows per clause.

    With ``change_col`` the result is the merged rows AND the change
    feed from the same join, tagged in that column: ``data`` for a
    merged row, ``update_preimage``/``update_postimage`` (target /
    merged values) for an updated key, ``delete`` (target values) for
    a matched-delete key, ``insert`` for an inserted row."""

    def _cond(c, default: bool):
        if c is None or c is False:
            return F.lit(default) if default else F.lit(False)
        if c is True:
            return F.lit(True)
        return F.expr(c) if isinstance(c, str) else c

    def _assign(e):
        return F.expr(e) if isinstance(e, str) else e

    if matched_set:
        bad = sorted(set(matched_set) & set(keys))
        if bad:
            raise ValueError(
                f"matched_set assigns merge key(s) {bad} — keys are "
                f"the row identity and cannot be SET"
            )
        unknown = sorted(set(matched_set) - set(base.columns))
        if unknown:
            raise ValueError(
                f"matched_set assigns unknown column(s) {unknown}; "
                f"target columns are {sorted(base.columns)}"
            )
        if matched_update is None:
            matched_update = True
    if insert_values:
        unknown = sorted(
            set(insert_values) - set(keys) - set(base.columns)
        )
        if unknown:
            raise ValueError(
                f"insert_values assigns unknown column(s) {unknown}"
            )
        if not_matched_insert is None:
            # symmetric with matched_set: giving the subset INSERT
            # clause activates it (condition True) unless the caller
            # passed an explicit condition or False
            not_matched_insert = True

    cols = base.columns
    t = base.withColumn("__t", F.lit(1)).alias("t")
    s = updates.withColumn("__s", F.lit(1)).alias("s")
    j = t.join(s, keys, "full_outer")
    matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    s_only = F.col("__t").isNull() & F.col("__s").isNotNull()
    action = (
        F.when(matched & _cond(matched_delete, False), F.lit("delete"))
        .when(matched & _cond(matched_update, False), F.lit("update"))
        .when(matched, F.lit("keep"))
        .when(s_only & _cond(not_matched_insert, False), F.lit("insert"))
        .when(s_only, F.lit("skip"))
        .otherwise(F.lit("keep"))  # target-only row
    )
    tagged = j.withColumn("__action", action)
    is_upd = F.col("__action") == "update"
    is_ins = F.col("__action") == "insert"
    schema_by_name = {f.name: f.dataType for f in base.schema.fields}

    def _upd_val(c):
        if matched_set is not None:
            if c in matched_set:
                return _assign(matched_set[c]).cast(schema_by_name[c])
            return F.col(f"t.{c}")  # unassigned: carry target value
        return F.col(f"s.{c}")  # SET *: full row from source

    def _ins_val(c):
        if insert_values is not None:
            if c in insert_values:
                return _assign(insert_values[c]).cast(schema_by_name[c])
            return F.lit(None).cast(schema_by_name[c])
        return F.col(f"s.{c}")  # INSERT *: full row from source

    out_cols = [
        F.col(c)  # join key: already coalesced by the named-key join
        if c in keys
        else F.when(is_upd, _upd_val(c))
        .when(is_ins, _ins_val(c))
        .otherwise(F.col(f"t.{c}"))
        .alias(c)
        for c in cols
    ]
    if change_col is not None:
        act = F.col("__action")
        pre_cols = [
            (F.col(c) if c in keys else F.col(f"t.{c}")).alias(c)
            for c in cols
        ]

        def _row(cond, tag: str, vals: list):
            return F.when(
                cond,
                F.struct(
                    *[
                        v.cast(schema_by_name[c]).alias(c)
                        for v, c in zip(vals, cols)
                    ],
                    F.lit(tag).alias(change_col),
                ),
            )

        rows = F.array(
            _row(act.isin("keep", "update", "insert"), "data", out_cols),
            _row(act == "update", "update_preimage", pre_cols),
            _row(act == "update", "update_postimage", out_cols),
            _row(act == "delete", "delete", pre_cols),
            _row(act == "insert", "insert", out_cols),
        )
        return tagged.select(
            F.explode(F.array_compact(rows)).alias("__r")
        ).select("__r.*")
    merged = tagged.where(
        F.col("__action").isin("keep", "update", "insert")
    ).select(*out_cols)
    if not return_actions:
        return merged
    actions = tagged.where(F.col("__action") != "keep").select(
        *keys, F.col("__action").alias("action")
    )
    return merged, actions


def conform_schema(df, target_ddl: str, strict: bool = False):
    """Conform a frame to a target schema: reorder, cast, and add
    missing columns as NULLs; drop extras unless ``strict`` (then
    raise). The standard last-step before a typed sink."""
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(target_ddl)
    have = set(df.columns)
    extra = have - {f.name for f in target.fields}
    if strict and extra:
        raise ValueError(f"unexpected columns: {sorted(extra)}")
    cols = []
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
