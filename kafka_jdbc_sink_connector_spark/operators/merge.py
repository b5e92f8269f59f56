"""MERGE-apply of collapsed change events into a lake table.

Re-expresses the reference's SQL generation + batched execution
(upsert MERGE ``BufferedRecords.java:234-268``, soft-delete UPDATE with
"not already deleted" guard ``BufferedRecords.java:270-305``, audit
timestamp injection ``BufferedRecords.java:28,255,261-265``) as one
declarative outer join over only the hash buckets that contain touched
keys (copy-on-write MERGE, the Iceberg/Delta strategy).

Semantics implemented, per key (see ``operators/dedup.py`` for the
collapse that feeds this):

==========================  =====================================================
batch outcome for the key    resulting row
==========================  =====================================================
upsert, no trailing delete  payload of latest upsert; marker col = upper(op);
                            audit col = apply time (matched rows are always
                            updated — the reference MERGE has no change guard)
upsert then delete (soft)   payload of latest upsert overlaid with: marker='D',
                            retain fields taken from the delete event, audit ts
                            (reference order: MERGE insert/update runs, then the
                            delete UPDATE matches the fresh row)
upsert then delete (hard)   row removed
delete only (soft)          pre-existing target row overlaid with marker/retain/
                            audit **iff** the guard passes (three-valued ``!=``
                            like the generated SQL: a NULL marker blocks the
                            update); no target row → no-op (UPDATE matches 0
                            rows)
delete only (hard)          target row removed if present
delete only (mode none)     ignored
==========================  =====================================================

Scale notes: the collapsed batch and the affected target buckets are
each hash-partitioned once on ``__bucket`` and joined on pk +
``__bucket``, so the join's output is already one partition per bucket
and both writes take it as-is. The target keeps its shuffle: a
DataFrame file scan cannot declare its files' bucket partitioning.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.config import DeleteMode, InsertMode, SinkConfig
from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL, bucket_expr
from kafka_jdbc_sink_connector_spark.lake import mor
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable, Snapshot
from kafka_jdbc_sink_connector_spark.operators.dedup import (
    DELETE_LIST,
    DELETE_OFF,
    DELETE_STRUCT,
    EVENT_OP,
    FIRST_DEL_OFF,
    UPSERT_OFF,
    UPSERT_STRUCT,
)

_LONG_MIN = -(2**63)

#: at its default, sides partitioned on a subset of the join keys re-shuffle
_COPARTITION_CONF = "spark.sql.requireAllClusterKeysForCoPartition"
_copartition_lock = threading.Lock()
_copartition_users: dict = {}  # session -> [merges writing, saved value]


@contextmanager
def _bucket_copartitioned(spark):
    """Accept the bucket partitioning as co-partitioning while a merge
    writes (planning and AQE re-planning run in the write action).
    Reference-counted per session: overlapping merges in threads
    neither clear the setting under each other nor leak it."""
    with _copartition_lock:
        ent = _copartition_users.setdefault(spark, [0, None])
        if ent[0] == 0:
            ent[1] = spark.conf.get(_COPARTITION_CONF, None)
            spark.conf.set(_COPARTITION_CONF, "false")
        ent[0] += 1
    try:
        yield
    finally:
        with _copartition_lock:
            ent[0] -= 1
            if ent[0] == 0:
                del _copartition_users[spark]
                if ent[1] is None:
                    spark.conf.unset(_COPARTITION_CONF)
                else:
                    spark.conf.set(_COPARTITION_CONF, ent[1])


def payload_columns(table_schema, cfg: SinkConfig) -> list[str]:
    """Target data columns that change events supply directly (all but
    the engine-managed soft-delete marker and audit timestamp)."""
    managed = {cfg.audit_ts_column}
    if cfg.delete_mode is DeleteMode.UPDATE:
        managed.add(cfg.soft_delete_column)
    cols = [f.name for f in table_schema.fields if f.name not in managed]
    if cfg.fields_whitelist:
        keep = set(cfg.fields_whitelist) | set(cfg.pk_fields)
        cols = [c for c in cols if c in keep]
    return cols


def _mor_meta(cfg: SinkConfig) -> dict:
    """Resolution spec persisted in the snapshot so merge-on-read
    readers don't need the writer's SinkConfig."""
    soft = cfg.delete_mode is DeleteMode.UPDATE
    overlay: list[str] = []
    if soft:
        overlay = [cfg.soft_delete_column, cfg.audit_ts_column] + [
            f for f in cfg.delete_retain_fields
        ]
    return {
        "soft": soft,
        "hard": cfg.delete_mode is DeleteMode.DELETE,
        "upd_only": cfg.insert_mode is InsertMode.UPDATE,
        "guard": [list(g) for g in cfg.soft_delete_conditions]
        if soft
        else [],
        "guard_null_is_not_null": cfg.guard_null_is_not_null,
        "overlay_cols": overlay,
        "sdel_key": (
            list(cfg.delete_as_update_key) if cfg.subset_delete_key else []
        ),
    }


def _build_sdel_rows(
    snap: Snapshot, sdels: DataFrame, cfg: SinkConfig, audit: Column
) -> DataFrame:
    """Collapsed subset-key deletes (``collapse_deletes_by_key``) →
    merge-on-read sdel rows: subset key + the offset-sorted list of
    materialized soft-delete overlay structs (marker/audit/retain set,
    other columns NULL; hard mode keeps positions only). See
    lake/mor.py for the resolution."""
    keys = list(cfg.pk_fields)
    skey = list(cfg.delete_as_update_key)
    soft = cfg.delete_mode is DeleteMode.UPDATE
    retain = set(cfg.delete_retain_fields)
    row_fields = mor.row_struct_fields(snap.schema, keys)
    row_t = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in row_fields]
    )

    def del_val(e, c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if soft and c == cfg.soft_delete_column:
            return F.lit(cfg.soft_delete_value)
        if c in retain:
            return e["row"][c]
        return F.lit(None)

    if soft:
        entry = lambda e: F.struct(  # noqa: E731
            e["off"].cast("long").alias("off"),
            F.struct(
                *[del_val(e, f.name).cast(f.dataType).alias(f.name)
                  for f in row_fields]
            ).alias("row"),
        )
    else:
        entry = lambda e: F.struct(  # noqa: E731
            e["off"].cast("long").alias("off"),
            F.lit(None).cast(row_t).alias("row"),
        )
    return sdels.select(
        *skey,
        F.transform(F.col(DELETE_LIST), entry).alias(mor.SDEL_LIST),
        bucket_expr(snap.bucket_key, snap.n_buckets).alias(BUCKET_COL),
    )


def _build_delta_rows(
    snap: Snapshot, src: DataFrame, cfg: SinkConfig, audit: Column
) -> DataFrame:
    """Collapsed change set (+bucket) → merge-on-read delta rows: the
    fully materialized upsert row (marker/audit applied, exactly what
    the COW path would write for action=upsert) plus the soft-delete
    overlay values. See lake/mor.py for the layout and resolution."""
    keys = list(cfg.pk_fields)
    payload = payload_columns(snap.schema, cfg)
    soft = cfg.delete_mode is DeleteMode.UPDATE
    retain = set(cfg.delete_retain_fields)
    row_fields = mor.row_struct_fields(snap.schema, keys)

    def ups_val(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if soft and c == cfg.soft_delete_column:
            return F.upper(F.col(UPSERT_STRUCT)[EVENT_OP])
        if c in payload:
            return F.col(UPSERT_STRUCT)[c]
        return F.lit(None)

    def del_val(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if soft and c == cfg.soft_delete_column:
            return F.lit(cfg.soft_delete_value)
        if c in retain:
            return F.col(DELETE_STRUCT)[c]
        return F.lit(None)

    ups = F.when(
        F.col(UPSERT_OFF).isNotNull(),
        F.struct(
            *[ups_val(f.name).cast(f.dataType).alias(f.name)
              for f in row_fields]
        ),
    )
    if cfg.delete_mode is DeleteMode.NONE:
        # deletes are ignored in this mode — don't persist them
        row_t = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in row_fields]
        )
        dels = F.lit(None).cast(row_t)
        del_off = F.lit(None).cast("long")
    else:
        # hard mode needs only the delete's position; the overlay
        # struct stays NULL (nulls cost ~nothing in parquet)
        body = (
            F.struct(
                *[del_val(f.name).cast(f.dataType).alias(f.name)
                  for f in row_fields]
            )
            if soft
            else F.lit(None).cast(
                T.StructType(
                    [T.StructField(f.name, f.dataType, True)
                     for f in row_fields]
                )
            )
        )
        dels = F.when(F.col(DELETE_OFF).isNotNull(), body)
        del_off = F.col(DELETE_OFF).cast("long")
    first_del = (
        F.lit(None).cast("long")
        if cfg.delete_mode is DeleteMode.NONE
        else F.col(FIRST_DEL_OFF).cast("long")
    )
    return src.select(
        *keys,
        ups.alias(mor.DELTA_UPS),
        F.col(UPSERT_OFF).cast("long").alias(mor.DELTA_UPS_OFF),
        dels.alias(mor.DELTA_DEL),
        del_off.alias(mor.DELTA_DEL_OFF),
        first_del.alias(mor.DELTA_FIRST_DEL_OFF),
        F.col(BUCKET_COL),
    )


def merge_into(
    table: LakeTable,
    collapsed: DataFrame,
    cfg: SinkConfig,
    audit_ts: Column | None = None,
    source_id: str | None = None,
    batch_id: int | None = None,
    affected_buckets: list[int] | None = None,
    subset_deletes: DataFrame | None = None,
    stats: dict | None = None,
) -> Snapshot:
    """Apply a change set collapsed by ``collapse_last_writer(...,
    bucket_by=(bucket_key, n_buckets))`` and commit a snapshot.

    ``affected_buckets`` lets the caller reuse a bucket set it already
    computed (the applier folds it into its lineage pass), avoiding an
    extra distinct+collect job here.

    ``subset_deletes`` (from :func:`collapse_deletes_by_key`) carries
    delete events keyed by a proper pk subset
    (``delete.as.update.key=RECID`` semantics): after the pk-level
    merge, every surviving row joins against it on the subset key and
    is overlaid/removed when the delete is newer than the row's last
    upsert and the not-already-deleted guard passes. When provided,
    ``collapsed`` must contain upsert events only.
    """
    audit = audit_ts if audit_ts is not None else F.current_timestamp()
    snap = table.snapshot
    keys = list(cfg.pk_fields)
    data_cols = [f.name for f in snap.schema.fields]
    payload = payload_columns(snap.schema, cfg)

    affected = (
        affected_buckets
        if affected_buckets is not None
        else [r[0] for r in
              collapsed.select(BUCKET_COL).distinct().collect()]
    )
    if (
        cfg.merge_mode == "mor"
        and affected
        and (snap.files(affected) or snap.delta_files(affected))
    ):
        # merge-on-read steady state: append the collapsed change set
        # as per-bucket delta files — bytes written ~ batch size, no
        # bucket rewrite. Subset-key deletes ride along as sdel files
        # (same version, same bucket routing — the subset key contains
        # the bucket key by config contract). (The very first batch
        # into empty buckets falls through to the COW bootstrap below,
        # so the table always starts from clean base files.)
        delta = _build_delta_rows(snap, collapsed, cfg, audit)
        sdel = (
            _build_sdel_rows(snap, subset_deletes, cfg, audit)
            if subset_deletes is not None
            else None
        )
        return table.commit_delta(
            delta,
            mor_meta=_mor_meta(cfg),
            source_id=source_id,
            batch_id=batch_id,
            stats=stats,
            sdel_rows=sdel,
        )
    if not affected:
        return table.commit_rewrite(
            table.read(buckets=[], include_bucket=True).limit(0),
            [],
            source_id=source_id,
            batch_id=batch_id,
            stats=stats,
        )

    s = collapsed.withColumn("__s", F.lit(True))
    s_pref = s.select(*[F.col(c).alias(f"s_{c}") for c in s.columns])
    if not snap.files(affected):
        # bootstrap fast path: no target files in the affected buckets
        # (first load / brand-new buckets) — skip the outer join and
        # synthesize an all-NULL target side, which makes the case
        # logic below behave exactly like unmatched-source rows. Saves
        # the join shuffle + sort on initial loads.
        t_schema = table.read_schema(include_bucket=True)
        null_t = [
            F.lit(None).cast(fld.dataType).alias(f"t_{fld.name}")
            for fld in t_schema.fields
        ] + [F.lit(None).cast("boolean").alias("t___t")]
        j = s_pref.select(*null_t, *[F.col(c) for c in s_pref.columns])
    else:
        tgt = table.read(buckets=affected, include_bucket=True).withColumn(
            "__t", F.lit(True)
        ).repartition(snap.n_buckets, BUCKET_COL)
        # Plain-equality join on pk + BUCKET_COL (keys are validated
        # non-null upstream, O2): both sides' BUCKET_COL partitioning
        # satisfies it under _bucket_copartitioned. BUCKET_COL is
        # identical on matched rows by construction; coalesced below.
        t_pref = tgt.select(
            *[F.col(c).alias(f"t_{c}") for c in tgt.columns]
        )
        cond = [t_pref[f"t_{k}"] == s_pref[f"s_{k}"]
                for k in keys + [BUCKET_COL]]
        j = t_pref.join(s_pref, cond, "full_outer")

    t = lambda c: F.col(f"t_{c}")  # noqa: E731
    sc = lambda c: F.col(f"s_{c}")  # noqa: E731

    t_exists = t("__t").isNotNull()
    s_exists = sc("__s").isNotNull()
    has_ups = sc(UPSERT_OFF).isNotNull()
    # the collapse keeps only the winning delete — the earliest one
    # positioned AFTER the latest upsert — so a present delete always
    # out-positions the upsert
    del_wins = sc(DELETE_OFF).isNotNull()
    has_any_del = sc(FIRST_DEL_OFF).isNotNull()

    soft = cfg.delete_mode is DeleteMode.UPDATE

    # "not already deleted" guard over the *target* row, three-valued
    # like the generated `col != 'D'` SQL (BufferedRecords.java:287-303);
    # only meaningful (and only resolvable — the marker column exists
    # solely in soft-delete tables) in soft mode
    if soft:
        guard_parts = []
        for col, value in cfg.soft_delete_conditions:
            if value is None:
                guard_parts.append(
                    t(col).isNotNull()
                    if cfg.guard_null_is_not_null
                    else F.lit(False)
                )
            else:
                guard_parts.append(t(col) != F.lit(value))
        guard_ok = guard_parts[0]
        for g in guard_parts[1:]:
            guard_ok = guard_ok | g
    else:
        guard_ok = F.lit(False)
    hard = cfg.delete_mode is DeleteMode.DELETE
    upd_only = cfg.insert_mode is InsertMode.UPDATE

    A_UPSERT, A_SOFT_UPS, A_SOFT_TGT, A_KEEP, A_DROP = (
        "upsert", "soft_ups", "soft_tgt", "keep", "drop",
    )

    # UPDATE insert mode + hard deletes: the batch's FIRST delete
    # removes the row and every later UPDATE matches nothing (no insert
    # branch re-creates it, oracle replay) — so *any* delete kills the
    # key, even one positioned before the latest upsert
    hard_kills = F.lit(hard) & (
        del_wins | (F.lit(upd_only) & has_any_del)
    )
    ups_final = F.when(F.lit(soft) & del_wins, F.lit(A_SOFT_UPS)).when(
        hard_kills, F.lit(A_DROP)
    ).otherwise(F.lit(A_UPSERT))

    action = (
        F.when(~s_exists, F.lit(A_KEEP))
        .when(
            has_ups,
            F.when(t_exists | ~F.lit(upd_only), ups_final).otherwise(
                F.lit(A_DROP)
            ),
        )
        # delete-only keys:
        .when(
            ~t_exists, F.lit(A_DROP)
        )  # UPDATE/DELETE against a missing row matches nothing
        .when(F.lit(hard), F.lit(A_DROP))
        .when(F.lit(soft) & guard_ok, F.lit(A_SOFT_TGT))
        .otherwise(F.lit(A_KEEP))
    )

    retain = set(cfg.delete_retain_fields)

    def upsert_val(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if soft and c == cfg.soft_delete_column:
            return F.upper(sc(UPSERT_STRUCT)[EVENT_OP])
        if c in keys:
            return sc(c)  # top-level key column of the collapsed frame
        if c in payload:
            return sc(UPSERT_STRUCT)[c]
        return F.lit(None)

    def soft_on_upsert(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if c == cfg.soft_delete_column:
            return F.lit(cfg.soft_delete_value)
        if c in retain:
            return sc(DELETE_STRUCT)[c]
        return upsert_val(c)

    def soft_on_target(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if c == cfg.soft_delete_column:
            return F.lit(cfg.soft_delete_value)
        if c in retain:
            return sc(DELETE_STRUCT)[c]
        return t(c)

    # materialize the action decision ONCE as a column: embedding the
    # full multi-branch `action` tree inside every output column's
    # CASE (4 branches x ~N data columns) multiplied the analyzed
    # expression tree ~4N-fold — measurable driver-side
    # analysis/optimization time on every micro-batch. The projected
    # attribute is the identical deterministic value.
    j = j.withColumn("__action", action)
    act = F.col("__action")

    out_cols = []
    for c in data_cols:
        expr = (
            F.when(act == A_UPSERT, upsert_val(c))
            .when(act == A_SOFT_UPS, soft_on_upsert(c))
            .when(act == A_SOFT_TGT, soft_on_target(c))
            .otherwise(t(c))
        )
        field = snap.schema[c]
        out_cols.append(expr.cast(field.dataType).alias(c))
    out_cols.append(
        F.coalesce(t(BUCKET_COL), sc(BUCKET_COL)).alias(BUCKET_COL)
    )

    if subset_deletes is not None:
        out_cols.append(
            F.when(
                (act == A_UPSERT) | (act == A_SOFT_UPS),
                sc(UPSERT_OFF),
            ).alias("__row_ups_off")
        )
    result = j.filter(act != A_DROP).select(*out_cols)
    if subset_deletes is not None:
        result = _apply_subset_deletes(result, subset_deletes, cfg, audit)
    with _bucket_copartitioned(table.spark):
        return table.commit_rewrite(
            result,
            affected,
            source_id=source_id,
            batch_id=batch_id,
            stats=stats,
            # the subset-delete overlay join breaks the bucket layout
            preserve_layout=subset_deletes is None,
        )


def _apply_subset_deletes(
    result: DataFrame, dels: DataFrame, cfg: SinkConfig, audit: Column
) -> DataFrame:
    """Overlay subset-key deletes on the pk-merged rows (see
    :func:`merge_into`). ``result`` carries ``__row_ups_off`` = the
    batch offset that last wrote each row (NULL for untouched rows).

    Per row, the winning delete is the EARLIEST one positioned after
    the row's last upsert — the not-already-deleted guard blocks every
    later delete from re-overwriting the retain fields, and rows
    sharing the subset key have different last-upsert offsets, so the
    winner differs per row (hence the join carries the whole sorted
    delete list, not one pre-picked event)."""
    dkeys = list(cfg.delete_as_update_key)
    d = dels.select(
        *[F.col(k).alias(f"d_{k}") for k in dkeys],
        F.col(DELETE_LIST).alias("d_list"),
    )
    cond = [result[k] == d[f"d_{k}"] for k in dkeys]
    j = result.join(d, cond, "left")

    floor = F.coalesce(F.col("__row_ups_off"), F.lit(_LONG_MIN))
    win = F.get(
        F.filter(F.col("d_list"), lambda e: e["off"] > floor), 0
    )
    newer = win.isNotNull()
    if (
        cfg.delete_mode is DeleteMode.DELETE
        and cfg.insert_mode is InsertMode.UPDATE
    ):
        # any matching delete kills the row: the first DELETE removes
        # it and UPDATEs never re-create (same rule as the pk path)
        newer = F.coalesce(
            F.size(F.col("d_list")) > 0, F.lit(False)
        )
    if cfg.delete_mode is DeleteMode.UPDATE:
        guard_parts = []
        for col, value in cfg.soft_delete_conditions:
            if value is None:
                guard_parts.append(
                    F.col(col).isNotNull()
                    if cfg.guard_null_is_not_null
                    else F.lit(False)
                )
            else:
                guard_parts.append(F.col(col) != F.lit(value))
        guard_ok = guard_parts[0]
        for g in guard_parts[1:]:
            guard_ok = guard_ok | g
        overlay = newer & guard_ok
        retain = set(cfg.delete_retain_fields)
        out = []
        for c in result.columns:
            if c == "__row_ups_off":
                continue
            if c == cfg.soft_delete_column:
                expr = F.when(
                    overlay, F.lit(cfg.soft_delete_value)
                ).otherwise(F.col(c))
            elif c == cfg.audit_ts_column:
                expr = F.when(overlay, audit).otherwise(F.col(c))
            elif c in retain:
                expr = F.when(overlay, win["row"][c]).otherwise(
                    F.col(c)
                )
            else:
                expr = F.col(c)
            out.append(expr.alias(c))
        return j.select(*out)
    # hard delete: remove matching rows not re-written afterwards
    return j.filter(~newer).select(
        *[F.col(c) for c in result.columns if c != "__row_ups_off"]
    )


def append_only(
    table: LakeTable,
    events: DataFrame,
    cfg: SinkConfig,
    audit_ts: Column | None = None,
    source_id: str | None = None,
    batch_id: int | None = None,
    stats: dict | None = None,
) -> Snapshot:
    """``insert_mode=INSERT``: plain append of non-delete events (the
    reference would issue bare INSERTs; in lake semantics this is an
    append — duplicate keys are the caller's concern, as there)."""
    snap = table.snapshot
    audit = audit_ts if audit_ts is not None else F.current_timestamp()
    payload = payload_columns(snap.schema, cfg)
    rows = events.filter(
        F.col(cfg.op_column) != F.lit(cfg.op_delete_value)
    )
    cols = []
    for f in snap.schema.fields:
        if f.name == cfg.audit_ts_column:
            cols.append(audit.cast(f.dataType).alias(f.name))
        elif (
            cfg.delete_mode is DeleteMode.UPDATE
            and f.name == cfg.soft_delete_column
        ):
            cols.append(F.upper(F.col(cfg.op_column)).alias(f.name))
        elif f.name in payload and f.name in rows.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    data = rows.select(*cols).withColumn(
        BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets)
    )
    return table.commit_append(
        data, source_id=source_id, batch_id=batch_id, stats=stats
    )
