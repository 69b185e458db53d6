"""Table-level dataflow patterns (reference §2.2, `patterns/mysql_patterns.rb`).

The reference's real relational operators — whole-table copy/sync
pipelines — re-expressed as single DataFrame jobs:

- ``pipe``              full copy with atomic publish (P1, `:28-43`)
- ``incremental_pipe``  high-water-mark sync on a matcher column
                        (P2, `:60-99`)
- ``optimistic_pipe``   try incremental, fall back to full (P3, `:110-124`)
- ``import_table`` / ``incremental_import`` / ``optimistic_import``
                        cross-connection variants (P4-P6, `:134-184`) —
                        in Spark a cross-endpoint copy is the same plan
                        as a same-endpoint one, so these delegate.
- eligibility checks (P8, `:224-249`), HWM store (P9, `:190-217` —
  modeled as engine state instead of stub rows).

Scale notes:
- HWM is the only driver-visible scalar (one agg(max) job).
- The delta read (`matcher > hwm`) pushes its predicate into the scan;
  at 100 TB this is the difference between reading a day and a decade —
  partition the physical table by date(matcher) so partition pruning
  kicks in.
- The stale-row delete + insert of the reference collapses into one
  upsert plan (anti-join on pk + union + atomic rewrite); with a
  MERGE-capable table format the same plan becomes a metadata-only
  commit.
"""

from __future__ import annotations

import datetime
import json
import os
from typing import Any

from pyspark.sql import functions as F

EPOCH = datetime.datetime(1970, 1, 1)


# ---------------------------------------------------------------------------
# eligibility (P7/P8)
# ---------------------------------------------------------------------------
def detect_primary_key_or_default(conn, table: str, default: str = "id") -> str:
    """`detect_primary_key_or_default` (`mysql_patterns.rb:148-150`):
    honor an explicit config, else the conventional default."""
    pk = (conn.config or {}).get("primary_keys", {}).get(table)
    return pk or default


def can_incremental_pipe(source, from_table: str, dest, to_table: str, matcher: str) -> bool:
    """Both tables exist, identical column sets, both carry the matcher
    (`mysql_patterns.rb:224-239`)."""
    try:
        src_cols = {c for c, _ in source.columns(from_table)}
        dst_cols = {c for c, _ in dest.columns(to_table)}
    except Exception:
        return False
    return matcher in src_cols and matcher in dst_cols and src_cols == dst_cols


def can_incremental_import(source, from_table: str, dest, to_table: str, matcher: str) -> bool:
    """Import variant only needs the matcher in the destination
    (`mysql_patterns.rb:246-249`)."""
    try:
        dst_cols = {c for c, _ in dest.columns(to_table)}
    except Exception:
        return False
    return matcher in dst_cols


# ---------------------------------------------------------------------------
# P1: pipe — full copy, atomic publish
# ---------------------------------------------------------------------------
def pipe(source, from_table: str, dest, to_table: str) -> None:
    """`DROP tmp; CREATE tmp LIKE src; INSERT; RENAME` collapses to an
    atomic overwrite — readers never see a half-written table (the
    writer's staging-dir swap plays the RENAME role)."""
    df = source.read(from_table)
    dest.write(df, to_table, mode="overwrite")


# ---------------------------------------------------------------------------
# P2/P5: incremental pipe — high-water-mark sync
# ---------------------------------------------------------------------------
def incremental_pipe(
    source,
    from_table: str,
    dest,
    to_table: str,
    matcher: str = "updated_at",
    primary_key: str = "id",
) -> None:
    """HWM sync: rows with ``matcher > max(dest.matcher)`` are upserted
    by primary key. Reproduces `mysql_patterns.rb:60-99`: the stale-row
    DELETE + set-based INSERT become one upsert plan. Late rows with
    matcher <= hwm are silently ignored — the reference's semantics
    (`WHERE matcher > hwm`), equivalent to watermark-dropped late data.
    """
    if hasattr(dest, "exists") and not dest.exists(to_table):
        # CREATE IF NOT EXISTS LIKE (`mysql_patterns.rb:67`) -> first sync
        # is a full copy
        pipe(source, from_table, dest, to_table)
        return
    try:
        hwm = dest.max_timestamp(to_table, matcher)
    except Exception:
        hwm = EPOCH
    delta = source.read(from_table).filter(F.col(matcher) > F.lit(hwm))
    dest.write(delta, to_table, mode="upsert", primary_key=primary_key)


# ---------------------------------------------------------------------------
# P3/P6: optimistic variants — try incremental, fall back to full copy
# ---------------------------------------------------------------------------
def optimistic_pipe(
    source,
    from_table: str,
    dest,
    to_table: str,
    matcher: str = "updated_at",
    primary_key: str = "id",
) -> str:
    """Returns which path ran ('incremental' | 'full') for observability."""
    if can_incremental_pipe(source, from_table, dest, to_table, matcher):
        try:
            incremental_pipe(source, from_table, dest, to_table, matcher, primary_key)
            return "incremental"
        except Exception as exc:  # any failure -> full rebuild (`:116-120`)
            dest.engine.logger.error(
                f"incremental_pipe {from_table}->{to_table} failed ({exc}); falling back"
            )
    pipe(source, from_table, dest, to_table)
    return "full"


# Cross-connection imports: in Spark a cross-endpoint copy is the same
# declarative plan, so P4-P6 are the same functions with different conns.
import_table = pipe
incremental_import = incremental_pipe


def optimistic_import(
    source, from_table: str, dest, to_table: str,
    matcher: str = "updated_at", primary_key: str = "id",
) -> str:
    if can_incremental_import(source, from_table, dest, to_table, matcher):
        try:
            incremental_import(source, from_table, dest, to_table, matcher, primary_key)
            return "incremental"
        except Exception as exc:
            dest.engine.logger.error(
                f"incremental_import {from_table}->{to_table} failed ({exc}); falling back"
            )
    pipe(source, from_table, dest, to_table)
    return "full"


# ---------------------------------------------------------------------------
# P9: high-water-mark store — engine state instead of stub rows
# ---------------------------------------------------------------------------
class HwmStore:
    """The reference fakes a HWM by inserting a stub row per table
    (`write_high_water_mark`, `mysql_patterns.rb:190-217`). Engine state
    (a JSON control file next to the warehouse; a control table on a
    real deployment) is the honest model: set/get the watermark per
    (table, matcher) without polluting the data."""

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict[str, Any]:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def get(self, table: str, matcher: str = "updated_at") -> datetime.datetime:
        raw = self._load().get(f"{table}.{matcher}")
        return datetime.datetime.fromisoformat(raw) if raw else EPOCH

    def set(self, table: str, value: datetime.datetime, matcher: str = "updated_at") -> None:
        data = self._load()
        data[f"{table}.{matcher}"] = value.isoformat()
        self._store(data)

    # raw JSON-valued cursors (version numbers / snapshot ids) for the
    # lakehouse pipes — same control file, non-datetime watermark
    def get_raw(self, key: str, default=None):
        return self._load().get(f"raw::{key}", default)

    def set_raw(self, key: str, value) -> None:
        data = self._load()
        data[f"raw::{key}"] = value
        self._store(data)

    def _store(self, data: dict) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=2)
        os.replace(tmp, self.path)


# ---------------------------------------------------------------------------
# lakehouse incremental pipe — version/snapshot-cursor sync from a Delta
# or Iceberg table (or any connection exposing head_cursor /
# read_at_cursor / changes) into a warehouse endpoint
# ---------------------------------------------------------------------------
def lakehouse_incremental_pipe(
    source,
    from_table: str,
    dest,
    to_table: str,
    cursors: "HwmStore",
    primary_key: str = "id",
) -> dict:
    """The P2 incremental-pipe shape with a VERSION CURSOR instead of a
    high-water-mark column: the reference's `incremental_pipe`
    (`mysql_patterns.rb:60-99`) needs a monotone `updated_at`; lakehouse
    tables carry a better signal — their own commit history. First sync
    copies the table pinned AT the head cursor (so concurrent commits
    can't tear the copy); later syncs pull ONLY the appended rows via
    the reader's ``changes()`` feed and upsert them (idempotent under
    replay: if the write lands but the cursor save doesn't, the retry
    re-upserts the same keys). A range the feed refuses (not
    append-only: rewrites/deletes happened) falls back to a FULL
    refresh at the head — the `optimistic_pipe` degradation, loudly
    recorded in the returned dict instead of silently missing deletes.

    Returns {"mode": "initial"|"incremental"|"full_refresh",
    "from": old cursor, "to": new cursor}.
    """
    key = f"{from_table}->{to_table}"
    head = source.head_cursor(from_table)
    cur = cursors.get_raw(key)
    if cur is None or (hasattr(dest, "exists") and not dest.exists(to_table)):
        dest.write(source.read_at_cursor(from_table, head), to_table,
                   mode="overwrite")
        mode = "initial"
    elif cur == head:
        mode = "noop"
    else:
        try:
            delta = source.changes(from_table, cur, head)
            dest.write(delta, to_table, mode="upsert",
                       primary_key=primary_key)
            mode = "incremental"
        except NotImplementedError:
            # rewrites/deletes in the range: adds-only would be wrong
            dest.write(source.read_at_cursor(from_table, head), to_table,
                       mode="overwrite")
            mode = "full_refresh"
    cursors.set_raw(key, head)
    return {"mode": mode, "from": cur, "to": head}


# ---------------------------------------------------------------------------
# incremental rollup — materialized-aggregate maintenance
# ---------------------------------------------------------------------------
def rollup_batch(delta: "F.DataFrame", keys: list[str], value_expr) -> "F.DataFrame":
    """Partial aggregate of one batch: (keys..., n, total). ``total`` uses
    an exact (decimal) sum so merged results are independent of how the
    input was batched."""
    return delta.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), F.sum(value_expr).alias("total")
    )


def merge_rollup(existing, delta_agg):
    """Merge a new batch's partial aggregates into a materialized rollup.

    count and sum are mergeable (avg/stddev derive from them), so
    maintaining a 100 TB rollup costs one aggregation over the DELTA plus
    a key-grouped merge with the (far smaller) rollup table — never a
    recompute over history. The merge itself is union + re-aggregate:
    the same hash-aggregate plan Spark uses for map-side partial sums,
    applied one level up. Plays the role the reference delegates to
    `INSERT .. SELECT` against a server-side summary table.
    """
    if existing is None:
        return delta_agg
    keys = [c for c in delta_agg.columns if c not in ("n", "total")]
    return (
        existing.unionByName(delta_agg)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    )


# ---------------------------------------------------------------------------
# P2 at warehouse scale: partitioned incremental pipe
# ---------------------------------------------------------------------------
def partitioned_incremental_pipe(
    source,
    from_table: str,
    dest,
    to_table: str,
    partition_col: str,
    matcher: str = "updated_at",
) -> None:
    """HWM sync into a hive-partitioned destination via dynamic partition
    overwrite: re-pull every partition the delta touches from the source
    and replace exactly those partitions.

    This is the day-partitioned-fact variant of ``incremental_pipe``:
    instead of a row-level upsert (anti-join against the full
    destination), the write costs O(touched partitions) and needs no
    key — late rows, updates, and deletes within a re-pulled partition
    all come out right because the partition is rewritten from source
    truth. The standard 100 TB nightly-sync shape.
    """
    if hasattr(dest, "exists") and not dest.exists(to_table):
        src_all = source.read(from_table).withColumn(
            partition_col, F.to_date(F.date_trunc("day", matcher))
        )
        dest.write(src_all, to_table, mode="overwrite", partition_by=[partition_col])
        return
    try:
        hwm = dest.max_timestamp(to_table, matcher)
    except Exception:
        hwm = EPOCH
    src = source.read(from_table)
    touched = (
        src.filter(F.col(matcher) > F.lit(hwm))
        .select(F.to_date(F.date_trunc("day", matcher)).alias(partition_col))
        .distinct()
    )
    # re-pull the touched partitions in full (source truth), not just the
    # delta rows: a partition is replaced wholesale by dynamic overwrite
    refreshed = (
        src.withColumn(partition_col, F.to_date(F.date_trunc("day", matcher)))
        .join(F.broadcast(touched), partition_col)
    )
    dest.write(
        refreshed, to_table, mode="overwrite_partitions", partition_by=[partition_col]
    )


def scd2_merge(
    dim: "F.DataFrame",
    updates: "F.DataFrame",
    key: str,
    attrs: list[str],
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> "F.DataFrame":
    """Slowly-changing-dimension type 2 merge: history-preserving upsert.

    ``dim`` holds versioned rows (key, attrs..., valid_from, valid_to
    with NULL marking the current version); ``updates`` holds one new
    attribute tuple per key stamped ``ts_col``. For keys whose attrs
    actually changed, the current row closes (valid_to = ts) and a new
    current row opens (valid_from = ts); identical updates are no-ops
    (no spurious versions); brand-new keys insert as current rows.
    History rows pass through untouched.

    Scale: one hash join of current rows against updates on the key +
    unions — no windows, no global sort; history (the bulk of a 100 TB
    dimension) is a pass-through branch the join never touches. Null-
    safe attr comparison via the eqNullSafe conjunction."""
    from pyspark.sql import functions as F

    current = dim.filter(F.col(valid_to).isNull())
    history = dim.filter(F.col(valid_to).isNotNull())
    up = updates.select(
        F.col(key), *[F.col(a).alias(f"_u_{a}") for a in attrs], F.col(ts_col).alias("_ts")
    )
    joined = current.join(up, key, "left")
    unchanged_pred = None
    for a in attrs:
        p = F.col(a).eqNullSafe(F.col(f"_u_{a}"))
        unchanged_pred = p if unchanged_pred is None else (unchanged_pred & p)
    # current rows: keep as-is when no update or identical update;
    # close when the update changes any attribute
    kept = joined.filter(F.col("_ts").isNull() | unchanged_pred).select(dim.columns)
    closed = (
        joined.filter(F.col("_ts").isNotNull() & ~unchanged_pred)
        .select(
            *[F.col(c) for c in dim.columns if c != valid_to],
            F.col("_ts").alias(valid_to),
        )
        .select(dim.columns)
    )
    # opened versions: changed keys + brand-new keys
    cur_keys = current.select(key)
    changed_new = (
        up.join(
            joined.filter(F.col("_ts").isNotNull() & ~unchanged_pred).select(key),
            key,
            "inner",
        )
        .unionByName(up.join(cur_keys, key, "left_anti"))
    )
    opened = changed_new.select(
        F.col(key),
        *[F.col(f"_u_{a}").alias(a) for a in attrs],
        F.col("_ts").alias(valid_from),
        F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
    ).select(dim.columns)
    return history.unionByName(kept).unionByName(closed).unionByName(opened)


def cdc_apply(
    base: "F.DataFrame",
    changes: "F.DataFrame",
    key: str,
    op_col: str = "op",
    ts_col: str = "ts",
) -> "F.DataFrame":
    """Apply a change-data-capture batch (op in I/U/D, possibly many
    changes per key) to a base table: the LATEST change per key wins
    (ts order, op as a deterministic tie break), upserts (I/U) replace
    or insert the row, deletes (D) remove it.

    This is the reference's DELETE-IN + INSERT upsert
    (`transports/mysql.rb:82-87`) generalized with tombstones. Scale:
    the change batch reduces to one row per key (partial-aggregated
    max_by, no window sort), then one hash join against base — base
    rows without changes stream through the join untouched; nothing
    but the delta shuffles twice."""
    from pyspark.sql import functions as F

    attrs = [c for c in changes.columns if c not in (key, op_col, ts_col)]
    latest = changes.groupBy(key).agg(
        F.max_by(F.struct(op_col, *attrs), F.struct(ts_col, op_col)).alias("_c")
    )
    joined = base.join(latest, key, "full")
    survivors_base = joined.filter(F.col("_c").isNull()).select(base.columns)
    replaced = (
        joined.filter(F.col("_c").isNotNull() & (F.col("_c")[op_col] != "D"))
        .select(F.col(key), *[F.col("_c")[a].alias(a) for a in attrs])
        .select(base.columns)
    )
    return survivors_base.unionByName(replaced)


def ivm_join_insert_only(a_old, delta_a, b_old, delta_b, on: str):
    """Incremental view maintenance for an inner join, insert-only
    deltas: the standard delta algebra

        V_new = V_old  ∪  ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    Each output row is tagged with its provenance branch. At 100 TB the
    point is that V_old is a STORED table — only the three delta
    branches execute, and each joins a (small) delta against a base or
    the other delta, so maintenance cost scales with the delta, never
    with |A| x |B|. Here ``old`` is recomputed for certification; the
    branch algebra is what ships.

    Correctness statement (certified by q_ivm_join's oracle): the union
    of the four branches equals the full A ⋈ B recompute, row for row.
    """
    def tag(df, branch):
        return df.withColumn("branch", F.lit(branch))

    return (
        tag(a_old.join(b_old, on), "old")
        .unionByName(tag(delta_a.join(b_old, on), "delta_a"))
        .unionByName(tag(a_old.join(delta_b, on), "delta_b"))
        .unionByName(tag(delta_a.join(delta_b, on), "delta_both"))
    )


def ivm_agg_apply(
    view_old: "F.DataFrame",
    inserts: "F.DataFrame",
    deletes: "F.DataFrame",
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
) -> "F.DataFrame":
    """Incremental view maintenance for a group-by aggregate view under
    insert AND delete deltas: V_new(g) = V_old(g) + agg(ΔI)(g) −
    agg(ΔD)(g) for the self-maintainable aggregates (COUNT, SUM — each
    combines with simple arithmetic; MIN/MAX are NOT maintainable under
    deletes without auxiliary per-group state and are deliberately not
    offered). Groups whose maintained count reaches zero are DROPPED
    (the classic IVM subtlety: a fully-deleted group must disappear from
    the view, not linger as a zero row), and a count driven NEGATIVE
    raises — a delete for a row the view never absorbed is an integrity
    violation, not a number to propagate.

    ``sum_cols`` maps view column -> source column (sums should be
    exact types — DECIMAL/BIGINT — so maintenance arithmetic is
    order-independent; see functions/exact.py). At 100 TB ``view_old``
    is a stored table: the two delta aggregations scale with the delta
    and the merge joins on the (small) group key space."""
    from pyspark.sql import functions as FF

    sum_cols = sum_cols or {}

    def agg(delta, tag):
        return delta.groupBy(*keys).agg(
            FF.count(FF.lit(1)).alias(f"_c_{tag}"),
            *[
                FF.sum(src).alias(f"_s_{tag}_{out}")
                for out, src in sum_cols.items()
            ],
        )

    di = agg(inserts, "i")
    dd = agg(deletes, "d")
    merged = (
        view_old.join(di, keys, "full_outer").join(dd, keys, "full_outer")
    )
    zero = FF.lit(0)
    n_new = (
        FF.coalesce(FF.col(count_col), zero)
        + FF.coalesce(FF.col("_c_i"), zero)
        - FF.coalesce(FF.col("_c_d"), zero)
    )
    out_cols = [FF.col(k) for k in keys] + [n_new.alias(count_col)]
    for out in sum_cols:
        out_cols.append(
            (
                FF.coalesce(FF.col(out), zero)
                + FF.coalesce(FF.col(f"_s_i_{out}"), zero)
                - FF.coalesce(FF.col(f"_s_d_{out}"), zero)
            ).alias(out)
        )
    merged = merged.select(*out_cols)
    bad = merged.filter(FF.col(count_col) < 0).limit(1).collect()
    if bad:
        raise ValueError(
            f"ivm_agg_apply: maintained count went negative for group "
            f"{[bad[0][k] for k in keys]} — delete delta contains rows "
            "the view never absorbed"
        )
    return merged.filter(FF.col(count_col) > 0)


# ---------------------------------------------------------------------------
# manifest CDC replication: version-cursor downstream sync at O(delta)
# ---------------------------------------------------------------------------
def manifest_cdc_sync(src, dst, on: str, since_version: int | None = None,
                      use_dv: bool = True) -> dict:
    """Replicate a ManifestTable delta into a downstream ManifestTable
    by replaying the CHANGE FEED — the version-cursor analog of
    incremental_pipe, with three properties HWM syncs can't offer:
    the cursor is exact (a committed manifest version, not a timestamp
    column), DELETES propagate (HWM syncs only ever see surviving
    rows), and the read side is O(delta) (only files whose membership
    or dv mask changed since the cursor are opened).

    ``since_version`` defaults to the destination's recorded cursor
    (stored in its manifest operation history is the caller's concern —
    pass the value your HwmStore holds). First call with a fresh dst:
    full snapshot copy, cursor = src head.

    The whole round is ONE ``apply_changes`` commit (upserts + pure-
    delete tombstones together — r6): a reader of the replica sees the
    round's inserts and deletes atomically or not at all, and version
    churn is one bump per sync. Returns the new cursor to store.
    At 100 TB both sides scale with the delta: the feed reads changed
    files only, the apply touches hit cells, tombstones dv-mask."""
    from pyspark.sql import functions as FF

    head = src.current_version()
    if not dst.exists():
        dst.create(
            src.read(),
            partition_by=src.manifest()["partition_by"],
            bucket_by=src.manifest().get("bucket_by"),
        )
        return {"from_version": None, "to_version": head, "mode": "snapshot"}
    if since_version is None:
        raise ValueError("manifest_cdc_sync: pass the stored cursor version")
    if since_version == head:
        return {"from_version": head, "to_version": head, "mode": "noop"}
    # materialize the O(delta) feed once: apply_changes drives several
    # actions over these frames (the scope probe, the mask join, the
    # upsert write) and each would otherwise recompute the changes() diff
    feed = src.changes(since_version, head).localCheckpoint(eager=True)
    inserts = feed.filter(FF.col("_change_type") == "insert").drop("_change_type")
    deletes = feed.filter(FF.col("_change_type") == "delete").drop("_change_type")
    # pure-delete tombstones: keys with a delete event and no insert
    # event (an update's delete+insert pair collapses into the upsert).
    # Lazy checkpoint: apply_changes' scope probe reads this frame, and
    # so does its key frame when the probe overflows its bound; each
    # read would otherwise replay the anti-join (optimization r8,
    # guide §1.2 — still O(delta): the inputs are the checkpointed feed)
    tombstones = deletes.join(
        inserts.select(on).distinct(), on, "left_anti"
    ).localCheckpoint(eager=False)
    # keep the destination's partition/bucket columns on the tombstone
    # frame so apply_changes' scope probe prunes that side too — the
    # tombstone scope stays O(touched cells), not a whole-live-set scan
    dman = dst._raw()
    layout_cols = [
        c
        for c in {dman.get("partition_by"), (dman.get("bucket_by") or [None])[0]}
        if c and c != on and c in tombstones.columns
    ]
    stats = dst.apply_changes(
        inserts, tombstones.select(on, *layout_cols), on=on, use_dv=use_dv
    )
    return {
        "from_version": since_version,
        "to_version": head,
        "mode": "delta",
        "applied": stats,
    }
