"""The changelog kernel behind the three batch change feeds:
``ManifestTable.changes()``, ``DeltaLiteTable.changelog()`` and
``IcebergLiteTable.changelog()``.

- ``position_changelog`` diffs two sides of live rows keyed by
  (``___path``, ``___pos``), the Delta and Iceberg feeds.
- ``replicate_net`` sums signed weights per row value and emits each
  surviving value ``|net|`` times, the manifest feed and both
  ``net=True`` feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# replicate_net materializes one sequence array per surviving group;
# chunking bounds any one array at this many entries (ADVICE r8 low).
# Read at call time, so a test can lower it to reach the second level.
_REPLICATE_CHUNK = 1_000_000


def replicate_net(signed: DataFrame, names: list[str], sign: str,
                  tmp: tuple[str, str, str] = ("__w", "__c", "__r")
                  ) -> DataFrame:
    """Group ``signed`` by ``names`` and sum its signed weight column
    ``sign``: a net count > 0 means that many insert rows, < 0 that
    many deletes, 0 fully cancelled. Returns ``names`` plus
    ``_change_type``. ``tmp`` names the net, chunk and repeat columns.

    This is the multiset difference of Spark's ``exceptAll`` pair in
    ONE aggregation (optimization r8, guide §2.1 "shuffle less"):
    duplicates replicate ``|net|`` times and grouping is null-safe.
    Unlike ``exceptAll``'s streaming ReplicateRows generator,
    ``explode(sequence)`` materializes its whole array, so a value
    duplicated millions of times would build a multi-GB array.
    Two-level chunking bounds any single array at ``_REPLICATE_CHUNK``
    entries (8 MB of longs) while the common ``|net| = 1`` case pays
    two singleton explodes."""
    w, c, r = tmp
    n = F.abs(F.col(w))
    chunk = F.lit(_REPLICATE_CHUNK).cast("long")
    return (
        signed.groupBy(*names)
        .agg(F.sum(sign).alias(w))
        .filter(F.col(w) != 0)
        .withColumn("_change_type",
                    F.when(F.col(w) > 0, F.lit("insert"))
                    .otherwise(F.lit("delete")))
        .withColumn(c, F.explode(F.sequence(
            F.lit(0).cast("long"),
            F.floor((n - F.lit(1)) / chunk).cast("long"))))
        .withColumn(r, F.explode(F.sequence(
            F.lit(1).cast("long"),
            F.least(chunk, n - F.col(c) * chunk))))
        .select(*names, "_change_type")
    )


def position_changelog(old_side: DataFrame, new_side: DataFrame,
                       names: list[str], net: bool = False) -> DataFrame:
    """Row-level diff of two snapshots' live rows. Each side carries
    ``names`` plus the row's normalized (``___path``, ``___pos``);
    returns ``names`` plus ``_change_type``: rows live only in
    ``new_side`` are inserts, rows live only in ``old_side`` deletes.
    ``net=True`` also cancels exact-duplicate insert/delete pairs, so a
    pure compaction nets to zero rows.

    ONE aggregation decides both directions (optimization r8, guide
    §2.1/§2.2): (``___path``, ``___pos``) is unique within a side (one
    row per live position of an immutable file), so a group seeing
    both sides is a retained row (cancels) and a single-side group is
    that side's change — the semantics of two left-anti joins, with
    each side's live-set plan computed ONCE. Values ride in a struct
    and are never grouped on, so map-typed columns stay legal; a
    surviving group has exactly one row, so ``first()`` is
    deterministic."""
    meta = ["___path", "___pos"]
    sides = (
        old_side.select(*meta, F.struct(*names).alias("___v"),
                        F.lit(-1).alias("___s"))
        .unionByName(new_side.select(*meta, F.struct(*names).alias("___v"),
                                     F.lit(1).alias("___s")))
        .groupBy(*meta)
        .agg(F.sum("___s").alias("___s"), F.first("___v").alias("___v"))
        .filter(F.col("___s") != 0)
    )
    feed = sides.select(
        "___v.*",
        F.when(F.col("___s") > 0, F.lit("insert"))
         .otherwise(F.lit("delete")).alias("_change_type"))
    if not net:
        return feed
    signed = feed.withColumn(
        "___sign", F.when(F.col("_change_type") == "insert",
                          F.lit(1)).otherwise(F.lit(-1)))
    return replicate_net(signed, names, "___sign", ("___n", "___c", "___i"))
