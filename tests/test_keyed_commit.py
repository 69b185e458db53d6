"""The keyed commit: merge, delete_keys, apply_changes and predicate
delete share one scope probe and one mask-or-rewrite tail.

Pins, per layout x mode x operation: the table state against a Python
model, the operation name, the OCC tokens, the return-dict keys and the
Spark job count of the commit; the noop rule for empty batches; and a
two-sided batch whose sides probe in different shapes.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from forklift_spark.manifest import ManifestTable

LAYOUTS = {
    "unpartitioned": {},
    "partitioned": {"partition_by": "y"},
    "bucketed": {"partition_by": "y", "bucket_by": ("k", 4)},
}
BASE = {k: (k % 3 + 1, k * 10) for k in range(30)}
UPS = [(1, 2, 999), (100, 2, 5)]
TOMB = 4  # lives in partition y=2

# Spark jobs per commit (one job group per call) on the 30-row table.
# ops: merge / delete_keys / delete_keys without y / apply_changes /
# apply_changes with tombstones without y / delete(predicate).
# Before the fold the unprunable cells ran 6 and 9 jobs (rewrite) and
# 10 and 14 (dv) on partitioned layouts; every other cell is unchanged.
MAX_JOBS = {
    ("partitioned", False): (3, 3, 3, 3, 4, 3),
    ("partitioned", True): (8, 7, 7, 8, 9, 5),
    ("unpartitioned", False): (3, 3, 3, 3, 3, 1),
    ("unpartitioned", True): (8, 7, 7, 8, 8, 5),
}
MAX_JOBS[("bucketed", False)] = MAX_JOBS[("partitioned", False)]
MAX_JOBS[("bucketed", True)] = MAX_JOBS[("partitioned", True)]
OPS = ("merge", "delete_keys", "delete_keys_no_y", "apply_changes",
       "apply_changes_no_y", "delete")


@pytest.fixture()
def make_table(spark, tmp_path):
    base = spark.createDataFrame(
        [(k, y, v) for k, (y, v) in BASE.items()], "k long, y int, v long"
    ).coalesce(1)
    n = itertools.count()

    def make(layout: str) -> ManifestTable:
        t = ManifestTable(spark, str(tmp_path / f"t{next(n)}"), "t")
        t.create(base, **LAYOUTS[layout])
        return t

    return make


def _state(t):
    return sorted((r.k, r.y, r.v) for r in t.read().collect())


def _model(op: str):
    rows = dict(BASE)
    if op in ("merge", "apply_changes", "apply_changes_no_y"):
        for k, _y, _v in UPS:
            rows.pop(k, None)
    if op.startswith(("delete_keys", "apply_changes")):
        rows.pop(TOMB)
    if op == "delete":
        rows.pop(7)
    if op.startswith(("merge", "apply_changes")):
        rows.update({k: (y, v) for k, y, v in UPS})
    return sorted((k, y, v) for k, (y, v) in rows.items())


def _run(spark, t, op: str, use_dv: bool) -> dict:
    ups = spark.createDataFrame(UPS, "k long, y int, v long")
    tombs = spark.createDataFrame([(TOMB, 2)], "k long, y int")
    tombs_no_y = spark.createDataFrame([(TOMB,)], "k long")
    if op == "merge":
        return t.merge(ups, on="k", use_dv=use_dv)
    if op == "delete_keys":
        return t.delete_keys(tombs, on="k", use_dv=use_dv)
    if op == "delete_keys_no_y":
        return t.delete_keys(tombs_no_y, on="k", use_dv=use_dv)
    if op == "apply_changes":
        return t.apply_changes(ups, tombs, on="k", use_dv=use_dv)
    if op == "apply_changes_no_y":
        return t.apply_changes(ups, tombs_no_y, on="k", use_dv=use_dv)
    return t.delete(F.col("k") == 7, use_dv=use_dv)


@pytest.mark.parametrize("use_dv", [False, True], ids=["rewrite", "dv"])
@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_keyed_ops_match_model(spark, make_table, layout, use_dv):
    sc = spark.sparkContext
    names = {"merge": "merge", "delete": "delete", "apply": "apply-changes"}
    for i, op in enumerate(OPS):
        t = make_table(layout)
        v0 = t.current_version()
        group = f"keyed_{layout}_{use_dv}_{op}"
        sc.setJobGroup(group, group)
        try:
            res = _run(spark, t, op, use_dv)
        finally:
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
        assert _state(t) == _model(op), op
        assert res["version"] == t.current_version() == v0 + 1, op
        name = names[op.split("_")[0]]
        assert t.history()[-1]["operation"] == (f"{name}+dv" if use_dv else name)
        if layout == "unpartitioned":
            touched = [""]
        elif op.endswith("no_y") and not use_dv:
            touched = ["1", "2", "3"]  # the unpruned rewrite names its scope
        else:
            touched = ["2"]
        assert res["touched_partitions"] == touched, op
        stats = {"files_rewritten", "files_written"}
        if use_dv:
            stats |= {"files_scanned", "rows_masked"}
            assert res["files_rewritten"] == 0
            assert res["rows_masked"] == (2 if op.startswith("apply") else 1), op
        assert set(res) == {"version", "touched_partitions", "files_carried"} | stats
        assert jobs <= MAX_JOBS[(layout, use_dv)][i], (op, jobs)


@pytest.mark.parametrize("use_dv", [False, True], ids=["rewrite", "dv"])
@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_empty_batches_commit_nothing(spark, make_table, layout, use_dv):
    """Every side empty -> no version, no file written or rewritten."""
    t = make_table(layout)
    v0, files0 = t.current_version(), sorted(t.files())
    empty_ups = spark.createDataFrame([], "k long, y int, v long")
    calls = [
        lambda: t.merge(empty_ups, on="k", use_dv=use_dv),
        lambda: t.delete_keys(
            spark.createDataFrame([], "k long"), on="k", use_dv=use_dv
        ),
        lambda: t.delete_keys(
            spark.createDataFrame([], "k long, y int"), on="k", use_dv=use_dv
        ),
        lambda: t.apply_changes(
            empty_ups, spark.createDataFrame([], "k long"), on="k",
            use_dv=use_dv,
        ),
    ]
    if layout != "unpartitioned" or use_dv:
        # no live row matches: an empty scope with nothing to append
        calls.append(lambda: t.delete(F.col("k") == 777, use_dv=use_dv))
    if not use_dv:
        calls.append(lambda: t.merge_into(empty_ups, on="k"))
    for call in calls:
        res = call()
        assert res["version"] == v0 and res["touched_partitions"] == []
        assert res["files_rewritten"] == 0 and res["rows_masked"] == 0
    assert t.current_version() == v0
    assert sorted(t.files()) == files0


@pytest.mark.parametrize("tomb_schema", ["k int, y int", "k string, y int"])
def test_mismatched_probe_shapes_land_as_one_commit(spark, make_table, tomb_schema):
    """Tombstone keys typed unlike the upserts' probe separately (an int
    key column, or a string one that cannot zone-prune a long key) and
    still commit with the upserts as one version."""
    t = make_table("partitioned")
    v0 = t.current_version()
    ups = spark.createDataFrame(UPS, "k long, y int, v long")
    key = TOMB if tomb_schema.startswith("k int") else str(TOMB)
    tombs = spark.createDataFrame([(key, 2)], tomb_schema)
    for use_dv in (True, False):
        t.apply_changes(ups, tombs, on="k", use_dv=use_dv)
        assert _state(t) == _model("apply_changes")
    assert t.current_version() == v0 + 2
