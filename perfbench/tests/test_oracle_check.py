"""The oracle compare accepts the oracle's own frame and flags a wrong one."""

import os

import pyarrow.parquet as pq

import oracle

SF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                  "data", "sf0.001")
SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def _check(pdf):
    from verify_driver import _canon, _value_hash

    return {"columns": sorted(pdf.columns), "rows": len(pdf),
            "hash": _value_hash(_canon(pdf))}


def _engine_frame():
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    return pq.read_table(os.path.join(SF, "nation.parquet"), columns=cols).to_pandas()


def test_matching_frame_passes_and_wrong_frames_are_flagged():
    expected = oracle.compute(SF, {"k": SQL})["k"]
    good = _engine_frame()
    assert oracle.compare(_check(good), expected) is None

    wrong_value = good.copy()
    wrong_value.loc[3, "n_regionkey"] += 1
    assert oracle.compare(_check(wrong_value), expected) == "values differ"

    assert oracle.compare(_check(good.iloc[1:]), expected).startswith("rows")
    assert oracle.compare(_check(good.drop(columns="n_name")),
                          expected).startswith("columns")
    assert oracle.compare({"error": "boom"}, expected) == "boom"
    assert oracle.compare(_check(good), None) == "no oracle"


def test_cache_key_changes_with_sql_data_and_environment():
    d = oracle.data_digest(SF)
    assert oracle.cache_key(SQL, d) != oracle.cache_key(SQL + " ", d)
    assert oracle.cache_key(SQL, d) != oracle.cache_key(SQL, "other")
    env = oracle.environment_digest()
    assert len(env) == 64 and env == oracle.environment_digest()


def test_expected_caches_oracle_hashes(tmp_path, monkeypatch):
    cache = str(tmp_path / "oracle.json")
    first = oracle.expected(SF, {"k": SQL}, cache)
    monkeypatch.setattr(oracle, "compute", lambda *a: 1 / 0)
    assert oracle.expected(SF, {"k": SQL}, cache) == first
