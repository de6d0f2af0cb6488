"""The shared plan memo's bound (``feature_store_api_spark.plan_memo``)."""

from feature_store_api_spark import plan_memo


def test_memo_bound_shared_across_callers(monkeypatch):
    """Every caller's entries count against ONE bound: filling the store
    from two callers' tags keeps it within the bound, drops the oldest
    entries first and keeps the newest."""
    monkeypatch.setattr(plan_memo, "_CACHE", {})
    keys = [("app", ("pit_probe", "ns_offsets")[i % 2], i) for i in range(600)]
    for i, k in enumerate(keys):
        assert plan_memo.memo(k, lambda: i) == i
        assert len(plan_memo._CACHE) <= plan_memo._BOUND
    newest = keys[-plan_memo._BOUND // 2:]
    assert all(plan_memo._CACHE[k] == keys.index(k) for k in newest)
    assert keys[0] not in plan_memo._CACHE
    # a hit returns the stored value without computing
    assert plan_memo.memo(keys[-1], lambda: "recomputed") == len(keys) - 1
    assert {k[1] for k in plan_memo._CACHE} == {"pit_probe", "ns_offsets"}
