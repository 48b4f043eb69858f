"""Registry-window invariant: the driver's correctness gate records the
FIRST 50 registered queries; every core (non-TPC-H) gate must therefore
register inside positions 1-50, extras strictly after. This is the
assertion the catalog/__init__.py docstring promises."""

from __future__ import annotations

EXTRAS = {
    "pricing_summary",
    "top_unshipped_orders",
    "forecast_revenue_change",
    "counter_rate_1h",
    "ohlc_1h",
    "irate_idelta_1h",
    "subquery_max_rate_1d",
    "sliding_increase_4h",
    "offset_compare_24h",
    "wap_publish_lifecycle",
    "source_pruned_read",
    "branch_merge_lifecycle",
    "merge_into_sync",
    "interval_join_calibration",
    "promql_topk_1d",
    "absent_series_1h",
    "mad_anomaly_1d",
    "plateau_runs",
    "retention_lifecycle",
}
WINDOW = 50


def test_core_queries_fit_the_50_entry_window():
    from s1tiling_spark import registry

    names = list(registry.queries())
    # every listed extra must still be registered: a deleted query must
    # leave this list too, or the window check would silently shrink
    assert EXTRAS <= set(names), sorted(EXTRAS - set(names))
    core = [n for n in names if n not in EXTRAS]
    assert len(core) <= WINDOW, (
        f"{len(core)} core queries > {WINDOW}-entry driver window — "
        f"consolidate before registering more: {core[WINDOW:]}"
    )
    # extras must come strictly after every core query
    first_extra = min(names.index(n) for n in EXTRAS)
    last_core = max(names.index(n) for n in core)
    assert last_core < first_extra, "a core gate registers after a TPC-H extra"
    # and every registered query has an oracle
    assert set(registry.oracle_sql()) == set(names)
