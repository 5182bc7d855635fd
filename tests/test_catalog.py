"""Catalog: lazy loads, process-level cache, temp-view registration
(the SQL entry surface over a data directory, A30)."""

from __future__ import annotations

from one_stop_cdc_ingestion_toolkit_spark.catalog import Catalog, tables
from tests.conftest import SF_DIR


def test_catalog_cache_is_per_session_and_dir(spark):
    c1 = tables(spark, SF_DIR)
    c2 = tables(spark, SF_DIR + "/")  # trailing slash normalizes
    assert c1 is c2
    assert c1.table("region") is c1.table("region")  # lazy single load


def test_cache_eviction_spares_live_sessions(spark):
    """ADVICE r8: overflow eviction must drop dead-session/oldest entries,
    never clear() the whole cache (which thrashed every live session's
    schema cache when a 17th (session, sf_dir) combo appeared)."""
    from types import SimpleNamespace

    from one_stop_cdc_ingestion_toolkit_spark import catalog as cat_mod

    saved = dict(cat_mod._CATALOGS)
    try:
        cat_mod._CATALOGS.clear()
        live = tables(spark, SF_DIR)
        dead_sc = SimpleNamespace(_jsc=None)
        for i in range(17):
            cat_mod._CATALOGS[(i, f"/fake/{i}")] = SimpleNamespace(
                spark=SimpleNamespace(sparkContext=dead_sc)
            )
        # overflow trigger: a genuinely NEW (session, dir) key past the bound
        tables(spark, SF_DIR.replace("sf0.001", "sf0.01"))
        again = tables(spark, SF_DIR + "/")
        assert again is live  # the live catalog survived the eviction
        assert all(
            getattr(c.spark.sparkContext, "_jsc", 1) is not None
            for c in cat_mod._CATALOGS.values()
        )
    finally:
        cat_mod._CATALOGS.clear()
        cat_mod._CATALOGS.update(saved)


def test_cache_bound_is_16_and_hits_refresh_lru(spark):
    """ADVICE r9: evict BEFORE insert so steady state holds ≤16 entries
    (the old after-insert check held 17), and a cache HIT refreshes
    recency so the fallback eviction is LRU, not FIFO — a hot live
    session inserted early must outlive stale-but-alive entries."""
    from types import SimpleNamespace

    from one_stop_cdc_ingestion_toolkit_spark import catalog as cat_mod

    saved = dict(cat_mod._CATALOGS)
    try:
        cat_mod._CATALOGS.clear()
        hot = tables(spark, SF_DIR)  # inserted FIRST
        live_sc = SimpleNamespace(_jsc=object())
        for i in range(15):  # fill to the bound with live fakes
            fake_spark = SimpleNamespace(sparkContext=live_sc)
            cat_mod._CATALOGS[(id(fake_spark), f"/fake/{i}")] = (
                SimpleNamespace(spark=fake_spark)
            )
        assert len(cat_mod._CATALOGS) == 16
        assert tables(spark, SF_DIR) is hot  # HIT — refreshes recency
        # a 17th key must evict the LRU (a fake), never the hot entry
        tables(spark, SF_DIR.replace("sf0.001", "sf0.01"))
        assert len(cat_mod._CATALOGS) <= 16  # bound holds at steady state
        assert tables(spark, SF_DIR) is hot  # hot survived
    finally:
        cat_mod._CATALOGS.clear()
        cat_mod._CATALOGS.update(saved)


def test_register_views_sql(spark):
    cat = Catalog(spark, SF_DIR)
    cat.register_views(("region", "nation"))
    got = spark.sql(
        """SELECT r_name, COUNT(*) AS n FROM nation
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name ORDER BY r_name"""
    ).collect()
    assert len(got) == 5 and all(r["n"] == 5 for r in got)
