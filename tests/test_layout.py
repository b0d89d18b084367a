"""The layout operators' per-process temp root is reaped at exit."""

from pyspark.sql import SparkSession

from golang_etl_spark.operators import layout


def test_reaper_removes_root_when_session_lookup_raises(monkeypatch, tmp_path):
    # at interpreter exit the JVM may already be dead, and then the
    # session lookup itself raises; the root must still be removed
    root = tmp_path / "spark_graft_layout_root"
    (root / "orders" / "bucketed").mkdir(parents=True)
    monkeypatch.setitem(layout._cleanup, "root", str(root))
    monkeypatch.setitem(layout._cleanup, "tables", {"orders_bucketed_1"})

    def dead_jvm():
        raise ConnectionRefusedError("gateway is gone")

    monkeypatch.setattr(SparkSession, "getActiveSession", dead_jvm)
    layout._reap_layout_artifacts()
    assert not root.exists()
