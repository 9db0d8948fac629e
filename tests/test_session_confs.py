"""Engine session configuration guards: the scale-relevant settings
must survive refactors (SCALE.md documents why each matters)."""

from __future__ import annotations


def test_engine_confs(spark):
    # the shared test session is built by session.get_spark
    from metrics_service_spark.session import get_spark

    s = get_spark("conf-guard")
    assert s.conf.get("spark.sql.adaptive.enabled") == "true"
    assert s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # broadcast threshold raised so every dim in SCALE.md broadcasts
    assert int(s.conf.get("spark.sql.autoBroadcastJoinThreshold")) >= 64 * 1024 * 1024


def test_default_parallelism_follows_the_cores_this_process_may_use(monkeypatch):
    import os

    from metrics_service_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
