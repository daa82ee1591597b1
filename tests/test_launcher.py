"""The spark-submit launcher runs with the engine's session factory conf."""

from __future__ import annotations

import os
import runpy
import sys

import pytest
from pyspark.sql import SparkSession

LAUNCHER = os.path.join(os.path.dirname(__file__), "..", "scripts", "run_pipeline.py")
PINNED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
)


class _Built(Exception):
    pass


def _session_options(monkeypatch, build) -> dict:
    """The builder options a call hands to getOrCreate (no session is made)."""
    seen: dict = {}

    def capture(builder):
        seen.update(builder._options)
        raise _Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(_Built):
        build()
    return seen


def test_launcher_session_conf_matches_get_spark(monkeypatch, tmp_path):
    from raptor_service_spark.session import get_spark

    monkeypatch.setattr(sys, "argv", [LAUNCHER, "--workdir", str(tmp_path)])
    # as under spark-submit: the JVM owns the master
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")
    launcher = _session_options(
        monkeypatch, lambda: runpy.run_path(LAUNCHER, run_name="__main__")
    )
    factory = _session_options(monkeypatch, get_spark)
    for key in PINNED:
        assert launcher.get(key) == factory[key], key
    assert "spark.master" not in launcher

    # a bare `python` run falls back to local[N]
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    bare = _session_options(monkeypatch, get_spark)
    assert bare["spark.master"].startswith("local[")
