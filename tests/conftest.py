from __future__ import annotations

import gc
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_hive_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "hha-tests",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def py4j_commands(monkeypatch):
    """``count(fn)``: the py4j commands sent from this thread while
    ``fn()`` runs.

    Only commands sent from this thread count, and cyclic GC is off while
    counting: py4j sends the detach messages of collected Java objects
    from its finalizer thread, at times that depend on earlier tests.
    """
    from py4j.clientserver import ClientServerConnection

    me = threading.get_ident()
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        sent[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(fn) -> int:
        sent[0] = 0
        gc.collect()
        gc.disable()
        try:
            fn()
        finally:
            gc.enable()
        return sent[0]

    return count
