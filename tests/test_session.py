"""Session sizing comes from the host, not from hard-coded numbers: a
heap larger than the host's memory kills the JVM at start-up (-Xms
pre-commits it)."""

from __future__ import annotations

from map_reduce_lite_spark.session import MAX_DRIVER_MEM_MB, session_sizing

GIB_KB = 1024 * 1024


def test_half_of_memory_and_every_core():
    assert session_sizing({}, 16 * GIB_KB, 4) == ("4", "8192m")


def test_heap_capped_on_large_hosts():
    assert session_sizing({}, 256 * GIB_KB, 32) == ("32", f"{MAX_DRIVER_MEM_MB}m")
    assert MAX_DRIVER_MEM_MB == 24 * 1024


def test_heap_never_exceeds_host_memory():
    for gib in (1, 2, 15, 47, 48, 49, 1024):
        heap_mb = int(session_sizing({}, gib * GIB_KB, 1)[1].rstrip("m"))
        assert 0 < heap_mb <= gib * 1024 // 2


def test_unknown_host_falls_back():
    assert session_sizing({}, None, None) == ("1", "1024m")


def test_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert session_sizing(env, 16 * GIB_KB, 4) == ("2", "3g")
    assert session_sizing({"SPARK_GRAFT_CPUS": "6"}, 16 * GIB_KB, 4) == ("6", "8192m")
