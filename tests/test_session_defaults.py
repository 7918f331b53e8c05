"""Resource defaults of ``get_spark`` follow the host (no JVM started)."""

from __future__ import annotations

import os

from eventstreamd_spark import session

GIB = 2**30


def test_driver_memory_is_half_the_host_capped_at_48g() -> None:
    assert session.default_driver_memory(15 * GIB + GIB // 2) == "7936m"
    assert session.default_driver_memory(8 * GIB) == "4096m"
    assert session.default_driver_memory(96 * GIB) == "49152m"
    assert session.default_driver_memory(512 * GIB) == "49152m"
    assert session.default_driver_memory(GIB) == "1024m"  # floor


def test_host_memory_respects_a_smaller_cgroup_limit(tmp_path, monkeypatch) -> None:
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    unlimited = tmp_path / "unlimited"
    unlimited.write_text("max\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(unlimited),))
    assert session.host_memory_bytes() == physical

    limited = tmp_path / "limited"
    limited.write_text(f"{physical // 4}\n")
    monkeypatch.setattr(
        session,
        "_CGROUP_MEMORY_LIMITS",
        (str(tmp_path / "missing"), str(limited)),
    )
    assert session.host_memory_bytes() == physical // 4


def test_get_spark_defaults_and_overrides(monkeypatch) -> None:
    """What ``get_spark`` hands the builder, captured before any JVM
    starts: host cores and derived heap, unless the env overrides."""
    seen: dict[str, str] = {}

    class Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before the JVM")

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 16 * GIB)

    def build() -> dict[str, str]:
        seen.clear()
        try:
            session.get_spark()
        except RuntimeError:
            pass
        return dict(seen)

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = build()
    assert conf["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    assert conf["spark.driver.memory"] == "8192m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = build()
    assert conf["master"] == "local[3]"
    assert conf["spark.driver.memory"] == "2g"
