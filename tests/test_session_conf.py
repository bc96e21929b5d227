"""Unit gate for the scale-adaptive local-mode driver-heap default
(guide §5): in local mode the driver JVM hosts every executor thread,
so the default heap must grow with the thread count; non-local masters
keep the plain driver-sized 8g."""

from __future__ import annotations

import os
import re

import pytest

from sifr_project_java_ontology_processing_spark.session import _default_driver_mem


def _gb(s: str) -> int:
    m = re.fullmatch(r"(\d+)g", s)
    assert m, f"not a whole-GiB heap string: {s!r}"
    return int(m.group(1))


def _phys_cap_gb() -> int:
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return max(8, int(phys_gib / 2))


def test_cluster_masters_keep_driver_sized_default():
    for master in ("yarn", "k8s://https://host:443", "spark://host:7077"):
        assert _default_driver_mem(master) == "8g"


def test_local_scales_with_thread_count():
    cap = _phys_cap_gb()
    # 0.75 GiB/thread, floored at the old 8g default
    assert _gb(_default_driver_mem("local[4]")) == 8
    assert _gb(_default_driver_mem("local[32]")) == min(24, cap)
    assert _gb(_default_driver_mem("local[64]")) == min(48, cap)
    # local / local[*] follow the machine's core count
    want = min(max(8, -(-(os.cpu_count() or 8) * 3 // 4)), cap)
    assert _gb(_default_driver_mem("local[*]")) == want
    assert _gb(_default_driver_mem("local")) == want
    # retry-count form local[N,F] (N threads, F task failures)
    assert _gb(_default_driver_mem("local[4,2]")) == 8


def test_capped_at_half_physical_ram():
    assert _gb(_default_driver_mem("local[100000]")) == _phys_cap_gb()


def _fake_sysconf(total_bytes: int):
    def sysconf(name):
        return {"SC_PHYS_PAGES": total_bytes // 4096, "SC_PAGE_SIZE": 4096}[name]

    return sysconf


def test_retry_form_master_scales_like_plain_local(monkeypatch):
    # 128 GiB of RAM lifts the cap above 24g, so the scaled value differs
    # from the 8g a non-matching master falls back to
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(128 * 2**30))
    assert _default_driver_mem("local[32,2]") == "24g"
    assert _default_driver_mem("local[32]") == "24g"
    assert _default_driver_mem("local[64,3]") == "48g"


@pytest.mark.parametrize("err", [ValueError, OSError, AttributeError])
def test_failing_sysconf_skips_only_the_ram_cap(monkeypatch, err):
    def sysconf(name):
        raise err(name)

    monkeypatch.setattr(os, "sysconf", sysconf)
    assert _default_driver_mem("local[32]") == "24g"
    assert _default_driver_mem("local[32,2]") == "24g"
    assert _default_driver_mem("local[4]") == "8g"
    assert _default_driver_mem("yarn") == "8g"
