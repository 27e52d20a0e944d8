"""Session defaults derived from the host."""

import io

from mpg_data_warehouse_spark import session


def test_default_driver_memory_is_half_the_host_capped_at_24g(monkeypatch):
    def meminfo(total_kb):
        text = f"MemTotal:       {total_kb} kB\nMemFree:  1024 kB\n"
        return lambda *a, **k: io.StringIO(text)

    gib = 2**20  # kB
    for total_kb, want in [
        (16_456_384, "7g"),  # a 15.7 GiB host
        (20 * gib, "10g"),
        (48 * gib, "24g"),  # exactly at the cap
        (512 * gib, "24g"),  # never above the old fixed default
        (1_000_000, "1g"),  # floor
    ]:
        monkeypatch.setattr(session, "open", meminfo(total_kb), raising=False)
        assert session._default_driver_memory() == want, total_kb

    def unreadable(*a, **k):
        raise OSError("no /proc")

    monkeypatch.setattr(session, "open", unreadable, raising=False)
    assert session._default_driver_memory() == "24g"
