"""Session factory defaults that depend on the host."""

from sparklink import session


def test_default_driver_memory_is_half_of_ram_capped_at_48g(monkeypatch):
    conf = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: conf[name])
    conf["SC_PHYS_PAGES"] = 15 * 2**30 // 4096  # a 15 GB host
    assert session._default_driver_memory() == "7680m"
    conf["SC_PHYS_PAGES"] = 256 * 2**30 // 4096  # a large box keeps the 48g ceiling
    assert session._default_driver_memory() == "49152m"
