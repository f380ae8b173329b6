"""``build_session``'s driver heap default, sized from the machine."""

import pytest


@pytest.mark.parametrize(
    "phys_gib,want",
    [(15.7, "6g"), (16, "6g"), (32, "12g"), (60, "24g"), (128, "24g"), (2, "1g")],
)
def test_driver_memory_default_is_40_percent_of_physical_at_most_24g(
    monkeypatch, phys_gib, want
):
    from sparkocr import session

    page = 4096
    conf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": int(phys_gib * 2**30) // page}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.default_driver_memory() == want
