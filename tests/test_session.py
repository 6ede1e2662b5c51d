"""Session factory: the default driver heap follows the host."""

from __future__ import annotations

import pytest

from pii_redactor_spark import session


@pytest.mark.parametrize("limit, heap", [
    (16 * 2**30, "8192m"),     # half of a 16 GiB host
    (64 * 2**30, "24576m"),    # capped at 24g
    (None, "24576m"),          # limit unreadable: the 24g cap
])
def test_default_driver_memory_is_half_the_limit_capped_at_24g(
        monkeypatch, limit, heap):
    monkeypatch.setattr(session, "_memory_limit_bytes", lambda: limit)
    assert session.default_driver_memory() == heap


def test_memory_limit_reads_this_host():
    limit = session._memory_limit_bytes()
    assert limit is not None and limit > 0
