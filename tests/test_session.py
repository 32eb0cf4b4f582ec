"""Session configuration parsing (colcrush/session.py)."""

from __future__ import annotations

import pytest

from colcrush.session import shuffle_compress


@pytest.mark.parametrize("value", ["1", "true", "YES", " True "])
def test_shuffle_compress_on(value):
    assert shuffle_compress(value, ram_backed=True) is True


@pytest.mark.parametrize("value", ["0", "false", "No", "FALSE"])
def test_shuffle_compress_off(value):
    assert shuffle_compress(value, ram_backed=False) is False


def test_shuffle_compress_auto_follows_local_dir():
    assert shuffle_compress("auto", ram_backed=True) is False
    assert shuffle_compress("AUTO", ram_backed=False) is True


@pytest.mark.parametrize("value", ["", "2", "on", "off", "ture"])
def test_shuffle_compress_rejects_unknown(value):
    with pytest.raises(ValueError, match=repr(value)):
        shuffle_compress(value, ram_backed=True)
