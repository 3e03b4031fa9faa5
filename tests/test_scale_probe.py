"""The spill reader of tools/scale_probe.py raises when it cannot read:
a heap probe that reports zero spill must mean nothing spilled, not
that the REST API was unreachable."""

from __future__ import annotations

import os
import sys
import urllib.error
import urllib.request
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(HERE, "tools"))

import scale_probe  # noqa: E402


def test_spill_totals_raises_when_the_api_cannot_be_read(monkeypatch):
    def refuse(*args, **kwargs):
        raise urllib.error.URLError("connection refused")

    monkeypatch.setattr(urllib.request, "urlopen", refuse)
    with pytest.raises(urllib.error.URLError):
        scale_probe._spill_totals(
            SimpleNamespace(
                sparkContext=SimpleNamespace(
                    uiWebUrl="http://localhost:4040", applicationId="app-1"
                )
            )
        )

