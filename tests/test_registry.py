"""Registry hygiene: the driver-window pin list must reference real
registered queries (a typo'd or renamed name would otherwise silently
fall out of the correctness window), the pin list must exactly fill the
driver's 50-slot window, and load_all() must honor pin order."""

from __future__ import annotations

from boxoffice_spark.registry import _PINNED, load_all

SPECS = load_all()


def test_pinned_names_exist():
    missing = [n for n in _PINNED if n not in SPECS]
    assert not missing, f"_PINNED names not in registry: {missing}"


def test_pinned_fills_driver_window_exactly():
    assert len(_PINNED) == 50
    assert len(set(_PINNED)) == 50


def test_pins_lead_load_order():
    head = list(SPECS)[: len(_PINNED)]
    assert head == _PINNED

