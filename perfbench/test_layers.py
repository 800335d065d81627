"""The steal-aware stopwatch (run: python -m pytest perfbench)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402


def _ticks(monkeypatch, *readings):
    it = iter(readings)
    monkeypatch.setattr(layers, "cpu_ticks", lambda: next(it))


def test_stolen_share_of_busy_ticks_is_taken_out(monkeypatch):
    # 100 ticks with work to run, 25 of them stolen: three quarters left
    _ticks(monkeypatch, (10, 1_000), (35, 1_100))
    sw = layers.Stopwatch()
    wall = sw.wall_s()
    assert 0.75 * wall <= sw.time_s() <= 0.75 * sw.wall_s()


def test_without_steal_the_readings_are_equal(monkeypatch):
    _ticks(monkeypatch, (10, 1_000), (10, 1_100))
    sw = layers.Stopwatch()
    wall = sw.wall_s()
    assert wall <= sw.time_s() <= sw.wall_s()


def test_cpu_ticks_reads_this_machine():
    steal, wanted = layers.cpu_ticks()
    assert 0 <= steal <= wanted
