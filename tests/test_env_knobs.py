"""Env-knob census: every SPARK_GRAFT_* name the engine package reads.
A new knob must show up here as a visible diff, so the set is pinned."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "tegola_spark"

KNOBS = {"CPUS", "DRIVER_MEM", "UI"}


def test_env_knob_census():
    found = set()
    for path in PKG.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_([A-Z_]+)", path.read_text()))
    assert found == KNOBS
