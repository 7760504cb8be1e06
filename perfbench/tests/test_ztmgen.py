"""The seeded ZTM feed generator: reproducible, covers the FIXTURES.md
edge cases, and lands DelayFact rows in every hour."""

from __future__ import annotations

import csv
import glob
import hashlib
import os

import duckdb
import pytest

import ztmgen
from tests.ztm_oracle import DELAY_FACT_ORACLE, register_inputs

ROWS = 400  # delay rows per hourly file; the layout, not the size, is under test


def _digest(root: str) -> dict[str, str]:
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*.csv"), recursive=True)):
        with open(path, "rb") as f:
            out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _rows(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


@pytest.fixture(scope="module")
def tree(tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("ztm"))
    ztmgen.generate(root, seed=7, delay_rows_per_hour=ROWS)
    return root


def test_same_seed_gives_identical_tree(tree, tmp_path):
    again = str(tmp_path / "again")
    ztmgen.generate(again, seed=7, delay_rows_per_hour=ROWS)
    assert _digest(again) == _digest(tree)
    other = str(tmp_path / "other")
    ztmgen.generate(other, seed=8, delay_rows_per_hour=ROWS)
    assert _digest(other) != _digest(tree)


def test_every_hour_lands_delay_facts(tree):
    con = duckdb.connect()
    register_inputs(con, tree)
    per_hour = dict(
        con.execute(
            f"select cast(right(weather_id, 2) as int), count(*) from ({DELAY_FACT_ORACLE}) group by 1"
        ).fetchall()
    )
    assert sorted(per_hour) == list(range(24))
    assert min(per_hour.values()) > 0


def test_fixture_edge_cases_present(tree):
    day = os.path.join(tree, "{}", ztmgen.DAY_DIR)
    vehicles = _rows(os.path.join(tree, "ztm_vehicles_detailed.csv"))
    years = {v["production_year"] for v in vehicles}
    assert {"2015a", "n/a"} & years and "" in years  # dirty and missing years
    numbers = [v["vehicle_number"] for v in vehicles]
    assert "" in numbers and "  " in numbers  # null and blank vehicle numbers

    names = [s["stop_name"] for s in _rows(os.path.join(day.format("gtfs"), "stops.csv"))]
    assert len(names) > len(set(names))  # display names shared by two stop ids

    files = sorted(glob.glob(os.path.join(day.format("delays"), "*.csv")))
    assert len(files) == 24
    first, second = _rows(files[0]), _rows(files[1])
    delays = {d["Delay"] for d in first}
    assert "0 min" in delays and any("przed czasem" in d for d in delays)
    assert any(d["Vehicle No"] == "" for d in first)
    as_tuples = {tuple(d.values()) for d in first}
    assert any(tuple(d.values()) in as_tuples for d in second)  # row repeated across files

    weather = [r for f in glob.glob(os.path.join(day.format("weather"), "*.csv")) for r in _rows(f)]
    assert any(r["temperatura"] == "" for r in weather)
    assert any(r["suma_opadu"] == "" or r["cisnienie"] == "" for r in weather)
    # other stations sort after 12375, so the hour dedup never drops 12375
    assert all(r["id_stacji"] >= "12375" for r in weather)
