"""Registration-order contract: the driver hash-checks only the FIRST 50
entries of ``queries()``. These tests pin the curated window so a refactor
can't silently push a family back out of driver visibility (the round-1
failure mode — see VERDICT.md). Since round 3 the window ROTATES to
never-driver-checked queries each round, so family coverage is asserted
over the union of past CORRECTNESS rounds plus the current window."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import bench
from bigdatainfinance1_spark.registry import (
    DRIVER_WINDOW_ORDER,
    ROWS_ONLY_BY_DESIGN,
    load_all_queries,
)

DRIVER_CAP = 50
REPO = Path(__file__).resolve().parent.parent

# One representative query per SURVEY §2 family that MUST have driver
# evidence — either a row in a past CORRECTNESS_r{N}.json or a slot in the
# current window.
FAMILY_REPRESENTATIVES = {
    "S": "q_csv_roundtrip",
    "P": "q_null_handling",
    "J": "q_star_join",
    "A": "q_pricing_summary",
    "W": "q_sessionization",
    "O": "q_union_all",
    "F": "q_string_funcs",
    "ST": "q_stream_tumbling",
    "L": "q_cosine_topk",
    "U": "q_udf_pandas_revenue",
}


def _driver_evidenced() -> set[str]:
    names: set[str] = set(list(load_all_queries())[:DRIVER_CAP])
    for f in REPO.glob("CORRECTNESS_r*.json"):
        names |= set(json.loads(f.read_text()))
    return names


def test_window_order_names_are_registered():
    specs = load_all_queries()
    missing = [n for n in DRIVER_WINDOW_ORDER if n not in specs]
    assert not missing, f"DRIVER_WINDOW_ORDER names not in registry: {missing}"


def test_window_order_has_no_duplicates():
    assert len(set(DRIVER_WINDOW_ORDER)) == len(DRIVER_WINDOW_ORDER)


def test_window_rotation_spends_no_slot_on_checked_queries():
    """Every one of the 50 slots should earn a FIRST driver row — a slot
    spent re-checking an already-green query is an evidence slot wasted
    (round-2 verdict: 202/288 queries had zero driver rows).

    Round-aware (round-3 verdict defect 4): the driver writes a
    CORRECTNESS artifact *for the current window* at the round boundary,
    which would trivially make every slot look "already checked". An
    artifact whose name-set is a subset of the current window IS the
    current window's own evidence — exclude it; only rows from *prior*
    windows count as wasted slots.

    Retry-aware (round-5 verdict tasks 1 + 3): a slot on an
    already-checked query is LEGITIMATE when that query's most recent
    driver row is non-green (err, or any match flag false) — re-greening
    a red is exactly what a slot is for. Only green re-checks waste."""
    window = set(list(load_all_queries())[:DRIVER_CAP])
    latest: dict[str, tuple[int, dict]] = {}
    for f in REPO.glob("CORRECTNESS_r*.json"):
        names = json.loads(f.read_text())
        if set(names) <= window:  # the artifact this window itself produced
            continue
        rnd = int(f.stem.split("_r")[1])
        for n, row in names.items():
            if n not in latest or rnd > latest[n][0]:
                latest[n] = (rnd, row)

    def green(row: dict) -> bool:
        return (
            row.get("err") is None
            and row.get("rows_match") is True
            and row.get("schema_match") is True
            and row.get("hash_match") is True
        )

    rechecks = sorted(n for n in window if n in latest and green(latest[n][1]))
    assert not rechecks, f"window slots wasted on already-GREEN queries: {rechecks}"


def test_every_family_has_driver_evidence():
    evidenced = _driver_evidenced()
    for family, name in FAMILY_REPRESENTATIVES.items():
        assert name in evidenced, (
            f"family {family} rep {name} has neither a past CORRECTNESS row "
            "nor a current window slot"
        )


def test_first_50_are_mostly_hash_checkable():
    specs = load_all_queries()
    window = list(specs)[:DRIVER_CAP]
    with_oracle = [n for n in window if specs[n].oracle is not None]
    # VERDICT round-1 target: >=45 of the 50 slots hash-checked.
    assert len(with_oracle) >= 45, (
        f"only {len(with_oracle)}/{DRIVER_CAP} window queries have oracles: "
        f"rows-only = {sorted(set(window) - set(with_oracle))}"
    )


def test_rows_only_set_is_exactly_the_declared_four():
    """Rows-only is a DECLARED tier, not a drift direction: the set of
    oracle-less registrations must equal ROWS_ONLY_BY_DESIGN (round-6
    verdict task 6), each twin must itself carry a full oracle, and none
    of the four may occupy a driver-window slot (the row would read
    `err: no_oracle` forever — a wasted slot)."""
    specs = load_all_queries()
    rows_only = {n for n, s in specs.items() if s.oracle is None}
    assert rows_only == set(ROWS_ONLY_BY_DESIGN)
    for name, twin in ROWS_ONLY_BY_DESIGN.items():
        assert specs[twin].oracle is not None, f"{name}'s twin {twin} lacks an oracle"
    assert not rows_only & set(DRIVER_WINDOW_ORDER)


def test_registry_still_contains_everything():
    # Reordering must not drop registrations: full surface stays >= 109.
    assert len(load_all_queries()) >= 109


def test_bench_headline_names_are_registered_and_unique():
    # bench.HEADLINE is also scale_check.py's default query set
    specs = load_all_queries()
    assert [n for n in bench.HEADLINE if n not in specs] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/tmp/bigdatainfinance1_sfx10", -1.0),
        (".perfbench/stage_x10", -1.0),
        ("testdata/sf0.1/", 0.1),
    ],
)
def test_bench_sf_label(sf_dir, sf):
    # a replicated stage dir has no numeric sf<N> suffix and must not raise
    assert bench.sf_label(sf_dir) == sf
