"""Rotation-derivation tests (VERDICT r16 item 4): the driver-check
window is derived from CORRECTNESS_r*.json history — NEW_FACES first,
then oldest-attested-first — so no hand-rolled list can ever again
let stale rows roll over."""
from __future__ import annotations

import json
from pathlib import Path

from artemia_airflow_spark.plans import registry as R


def _write_history(tmp: Path, rows_by_round: dict[int, dict[str, dict]]) -> None:
    for rnd, rows in rows_by_round.items():
        (tmp / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GREEN = {"hash_match": True, "rows_match": True, "spark_rows": 5}
ROWS_ONLY = {"hash_match": None, "err": "no_oracle", "spark_rows": 5}
RED = {"hash_match": False, "rows_match": True, "spark_rows": 5}
ERR = {"hash_match": None, "err": "Boom traceback", "spark_rows": None}


def test_latest_attested_rounds_green_semantics(tmp_path):
    _write_history(tmp_path, {
        1: {"a": GREEN, "b": ROWS_ONLY, "c": GREEN, "d": GREEN},
        2: {"a": GREEN, "c": RED, "d": ERR},
    })
    att = R.latest_attested_rounds(tmp_path)
    assert att["a"] == 2          # re-attested
    assert att["b"] == 1          # rows-only counts as green
    assert att["c"] == 1          # a later RED row does not attest
    assert att["d"] == 1          # a later error does not attest
    assert "e" not in att


def test_latest_attested_rounds_empty_when_no_history(tmp_path):
    assert R.latest_attested_rounds(tmp_path) == {}


def test_derive_priority_oldest_first_with_new_faces(tmp_path, monkeypatch):
    _write_history(tmp_path, {
        1: {"a": GREEN, "c": GREEN},
        2: {"b": GREEN},
        3: {"d": ROWS_ONLY},
    })
    monkeypatch.setattr(R, "QUERIES", {n: (lambda s, d: None) for n in "abcdef"})
    monkeypatch.setattr(R, "NEW_FACES", ["f"])
    got = R.derive_priority(window=4, history_dir=tmp_path)
    # f (declared new) first, e (never attested) next, then round order
    # a before c (registration tiebreak), b/d roll past the cap.
    assert got == ["f", "e", "a", "c"]


def test_derive_priority_window_never_truncates_new_faces(tmp_path, monkeypatch):
    _write_history(tmp_path, {1: {"a": GREEN}})
    monkeypatch.setattr(R, "QUERIES", {n: (lambda s, d: None) for n in "abc"})
    monkeypatch.setattr(R, "NEW_FACES", ["b", "c"])
    assert R.derive_priority(window=1, history_dir=tmp_path) == ["b", "c"]


def test_derive_priority_falls_back_without_history(tmp_path, monkeypatch):
    """No history: every query is unattested, so the window is
    registration order, capped at the window width."""
    monkeypatch.setattr(R, "QUERIES", {n: (lambda s, d: None) for n in "edcba"})
    monkeypatch.setattr(R, "NEW_FACES", [])
    assert R.derive_priority(window=4, history_dir=tmp_path) == list("edcb")


def test_fallback_leads_with_new_faces(tmp_path, monkeypatch):
    """No-history fallback must still front the NEW_FACES (r17 review:
    omitting them there recreated the never-attested-face gap in the
    installed-package case the fallback exists for), then registration
    order; an unregistered NEW_FACES name is skipped."""
    monkeypatch.setattr(R, "QUERIES", {n: (lambda s, d: None) for n in "abcd"})
    monkeypatch.setattr(R, "NEW_FACES", ["c", "q_not_registered"])
    got = R.derive_priority(window=3, history_dir=tmp_path)
    assert got == ["c", "a", "b"]


def test_new_faces_self_retire_once_attested(tmp_path, monkeypatch):
    """A NEW_FACES entry with a green driver row stops leading the
    window (r17 review: a hand-list needing manual pruning is the
    stale-hand-list hazard the derivation was built to remove)."""
    _write_history(tmp_path, {
        1: {"a": GREEN, "b": GREEN},
        3: {"f": GREEN},
    })
    monkeypatch.setattr(R, "QUERIES", {n: (lambda s, d: None) for n in "abf"})
    monkeypatch.setattr(R, "NEW_FACES", ["f"])
    # f is attested (r3) -> retires to the back; a/b (r1) lead
    assert R.derive_priority(window=3, history_dir=tmp_path) == ["a", "b", "f"]


def test_history_cache_invalidates_on_new_file(tmp_path):
    _write_history(tmp_path, {1: {"a": GREEN}})
    assert R.latest_attested_rounds(tmp_path) == {"a": 1}
    _write_history(tmp_path, {2: {"a": GREEN, "b": GREEN}})
    assert R.latest_attested_rounds(tmp_path) == {"a": 2, "b": 2}


def test_non_object_history_file_is_skipped(tmp_path):
    _write_history(tmp_path, {1: {"a": GREEN}})
    (tmp_path / "CORRECTNESS_r02.json").write_text("[1, 2, 3]")
    assert R.latest_attested_rounds(tmp_path) == {"a": 1}


def test_repo_history_derivation_is_monotone_stale_first():
    """Against the REAL repo history: the derived window is exactly
    DRIVER_WINDOW wide, leads with the stalest attestations, and the
    post-NEW_FACES section is non-decreasing in attestation round."""
    import __spark_entry__  # noqa: F401 — loads all query modules

    att = R.latest_attested_rounds()
    assert att, "repo CORRECTNESS history should be present"
    window = R.derive_priority()
    assert len(window) == R.DRIVER_WINDOW
    new = [n for n in R.NEW_FACES if n in R.QUERIES and n not in att]
    assert window[: len(new)] == new
    tail_rounds = [att.get(n, -1) for n in window[len(new):]]
    assert tail_rounds == sorted(tail_rounds)
    # nothing outside the window is staler than anything inside it
    outside = [att.get(n, -1) for n in R.QUERIES if n not in set(window)]
    if outside and tail_rounds:
        assert min(outside) >= tail_rounds[-1]
