"""Driver-contract window pins — MECHANICAL, not hardcoded.

The driver records only the FIRST 50 ``queries()`` entries per round,
so ``_ordered_keys`` must put the re-sign-needed and
never-driver-signed blocks right after the declared q-set. The r6
round forgot to rotate the bands and the (then hardcoded) pin test
could not catch it — it asserted the window IS the old band, which an
unrotated round trivially satisfies. This version derives the
expected window from the ``CORRECTNESS_r*.json`` files the driver
drops in the repo root: a key that appears in ANY correctness file is
signed; a key whose LATEST row is red (err / any match False) needs a
re-sign; everything else never-signed fills the window oldest-first.
Forgetting to rotate now FAILS (the stale band is already signed);
rotating without updating anything else passes by construction.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _correctness_rounds():
    """{round_n: {key: row}} for every CORRECTNESS_r*.json present."""
    out = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        with open(p) as f:
            out[int(m.group(1))] = json.load(f)
    return out


def _row_green(row) -> bool:
    if not isinstance(row, dict):
        return False
    if row.get("err") and row.get("err") != "no_oracle":
        # "no_oracle" is the documented rows-only check, not a
        # failure — re-running it every round would never clear it.
        return False
    return all(row.get(k, True) is not False
               for k in ("rows_match", "schema_match", "hash_match"))


def _window():
    import __spark_entry__ as m

    return list(m.queries())[:WINDOW]


def _xnum(k):
    mm = re.match(r"x(\d+)", k)
    return int(mm.group(1)) if mm else None


def test_window_fronts_red_then_never_signed_keys():
    """The 50-slot window must be: declared q-set, then every key
    whose latest driver row is red, then never-driver-signed keys in
    ascending order — fully derived from the CORRECTNESS files."""
    import __spark_entry__ as m
    from kafana_spark.plans.declared import DECLARED_QUERIES

    rounds = _correctness_rounds()
    assert rounds, "driver correctness files missing from repo root"

    latest = {}  # key -> (round, row), freshest round wins
    for rn in sorted(rounds):
        for k, row in rounds[rn].items():
            latest[k] = (rn, row)

    all_keys = set(m.queries())
    x_keys = {k for k in all_keys if k.startswith("x")}
    red = sorted((k for k in x_keys
                  if k in latest and not _row_green(latest[k][1])),
                 key=_xnum)
    never = sorted((k for k in x_keys if k not in latest), key=_xnum)
    # When red+never leave spare slots, the re-sign ladder fills them
    # with the GREEN keys holding the stalest driver signature
    # (oldest round first, then ascending key number).
    stale = sorted((k for k in x_keys
                    if k in latest and _row_green(latest[k][1])),
                   key=lambda k: (latest[k][0], _xnum(k)))

    w = _window()
    assert len(w) == WINDOW
    n_q = len(DECLARED_QUERIES)
    assert w[:n_q] == list(DECLARED_QUERIES)
    expected_front = (red + never + stale)[:WINDOW - n_q]
    assert w[n_q:] == expected_front, (
        f"window tail {w[n_q:]} != red+never-signed+stale front "
        f"{expected_front} — rotate _ordered_keys bands")


def _window_from(monkeypatch, records_dir):
    import __spark_entry__ as m

    monkeypatch.setattr(m, "RECORDS_DIR", str(records_dir))
    return _window()


def _copy_records(dest, next_round: dict) -> None:
    """The repo's CORRECTNESS records plus a synthetic next round."""
    import shutil

    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        shutil.copy(p, dest)
    n = max(_correctness_rounds()) + 1
    with open(dest / f"CORRECTNESS_r{n}.json", "w") as f:
        json.dump(next_round, f)


def test_window_rotates_from_the_records_alone(tmp_path, monkeypatch):
    """A new record re-orders the window with no code edit: once the
    next round signs today's window green, the stalest green keys
    front it; a key that round marks red comes first; with no record
    at all the window is in key-number order."""
    import __spark_entry__ as m

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    window = _window()

    empty = tmp_path / "empty"
    empty.mkdir()
    ns = [_xnum(k) for k in _window_from(monkeypatch, empty)[22:]]
    assert ns == list(range(1, 29)), ns

    signed = tmp_path / "signed"
    signed.mkdir()
    _copy_records(signed, {k: green for k in window})
    ns = [_xnum(k) for k in _window_from(monkeypatch, signed)[22:]]
    assert ns == (list(range(7, 18)) + list(range(57, 68))
                  + list(range(18, 24))), ns

    red_key = next(k for k in m.queries() if _xnum(k) == 200)
    red = tmp_path / "red"
    red.mkdir()
    _copy_records(red, {red_key: {**green, "hash_match": False}})
    ns = [_xnum(k) for k in _window_from(monkeypatch, red)[22:]]
    assert ns == [200] + list(range(35, 57)) + list(range(1, 6)), ns


def test_oracle_keys_match_query_keys():
    import __spark_entry__ as m

    q = set(m.queries())
    o = set(m.oracle_sql())
    assert o <= q
    # exactly the documented rows-only keys lack an oracle
    assert q - o == {"x29_pack_sequences",
                     "x301_minhash_prod"}, sorted(q - o)
