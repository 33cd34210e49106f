"""Driver-gate window regression canary (VERDICT r3 item 6).

The driver's correctness gate hashes only the FIRST 50 ``queries()``
keys against the DuckDB oracles.  Round 3 silently starved it: six new
keys inserted mid-dict pushed round 2's two err rows past position 50,
so their fix never produced a driver-green row.  This test pins the
window discipline so that failure mode cannot recur silently:

  * every key ever recorded in a CORRECTNESS_r0N.json still exists in
    ``queries()`` unless it is listed in ``RETIRED`` with the reason it
    was deleted (no silent renames or drops);
  * every key whose LATEST driver row was err or any mismatch sorts
    into the first 50 keys;
  * never-driver-checked keys fill the remaining window slots before
    any long-green key does (greens may only take slots left over once
    every erred + unchecked key has one).

No Spark session needed — pure dict-order and JSON inspection.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WINDOW = 50

#: driver-recorded keys deleted on purpose -> why; the only way a
#: recorded key may leave ``queries()``
RETIRED = {
    "multimodal_decode": "checked only the md5 stub decode, deleted with "
                         "the stub; real decode keeps multimodal_decode_bmp/"
                         "png/jpeg",
}


def _latest_status(correctness_dir: Path = REPO) -> dict[str, bool]:
    """key -> latest driver verdict (True = fully green), later rounds
    overriding earlier ones."""
    status: dict[str, bool] = {}
    for f in sorted(correctness_dir.glob("CORRECTNESS_r0*.json"),
                    key=lambda p: int(re.search(r"r0*(\d+)", p.stem).group(1))):
        for key, row in json.loads(f.read_text()).items():
            status[key] = (row.get("err") is None
                           and row.get("rows_match") is True
                           and row.get("schema_match") is True
                           and row.get("hash_match") is True)
    return status


def _assert_window(keys: list[str], status: dict[str, bool]) -> None:
    window = set(keys[:WINDOW])
    revived = sorted(set(RETIRED) & set(keys))
    assert not revived, f"RETIRED keys are back in queries(): {revived}"
    status = {k: v for k, v in status.items() if k not in RETIRED}

    # 1. no recorded key may vanish: a rename/drop would silently reset
    #    its driver history and hide a still-broken query
    missing = sorted(set(status) - set(keys))
    assert not missing, f"queries() lost driver-recorded keys: {missing}"

    # 2. every key whose latest driver row was err/mismatch gets a slot
    bad = sorted(k for k, green in status.items() if not green)
    outside = [k for k in bad if k not in window]
    assert not outside, (
        f"keys with a non-green latest driver row sit past position "
        f"{WINDOW} and will never be re-witnessed: {outside}")

    # 3. never-checked keys outrank long-green ones for the remaining
    #    slots (greens are separately pinned by pytest golden fixtures)
    unchecked = [k for k in keys if k not in status]
    overflow = max(0, len(bad) + len(unchecked) - WINDOW)
    outside_unchecked = [k for k in unchecked if k not in window]
    assert len(outside_unchecked) <= overflow, (
        f"{len(outside_unchecked)} never-driver-checked keys sit past "
        f"position {WINDOW} while long-green keys hold window slots: "
        f"{outside_unchecked}")


def test_driver_window_covers_erred_and_unchecked_keys():
    import __spark_entry__ as entry

    _assert_window(list(entry.queries()), _latest_status())


def test_driver_order_rotates_on_a_new_correctness_round(tmp_path):
    """A new round's file that re-greens the driver's latest window must
    leave the never-checked keys leading and push that window to the
    back — no hand edit of the order."""
    import shutil

    import __spark_entry__ as entry

    for f in REPO.glob("CORRECTNESS_r0*.json"):
        shutil.copy(f, tmp_path / f.name)
    window = list(json.loads((REPO / "CORRECTNESS_r05.json").read_text()))
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({k: green for k in window}))
    keys = list(entry.queries())
    status = _latest_status(tmp_path)
    unchecked = [k for k in keys if k not in status]
    assert unchecked, "every key checked: the case proves nothing"

    order = entry._driver_order(keys, tmp_path)
    assert sorted(order) == sorted(keys)
    assert order[:len(unchecked)] == unchecked
    # the re-greened window is the newest green tier: it goes last
    assert set(order[-len(window):]) == set(window)
    _assert_window(order, status)
