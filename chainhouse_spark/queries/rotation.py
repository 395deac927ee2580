"""The driver's rotation order, derived from its verdicts and plan
fingerprints.

The round driver oracle-checks about 50 queries a round, in registration
order, into `CORRECTNESS_r<N>.json` at the repo root. `rotation_order`
puts the queries that most need a verdict first, in three groups:

1. queries whose latest verdict is not green, or whose plan fingerprint
   (`plans/fingerprint.py`) differs from the one at the code the driver
   judged;
2. queries the driver has never checked;
3. green, unchanged queries, oldest verdict round first.

Each group keeps registration order within itself (within a round, for
group 3). The fingerprints come from `fingerprints.json` next to this
module, written by `tools/query_rotation.py`: per query, `fp` is its
fingerprint now and `checked` the one at the parent of the commit that
added its latest verdict. A query with no `checked` value counts as
changed. Only JSON is read here; no Spark runs at import.
"""

from __future__ import annotations

import glob
import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
WINDOW = 50  # queries the driver checks in one round


def verdict_status(rec: dict) -> str:
    """One driver verdict row as green, err, rows-only or mismatch."""
    if rec.get("err"):
        return "err"
    if rec.get("hash_match"):
        return "green"
    return "rows-only" if rec.get("rows_match") else "mismatch"


def verdict_files() -> list[tuple[int, str]]:
    """(round, path) of every `CORRECTNESS_r<N>.json`, by round."""
    found = []
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            found.append((int(m.group(1)), path))
    return sorted(found)


def read_verdicts() -> dict[str, tuple[int, str]]:
    """name -> (round, status) of each query's latest driver verdict."""
    latest: dict[str, tuple[int, str]] = {}
    for rnd, path in verdict_files():
        with open(path) as f:
            for name, rec in json.load(f).items():
                latest[name] = (rnd, verdict_status(rec))
    return latest


def read_fingerprints() -> dict[str, dict[str, str]]:
    """name -> {"fp": ..., "checked": ...}; empty if the file is missing."""
    if not os.path.exists(FINGERPRINTS):
        return {}
    with open(FINGERPRINTS) as f:
        return json.load(f)


def is_changed(entry: dict[str, str] | None) -> bool:
    """Whether a fingerprint entry moved since the driver judged it."""
    entry = entry or {}
    return entry.get("checked") is None or entry.get("fp") != entry["checked"]


GROUPS = ("recheck", "never-checked", "green")


def group(name: str, verdicts: dict[str, tuple[int, str]], fingerprints: dict) -> int:
    """Index into `GROUPS` of `name`'s rotation group."""
    if name not in verdicts:
        return 1
    if verdicts[name][1] != "green" or is_changed(fingerprints.get(name)):
        return 0
    return 2


def rotation_order(
    names: list[str],
    verdicts: dict[str, tuple[int, str]],
    fingerprints: dict[str, dict[str, str]],
) -> list[str]:
    """`names` (in registration order) in the driver's rotation order.

    Verdicts and fingerprints for names not in `names` are ignored.
    """

    def rank(item: tuple[int, str]) -> tuple[int, int, int]:
        pos, name = item
        g = group(name, verdicts, fingerprints)
        return (g, verdicts[name][0] if g == 2 else 0, pos)

    return [name for _, name in sorted(enumerate(names), key=rank)]


def reorder(order: list[str], *registries: dict) -> None:
    """Rebuild each registry dict in place, keys in `order`."""
    for registry in registries:
        reordered = {name: registry[name] for name in order if name in registry}
        registry.clear()
        registry.update(reordered)
