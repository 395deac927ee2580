#!/usr/bin/env python
"""Driver rotation: coverage summary and plan-fingerprint regeneration.

    python tools/query_rotation.py
    python tools/query_rotation.py --write

With no flag, prints the registry in the driver's rotation order (the
order `chainhouse_spark/queries/__init__.py` derives at import): one line
per query with its position, its rotation group and its latest driver
verdict (green, non-green or never checked, with the round), a marker at
the end of the first `rotation.WINDOW` names, and the counts. No Spark
runs.

--write regenerates `chainhouse_spark/queries/fingerprints.json`:

- `fp`: each query's plan fingerprint (`chainhouse_spark/plans/
  fingerprint.py`) in the working tree;
- `checked`: its fingerprint at the code the driver last judged, the
  parent of the commit that added its latest `CORRECTNESS_r<N>.json`.
  Each such snapshot is extracted with `git archive <commit>^ | tar -x`
  into a temporary directory. A query that cannot be fingerprinted there
  gets no `checked` value and goes to the front of the rotation.

Every sweep runs in its own Python process and JVM, with the working
tree's fingerprint code loaded by path over that tree's registry. A full
regeneration takes a few minutes at sf0.001. Run it after changing a
query or an operator; tests/test_rotation.py fails while `fp` is stale.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FINGERPRINT_PY = os.path.join(ROOT, "chainhouse_spark", "plans", "fingerprint.py")


def _sweep(tree: str, names: list[str]) -> tuple[dict, dict]:
    """Fingerprint `names` in the registry of the source tree at `tree`,
    in a fresh process; returns (fingerprints, errors)."""
    with tempfile.TemporaryDirectory(prefix="rotation_sweep_") as work:
        out = os.path.join(work, "fps.json")
        env = dict(os.environ, PYTHONPATH=tree)
        cmd = [sys.executable, os.path.abspath(__file__), "--tree", tree, "--out", out, *names]
        # cwd: Spark's warehouse and derby files land in the scratch dir.
        proc = subprocess.run(cmd, cwd=work, env=env, capture_output=True, text=True)
        if proc.returncode != 0 or not os.path.exists(out):
            tail = proc.stderr.strip().splitlines()[-5:]
            return {}, {n: "sweep failed: " + " | ".join(tail) for n in names}
        with open(out) as f:
            got = json.load(f)
    return got["fps"], got["errors"]


def _sweep_here(tree: str, out: str, names: list[str]) -> int:
    """Subprocess side of `_sweep`: import the registry of `tree`."""
    sys.path.insert(0, tree)
    spec = importlib.util.spec_from_file_location("_plan_fingerprint", FINGERPRINT_PY)
    fingerprint = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fingerprint)
    from chainhouse_spark.queries import QUERIES
    from chainhouse_spark.session import build_spark

    spark = build_spark(app_name="query-rotation")
    spark.sparkContext.setLogLevel("ERROR")
    present = [n for n in names if n in QUERIES] if names else list(QUERIES)
    fps, errors = fingerprint.fingerprint_queries(spark, QUERIES, present)
    errors.update({n: "not registered" for n in names if n not in QUERIES})
    spark.stop()
    with open(out, "w") as f:
        json.dump({"fps": fps, "errors": errors}, f)
    return 0


def _verdict_commit(path: str) -> str | None:
    """The commit that added a verdict file, or None if it is uncommitted."""
    added = subprocess.run(
        ["git", "-C", ROOT, "log", "--diff-filter=A", "--format=%H", "--", os.path.basename(path)],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    return added.splitlines()[-1] if added else None


def write() -> int:
    from chainhouse_spark.queries import QUERIES, rotation

    names = sorted(QUERIES)
    fps, errors = _sweep(ROOT, names)
    if errors:
        for n, e in sorted(errors.items()):
            print(f"FAIL {n}: {e}")
        return 1
    checked: dict[str, str] = {}
    verdicts = rotation.read_verdicts()
    for rnd, path in rotation.verdict_files():
        judged = [n for n in names if verdicts.get(n, (None,))[0] == rnd]
        commit = _verdict_commit(path)
        if not judged or commit is None:
            continue
        with tempfile.TemporaryDirectory(prefix=f"rotation_r{rnd:02d}_") as tree:
            archive = subprocess.run(
                ["git", "-C", ROOT, "archive", f"{commit}^"],
                check=True, capture_output=True,
            ).stdout
            subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
            got, failed = _sweep(tree, judged)
        checked.update(got)
        print(f"r{rnd:02d} at {commit[:7]}^: {len(got)} fingerprinted, "
              f"{len(failed)} without a checked value", flush=True)
    table = {n: {"fp": fps[n], **({"checked": checked[n]} if n in checked else {})}
             for n in names}
    lines = [f" {json.dumps(n)}: {json.dumps(table[n])}" for n in names]
    with open(rotation.FINGERPRINTS, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    changed = [n for n in names if n in verdicts and rotation.is_changed(table[n])]
    print(f"wrote {len(table)} fingerprints; {len(changed)} changed since "
          f"their verdict: {' '.join(changed)}")
    return 0


def summary() -> int:
    from chainhouse_spark.queries import QUERIES, rotation

    verdicts = rotation.read_verdicts()
    fingerprints = rotation.read_fingerprints()
    counts = dict.fromkeys(rotation.GROUPS, 0)
    for pos, name in enumerate(QUERIES, 1):
        group = rotation.GROUPS[rotation.group(name, verdicts, fingerprints)]
        if name not in verdicts:
            verdict = "never checked"
        else:
            rnd, status = verdicts[name]
            changed = rotation.is_changed(fingerprints.get(name))
            verdict = f"r{rnd:02d} {status}" + (" plan-changed" if changed else "")
        counts[group] += 1
        print(f"#{pos:3d} {group:13s} {verdict:24s} {name}")
        if pos == rotation.WINDOW:
            print(f"---- end of the first {rotation.WINDOW} ----")
    print(f"registered: {len(QUERIES)}  " + "  ".join(f"{g}: {n}" for g, n in counts.items()))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="regenerate fingerprints.json")
    ap.add_argument("--tree", help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="*", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.tree:
        return _sweep_here(args.tree, args.out, args.names)
    sys.path.insert(0, ROOT)
    return write() if args.write else summary()


if __name__ == "__main__":
    raise SystemExit(main())
