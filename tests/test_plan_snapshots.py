"""Plan-drift gate (r8 verdict item 9): the checked-in `PLANS/*.txt`
snapshots must match freshly generated normalized plans for every
bench.py HEADLINE query.  A failing diff here means a code change moved
a physical plan — intentional moves are refreshed with
``python plan_snapshots.py`` and reviewed as part of the diff."""

from __future__ import annotations

import difflib
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def test_extended_names_have_snapshot_files():
    """Commit-time tripwire (r12 verdict item 6): every name registered
    in ``plan_snapshots.EXTENDED`` must already have a ``PLANS/<name>.txt``
    file.  Runs in milliseconds with no Spark session, so adding a query
    to the gate without running ``python plan_snapshots.py`` fails
    instantly instead of 18 minutes into the full suite."""
    import plan_snapshots as ps

    missing = [n for n in ps.EXTENDED if not (ps.PLANS_DIR / f"{n}.txt").exists()]
    assert not missing, (
        f"EXTENDED names lack PLANS snapshots — run `python plan_snapshots.py` "
        f"and commit the new files: {missing}"
    )


def test_headline_plans_match_snapshots(headline_plans):
    import plan_snapshots as ps

    assert ps.PLANS_DIR.is_dir(), "run `python plan_snapshots.py` once to seed PLANS/"
    fresh = {name: formatted for name, (formatted, _) in headline_plans.items()}
    drifted: list[str] = []
    for name, text in fresh.items():
        f = ps.PLANS_DIR / f"{name}.txt"
        if not f.exists():
            drifted.append(f"{name}: snapshot missing")
            continue
        old = f.read_text()
        if old != text:
            diff = "".join(
                difflib.unified_diff(
                    old.splitlines(keepends=True),
                    text.splitlines(keepends=True),
                    fromfile=f"PLANS/{name}.txt",
                    tofile=f"{name} (current)",
                    n=2,
                )
            )
            drifted.append(diff[:4000])
    assert not drifted, (
        "physical plans drifted from PLANS/ snapshots — review the diffs, "
        "then refresh with `python plan_snapshots.py`:\n" + "\n".join(drifted)
    )
    # No orphaned snapshots for queries that left the headline set.
    orphans = {p.stem for p in ps.PLANS_DIR.glob("*.txt")} - set(fresh)
    assert not orphans, f"stale snapshots (rerun plan_snapshots.py): {orphans}"
