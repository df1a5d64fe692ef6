"""Emit the full-registry optimization checklist MACHINE-DERIVABLY
from git (VERDICT r11 #9: the hand-maintained r11 table mislabeled
lttb_downsample "optimized" with no commit behind it).

For every registered query: status = "touched" iff any file in the
query's import closure (tests/sweep_cache.py::closure — the same
closure that keys the oracle/plan sweep PASS cache) was changed by a
commit in the given range; the changing files are listed. Everything
else is "untouched". "Examined, left alone" judgments live in the
round's OPTIMIZATION log — a measurement is not derivable from git,
so this tool never claims it.

A shared-helper edit (sources/lake.py, operators/lineage.py) puts the
whole registry in "touched"; pass --exclude f1,f2 to drop such
cross-cutting files from the attribution so the table shows which
queries a FAMILY-level change reaches (the exclusion is printed, so
the judgment is visible, not hidden).

Usage: python tools/checklist.py <base_rev> [head_rev] [--exclude f1,f2]
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    exclude: set[str] = set()
    if "--exclude" in args:
        i = args.index("--exclude")
        exclude = set(args[i + 1].split(","))
        del args[i:i + 2]
    base = args[0]
    head = args[1] if len(args) > 1 else "HEAD"
    import sweep_cache
    from tcrd_spark.registry import all_queries

    changed = set(
        subprocess.run(
            ["git", "diff", "--name-only", f"{base}..{head}"],
            cwd=REPO, capture_output=True, text=True,
        ).stdout.split()
    )
    changed = {
        f for f in changed if f.startswith("tcrd_spark/") and f not in exclude
    }
    if exclude:
        print(f"(excluded from attribution: {', '.join(sorted(exclude))})")
    q = all_queries()
    touched, untouched = [], []
    for name in sorted(q):
        hits = sorted(sweep_cache.closure(q[name]) & changed)
        if hits:
            touched.append((name, hits))
        else:
            untouched.append(name)
    print(f"# checklist {base}..{head}: {len(touched)} touched / "
          f"{len(untouched)} untouched of {len(q)}\n")
    print("| query | status | changed closure files |")
    print("|---|---|---|")
    for name, hits in touched:
        print(f"| {name} | touched | {', '.join(hits)} |")
    for name in untouched:
        print(f"| {name} | untouched | |")


if __name__ == "__main__":
    main()
