"""Generate QUERIES.md: a navigable catalog of every registered query
— registry position, oracle coverage, implementing function, and
first docstring line. Regenerate after registry changes:

    python tools/query_catalog.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from tcrd_spark.registry import all_oracle_sql, all_queries

    queries = all_queries()
    oracles = all_oracle_sql()
    out = os.path.join(REPO, "QUERIES.md")
    with open(out, "w") as f:
        f.write(
            "# Query catalog — generated by tools/query_catalog.py\n\n"
            f"{len(queries)} registered queries, in registry order; "
            "pytest's test_operators sweep checks every query that has "
            "an oracle against its DuckDB twin on every run.\n\n"
            "| # | query | oracle | implementation | summary |\n"
            "|---|---|---|---|---|\n"
        )
        for i, (name, fn) in enumerate(queries.items(), 1):
            mod = fn.__module__.removeprefix("tcrd_spark.")
            doc = (fn.__doc__ or "").strip().splitlines()
            summary = doc[0].rstrip() if doc else ""
            oracle = "sql" if name in oracles else "rows-only"
            f.write(
                f"| {i} | {name} | {oracle} | "
                f"`{mod}.{fn.__name__}` | {summary} |\n"
            )
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
