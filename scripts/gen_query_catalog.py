"""Generate QUERIES.md — the user-facing catalog of every named query.

One row per registered query (in registry PRIORITY order) plus the
staged pytest-only tier: the operator's one-line description (first
docstring line), whether it is DuckDB-oracle-paired, and its scale
marker — BASELINE entries name their deployable twin, RETIRED twins
are listed at the end with the sibling that carries their row.

Usage: python scripts/gen_query_catalog.py   (no Spark session needed;
the registry imports lazily and plan construction is never invoked).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "QUERIES.md")


def _first_line(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return ""
    line = doc.splitlines()[0].strip()
    return line.rstrip(".")


def main() -> None:
    from customer_churn_prediction_spark.plans import registry

    oracles = registry.get_oracles()
    lines = [
        "# Query catalog",
        "",
        "Generated by `scripts/gen_query_catalog.py` — do not edit by",
        "hand. Every name is callable as",
        "`plans.registry.QUERIES[name](spark, sf_dir)`; oracle-paired",
        "queries hash-check against their DuckDB SQL twin at driver",
        "rigor.",
        "",
        f"## Registered ({len(registry.QUERIES)})",
        "",
        "| query | what it computes | oracle |",
        "|---|---|---|",
    ]
    for name, fn in registry.QUERIES.items():
        oracle = "sql" if name in oracles else "rows-only"
        lines.append(
            f"| `{name}` | {_first_line(fn)} | {oracle} |"
        )
    staged = registry.get_staged_queries()
    lines += [
        "",
        f"## Staged, pytest-only ({len(staged)})",
        "",
        "Held to driver rigor in their own test files; not registered",
        "(the 100-entry registry ceiling binds — see ROADMAP.md).",
        "",
        "| query | what it computes |",
        "|---|---|",
    ]
    for name, fn in staged.items():
        lines.append(f"| `{name}` | {_first_line(fn)} |")
    retired = getattr(registry, "RETIRED", {})
    if retired:
        lines += [
            "",
            f"## Retired verified-equal twins ({len(retired)})",
            "",
            "| query | registered sibling carrying the row |",
            "|---|---|",
        ]
        for name, sibling in sorted(retired.items()):
            lines.append(f"| `{name}` | `{sibling}` |")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
