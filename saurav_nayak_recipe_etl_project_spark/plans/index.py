"""Regenerate docs/QUERIES.md — the full query index with oracle
status and first-line docstrings.

Usage: python -m saurav_nayak_recipe_etl_project_spark.plans.index
"""

from __future__ import annotations


def render() -> str:
    """The text of docs/QUERIES.md, built from the registry."""
    from saurav_nayak_recipe_etl_project_spark.registry import ORACLES, QUERIES

    lines = [
        "# Query index", "",
        f"{len(QUERIES)} registered queries, {len(ORACLES)} with DuckDB",
        "oracles (driver-verified). Auto-generated from registry docstrings;",
        "regenerate with "
        "`python -m saurav_nayak_recipe_etl_project_spark.plans.index`.", "",
    ]
    by_mod: dict[str, list] = {}
    for name, fn in sorted(QUERIES.items()):
        by_mod.setdefault(fn.__module__.split(".")[-1], []).append((name, fn))
    for mod in sorted(by_mod):
        lines += [f"## {mod}", "", "| query | oracle | description |",
                  "|---|---|---|"]
        for name, fn in by_mod[mod]:
            doc = (fn.__doc__ or "").strip().split("\n")[0].replace("|", "\\|")
            mark = "✅" if name in ORACLES else "rows-only"
            lines.append(f"| `{name}` | {mark} | {doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open("docs/QUERIES.md", "w", encoding="utf-8") as f:
        f.write(render())


if __name__ == "__main__":
    main()
