"""Regenerate docs/QUERIES.md — the declared-query catalog.

One row per ``queries()`` entry: name, first docstring paragraph,
and whether its oracle twin is static SQL or generated at check time
(IVF-family oracles are trained on the checked fixture).  Run::

    python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
DOC = os.path.join(ROOT, "docs", "QUERIES.md")


def render() -> str:
    """The text of docs/QUERIES.md for the current ``queries()``."""
    import __spark_entry__ as entrymod

    from cass_cdc_pg_spark import registry

    queries = entrymod.queries()
    static = set(registry.ORACLE)
    lines = [
        "# Query catalog",
        "",
        "Every declared query, its one-line semantics (from the implementation's",
        "docstring where present), and whether its DuckDB oracle twin is static",
        "SQL or generated at check time.  The driver's correctness gate runs all",
        "of these at sf0.01; `tools/check_oracle.py` replays them locally at any sf.",
        "",
        "| # | Query | Semantics | Oracle |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(queries.items(), 1):
        doc = (fn.__doc__ or "").strip().split("\n\n")[0].replace("\n", " ")
        doc = " ".join(doc.split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        doc = doc.replace("|", "\\|")
        kind = "static SQL" if name in static else "generated (fixture-trained)"
        lines.append(f"| {i} | `{name}` | {doc} | {kind} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    with open(DOC, "w") as f:
        f.write(render())
    print("docs/QUERIES.md written")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
