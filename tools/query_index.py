"""Generate docs/QUERY_INDEX.md: one row per registered query —
implementation location, oracle status, and the first docstring line —
so the full `__spark_entry__.queries()` surface is auditable at a
glance without grepping the plan modules.

Usage: python tools/query_index.py
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    lines = [
        "# Query index",
        "",
        f"All {len(queries)} registered queries ({len(oracles)} with DuckDB",
        "oracles, the rest rows-only with invariant tests).  Generated by",
        "`tools/query_index.py` — regenerate after adding queries.",
        "",
        "| query | implementation | oracle | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(queries):
        fn = queries[name]
        mod = fn.__module__.rsplit(".", 1)[-1]
        try:
            line_no = inspect.getsourcelines(fn)[1]
            loc = f"`plans/{mod}.py:{line_no}`"
        except (OSError, TypeError):
            loc = f"`{mod}`"
        para = (inspect.getdoc(fn) or "").split("\n\n")[0]
        doc = " ".join(para.split())
        if len(doc) > 110:
            doc = doc[:107].rstrip() + "..."
        doc = doc.replace("|", "\\|")
        oracle = "sql" if name in oracles else "rows-only"
        lines.append(f"| {name} | {loc} | {oracle} | {doc} |")
    out = REPO / "docs" / "QUERY_INDEX.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(queries)} queries)")


if __name__ == "__main__":
    main()
