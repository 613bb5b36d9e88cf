"""Generate docs/QUERY_INDEX.md: one row per registered query —
implementation module, oracle status, and the first docstring paragraph
— so the full `__spark_entry__.queries()` surface is auditable at a
glance without grepping the plan modules.  Rows carry no line numbers,
so a row changes only when its query, module, oracle or summary does;
tier-1 checks that the committed file equals `render()`.

Usage: python tools/query_index.py
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402

OUT = REPO / "docs" / "QUERY_INDEX.md"


def render() -> str:
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
        loc = f"`{fn.__module__.split('.', 1)[-1].replace('.', '/')}.py`"
        para = (inspect.getdoc(fn) or "").split("\n\n")[0]
        doc = " ".join(para.split())
        if len(doc) > 110:
            doc = doc[:107].rstrip() + "..."
        doc = doc.replace("|", "\\|")
        oracle = "sql" if name in oracles else "rows-only"
        lines.append(f"| {name} | {loc} | {oracle} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    OUT.write_text(render())
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
