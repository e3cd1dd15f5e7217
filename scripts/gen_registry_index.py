"""Regenerate README.md's auto-generated query-registry appendix.

Reads every declared query (log_collector_spark/registry.py), takes its
description flattened to one line (truncated at 160 chars), and rewrites
everything below the appendix header in place. Run after registering new
queries:

    python scripts/gen_registry_index.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = "## Appendix: full query registry (auto-generated index)"
INTRO = """
One row per `queries()` entry; every row has a matching `oracle_sql()`
DuckDB oracle (driver value-hash checked at sf0.01).

| query | what it computes |
|---|---|
"""


def one_line(doc: str | None, limit: int = 160) -> str:
    if not doc:
        return "(no description)"
    text = re.sub(r"\s+", " ", doc).strip()
    text = text.replace("|", "\\|")
    if len(text) > limit:
        text = text[:limit].rstrip() + "..."
    return text


def main() -> None:
    from log_collector_spark import registry

    rows = [f"| `{name}` | {one_line(q.doc)} |"
            for name, q in registry.records().items()]

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "README.md")
    src = open(path).read()
    head, _, _ = src.partition(HEADER)
    out = head + HEADER + INTRO + "\n".join(rows) + "\n"
    open(path, "w").write(out)
    print(f"wrote {len(rows)} registry rows")


if __name__ == "__main__":
    main()
