"""Regenerate CATALOG.md from the live registry (r8 verdict item 7:
catalog-size claims drifted across hand-maintained docs — 222 vs 228 —
so the numbers must come from the registry, never from prose).

Usage: python tools/catalog_counts.py      # rewrites CATALOG.md
"""
from __future__ import annotations

import collections
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from helium_arango_etl_lite_spark.plans.queries import QUERIES  # noqa: E402


def render() -> str:
    by_tag: dict[str, int] = collections.Counter()
    oracled = sum(1 for s in QUERIES.values() if s.oracle)
    for s in QUERIES.values():
        for t in s.tags or ("untagged",):
            by_tag[t] += 1
    buf = io.StringIO()
    w = buf.write
    w("# Query catalog (GENERATED — do not edit; run "
      "`python tools/catalog_counts.py`)\n\n")
    w(f"- **{len(QUERIES)} registered entries**, every one a Spark "
      f"DataFrame program;\n")
    w(f"- **{oracled}** carry an ANSI-SQL DuckDB oracle "
      f"({len(QUERIES) - oracled} are rows-only streaming/infra "
      f"replays).\n\n")
    w("| family (tag) | entries |\n|---|---|\n")
    for t, n in sorted(by_tag.items(), key=lambda kv: (-kv[1], kv[0])):
        w(f"| {t} | {n} |\n")
    w("\n(An entry carries several tags, so the column sums past the "
      "total.)\n")
    return buf.getvalue()


if __name__ == "__main__":
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CATALOG.md",
    )
    text = render()
    with open(out, "w") as f:
        f.write(text)
    print(text)
    print(f"wrote {out}")
