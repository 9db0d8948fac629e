"""Regenerate CATALOG.md: the full query inventory with oracle status.

    python tools/dump_catalog.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from metrics_service_spark.catalog import ALIASES, all_queries

    cat = all_queries()
    n_oracle = sum(1 for s in cat.values() if s.oracle)
    out = [
        "# CATALOG — every registered query",
        "",
        f"{len(cat)} queries, {n_oracle} DuckDB-oracle-checked, "
        f"{len(cat) - n_oracle} rows-only.  Generated by "
        "`python tools/dump_catalog.py`; the driver runs each entry "
        "side-by-side with its oracle at sf0.01.",
        "",
        "| Query | Check | Module | Description |",
        "|---|---|---|---|",
    ]
    for name in sorted(cat):
        spec = cat[name]
        if spec.oracle:
            check = "oracle"
        elif spec.exact_twin:
            # rows-only by design (float/hash family not replayable in
            # SQL); the named twin hard-verifies the same pipeline
            check = f"rows-only — exact twin: `{spec.exact_twin}`"
        else:
            check = "rows-only"
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        doc = f"second name of `{ALIASES[name]}`" if name in ALIASES else spec.doc
        out.append(f"| `{name}` | {check} | {mod} | {doc} |")
    out.append("")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md"
    )
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}: {len(cat)} queries, {n_oracle} oracle-checked")


if __name__ == "__main__":
    main()
