"""Generate REGISTRY.md: one row per registered query id — defining
module, oracle-backed or rows-only — so the full surface is navigable
without grepping.  Re-run after adding or editing queries:

    python scripts/registry_index.py

``tests/test_queries_registry.py`` fails while the committed file
differs from ``render()``.
"""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def render() -> str:
    """REGISTRY.md's full text for the live registry."""
    from mental_health_bigdata_project_spark.plans import ORACLES, QUERIES

    rows = []
    for qid, fn in QUERIES.items():
        target = inspect.unwrap(fn)
        mod = target.__module__.replace(
            "mental_health_bigdata_project_spark.", "")
        doc = " ".join(
            (inspect.getdoc(target) or "").split("\n\n")[0].split())
        rows.append((qid, f"{mod.replace('.', '/')}.py",
                     "oracle" if qid in ORACLES else "rows-only", doc))

    rows.sort()
    n_oracle = sum(1 for r in rows if r[2] == "oracle")
    out = [
        "# REGISTRY — every registered query id",
        "",
        f"{len(rows)} queries, {n_oracle} oracle-backed (DuckDB value-hash"
        " gate), {} rows-only (engine-specific sketches/models with"
        " deterministic checks or oracle-checked portable siblings).".format(
            len(rows) - n_oracle),
        "Generated by `scripts/registry_index.py` — do not edit by hand.",
        "",
        "| id | source | check | summary |",
        "|---|---|---|---|",
    ]
    for qid, loc, check, doc in rows:
        doc = doc.replace("|", "\\|")
        out.append(f"| `{qid}` | `{loc}` | {check} | {doc} |")
    return "\n".join(out) + "\n"


def main() -> None:
    with open(os.path.join(ROOT, "REGISTRY.md"), "w") as fh:
        fh.write(render())
    print("wrote REGISTRY.md")


if __name__ == "__main__":
    main()
