"""Generate QUERIES.md: one line per registry entry — name, check
kind, implementing function location, and the first docstring
sentence. The machine-generated companion to COVERAGE.md's prose
(regenerate after adding entries):

    python tools/gen_query_index.py
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent  # noqa: E402  (imports all registry modules)
from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — the", " - the"):
        if stop in text:
            return text.split(stop)[0].rstrip(".") + "."
    return (text[:160] + "…") if len(text) > 160 else text


def main() -> None:
    names = list(ent.queries())
    lines = [
        "# QUERIES — generated registry index",
        "",
        f"{len(names)} registered entries "
        f"({sum(1 for n in names if REGISTRY[n].oracle is not None)} exact-oracle, "
        f"{sum(1 for n in names if REGISTRY[n].oracle is None)} rows-only by design). "
        "Sorted by name. Regenerate with `python tools/gen_query_index.py`.",
        "",
        "| # | name | check | where | summary |",
        "|---|---|---|---|---|",
    ]
    for i, n in enumerate(sorted(names), 1):
        q = REGISTRY[n]
        fn = inspect.unwrap(q.fn)  # the entry body, not the dispatch wrapper
        path = fn.__module__.split(".", 1)[1].replace(".", "/")
        where = f"`{path}.py:{fn.__code__.co_firstlineno}`"
        kind = "exact" if q.oracle is not None else "rows-only"
        summary = first_sentence(fn.__doc__).replace("|", "\\|")
        lines.append(f"| {i} | `{n}` | {kind} | {where} | {summary} |")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(names)} entries")


if __name__ == "__main__":
    main()
