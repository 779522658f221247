"""Generate QUERIES.md: one line per registry entry — name, check
kind, implementing function location, and the first docstring
sentence. The machine-generated companion to COVERAGE.md's prose
(regenerate after adding entries):

    python tools/gen_query_index.py

It lists every name in ``QUERY_ORDER``. A name that does not register
in this process (``ml_model_exact_scoring`` registers only where the
reference model blobs exist) keeps its committed row unchanged.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent  # noqa: E402  (imports all registry modules)
from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
ROW = re.compile(r"^\| \d+ \| `([^`]+)` \| (.*) \|$")


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — the", " - the"):
        if stop in text:
            return text.split(stop)[0].rstrip(".") + "."
    return (text[:160] + "…") if len(text) > 160 else text


def committed_rows() -> dict[str, str]:
    """name -> the ``kind | where | summary`` cells of its row in the
    committed QUERIES.md."""
    with open(OUT) as f:
        return {m.group(1): m.group(2) for m in map(ROW.match, f.read().splitlines()) if m}


def build_lines() -> list[str]:
    """QUERIES.md's lines, one row per ``QUERY_ORDER`` name."""
    committed = committed_rows()
    cells = {}
    for n in ent.QUERY_ORDER:
        if n not in REGISTRY:
            cells[n] = committed[n]
            continue
        q = REGISTRY[n]
        fn = inspect.unwrap(q.fn)  # the entry body, not the dispatch wrapper
        path = fn.__module__.split(".", 1)[1].replace(".", "/")
        where = f"`{path}.py:{fn.__code__.co_firstlineno}`"
        kind = "exact" if q.oracle is not None else "rows-only"
        summary = first_sentence(fn.__doc__).replace("|", "\\|")
        cells[n] = f"{kind} | {where} | {summary}"
    n_exact = sum(1 for c in cells.values() if c.startswith("exact |"))
    lines = [
        "# QUERIES — generated registry index",
        "",
        f"{len(cells)} registered entries "
        f"({n_exact} exact-oracle, {len(cells) - n_exact} rows-only by design). "
        "Sorted by name. Regenerate with `python tools/gen_query_index.py`.",
        "",
        "| # | name | check | where | summary |",
        "|---|---|---|---|---|",
    ]
    for i, n in enumerate(sorted(cells), 1):
        lines.append(f"| {i} | `{n}` | {cells[n]} |")
    return lines


def main() -> None:
    lines = build_lines()
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT}: {sum(1 for line in lines if ROW.match(line))} entries")


if __name__ == "__main__":
    main()
