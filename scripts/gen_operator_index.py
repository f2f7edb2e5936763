"""Regenerate OPERATORS.md — the navigable index of every registered
operator: name, module:line, tags, oracle kind, first docstring line.

Run after adding operators; CI-less guard: tests/test_registry.py asserts
the committed index row count matches the live registry.
"""

from __future__ import annotations

import inspect
import os
import sys
from collections import OrderedDict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelines_python_spark import get_registry

HEADER = """# OPERATORS — registered query surface

GENERATED by `scripts/gen_operator_index.py` — do not edit by hand.

One row per `@query`-registered operator (the driver's `queries()` set).
`oracle`: `hash` = exact DuckDB differential; `rows` = rows-only by design
(sketch-valued). First sentence of each docstring; full 100 TB design
notes live at the linked definition.

"""


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    line = doc.strip().split("\n")[0].strip()
    line = line[:110] + ("…" if len(line) > 110 else "")
    return line.replace("|", "\\|")  # keep markdown table cells intact


def main() -> None:
    reg = get_registry()
    groups: OrderedDict[str, list] = OrderedDict()
    for name, spec in reg.items():
        fn = inspect.unwrap(spec.raw_fn or spec.fn)
        src = inspect.getsourcefile(fn) or "?"
        rel = os.path.relpath(src, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        try:
            line = inspect.getsourcelines(fn)[1]
        except OSError:
            line = 0
        groups.setdefault(rel, []).append(
            (name, line, spec.tags, "hash" if spec.oracle else "rows", first_line(fn.__doc__))
        )

    out = [HEADER]
    total = 0
    for rel, rows in groups.items():
        out.append(f"## `{rel}` ({len(rows)} ops)\n")
        out.append("| operator | line | tags | oracle | summary |")
        out.append("|---|---|---|---|---|")
        for name, line, tags, okind, doc in rows:
            total += 1
            tag_s = " ".join(tags).replace("|", "\\|")
            out.append(f"| `{name}` | {line} | {tag_s} | {okind} | {doc} |")
        out.append("")
    out.append(f"\n**Total: {total} operators.**\n")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}: {total} ops across {len(groups)} modules")


if __name__ == "__main__":
    main()
