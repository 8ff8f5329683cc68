#!/usr/bin/env python3
"""Generate docs/API.md — the discoverability index for the public API.

COVERAGE.md maps graded components -> implementation -> tests -> gate
entries; this is the INVERSE view a user needs: for every module, the
public callables with a one-line summary and which registry entries gate
each one on the driver (value-hash vs rows-only).  Everything is derived
from the source tree + the registry, so re-running keeps the index
honest; measured scale curves live in SCALING.md, so re-measuring them
never makes this index stale.

Usage::

    python tools/gen_api_index.py          # rewrites docs/API.md
    python tools/gen_api_index.py --check  # exit 1 if docs/API.md stale
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MODULES = [
    "bdq_spark.schema",
    "bdq_spark.session",
    "bdq_spark.functions.surrogate_keys",
    "bdq_spark.functions.text",
    "bdq_spark.operators.asof",
    "bdq_spark.operators.cdc",
    "bdq_spark.operators.clustering",
    "bdq_spark.operators.components",
    "bdq_spark.operators.contamination",
    "bdq_spark.operators.corpus",
    "bdq_spark.operators.dedup",
    "bdq_spark.operators.diff",
    "bdq_spark.operators.flac",
    "bdq_spark.operators.integrity",
    "bdq_spark.operators.ivf",
    "bdq_spark.operators.joins",
    "bdq_spark.operators.jpeg",
    "bdq_spark.operators.latest",
    "bdq_spark.operators.layout",
    "bdq_spark.operators.matview",
    "bdq_spark.operators.multimodal",
    "bdq_spark.operators.packing",
    "bdq_spark.operators.pk",
    "bdq_spark.operators.profile",
    "bdq_spark.operators.rules",
    "bdq_spark.operators.similarity",
    "bdq_spark.operators.sketches",
    "bdq_spark.operators.splits",
    "bdq_spark.operators.text_analysis",
    "bdq_spark.operators.textsearch",
    "bdq_spark.operators.tokenizer",
    "bdq_spark.plans.dag",
    "bdq_spark.plans.pipeline",
    "bdq_spark.plans.plan_lint",
    "bdq_spark.plans.statestore",
    "bdq_spark.plans.ui_logger",
    "bdq_spark.sources.readers",
    "bdq_spark.sources.sinks",
    "bdq_spark.streaming.cdc_sink",
    "bdq_spark.streaming.stateful",
    "bdq_spark.streaming.windows",
]


def assert_module_list_complete() -> None:
    """MODULES is hand-ordered for readability; fail loudly if the
    source tree grew a module the index doesn't know about (silent
    omission would quietly shrink the index)."""
    root = os.path.join(REPO, "bdq_spark")
    on_disk = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py") or f.startswith("_"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), REPO)
            on_disk.add(rel[:-3].replace(os.sep, "."))
    known = set(MODULES) | {
        # deliberately unindexed: the registry itself (162 entries are
        # the INDEX CONTENT, listed per callable) and test fixtures
        "bdq_spark.entry_queries",
        "bdq_spark.sources.testdata",
    }
    missing = sorted(on_disk - known)
    if missing:
        raise SystemExit(
            f"gen_api_index: unindexed modules {missing} — add them to "
            "MODULES (or the deliberate-skip set) and regenerate"
        )


def public_names(mod) -> list:
    if hasattr(mod, "__all__"):
        return list(mod.__all__)
    src = inspect.getsource(mod)
    tree = ast.parse(src)
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            if not node.name.startswith("_"):
                names.append(node.name)
    return names


def first_doc_line(obj) -> str:
    doc = inspect.getdoc(obj) or ""
    line = doc.split("\n\n")[0].replace("\n", " ").strip()
    line = re.sub(r"\s+", " ", line)
    line = line.replace("|", "\\|")
    return (line[:117] + "...") if len(line) > 120 else line


def build() -> str:
    import __spark_entry__ as entrymod

    assert_module_list_complete()

    queries = entrymod.queries()
    oracles = set(entrymod.oracle_sql())

    # which registry entries exercise which public name: token search
    # over each entry's source (conservative — name must appear as a
    # whole word)
    entry_src = {name: inspect.getsource(fn) for name, fn in queries.items()}

    out = [
        "# bdq_spark public API index",
        "",
        "Generated by `python tools/gen_api_index.py` — do not edit by",
        "hand (CI checks staleness via `--check`).  One row per public",
        "callable: the driver-gate entries that exercise it"
        " (**bold** = value-hashed against an independent DuckDB oracle,",
        "plain = rows-only with a pytest contract).  Measured scale",
        "curves and their methodology are in [SCALING.md](../SCALING.md).",
        "",
    ]
    for modname in MODULES:
        mod = __import__(modname, fromlist=["_"])
        names = public_names(mod)
        if not names:
            continue
        out.append(f"## `{modname}`")
        out.append("")
        out.append("| callable | what it does | gate entries |")
        out.append("|---|---|---|")
        for n in names:
            obj = getattr(mod, n, None)
            if obj is None or not callable(obj):
                continue  # constants carry no behavior to index
            gates = sorted(
                e for e, src in entry_src.items()
                if re.search(rf"\b{re.escape(n)}\b", src)
            )
            shown = [f"**{g}**" if g in oracles else g for g in gates[:4]]
            extra = f" +{len(gates) - 4}" if len(gates) > 4 else ""
            out.append(
                f"| `{n}` | {first_doc_line(obj)} | "
                f"{', '.join(shown)}{extra} |"
            )
        out.append("")
    out.append(
        f"Registry totals: {len(queries)} gate entries, "
        f"{len(oracles)} value-hashed oracles."
    )
    out.append("")
    return "\n".join(out)


def main() -> int:
    target = os.path.join(REPO, "docs", "API.md")
    text = build()
    if "--check" in sys.argv:
        if not os.path.exists(target) or open(target).read() != text:
            print("docs/API.md is stale — run python tools/gen_api_index.py")
            return 1
        print("docs/API.md up to date")
        return 0
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with open(target, "w") as fh:
        fh.write(text)
    print(f"wrote {target} ({len(text)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
