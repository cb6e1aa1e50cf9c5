"""Every top-level engine definition has a caller outside tests/, or a
listed reason to exist without one.

A definition is reached when a registered query, module-level code, the
driver entry (`__spark_entry__.py`), `bench.py`, `lifebench/*.py` or
`scripts/*.py` names it, directly or through other reached definitions.
The scan is by name over the AST (a name reaches every definition so
named, and a string constant that is an identifier counts as a
reference), so it over-approximates reach: what it reports unreached is
run by tests only. Pure Python, no Spark.

`KEEP` lists the definitions kept without a caller. Each reason is
copied verbatim into README's "Kept without a caller" list, which this
test checks, so the two cannot drift apart.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "koby_s_ai_vector_db_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
CALLERS = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
           *sorted((ROOT / "lifebench").glob("*.py")),
           *sorted((ROOT / "scripts").glob("*.py"))]

KEEP = {
    "extract_pdf_pages": "the paper's ingest step 1 (pypdf page text); "
    "pypdf is not installed, so a stub tests it",
    "extract_pdf_batches": "the paper's ingest step 1 (pypdf page text); "
    "pypdf is not installed, so a stub tests it",
    "set_model_factory": "the hook that installs the paper's "
    "sentence-transformer, whose weights are not in the repo",
    "sql_hash64": "tests compare the portable hash against it",
    "token_budget_mix": "tests compare the registered budget mix against it",
    "memo_keys": "observability of the memo store",
    "read_events_stream": "the stream-equals-batch tests of the registered "
    "a5s/a6s/a19 bodies read through it",
    "apply_watermark": "the stream-equals-batch tests of the registered "
    "a5s/a6s/a19 bodies read through it",
    "click_attribution": "the direct interval join that a19's bucketed "
    "plan is checked against",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            out.add(n.value)
    return out


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "register") or (
        isinstance(f, ast.Attribute) and f.attr == "register"
    )


def _scan() -> tuple[dict[str, list[str]], set[str]]:
    """(definition name -> ["file:line", ...], names reached)."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    seeds: set[str] = set(KEEP)
    for p in sorted(PKG.rglob("*.py")):
        where = str(p.relative_to(ROOT))
        for st in ast.parse(p.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((f"{where}:{st.lineno}", _refs(st)))
                if any(_is_register(d) for d in st.decorator_list):
                    seeds.add(st.name)
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [
                    n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                ]
                if not names:
                    seeds |= _refs(st)
                r = _refs(st.value) if st.value is not None else set()
                for name in names:
                    defs.setdefault(name, []).append((f"{where}:{st.lineno}", r))
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue  # an import names a definition without using it
            elif not (isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant)):
                seeds |= _refs(st)  # module-level code runs on import
    for p in CALLERS:
        seeds |= _refs(ast.parse(p.read_text()))
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, r in defs.get(name, []):
            todo.extend(r - reached)
    where = {n: [w for w, _ in locs] for n, locs in defs.items()}
    return where, reached


def test_every_engine_definition_is_reached_or_kept():
    where, reached = _scan()
    unreached = sorted(
        f"{w} {name}"
        for name, locs in where.items()
        if name not in reached and not name.startswith("__")
        for w in locs
    )
    assert not unreached, (
        "engine definitions no query, pipeline, lifebench op, bench.py or "
        "script reaches (delete them, or add them to KEEP and README with "
        "a reason):\n" + "\n".join(unreached)
    )


def test_keep_list_is_current_and_documented():
    where, _ = _scan()
    assert not [n for n in KEEP if n not in where], "KEEP names a deleted definition"
    readme = (ROOT / "README.md").read_text()
    head = "### Kept without a caller"
    assert head in readme
    section = readme.split(head, 1)[1].split("\n#", 1)[0]
    for name, reason in KEEP.items():
        line = f"- `{name}`: {reason}."
        assert line in " ".join(section.split()), line
