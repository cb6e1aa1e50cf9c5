"""Every defaulted parameter of a top-level engine function is set by some
caller outside tests/, or has a listed reason to stay an option.

A parameter is set when a call by the function's name (or an import
alias of it), in the engine or in one of the reachability test's callers
(`__spark_entry__.py`, `bench.py`, `lifebench/*.py`, `scripts/*.py`),
passes it by keyword or by position, or passes `*args`/`**kwargs`. A parameter nothing sets holds one
value in every run, so it belongs in the body as a constant. Pure Python,
no Spark.

`KEEP` lists the options kept although only tests set them. Each reason is
copied verbatim into README's "Options kept with one value in use" list,
which this test checks, so the two cannot drift apart.
"""

from __future__ import annotations

import ast

from tests.test_engine_reachability import CALLERS, PKG, ROOT

KEEP = {
    "get_spark.shuffle_partitions": "a session setting; tests size the "
    "shuffle to their tiny inputs",
    "near_dup_groups.max_iter": "a test forces the non-convergence error "
    "with it",
    "simhash_expr.bits": "tests check the registered 60-bit "
    "`simhash_table` sketch against it",
}


def _options() -> list[tuple[str, str, str, int | None]]:
    """(file:line, function, parameter, position or None if keyword-only)."""
    out = []
    for p in sorted(PKG.rglob("*.py")):
        where = str(p.relative_to(ROOT))
        for st in ast.parse(p.read_text()).body:
            if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = st.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            out += [(f"{where}:{st.lineno}", st.name, x.arg, i)
                    for i, x in enumerate(pos) if i >= first]
            out += [(f"{where}:{st.lineno}", st.name, x.arg, None)
                    for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _set_by_callers() -> dict[str, tuple[int, set[str]]]:
    """function name -> (most positional args any call passes, keywords
    passed; "**" when a call passes *args or **kwargs, which may set any)."""
    out: dict[str, tuple[int, set[str]]] = {}
    for p in [*sorted(PKG.rglob("*.py")), *CALLERS]:
        tree = ast.parse(p.read_text())
        alias = {a.asname: a.name for n in ast.walk(tree)
                 if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            name = alias.get(name, name)
            npos, kws = out.get(name, (0, set()))
            kws = kws | {k.arg or "**" for k in n.keywords}
            if any(isinstance(x, ast.Starred) for x in n.args):
                kws.add("**")
            out[name] = (max(npos, len(n.args)), kws)
    return out


def test_every_engine_option_is_set_or_kept():
    calls = _set_by_callers()
    unset = []
    for where, fn, param, i in _options():
        npos, kws = calls.get(fn, (0, set()))
        if param in kws or "**" in kws or (i is not None and i < npos):
            continue
        if f"{fn}.{param}" not in KEEP:
            unset.append(f"{where} {fn}({param}=)")
    assert not unset, (
        "engine options no caller outside tests/ sets (make them constants, "
        "or add them to KEEP and README with a reason):\n" + "\n".join(unset)
    )


def test_keep_list_is_current_and_documented():
    options = {f"{fn}.{param}" for _, fn, param, _ in _options()}
    assert not [k for k in KEEP if k not in options], "KEEP names a deleted option"
    readme = (ROOT / "README.md").read_text()
    head = "### Options kept with one value in use"
    assert head in readme
    section = readme.split(head, 1)[1].split("\n#", 1)[0]
    for name, reason in KEEP.items():
        fn, param = name.split(".")
        line = f"- `{fn}({param}=)`: {reason}."
        assert line in " ".join(section.split()), line
