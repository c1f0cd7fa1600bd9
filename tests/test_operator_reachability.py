"""Every operator function is reachable from what the engine runs.

A static walk over the package's source (no Spark, no job): the roots
are all code in `queries/`, `streaming/` and `sources/`; a reference
to a top-level function or class — a bare name, a name imported from
another module, or `module_alias.name` — makes it reachable, and its
own body is walked in turn. Import statements alone do not count: a
function that is imported but never called is not reached.

A top-level function in `operators/` that nothing reaches is a second
form of an operator that only tests call. REFERENCE holds the few
kept on purpose, each with its reason.

The same parse also finds copy-paste: two functions anywhere in the
package (nested ones included) whose bodies, docstrings excluded, are
identical and span MIN_BODY_LINES lines or more. A plain text scan
finds the copies that check cannot see, inside larger functions or in
SQL strings: MIN_TEXT_RUN consecutive non-blank lines that, stripped,
appear twice in the package. KEPT_COPIES names the few kept on
purpose, each with its reason.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ibd_pipeline_spark"
ROOT_DIRS = ("queries", "streaming", "sources")
MIN_BODY_LINES = 5
MIN_TEXT_RUN = 10

REFERENCE = {
    "winnowing_fingerprints": (
        "the column-expression form that test_winnowing_rows_equals_"
        "column_form checks the registry's winnowing_fingerprint_rows "
        "against"
    ),
    "pca_top_k": (
        "test_pca_top_k_orthogonal_ordered holds to 1e-6 only on its "
        "unrounded loadings; pca_power_attested rounds them to 6 decimals"
    ),
}

# (file, first line of the run) → why the copy stays. A run that could
# only be shared by branching on its caller may be kept; none is today.
KEPT_COPIES: dict[tuple[str, int], str] = {}


def _module_name(path: Path) -> str:
    rel = path.relative_to(PKG.parent).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


@functools.cache
def _parsed():
    """(path, module name, AST) of every source file in the package."""
    return [
        (path, _module_name(path), ast.parse(path.read_text()))
        for path in sorted(PKG.rglob("*.py"))
    ]


def _index():
    """(defs, refs): defs maps (module, name) → top-level node; refs
    maps each such key, and each root module, to the keys its code
    references."""
    defs, refs, roots = {}, {}, set()
    for path, mod, tree in _parsed():
        top = {
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        names, modules = {}, {}  # local name → (module, name) / module
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module:
                for a in n.names:
                    local = a.asname or a.name
                    names[local] = (n.module, a.name)
                    modules[local] = f"{n.module}.{a.name}"
            elif isinstance(n, ast.Import):
                for a in n.names:
                    modules[a.asname or a.name] = a.name

        def resolve(node):
            out = set()
            for n in ast.walk(node):
                if isinstance(n, ast.Name):
                    if n.id in top:
                        out.add((mod, n.id))
                    elif n.id in names:
                        out.add(names[n.id])
                elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                    if n.value.id in modules:
                        out.add((modules[n.value.id], n.attr))
            return out

        for n in tree.body:
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            key = (mod, getattr(n, "name", None))
            if key[1] in top:
                defs[key] = n
                refs[key] = resolve(n)
            if path.relative_to(PKG).parts[0] in ROOT_DIRS:
                roots |= resolve(n)
    return defs, refs, roots


def _reachable(refs, start):
    seen, todo = set(), list(start)
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo.extend(refs.get(key, ()))
    return seen


def _operator_functions(defs):
    return {
        key
        for key, node in defs.items()
        if key[0].startswith("ibd_pipeline_spark.operators.")
        and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_every_operator_function_is_reachable():
    defs, refs, roots = _index()
    ops = _operator_functions(defs)
    kept = {key for key in ops if key[1] in REFERENCE}
    reached = _reachable(refs, roots | kept)
    orphans = sorted(f"{m}.{n}" for m, n in ops - reached)
    assert not orphans, (
        "operator functions that no query, stream or source reaches "
        f"(delete them, or name them in REFERENCE with a reason): {orphans}"
    )


def test_reference_entries_are_defined_and_otherwise_unreached():
    defs, refs, roots = _index()
    ops = _operator_functions(defs)
    reached = _reachable(refs, roots)
    for name in REFERENCE:
        keys = [key for key in ops if key[1] == name]
        assert keys, f"REFERENCE names {name}, which operators/ does not define"
        assert not set(keys) & reached, (
            f"{name} is reached from the engine; drop it from REFERENCE"
        )


def _body(fn):
    """fn's statements, without a leading docstring."""
    body = fn.body
    first = body[0]
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        return body[1:]
    return body


def test_no_duplicate_function_bodies():
    groups = {}
    for path, _mod, tree in _parsed():
        for n in ast.walk(tree):
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = _body(n)
            if body and body[-1].end_lineno - body[0].lineno + 1 >= MIN_BODY_LINES:
                key = "\n".join(ast.dump(stmt) for stmt in body)
                where = f"{path.relative_to(PKG.parent)}:{n.lineno} {n.name}"
                groups.setdefault(key, []).append(where)
    copies = sorted(g for g in groups.values() if len(g) > 1)
    assert not copies, (
        "functions with identical bodies (keep one and call it): "
        f"{copies}"
    )


def _text_runs():
    """{window of MIN_TEXT_RUN stripped non-blank lines: [(file, line
    number of its first line)]} over every source file."""
    runs = {}
    for path, _mod, _tree in _parsed():
        rel = str(path.relative_to(PKG.parent))
        lines = [
            (i, s)
            for i, s in enumerate(
                (raw.strip() for raw in path.read_text().splitlines()), 1
            )
            if s
        ]
        for k in range(len(lines) - MIN_TEXT_RUN + 1):
            window = tuple(s for _i, s in lines[k : k + MIN_TEXT_RUN])
            runs.setdefault(window, []).append((rel, lines[k][0]))
    return runs


def test_no_duplicate_text_runs():
    unkept = (
        [w for w in locs if w not in KEPT_COPIES]
        for locs in _text_runs().values()
    )
    copies = sorted(locs for locs in unkept if len(locs) > 1)
    assert not copies, (
        f"runs of {MIN_TEXT_RUN}+ identical lines (code, SQL or "
        "docstring) in more than one place (share one builder or CTE, "
        f"or name the copy in KEPT_COPIES with a reason): {copies[:20]}"
    )


def test_kept_copies_are_few_and_still_copies():
    assert len(KEPT_COPIES) <= 3
    copied = {
        where
        for locs in _text_runs().values()
        if len(locs) > 1
        for where in locs
    }
    for where, reason in KEPT_COPIES.items():
        assert reason, f"{where} needs a reason"
        assert where in copied, f"{where} is no longer a copy; drop it"
