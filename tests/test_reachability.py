"""Reachability guard: no package code that only tests call.

A name-level AST scan, with no Spark. It starts from the entry points
(the CLI and pipelines, the LLM pipeline, batch, catalog, session, the
query registry under ``plans/`` and its entry module
``__spark_entry__.py``, ``streaming/``, ``bench.py``, ``perfbench/``
and ``tools/``)
and walks to a fixpoint: a top-level def is reached when reached code
names it. A name counts when code uses it (a ``Name``, an attribute, or
an identifier-shaped string constant, which is how ``perfbench/spans.py``
wraps operators by name); a docstring, a comment or a bare import
statement is not a use. The scan is by name, not by binding, so a
reference reaches every top-level def of that name.

The unreached top-level defs of ``operators/``, ``sources/`` and
``functions/`` must equal ``tests/golden/unreached.txt``, one
``module|name`` per line: the families still waiting to be deleted.
The test fails when new unreached code lands, and when a listed name
is deleted or becomes reached without the file being updated.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cds_etl_spark"
GOLDEN = os.path.join(REPO, "tests", "golden", "unreached.txt")

# Package modules (relative to the package, without ".py") or
# directories whose whole code is an entry point.
ENTRY_MODULES = ("cli", "__main__", "llm_pipeline", "batch", "catalog", "session")
ENTRY_PREFIXES = ("pipeline",)
ENTRY_DIRS = ("plans", "streaming")
# Repo-level entry points outside the package.
EXTERNAL_ENTRIES = ("__spark_entry__.py", "bench.py", "perfbench", "tools")
AUDITED_DIRS = ("operators", "sources", "functions")

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _docstring_nodes(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _aliases(tree: ast.AST) -> dict[str, str]:
    """``import ... as alias`` names of a file, mapped to the imported
    name, so a use of the alias counts as a use of the original."""
    return {
        a.asname: a.name.rsplit(".", 1)[-1]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if a.asname
    }


def _uses(
    nodes: list[ast.stmt], docstrings: set[int], aliases: dict[str, str]
) -> set[str]:
    """Names that a list of statements uses, imports excluded."""
    out: set[str] = set()
    for stmt in nodes:
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                out.update(
                    part for part in node.value.split(".") if _IDENT.fullmatch(part)
                )
    return out | {aliases[n] for n in out if n in aliases}


def _without_imports(stmts: list[ast.stmt]) -> list[ast.stmt]:
    """Statements minus imports, at any depth (a function-local import
    names a module, it does not use anything)."""

    class Strip(ast.NodeTransformer):
        def visit_Import(self, node):
            return None

        def visit_ImportFrom(self, node):
            return None

    mod = Strip().visit(ast.Module(body=list(stmts), type_ignores=[]))
    return mod.body


def _scan() -> set[str]:
    """The unreached top-level defs of the audited directories, as
    ``module|name``."""
    pkg = os.path.join(REPO, PACKAGE)
    defs: dict[tuple[str, str], set[str]] = {}  # (module, def) -> uses
    module_code: dict[str, set[str]] = {}  # module-level code -> uses
    module_binds: dict[str, set[str]] = {}  # names module-level code binds
    entry_uses: set[str] = set()

    for path in _py_files(pkg):
        rel = os.path.relpath(path, pkg)[: -len(".py")]
        module = rel.replace(os.sep, ".")
        tree = _parse(path)
        doc = _docstring_nodes(tree)
        aliases = _aliases(tree)
        body = _without_imports(tree.body)
        top = rel.split(os.sep)[0]
        is_entry = (
            module in ENTRY_MODULES
            or top in ENTRY_DIRS
            or (os.sep not in rel and rel.startswith(ENTRY_PREFIXES))
        )
        rest = []
        for stmt in body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                uses = _uses([stmt], doc, aliases)
                if is_entry:
                    entry_uses |= uses
                else:
                    defs[(module, stmt.name)] = uses
            elif not (
                isinstance(stmt, ast.Expr) and id(stmt.value) in doc
            ) and not (
                isinstance(stmt, ast.Assign)
                and any(getattr(t, "id", None) == "__all__" for t in stmt.targets)
            ):
                rest.append(stmt)
        if is_entry:
            entry_uses |= _uses(rest, doc, aliases)
        else:
            module_code[module] = _uses(rest, doc, aliases)
            module_binds[module] = {
                n.id
                for stmt in rest
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            }

    for entry in EXTERNAL_ENTRIES:
        for path in _py_files(os.path.join(REPO, entry)):
            tree = _parse(path)
            entry_uses |= _uses(
                _without_imports(tree.body), _docstring_nodes(tree), _aliases(tree)
            )

    used = set(entry_uses)
    reached: set[tuple[str, str]] = set()
    loaded: set[str] = set()  # modules whose module-level code runs
    while True:
        grew = False
        for key, uses in defs.items():
            if key not in reached and key[1] in used:
                reached.add(key)
                used |= uses
                grew = True
        reached_modules = {m for m, _ in reached}
        for module, uses in module_code.items():
            if module in loaded:
                continue
            if module in reached_modules or module_binds[module] & used:
                loaded.add(module)
                used |= uses
                grew = True
        if not grew:
            break

    unreached = {
        f"{m}|{n}"
        for (m, n) in defs
        if (m, n) not in reached and m.split(".")[0] in AUDITED_DIRS
    }
    return unreached


def _golden() -> set[str]:
    with open(GOLDEN) as fh:
        return {
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        }


def test_unreached_defs_match_golden():
    unreached = _scan()
    listed = _golden()
    new = sorted(unreached - listed)
    gone = sorted(listed - unreached)
    assert not new, (
        "package code that no entry point reaches (delete it, or call it "
        f"from an entry point): {new}"
    )
    assert not gone, (
        "listed in tests/golden/unreached.txt but deleted or now reached "
        f"(drop the line): {gone}"
    )
