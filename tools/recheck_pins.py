#!/usr/bin/env python
"""Write ``RECHECK_PINS.json``: the verified queries whose implementing code
changed after their last driver green. Run it at each round boundary, after
the round's ``CORRECTNESS_r*.json`` lands:

    python tools/recheck_pins.py

The driver checks the first 50 queries of ``__spark_entry__.queries()`` per
round, and that order puts these pins ahead of plain staleness re-checks.
Round age alone misses the case that matters most: a query whose
implementing module was refactored after its last green.

Each registered query gets a static DEPENDENCY FINGERPRINT: the sha256 of
its own source (decorators included, so oracle SQL counts) plus the source
of everything it reaches through ``etl_lala_spark`` imports (function grain
within a module, whole file for ``import module`` style). A query is pinned
when today's fingerprint differs from its fingerprint at the git tree its
last green round tested: the ``round N: verdict/...`` boundary commit holds
exactly that code. Everything is derived: ``CORRECTNESS_r*.json`` gives the
last green round, ``git`` gives the tested tree and the AST gives the
dependency closure. A missing git or boundary commit is an error, not an
empty pin list.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import subprocess
import sys
from collections import deque
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import (  # noqa: E402
    PINS_PATH,
    correctness_records,
    verified_rounds,
)
from etl_lala_spark.plans import _PLAN_MODULES, all_queries  # noqa: E402

_PKG = "etl_lala_spark"
# The files whose @register decorators define the query surface; a file
# absent in an old tree contributes nothing there.
PLAN_FILES = [m.replace(".", "/") + ".py" for m in _PLAN_MODULES]


# --- per-file static model ----------------------------------------------------


class _FileInfo:
    __slots__ = ("rel", "src", "lines", "tree", "top", "imports", "ok")

    def __init__(self, rel: str, src: str | None):
        self.rel = rel
        self.src = src
        self.ok = src is not None
        self.top: dict[str, ast.AST] = {}
        self.imports: dict[str, tuple[str, str | None]] = {}
        self.lines: list[str] = []
        self.tree = None
        if not self.ok:
            return
        self.tree = ast.parse(src, rel)
        self.lines = src.splitlines()
        pkg_parts = _pkg_parts(rel)
        for node in self.tree.body:
            for name, bound in _import_bindings(node, pkg_parts):
                self.imports[name] = bound
            for name in _defined_names(node):
                self.top[name] = node


def _pkg_parts(rel: str) -> list[str]:
    """The PACKAGE path a module's relative imports resolve against: the
    dotted path minus the module's own name (``operators/web.py`` lives in
    package ``etl_lala_spark.operators``); a package's ``__init__.py`` IS
    its package. ``from . import x`` at level=1 then resolves to
    ``pkg_parts`` itself, level=2 to its parent, etc. Both cases drop the
    final path segment (a module sheds its own name; ``__init__`` sheds
    the marker)."""
    return rel[: -len(".py")].split("/")[:-1]


def _defined_names(node: ast.AST):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        yield node.name
    elif isinstance(node, ast.Assign):
        for t in node.targets:
            if isinstance(t, ast.Name):
                yield t.id
    elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        yield node.target.id


def _import_bindings(node: ast.AST, pkg_parts: list[str]):
    """Yield (bound_name, (module_dotted, member_or_None)) for imports of
    this package; members are resolved to module-vs-name later, against
    the tree being fingerprinted."""
    if isinstance(node, ast.Import):
        for a in node.names:
            if a.name == _PKG or a.name.startswith(_PKG + "."):
                yield (a.asname or a.name.split(".")[0], (a.name, None))
    elif isinstance(node, ast.ImportFrom):
        if node.level:
            base = pkg_parts[: len(pkg_parts) - node.level + 1]
            mod = ".".join(base + ([node.module] if node.module else []))
        else:
            mod = node.module or ""
        if mod == _PKG or mod.startswith(_PKG + "."):
            for a in node.names:
                if a.name == "*":
                    continue
                yield (a.asname or a.name, (mod, a.name))


def _segment(info: _FileInfo, node: ast.AST) -> str:
    start = node.lineno
    for d in getattr(node, "decorator_list", []) or []:
        start = min(start, d.lineno)
    return "\n".join(info.lines[start - 1 : node.end_lineno])


def _uses(node: ast.AST) -> tuple[dict[str, set[str]], set[str]]:
    """(attr_uses, bare_uses): names used as ``name.attr`` with the set of
    attrs touched, vs names used bare. Lets a ``from pkg.operators import
    text`` alias trace at MEMBER granularity (only the functions actually
    called) instead of pinning on any edit anywhere in the module; a bare
    use of the alias (passed around as an object) falls back to the whole
    module."""
    attrs: dict[str, set[str]] = {}
    attr_base_ids: set[int] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            attrs.setdefault(n.value.id, set()).add(n.attr)
            attr_base_ids.add(id(n.value))
    bare = {
        n.id
        for n in ast.walk(node)
        if isinstance(n, ast.Name) and id(n) not in attr_base_ids
    }
    return attrs, bare


def _local_imports(node: ast.AST, pkg_parts: list[str]):
    for n in ast.walk(node):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            yield from _import_bindings(n, pkg_parts)


# --- fingerprinting one tree --------------------------------------------------


class _Tree:
    """A source tree seen through a read(relpath)->str|None callback —
    the working tree or a git commit — plus the traced-file cache."""

    def __init__(self, read: Callable[[str], str | None]):
        self._read = read
        self._files: dict[str, _FileInfo] = {}

    def file(self, rel: str) -> _FileInfo:
        if rel not in self._files:
            self._files[rel] = _FileInfo(rel, self._read(rel))
        return self._files[rel]

    def resolve_module(self, dotted: str) -> str | None:
        rel = dotted.replace(".", "/")
        for cand in (rel + ".py", rel + "/__init__.py"):
            if self.file(cand).ok:
                return cand
        return None

    def resolve_binding(
        self, bound: tuple[str, str | None]
    ) -> tuple[str, str | None] | None:
        """(module_dotted, member|None) -> (relpath, name|None)."""
        mod, member = bound
        if member is None:
            rel = self.resolve_module(mod)
            return (rel, None) if rel else None
        sub = self.resolve_module(mod + "." + member)
        if sub:
            return (sub, None)  # `from pkg.ops import ml` — ml is a module
        rel = self.resolve_module(mod)
        return (rel, member) if rel else None


def _closure_items(tree: _Tree, rel: str, node: ast.AST) -> list[tuple]:
    """Trace the dependency closure of one top-level def: its own source
    segment, every same-file top-level name it references, and every
    package import it (or its file, for names it references) binds —
    followed transitively across files. Returns (relpath, name, text)."""
    items: list[tuple] = []
    seen: set[tuple] = set()
    work: deque[tuple[str, str | None, ast.AST | None]] = deque()
    work.append((rel, getattr(node, "name", "<node>"), node))
    seen.add((rel, getattr(node, "name", "<node>")))

    def push(item: tuple[str, str | None]):
        if item not in seen:
            seen.add(item)
            work.append((item[0], item[1], None))

    while work:
        frel, fname, fnode = work.popleft()
        info = tree.file(frel)
        if not info.ok:
            items.append((frel, fname or "<module>", "<missing>"))
            continue
        pkg_parts = _pkg_parts(frel)
        if fname is None:
            # whole-module dependency: file content + its package imports
            items.append((frel, "<module>", info.src))
            for bound in info.imports.values():
                r = tree.resolve_binding(bound)
                if r:
                    push(r)
            continue
        if fnode is None:
            fnode = info.top.get(fname)
        if fnode is None:
            bound = info.imports.get(fname)
            if bound:
                r = tree.resolve_binding(bound)
                if r:
                    push(r)
            else:
                items.append((frel, fname, "<unresolved>"))
            continue
        items.append((frel, fname, _segment(info, fnode)))
        attr_uses, bare_uses = _uses(fnode)
        bindings = dict(info.imports)
        bindings.update(dict(_local_imports(fnode, pkg_parts)))

        def push_binding(bname: str, bound: tuple[str, str | None]):
            r = tree.resolve_binding(bound)
            if r is None:
                return
            rel2, member = r
            if member is None and bname not in bare_uses and bname in attr_uses:
                # module alias only ever used as alias.attr: member grain
                for a in sorted(attr_uses[bname]):
                    push((rel2, a))
            else:
                push(r)

        for n in set(bare_uses) | set(attr_uses):
            if n in info.top and info.top[n] is not fnode:
                push((frel, n))
            elif n in bindings:
                push_binding(n, bindings[n])
    return items


def _register_name(node: ast.AST) -> str | None:
    for d in getattr(node, "decorator_list", []) or []:
        if (
            isinstance(d, ast.Call)
            and isinstance(d.func, ast.Name)
            and d.func.id == "register"
            and d.args
            and isinstance(d.args[0], ast.Constant)
            and isinstance(d.args[0].value, str)
        ):
            return d.args[0].value
    return None


def fingerprints(
    read: Callable[[str], str | None], plan_files: list[str] = PLAN_FILES
) -> dict[str, str]:
    """qname -> sha256 dependency fingerprint for every @register-ed query
    in ``plan_files`` of the tree behind ``read`` (relpath -> source, or
    None for a file the tree does not have)."""
    tree = _Tree(read)
    out: dict[str, str] = {}
    for rel in plan_files:
        info = tree.file(rel)
        if not info.ok:
            continue
        for node in info.tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            qname = _register_name(node)
            if not qname:
                continue
            items = _closure_items(tree, rel, node)
            blob = "\n\x00".join(
                f"{f}:{n}\n{t}" for f, n, t in sorted(items)
            )
            out[qname] = hashlib.sha256(blob.encode()).hexdigest()
    return out


# --- trees: working copy and round-boundary commits ---------------------------


def working_reader(rel: str) -> str | None:
    try:
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            return fh.read()
    except FileNotFoundError:
        return None


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def git_reader(sha: str) -> Callable[[str], str | None]:
    files = set(_git("ls-tree", "-r", "--name-only", sha).splitlines())

    def read(rel: str) -> str | None:
        return _git("show", f"{sha}:{rel}") if rel in files else None

    return read


def boundary_commits() -> dict[int, str]:
    """round -> sha of the driver's ``round N: verdict/...`` commit, whose
    tree is exactly the code that round's CORRECTNESS rows were run on
    (the judge only adds the report files on top of the tested tree)."""
    out: dict[int, str] = {}
    for line in _git("log", "--format=%H%x00%s").splitlines():
        sha, _, subj = line.partition("\x00")
        m = re.match(r"round (\d+): verdict", subj)
        if m:
            out.setdefault(int(m.group(1)), sha)  # newest-first log
    return out


def recheck_pins() -> list[str]:
    """Verified queries whose fingerprint today differs from their
    fingerprint at the boundary commit of the round that verified them
    (``__spark_entry__.verified_rounds``). Red retries are left out: the
    driver order already puts them first."""
    verified_in = verified_rounds(all_queries(), *correctness_records())
    current = fingerprints(working_reader)
    bounds = boundary_commits()
    pins: set[str] = set()
    for rnd in sorted(set(verified_in.values())):
        if rnd not in bounds:
            raise SystemExit(f"no 'round {rnd}: verdict' commit in git log")
        old = fingerprints(git_reader(bounds[rnd]))
        pins.update(
            q for q, r in verified_in.items()
            if r == rnd and q in old and old[q] != current[q]
        )
    return sorted(pins)


def main() -> None:
    pins = recheck_pins()
    with open(PINS_PATH, "w", encoding="utf-8") as fh:
        json.dump(pins, fh, indent=1)
        fh.write("\n")
    print(f"{len(pins)} pins -> {os.path.relpath(PINS_PATH, REPO)}")


if __name__ == "__main__":
    main()
