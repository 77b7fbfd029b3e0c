"""Reach or retire: every def in the package is reached from an entry
point that is not a test.

The walk parses with ``ast`` and never imports the code, so it starts no
Spark. Its roots are the top-level statements of every module in the
package (this includes each ``QUERIES`` dict and ``job.py``'s ``main``
call), of ``__spark_entry__.py`` and ``bench.py``, and of every module
under ``perfbench/`` and ``tools/``. A def is live when its name is used
in live code; liveness is a fixed point over those uses.

- A use is a loaded name, a loaded attribute, or a string constant that
  is exactly an identifier (``getattr`` targets, registry keys).
- Imports are not uses: a def that is only imported is dead.
- Dunder methods are live by rule (the interpreter calls them), and so
  are the ``handle_*`` callbacks of an ``HTMLParser`` subclass.
- A method is live only while its class is live.
- A nested def belongs to the def that encloses it.

The walk is by name, not by binding, so it errs toward live: two defs
that share a name live or die together. A def that only tests reach
fails this test; either wire it into a job mode, a registry query or a
bench, or move it next to the tests that use it.
"""

from __future__ import annotations

import ast
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "pdf_extractor_spark"

# def -> why it stays although only tests call it
ALLOWLIST: dict[str, str] = {}

_FuncDef = (ast.FunctionDef, ast.AsyncFunctionDef)


def _uses(nodes) -> set[str]:
    """The names the given nodes use (see the module docstring)."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                out.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
                out.add(n.value)
    return out


@dataclass(eq=False)
class _Def:
    key: str  # path:Qual.name
    name: str  # the name a use must match
    uses: set[str]  # what the def's body uses once it is live
    owner: _Def | None = None  # a method's class
    always: bool = False  # live by rule


def _collect(path: Path, root: Path) -> tuple[set[str], list[_Def]]:
    """(uses of the module's top-level statements, its defs)."""
    rel = path.relative_to(root).as_posix()
    tree = ast.parse(path.read_text(), filename=str(path))
    roots, defs = [], []
    for stmt in tree.body:
        if isinstance(stmt, _FuncDef):
            defs.append(_Def(f"{rel}:{stmt.name}", stmt.name, _uses([stmt])))
        elif isinstance(stmt, ast.ClassDef):
            methods = [s for s in stmt.body if isinstance(s, _FuncDef)]
            rest = [s for s in stmt.body if not isinstance(s, _FuncDef)]
            cls = _Def(f"{rel}:{stmt.name}", stmt.name,
                       _uses([*stmt.bases, *stmt.keywords, *stmt.decorator_list, *rest]))
            defs.append(cls)
            parser = any(isinstance(b, ast.Name) and b.id == "HTMLParser" for b in stmt.bases)
            for m in methods:
                dunder = m.name.startswith("__") and m.name.endswith("__")
                defs.append(_Def(
                    f"{rel}:{stmt.name}.{m.name}", m.name, _uses([m]), owner=cls,
                    always=dunder or (parser and m.name.startswith("handle_")),
                ))
        else:
            roots.append(stmt)
    return _uses(roots), defs


def _sources() -> tuple[list[Path], list[Path]]:
    """(package modules, entry modules outside the package)."""
    package = sorted((ROOT / PACKAGE).rglob("*.py"))
    entries = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("perfbench", "tools"):
        entries += sorted((ROOT / d).rglob("*.py"))
    return package, entries


def unreached(paths: list[Path], root: Path = ROOT) -> list[str]:
    """Keys (``path:Qual.name``, relative to ``root``) of the package's
    defs that no top-level statement of ``paths`` reaches."""
    used: set[str] = set()
    defs: list[_Def] = []
    for p in paths:
        u, d = _collect(p, root)
        used |= u
        defs += d
    live: set[_Def] = set()
    grew = True
    while grew:
        grew = False
        for d in defs:
            if d in live or (d.owner is not None and d.owner not in live):
                continue
            if d.always or d.name in used:
                live.add(d)
                used |= d.uses
                grew = True
    return sorted(d.key for d in defs if d not in live and d.key.startswith(PACKAGE + "/"))


def test_every_package_def_is_reached():
    t0 = time.monotonic()
    package, entries = _sources()
    dead = unreached(package + entries)
    assert time.monotonic() - t0 < 2.0
    assert sorted(set(dead) - set(ALLOWLIST)) == [], "reached only by tests (or not at all)"
    # an entry that is reached again must leave the allowlist
    assert sorted(set(ALLOWLIST) - set(dead)) == [], "allowlisted but reached"


def test_walk_flags_an_uncalled_def(tmp_path):
    """The gate has teeth: a def nothing calls, a def that is only
    imported, and a method of a dead class are flagged; a dunder of a live
    class and a def named by a string constant are not."""
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "from .other import only_imported\n"
        "TABLE = {'by_string': None}\n"
        "def by_string(): pass\n"
        "def uncalled(): pass\n"
        "def caller(): return Live()\n"
        "class Live:\n"
        "    def __repr__(self): return ''\n"
        "    def unused_method(self): pass\n"
        "class Dead:\n"
        "    def run(self): pass\n"
        "caller()\n"
    )
    (pkg / "other.py").write_text("def only_imported(): pass\n")
    assert unreached(sorted(pkg.glob("*.py")), root=tmp_path) == [
        f"{PACKAGE}/mod.py:Dead",
        f"{PACKAGE}/mod.py:Dead.run",
        f"{PACKAGE}/mod.py:Live.unused_method",
        f"{PACKAGE}/mod.py:uncalled",
        f"{PACKAGE}/other.py:only_imported",
    ]
