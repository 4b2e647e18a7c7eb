"""Guard against unreferenced package code: every top-level ``def`` under
``ssb_sgis_spark/`` must be named somewhere other than its own ``def``
line — in the package, the tests, the driver entry, scripts or the
benchmark.  No Spark; every ``.py`` in the repo is lexed once.

The lexer is one regex (comments, string literals, names) rather than
``tokenize``, which is ~5x slower over the repo.  A string literal counts
as a reference when it is exactly an identifier (``getattr(module,
"name")``), except inside a module-level ``__all__``: exporting a def is
not using it.  An f-string counts every identifier in it, since its
replacement fields are code.  Comments never count."""

import re
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "ssb_sgis_spark"
SKIP_DIRS = {"__pycache__", "spark-warehouse"}  # plus every hidden directory
TOKEN = re.compile(
    r"""
      (?P<comment>\#[^\n]*)
    | (?P<prefix>[rRbBuUfF]{0,2})
      (?P<string>\"\"\"(?:\\[\s\S]|[\s\S])*?\"\"\"
               | '''(?:\\[\s\S]|[\s\S])*?'''
               | "(?:\\.|[^"\\\n])*"
               | '(?:\\.|[^'\\\n])*')
    | (?P<name>[A-Za-z_]\w*)
    """,
    re.X,
)
IDENT = re.compile(r"[A-Za-z_]\w*")
ALL = re.compile(r"^__all__\s*\+?=\s*[\[(][^\])]*[\])]", re.M)


def _scan():
    """(count of every name reference, [(file, name) of package top-level defs])."""
    refs = Counter()
    defs = []
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if SKIP_DIRS.intersection(parts) or any(p.startswith(".") for p in parts):
            continue
        text = path.read_text()
        in_pkg = parts[0] == PACKAGE
        exports = [m.span() for m in ALL.finditer(text)]
        after_def = False
        for m in TOKEN.finditer(text):
            name = m.group("name")
            if name:
                refs[name] += 1
                if after_def:
                    defs.append((path.relative_to(ROOT), name))
                after_def = (
                    in_pkg and name == "def" and (m.start() == 0 or text[m.start() - 1] == "\n")
                )
            elif m.group("string"):
                after_def = False
                body = m.group("string").strip("\"'")
                if "f" in m.group("prefix").lower():
                    refs.update(IDENT.findall(body))
                elif IDENT.fullmatch(body) and not any(
                    a <= m.start() < b for a, b in exports
                ):
                    refs[body] += 1
    return refs, defs


def test_every_package_def_is_referenced():
    t0 = time.perf_counter()
    refs, defs = _scan()
    elapsed = time.perf_counter() - t0
    assert len(defs) > 100, "scan found too few package defs"
    dead = [
        f"{path} {name}"
        for path, name in defs
        if refs[name] < 2 and not (name.startswith("__") and name.endswith("__"))
    ]
    assert not dead, "unreferenced top-level defs:\n" + "\n".join(dead)
    assert elapsed < 2.0, f"scan took {elapsed:.2f}s"
