"""Every public name of the package has a caller outside the tests.

A lexical audit of the source tree: each public top-level function or class
of the package, and each public method of its classes, must be named in some
non-test ``.py`` of the repository (the package, the entry queries, the
benches, perfbench) other than at its own ``def``/``class`` line. A use
inside its own module counts, so internal helpers pass; a package
``__init__`` only re-exports, so its imports do not count. A name that only
tests reach is library surface nobody runs: delete it, or keep it on purpose
in ``KEPT``.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "seronet_data_validator_spark"

# kept on purpose: the COVERAGE P6/F4 header and blank-row primitives, and
# the tests' reference FLAC decoder
KEPT = {"schema.normalize_headers", "schema.drop_blank_rows", "flac.decode_flac_full"}


def _sources() -> dict[Path, str]:
    out = {}
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if any(d.startswith(".") or d in ("tests", "__pycache__") for d in rel[:-1]):
            continue
        if p.name.startswith("test_") or p.name == "conftest.py":
            continue
        if p.name == "__init__.py" and p.is_relative_to(PKG):
            continue
        out[p] = p.read_text()
    return out


def _public_defs(src: str):
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
            yield node.name
            if isinstance(node, ast.ClassDef):
                yield from (
                    m.name for m in node.body
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("_")
                )


def test_every_public_name_has_a_non_test_caller():
    sources = _sources()
    unreferenced = set()
    for path, src in sources.items():
        if not path.is_relative_to(PKG):
            continue
        for name in _public_defs(src):
            word = re.compile(rf"\b{name}\b")
            header = re.compile(rf"\b(def|class) {name}\b")
            if not any(
                word.search(header.sub("", text) if other == path else text)
                for other, text in sources.items()
            ):
                unreferenced.add(f"{path.stem}.{name}")
    assert unreferenced == KEPT, (
        f"reached only from tests: {sorted(unreferenced - KEPT)}; "
        f"no longer unreferenced, drop from KEPT: {sorted(KEPT - unreferenced)}"
    )
