"""Every package definition is reachable from code outside the tests.

An AST audit of the source tree. The nodes are the package's top-level
functions and classes, private ones included, and the non-dunder methods
of its classes. The roots are the non-test ``.py`` files outside the
package (the entry queries, the benches, perfbench, the CLI), the
import-time statements of each package module, and ``KEPT``. A reached
node reaches every node whose name its body references. A reference is a
name, an attribute, an imported name, or an identifier-valued string
(perfbench names its wrap targets as strings). Prose in docstrings and
comments is no reference. Package module-level imports are not roots: an
import nobody calls keeps nothing alive. A package ``__init__`` only
re-exports, so it is not read. A definition nothing reaches is library
surface nobody runs: delete it, or keep it on purpose in ``KEPT``.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "seronet_data_validator_spark"

# kept on purpose, each reached only from tests
KEPT = {
    # COVERAGE P6/F4: the reference's header and blank-row cleanup
    "schema.normalize_headers",
    "schema.drop_blank_rows",
    # the tests' reference FLAC decoder
    "flac.decode_flac_full",
    # COVERAGE S6: the per-partition verdict table read back from run_manifest
    "checkpoint.partition_verdicts",
    # COVERAGE S4: the JDBC source's watermark gap fill
    "jdbc.jdbc_gap_fill",
    # the north-star one-pass column profile and its KS/PSI drift report
    "stats.profile",
    "stats.drift_report",
    # J2: the salted anti-join for a skewed big-dimension key
    "integrity.salted_left_anti",
    # the tests' reference decoders for the ANN search and the tar shards
    "similarity.brute_force_topk",
    "tar_shards.untar_members",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def _sources() -> dict[Path, ast.Module]:
    out = {}
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if any(d.startswith(".") or d in ("tests", "__pycache__") for d in rel[:-1]):
            continue
        if p.name.startswith("test_") or p.name == "conftest.py":
            continue
        if p.name == "__init__.py" and p.is_relative_to(PKG):
            continue
        out[p] = ast.parse(p.read_text())
    return out


def _refs(nodes) -> set[str]:
    """The identifiers the AST ``nodes`` reference (module docstrings and
    other prose strings are no identifiers)."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and _IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _defs(path: Path, tree: ast.Module):
    """``(key, name, body nodes)`` per package definition, and the module's
    import-time statements (imports and docstring excluded)."""
    defs, roots = [], []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.append((f"{path.stem}.{node.name}", node.name, [node]))
        elif isinstance(node, ast.ClassDef):
            # a method is reached by its own name, not with its class
            methods = [m for m in node.body if isinstance(
                m, (ast.FunctionDef, ast.AsyncFunctionDef)) and not m.name.startswith("__")]
            rest = [m for m in node.body if m not in methods]
            defs.append((f"{path.stem}.{node.name}", node.name,
                         [*node.decorator_list, *node.bases, *node.keywords, *rest]))
            defs.extend((f"{path.stem}.{node.name}.{m.name}", m.name, [m]) for m in methods)
        elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not (
            isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
        ):
            roots.append(node)
    return defs, roots


def _reach(defs, root_refs: set[str]) -> set[str]:
    """Keys of the definitions reached from ``root_refs``."""
    by_name: dict[str, list] = {}
    for key, name, body in defs:
        by_name.setdefault(name, []).append((key, body))
    reached: set[str] = set()
    todo = list(root_refs)
    seen_names: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen_names:
            continue
        seen_names.add(name)
        for key, body in by_name.get(name, ()):
            if key not in reached:
                reached.add(key)
                todo.extend(_refs(body))
    return reached


def _audit():
    defs, roots = [], set()
    for path, tree in _sources().items():
        if path.is_relative_to(PKG):
            d, r = _defs(path, tree)
            defs.extend(d)
            roots |= _refs(r)
        else:
            roots |= _refs([tree])
    return defs, roots


def test_every_public_name_has_a_non_test_caller():
    """Every package definition, private ones included, is reachable from
    non-test code or kept on purpose."""
    defs, roots = _audit()
    keys = {key for key, _name, _body in defs}
    assert KEPT <= keys, f"KEPT names no definition: {sorted(KEPT - keys)}"
    kept_names = {k.rsplit(".", 1)[-1] for k in KEPT}
    reached = _reach(defs, roots | kept_names)
    unreached = sorted(keys - reached)
    assert not unreached, f"reached from no non-test code: {unreached}"
    # a KEPT entry that live code reaches no longer needs keeping
    live = _reach(defs, roots)
    assert not KEPT & live, f"reached from live code, drop from KEPT: {sorted(KEPT & live)}"


def test_prose_is_no_reference():
    """A definition named only in a docstring or a comment is unreached."""
    src = (
        '"""Mentions orphan() and _orphan_helper."""\n'
        "def orphan():\n    return _orphan_helper()\n"
        "def _orphan_helper():\n    return 1\n"
        "def used():\n    '''calls orphan'''\n    return 2\n"
        "# orphan\nX = used()\n"
    )
    defs, roots = _defs(PKG / "probe.py", ast.parse(src))
    assert _reach(defs, _refs(roots)) == {"probe.used"}
