"""Every defaulted parameter of a public package function is set by some
caller.

A parameter that no call ever passes is a configuration no test or
benchmark covers: it belongs in the body as a constant. The scan is plain
AST (no Spark, no imports of the package):

- candidates are the defaulted parameters (positional-or-keyword and
  keyword-only) of every top-level public function in the package whose
  name is defined once in the package and that has at least one call site
  outside ``tests/``;
- a call sets a parameter when it passes it by keyword, reaches its
  position with positional arguments or a ``*`` argument, or forwards a
  ``**`` mapping;
- calls are looked up by name (``f(...)`` or ``mod.f(...)``) in the
  package, ``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``,
  ``scripts/``, ``perfbench/`` and ``tests/``.

``ALLOWED`` lists the parameters kept on purpose, each with its reason.
"""

from __future__ import annotations

import ast
import functools
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "logstash_filter_geoip_spark"

_SKETCH = ("must equal the cms_build that made the sketch, whose width "
           "stays settable through incremental.cms_state(w=)")

ALLOWED: dict[str, dict[str, str]] = {
    "operators.route.sink_file_metrics": {
        "failure_tags": "the custom tag_on_failure fix passes the "
                        "pipeline's tags through here",
    },
    "operators.aggregate.cms_estimate": {
        "w": _SKETCH, "d": _SKETCH, "salt": _SKETCH,
    },
}


def _py_files(path: Path) -> list[Path]:
    if path.is_dir():
        return sorted(path.rglob("*.py"))
    return [path] if path.exists() else []


@functools.cache
def unset_parameters() -> list[str]:
    pkg_files = _py_files(PKG)
    callers = pkg_files + [
        f for p in ("__spark_entry__.py", "bench.py", "bench_extra.py",
                    "scripts", "perfbench") for f in _py_files(ROOT / p)]
    test_files = _py_files(ROOT / "tests")
    trees = {f: ast.parse(f.read_text(), str(f))
             for f in callers + test_files}

    n_defs: Counter[str] = Counter()
    for f in pkg_files:
        n_defs.update(n.name for n in ast.walk(trees[f])
                      if isinstance(n, (ast.FunctionDef,
                                        ast.AsyncFunctionDef)))
    funcs: dict[str, tuple[str, ast.FunctionDef]] = {}
    for f in pkg_files:
        mod = ".".join(f.relative_to(PKG).with_suffix("").parts)
        for node in trees[f].body:
            if (isinstance(node, ast.FunctionDef)
                    and not node.name.startswith("_")
                    and n_defs[node.name] == 1):
                funcs[node.name] = (mod, node)

    calls: dict[str, list[tuple[bool, ast.Call]]] = defaultdict(list)
    for f, tree in trees.items():
        in_tests = f in test_files
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name in funcs:
                calls[name].append((in_tests, node))

    def sets(call: ast.Call, param: str, index: int | None) -> bool:
        if any(k.arg is None or k.arg == param for k in call.keywords):
            return True
        return index is not None and (
            len(call.args) > index
            or any(isinstance(a, ast.Starred) for a in call.args))

    unset = []
    for name, (mod, node) in funcs.items():
        sites = calls[name]
        if all(in_tests for in_tests, _ in sites):
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        params = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
        params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                   if d is not None]
        for param, index in params:
            if not any(sets(c, param, index) for _, c in sites):
                unset.append(f"{mod}.{name}.{param}")
    return sorted(unset)


def test_every_option_is_set_by_a_caller():
    unset = [p for p in unset_parameters()
             if p.rsplit(".", 1)[1] not in ALLOWED.get(p.rsplit(".", 1)[0],
                                                       {})]
    assert not unset, (
        f"{len(unset)} defaulted parameters no caller sets; make each the "
        "constant it defaults to (or allowlist it with a reason):\n  "
        + "\n  ".join(unset))


def test_allowlist_names_live_unset_parameters():
    unset = set(unset_parameters())
    stale = [f"{fn}.{p}" for fn, ps in ALLOWED.items() for p in ps
             if f"{fn}.{p}" not in unset]
    assert not stale, f"allowlisted but set by a caller or gone: {stale}"
