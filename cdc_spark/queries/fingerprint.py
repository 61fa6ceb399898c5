"""Per-entry source fingerprints for gate-rotation freshness.

The rotation invariant — "every oracled entry's latest driver row
matches its current plan+oracle, or the entry is staged for the next
gate" — was hand-tracked through round 12 via prefix comments, and
round 12's verdict caught one miss (dd05: its shared operator gained
two repartitions after the entry's last driver row). This module
mechanizes the detection: an entry's fingerprint hashes its oracle
SQL plus the TRANSITIVE SOURCE CLOSURE of its query function inside
``cdc_spark`` — the function itself, every cdc_spark function/class
it references (through module-level imports, attribute access on
cdc_spark modules, nested lambdas, and function-local
``from cdc_spark... import`` and ``import cdc_spark... as``
statements, followed recursively), so a change to a shared operator
moves the fingerprint of every entry built on it.

``tests/registry_fingerprints.json`` is the checked-in ledger: the
fingerprint of each entry as of its last staging. The contract test
fails any entry whose current fingerprint differs from the ledger
unless it sits in ``GATE_PREFIX`` or ``NEXT_TIER`` — exactly the
dd05 class, caught at commit time instead of by the next judge.
Refresh the ledger with ``python tools/update_fingerprints.py`` when
turning the rotation (it refuses to refresh an unstaged drifted
entry unless ``--force``).
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import inspect
import re
import types

from cdc_spark.queries.base import REGISTRY, QuerySpec

# function-local import forms the closure walker must follow (the
# co_names walk only resolves module-level globals):
#   from cdc_spark.x.y import a, b as c, (d, e)
_LOCAL_IMPORT = re.compile(
    r"from\s+(cdc_spark[\w.]*)\s+import\s+\(?([\w,\s]+?)\)?\s*$",
    re.MULTILINE,
)
#   import cdc_spark.x.y as z
_LOCAL_MODULE_IMPORT = re.compile(
    r"^\s*import\s+(cdc_spark[\w.]*)(?:\s+as\s+\w+)?\s*$",
    re.MULTILINE,
)


def _iter_codes(code: types.CodeType):
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _iter_codes(const)


def _in_scope(obj) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    return mod == "cdc_spark" or mod.startswith("cdc_spark.")


def collect_sources(fn) -> dict[str, str]:
    """{qualified name -> source text} of fn's cdc_spark closure."""
    seen: set[int] = set()
    out: dict[str, str] = {}

    def visit(obj) -> None:
        if id(obj) in seen:
            return
        seen.add(id(obj))
        if inspect.ismodule(obj):
            name = getattr(obj, "__name__", "")
            if name == "cdc_spark" or name.startswith("cdc_spark."):
                try:
                    out[name] = inspect.getsource(obj)
                except (OSError, TypeError):
                    pass
            return
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            return
        if not _in_scope(obj):
            return
        try:
            src = inspect.getsource(obj)
        except (OSError, TypeError):
            return
        key = f"{obj.__module__}.{getattr(obj, '__qualname__', '?')}"
        if key in out:
            return
        out[key] = src
        if inspect.isclass(obj):
            # unwrap descriptors: vars() hands back the descriptor
            # object, which isfunction() rejects — without the unwrap,
            # globals referenced ONLY from a classmethod (e.g. an index
            # builder's helper), a property accessor or a cached
            # property never enter the closure and changes to them
            # cannot drift any fingerprint (round-14 coverage hole,
            # found when a helper rewrite left every ivf entry's
            # fingerprint unchanged)
            fns = []
            for v in vars(obj).values():
                if isinstance(v, (classmethod, staticmethod)):
                    vs = [v.__func__]
                elif isinstance(v, property):
                    vs = [v.fget, v.fset, v.fdel]
                elif isinstance(v, functools.cached_property):
                    vs = [v.func]
                else:
                    vs = [v]
                fns.extend(f for f in vs if inspect.isfunction(f))
        else:
            fns = [obj]
        for f in fns:
            g = f.__globals__
            for code in _iter_codes(f.__code__):
                for name in code.co_names:
                    if name in g:
                        visit(g[name])
        # function-local cdc_spark imports (invisible to co_names
        # global resolution): resolve against the named module
        for m in _LOCAL_IMPORT.finditer(src):
            try:
                mod = importlib.import_module(m.group(1))
            except ImportError:
                continue
            for nm in re.split(r"[\s,]+", m.group(2).strip()):
                if nm and nm != "as" and hasattr(mod, nm):
                    visit(getattr(mod, nm))
        for m in _LOCAL_MODULE_IMPORT.finditer(src):
            try:
                visit(importlib.import_module(m.group(1)))
            except ImportError:
                continue

    visit(fn)
    return out


def entry_fingerprint(spec: QuerySpec) -> str:
    """Stable 16-hex fingerprint of (oracle SQL, source closure)."""
    h = hashlib.sha256()
    h.update((spec.oracle or "\x00no-oracle").encode())
    srcs = collect_sources(spec.fn)
    for key in sorted(srcs):
        h.update(key.encode())
        h.update(b"\x1f")
        h.update(srcs[key].encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def all_fingerprints() -> dict[str, str]:
    return {name: entry_fingerprint(REGISTRY[name]) for name in sorted(REGISTRY)}
