"""Per-entry source fingerprints and the gate-rotation ledger.

The driver's correctness gate runs the first ``GATE_SLOTS`` entries of
``__spark_entry__.queries()``, so that order decides which entries get
a fresh driver row each round. An entry's fingerprint hashes its
oracle SQL plus the TRANSITIVE SOURCE CLOSURE of its query function
inside ``cdc_spark`` — the function itself, every cdc_spark
function/class it references (through module-level imports, attribute
access on cdc_spark modules, nested lambdas, function-local
``from cdc_spark... import`` and ``import cdc_spark... as``
statements, and what a module reached as an object imports from other
cdc_spark modules, followed recursively), so a change to a shared operator
moves the fingerprint of every entry built on it.

``tests/registry_fingerprints.json`` is the ledger: one line per
entry, ``"name": [fingerprint, round]``. ``round`` is the last round
whose gate prefix held the entry at that fingerprint (``0``: no round
from r10 on), or ``null`` when the entry changed after its last gate
(pending). ``gate_order`` derives the driver order from the ledger
alone: pending entries first, then the oldest gate, then the name;
entries without an oracle go last, so they never take a gate slot.
``stale`` lists every entry whose recorded fingerprint is not its
current one; the contract test fails on any, so every change is
recorded. ``tools/update_fingerprints.py`` applies ``refresh`` (record
drift as pending) and, once a round's gate has run, ``rotate``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import inspect
import json
import os
import re
import types
from collections.abc import Collection, Iterable, Mapping

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
                # its source holds its own definitions; what it imports
                # from other cdc_spark modules is visited as itself
                for v in list(vars(obj).values()):
                    if getattr(v, "__module__", name) != name:
                        visit(v)
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


# --- the gate-rotation ledger ---------------------------------------

LEDGER = os.path.normpath(
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..",
        "..",
        "tests",
        "registry_fingerprints.json",
    )
)

# the driver's correctness gate samples this many leading entries
GATE_SLOTS = 50

# name -> [fingerprint, round]; round None = pending
Ledger = Mapping[str, list]


def load_ledger() -> dict[str, list]:
    with open(LEDGER) as f:
        return json.load(f)


def write_ledger(ledger: Ledger) -> None:
    """Write one line per entry, sorted by name."""
    lines = [
        f" {json.dumps(n)}: {json.dumps(list(ledger[n]))}"
        for n in sorted(ledger)
    ]
    with open(LEDGER, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def gate_order(
    names: Iterable[str], ledger: Ledger, oracled: Collection[str]
) -> list[str]:
    """``names`` in driver gate order: oracled before rows-only, then
    pending (a name missing from the ledger is pending too), then the
    oldest recorded round, then the name."""

    def key(name: str) -> tuple[bool, bool, int, str]:
        rnd = ledger.get(name, (None, None))[1]
        return (name not in oracled, rnd is not None, rnd or 0, name)

    return sorted(names, key=key)


def stale(ledger: Ledger, current: Mapping[str, str]) -> list[str]:
    """Names whose recorded fingerprint differs from the current one:
    drifted, new (not in the ledger) or unregistered (not current)."""
    return sorted(
        n
        for n in ledger.keys() | current.keys()
        if ledger.get(n, (None,))[0] != current.get(n)
    )


def refresh(ledger: Ledger, current: Mapping[str, str]) -> dict[str, list]:
    """The ledger over exactly ``current``'s names: an unchanged entry
    keeps its round, a drifted or new one is recorded as pending."""
    return {
        n: list(ledger[n]) if ledger.get(n, (None,))[0] == fp else [fp, None]
        for n, fp in sorted(current.items())
    }


def rotate(
    ledger: Ledger,
    current: Mapping[str, str],
    oracled: Collection[str],
    round_: int,
) -> dict[str, list]:
    """Stamp the current first ``GATE_SLOTS`` entries as gated in
    ``round_`` at their current fingerprints."""
    out = {n: list(v) for n, v in ledger.items()}
    for n in gate_order(current, ledger, oracled)[:GATE_SLOTS]:
        out[n] = [current[n], round_]
    return out
