"""Spans around calls into the engine's layers, recorded from outside it.

``install()`` wraps every public function and public method defined in
the layer packages, then imports the query registry, so the registry
modules bind the wrapped names when they run ``from ... import``. A
wrapper costs one flag test while recording is off; while it is on, each
call becomes a span (name, layer, start, end, parent, thread). Spans
nest per thread, and a span's self time is its duration minus the
durations of the spans it directly encloses. Spans stay in memory until
``dump`` writes them out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from pathlib import Path

PKG = "lakehouse_tacklebox_spark"
# Layer packages wrapped before the registry is imported. ``queries`` is
# timed by the benchmark's own spans around each registry call; only its
# trained-structure cache module is wrapped.
LAYERS = (
    "session",
    "sources",
    "operators",
    "plans",
    "validation",
    "tablestore",
    "streaming",
    "observability",
)
ALL_LAYERS = ("session", "sources", "queries", *LAYERS[2:])
# operators module -> operator family reported as operators.<family>_s
OPERATOR_FAMILIES = {
    "dedup": "dedup",
    "signature": "dedup",
    "similarity": "similarity",
    "embed": "similarity",
    "text": "text",
    "corpus": "corpus",
    "multimodal": "multimodal",
    "graphops": "graph",
}


class Span:
    __slots__ = ("id", "name", "layer", "family", "start", "end", "parent", "thread", "child", "nested", "error")

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "thread": self.thread,
            "start": self.start,
            "end": self.end,
            "self": self.self_s,
            "error": self.error,
        }

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        # span name -> callable(result) run after the call returns
        self.observers: dict = {}

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str, family: str = "") -> Span:
        st = self._stack()
        sp = Span()
        sp.id = next(self._ids)
        sp.name, sp.layer, sp.family = name, layer, family
        sp.parent = st[-1].id if st else None
        sp.thread = threading.get_ident()
        sp.child = 0.0
        sp.nested = any(s.name == name for s in st)
        sp.error = None
        st.append(sp)
        sp.start = time.perf_counter()
        return sp

    def end(self, sp: Span, error: BaseException | None = None) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        st.pop()
        if st:
            st[-1].child += sp.end - sp.start
        if error is not None:
            sp.error = type(error).__name__
        self.spans.append(sp)

    def _run(self, name: str, layer: str, family: str, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sp = self.begin(name, layer, family)
        try:
            out = fn(*args, **kwargs)
        except BaseException as e:
            self.end(sp, e)
            raise
        self.end(sp)
        observer = self.observers.get(name)
        if observer is not None:
            observer(out)
        return out

    def call(self, name: str, layer: str, fn, *args):
        """Run ``fn(*args)`` under a span while recording is on."""
        return self._run(name, layer, "", fn, args, {})

    def wrap(self, fn, name: str, layer: str, family: str = ""):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self._run(name, layer, family, fn, args, kwargs)

        return traced

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.to_dict()) + "\n")


TRACER = Tracer()


def _modules(pkg_name: str) -> list:
    mod = importlib.import_module(f"{PKG}.{pkg_name}")
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__):
            mods.append(importlib.import_module(f"{mod.__name__}.{info.name}"))
    return mods


def _wrap_module(mod, layer: str, originals: dict) -> None:
    short = mod.__name__.rsplit(".", 1)[-1]
    family = OPERATOR_FAMILIES.get(short, "other") if layer == "operators" else ""
    for attr, obj in list(vars(mod).items()):
        if attr.startswith("_"):
            continue
        if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
            w = TRACER.wrap(obj, f"{layer}.{short}.{attr}", layer, family)
            originals[obj] = w
            setattr(mod, attr, w)
        elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
            for m_name, m in list(vars(obj).items()):
                if m_name.startswith("_"):
                    continue
                name = f"{layer}.{short}.{attr}.{m_name}"
                if isinstance(m, staticmethod):
                    setattr(obj, m_name, staticmethod(TRACER.wrap(m.__func__, name, layer, family)))
                elif isinstance(m, classmethod):
                    setattr(obj, m_name, classmethod(TRACER.wrap(m.__func__, name, layer, family)))
                elif inspect.isfunction(m):
                    setattr(obj, m_name, TRACER.wrap(m, name, layer, family))


def _rebind(originals: dict) -> None:
    """Point every engine module's imported names at the wrappers."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG) or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            w = originals.get(obj) if inspect.isfunction(obj) else None
            if w is not None and w is not obj:
                setattr(mod, attr, w)


def install() -> None:
    """Wrap the layers, then import the registry. Must run before anything
    imports ``lakehouse_tacklebox_spark.queries``."""
    if f"{PKG}.queries" in sys.modules:
        raise RuntimeError("tracing must be installed before the query registry is imported")
    originals: dict = {}
    for layer in LAYERS:
        for mod in _modules(layer):
            _wrap_module(mod, layer, originals)
    _rebind(originals)
    importlib.import_module(f"{PKG}.queries")
    _wrap_module(importlib.import_module(f"{PKG}.queries.fixtures"), "queries", originals)
    _rebind(originals)
