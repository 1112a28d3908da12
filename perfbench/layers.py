"""Spans around calls into the engine's layers, installed from the
benchmark's side for traced runs only.

Each entry names a public function of a package module and the layer
it belongs to. :func:`install` replaces the function, in its module
and in every already-imported package module that bound it by name,
with a wrapper that opens a :meth:`Tracer.span` while an op is
running. The engine's files are not changed; :func:`uninstall` puts
the originals back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys

PKG = "deltalake_datafusion_spark"

# (module, function, layer)
ENTRY_POINTS = [
    ("delta.snapshot", "load_snapshot", "snapshot"),
    ("delta.scan", "read_delta", "scan"),
    ("delta.scan", "scan", "scan"),
    ("delta.scan", "scan_files", "scan"),
    ("delta.scan", "collect_planned_files", "scan"),
    ("delta.scan", "estimate_log_actions", "scan"),
    ("delta.writer", "write_delta", "writer"),
    ("delta.writer", "commit", "writer"),
    ("delta.writer", "write_checkpoint", "writer"),
    ("delta.writer", "write_checkpoint_spark", "writer"),
    ("delta.writer", "maybe_checkpoint", "writer"),
    ("delta.writer", "maybe_checkpoint_light", "writer"),
    ("delta.ops", "delete_delta", "ops"),
    ("delta.ops", "update_delta", "ops"),
    ("delta.ops", "merge_delta", "ops"),
    ("delta.ops", "optimize_delta", "ops"),
    ("delta.deletion_vectors", "write_dv_file", "dv"),
    ("delta.deletion_vectors", "read_dv", "dv"),
    ("delta.deletion_vectors", "dv_row_filter", "dv"),
    ("delta.vacuum", "vacuum", "vacuum"),
    ("delta.mv", "refresh_aggregate_mv", "mv"),
    ("delta.mv", "apply_change_deltas", "mv"),
    ("delta.cdf", "table_changes", "cdf"),
]

def _annotate(fn: str, rec: dict, args, kwargs, out) -> None:
    """Counts taken where the work happens."""
    c = rec["counts"]
    if fn == "load_snapshot":
        from deltalake_datafusion_spark.delta.snapshot import load_snapshot

        bound = inspect.signature(load_snapshot).bind(*args, **kwargs)
        base = bound.arguments.get("base")
        c["with_files"] = bound.arguments.get("with_files", True)
        c["table"] = out.table_path
        c["version"] = out.version
        c["base_version"] = base.version if base is not None else None
    elif fn == "scan_files":
        c["considered"] = len(args[0].files)
        c["kept"] = len(out)
    elif fn == "collect_planned_files":
        c["kept"] = len(out)


def install(tracer) -> list[tuple[object, str, object]]:
    """Wrap every entry point; returns what :func:`uninstall` restores."""
    installed = []
    for mod_name, fn, layer in ENTRY_POINTS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        orig = getattr(mod, fn)

        def wrapper(*args, __orig=orig, __fn=fn, __layer=layer, **kwargs):
            if tracer._op is None:
                return __orig(*args, **kwargs)
            with tracer.span(__layer, __fn) as rec:
                out = __orig(*args, **kwargs)
                _annotate(__fn, rec, args, kwargs, out)
                return out

        functools.update_wrapper(wrapper, orig)
        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "") or ""
            if name.startswith(PKG) and getattr(m, fn, None) is orig:
                setattr(m, fn, wrapper)
                installed.append((m, fn, orig))
    return installed


def uninstall(installed: list[tuple[object, str, object]]) -> None:
    for m, fn, orig in reversed(installed):
        setattr(m, fn, orig)
