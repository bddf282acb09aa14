"""The registry's shared core: the Declared record, the REGISTRY list,
and the @declare decorator.

Lives in its own leaf module (no heavy imports) so sibling registry
modules can depend on it WITHOUT importing plans.registry — importing a
sibling first must not trigger registry.py's module body, whose final
window-curation step would then run before the sibling's own entries
exist (a circular-import footgun: the partially-initialized sibling is
what registry.py's `from . import registry_x` returns mid-cycle).
Consumers that want the full, curated registry import plans.registry,
which loads every sibling and re-exports REGISTRY from here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Declared:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None -> driver records weaker rows-only check
    survey_ids: str = ""


REGISTRY: list[Declared] = []

# driver-window curation state. The window is REGISTERED by
# plans.registry's module end (set_driver_window) but APPLIED only once
# every windowed name is declared: when a sibling module is imported
# first, registry.py's body runs mid-way through the sibling's own —
# the sibling's entries land AFTER registry.py finishes, so an eager
# module-end sort would see them missing and the old assert crashed the
# whole package on an innocent `import plans.registry_extras`. Each
# declare() retries the curation until it lands; consumers that need
# the curated order call ensure_curated(), which raises loudly (not an
# -O-stripped assert) on a typo'd or never-declared window name.
_WINDOW: list[str] | None = None
_CURATED = False


def declare(name: str, sql: Optional[str], survey_ids: str = ""):
    def deco(fn):
        REGISTRY.append(Declared(name, fn, sql, survey_ids))
        _try_curate()
        return fn

    return deco


def set_driver_window(window: list[str], size: int = 50) -> None:
    """Register the driver's curated 50-slot window (plans.registry
    owns the list); curation applies as soon as every name exists."""
    if len(window) != size:
        raise RuntimeError(
            f"DRIVER_WINDOW must have {size} slots, got {len(window)}"
        )
    if len(set(window)) != len(window):
        dupes = sorted({n for n in window if window.count(n) > 1})
        raise RuntimeError(f"DRIVER_WINDOW has duplicate names: {dupes}")
    global _WINDOW
    _WINDOW = list(window)
    _try_curate()


def _try_curate() -> None:
    global _CURATED
    if _CURATED or _WINDOW is None:
        return
    declared = {d.name for d in REGISTRY}
    if any(n not in declared for n in _WINDOW):
        return  # a sibling is still mid-import; retried on its declares
    pos = {n: i for i, n in enumerate(_WINDOW)}
    # stable sort: windowed queries first in curated order, the rest
    # keep their declaration order after the window
    REGISTRY.sort(key=lambda d: pos.get(d.name, len(pos)))
    _CURATED = True


def ensure_curated() -> None:
    """Hard gate for consumers of the curated order (__spark_entry__):
    raises with the missing names when the window never applied."""
    if _CURATED:
        return
    if _WINDOW is None:
        raise RuntimeError(
            "driver window was never registered — import plans.registry"
        )
    declared = {d.name for d in REGISTRY}
    missing = [n for n in _WINDOW if n not in declared]
    raise RuntimeError(f"DRIVER_WINDOW names not in REGISTRY: {missing}")
