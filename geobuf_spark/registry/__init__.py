"""Query registry package: the driver contract, assembled.

Family modules hold the 368 query functions with their DuckDB
oracles beside them; window.py holds the driver-window ORDER as
explicit data; this __init__ assembles queries()/oracle_sql()
from both. __spark_entry__.py at the repo root is a thin facade
over this package.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .window import QUEUE, WINDOW
from . import _shared
from . import q_core
from . import q_spatial_a
from . import q_spatial_b
from . import q_tiles
from . import q_webtext
from . import q_dedup
from . import q_similarity
from . import q_graphq
from . import q_temporal
from . import q_sketches
from . import q_tpch
from . import q_analytics_a
from . import q_analytics_b
from .q_core import entry  # noqa: F401

MODULES = (_shared, q_core, q_spatial_a, q_spatial_b, q_tiles, q_webtext, q_dedup, q_similarity, q_graphq, q_temporal, q_sketches, q_tpch, q_analytics_a, q_analytics_b)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in driver-window order (the driver checks the FIRST 50
    entries; WINDOW/QUEUE in window.py are the single source of truth —
    see window.py for this round's rotation rationale)."""
    impl = {}
    for m in MODULES:
        for n, v in vars(m).items():
            if n.startswith("q_") and callable(v):
                prev = impl.setdefault(n[2:], v)
                assert prev is v, f"duplicate query name {n}"
    out = {name: impl[name] for name in WINDOW + QUEUE}
    assert len(out) == len(impl) == 368
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins, merged from every family module."""
    out = {}
    for m in MODULES:
        fn = getattr(m, "oracles", None)
        if fn is None or not callable(fn):
            continue
        for k, v in fn().items():
            assert k not in out, f"duplicate oracle {k}"
            out[k] = v
    return out
