"""Oracle-checked query catalog (registry).

Every implemented operator from SURVEY.md §2 gets a named query plus, where
SQL-expressible, an ANSI-SQL oracle the driver runs via DuckDB on the same
parquet tables.  Submodules register themselves on import:

- :mod:`.relational`   — scans/filters/joins/aggs/windows (§2.1–2.8 core)
- :mod:`.profile_logs` — user profiles, robust log parse, date pruning, sampling
- :mod:`.ml`           — vectorize / cluster / similarity (rows-only + invariants)
- :mod:`.reco`         — registers ``streaming.recommend.reco_assembly``
  with its oracle (§3), plus the two ALS queries
- :mod:`.dedup`        — exact/MinHash/SimHash/ngram/embedding dedup (extension)
- :mod:`.textstats`    — lang-id, quality, token counts, fingerprints (extension)
- :mod:`.streamq`      — the click/view temporal join (as-of + interval)

Cross-engine determinism rules (every query follows these):

- **Explicit total order at any LIMIT / row_number boundary** — tie-break
  columns down to a unique key; Spark orders ties arbitrarily otherwise.
- **No order-dependent float aggregation in hashed output.**  Double addition
  is non-associative and Spark/DuckDB aggregate in different orders, so any
  SUM over doubles is integerized per-row first
  (``cast(round(expr * 100) as bigint)``): per-row float math is identical
  IEEE ops in both engines and integer sums are exact → bit-for-bit match.
- DuckDB ``sum(bigint)`` → HUGEINT and ``row_number()`` → BIGINT: oracles
  cast back to match Spark's ``long``.
- DuckDB ``regexp_replace`` is first-match-only: pass ``'g'`` wherever Spark
  replaces globally.
- ``spark.sql.session.timeZone=UTC`` is assumed (DuckDB timestamps are
  UTC-naive).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


#: Queries exported through ``__spark_entry__`` — the harness driver
#: correctness-checks at most the FIRST 50 registered entries, so this
#: registry is capped at 50 and every entry is a claim the driver verifies.
REGISTRY: dict[str, QuerySpec] = {}

#: Locally-verified overflow: oracle-checked in ``tests/test_oracle.py``
#: (same DuckDB compare at sf0.01) but not exported to the driver.  Queries
#: land here when their operator coverage is subsumed by a driver-registry
#: query (e.g. per-facet variants folded into a merged query) — the
#: operator keeps a green oracle without spending one of the 50 slots.
EXTRA_REGISTRY: dict[str, QuerySpec] = {}

DRIVER_CHECK_LIMIT = 50


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY or name in EXTRA_REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        # check BEFORE inserting: a caller that swallows the error must
        # not be left with a silently-unverifiable 51st export
        if len(REGISTRY) >= DRIVER_CHECK_LIMIT:
            raise ValueError(
                f"driver registry exceeds {DRIVER_CHECK_LIMIT} queries; "
                "register overflow via register_extra so every exported "
                "query keeps a driver correctness row"
            )
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def register_extra(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY or name in EXTRA_REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        EXTRA_REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


from . import relational  # noqa: E402,F401
from . import profile_logs  # noqa: E402,F401
from . import ml  # noqa: E402,F401
from . import reco  # noqa: E402,F401
from . import streamq  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import textstats  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import filescan  # noqa: E402,F401
from . import behavior  # noqa: E402,F401
