"""Central query registry.

Every operator from SURVEY.md §2.2 registers here via the :func:`query`
decorator: a name, a Spark callable ``(spark, sf_dir) -> DataFrame``, and —
when the semantics are ANSI-SQL-expressible — a DuckDB oracle SQL string the
driver runs side-by-side at sf0.01 (order-insensitive value-hash compare,
see __spark_entry__.py docstring).

Contract invariants enforced by convention here and checked by
tests/test_oracle_parity.py locally before the driver ever sees them:
- every computed column aliased identically on both sides;
- result column *types* aligned (e.g. DuckDB SUM(int)→HUGEINT is cast to
  BIGINT to match Spark; Spark ceil→BIGINT is matched with a cast on the
  oracle side);
- top-k / LIMIT queries fully tie-broken so the selected set is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Spec:
    name: str
    fn: QueryFn
    #: DuckDB oracle SQL. May be registered as a ZERO-ARG CALLABLE that
    #: returns the string — resolved once at the end of _ensure_loaded,
    #: so an oracle needing a fragment from another operator module can
    #: DEFER that import (r9 review: a module-level fragment import in
    #: curation.py hoisted all of llm_dedup's registrations into the
    #: middle of the cheap-modules-first order, perturbing the
    #: harness's serve-order tiebreak). Every reader outside this
    #: module sees a plain string or None.
    oracle: str | None
    tags: tuple[str, ...] = ()
    doc: str = ""
    bench: bool = True  # include in bench.py timing loop
    #: Plan to TIME instead of ``fn`` when the correctness form carries
    #: harness-only work (e.g. an exact twin computed solely to bound-check
    #: an approximate sketch): bench.py times ``bench_fn or fn``, the
    #: correctness harness always runs ``fn``.
    bench_fn: QueryFn | None = None


_SPECS: dict[str, Spec] = {}


def query(name: str,
          oracle: "str | Callable[[], str] | None" = None,
          tags: tuple[str, ...] = (),
          bench: bool = True, bench_fn: QueryFn | None = None):
    """Register a query. ``oracle=None`` → driver does a rows-only check;
    a zero-arg callable defers fragment imports (see Spec.oracle)."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _SPECS:
            raise ValueError(f"duplicate query name: {name}")
        _SPECS[name] = Spec(name=name, fn=fn, oracle=oracle, tags=tags,
                            doc=(fn.__doc__ or "").strip(), bench=bench,
                            bench_fn=bench_fn)
        return fn
    return deco


def all_specs() -> dict[str, Spec]:
    """All registered specs, in stable registration order.

    Serve-order concerns (e.g. a budgeted harness wanting unverified
    queries first) belong to the harness adapter, not this registry —
    see __spark_entry__.py.
    """
    _ensure_loaded()
    return dict(_SPECS)


def QUERIES() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: s.fn for n, s in _SPECS.items()}


def ORACLES() -> dict[str, str]:
    _ensure_loaded()
    return {n: s.oracle for n, s in _SPECS.items() if s.oracle is not None}


_loaded = False


def _ensure_loaded() -> None:
    """Import operator modules for their registration side effects."""
    global _loaded
    if _loaded:
        return
    # Import (= registration) order is cheap-modules-first so that within
    # each serve-order group the harness's budget covers the most queries.
    from .operators import (  # noqa: F401
        scalar_funcs, llm_text, curation, multimodal, udfs, relational,
        timeseries, analytics, events_analytics, tpch_suite, llm_dedup,
        llm_similarity, advanced,
    )
    # pipeline_ext registers LAST: its queries sort after the round-3
    # backlog in the harness's unverified-first serve order, so the
    # driver's budget certifies older queries before these.
    from .operators import pipeline_ext  # noqa: F401
    # pipeline_ext2 after pipeline_ext, for the same reason.
    from .operators import pipeline_ext2  # noqa: F401
    # pipeline_ext3 after pipeline_ext2, for the same reason.
    from .operators import pipeline_ext3  # noqa: F401
    # pipeline_ext4 after pipeline_ext3, for the same reason.
    from .operators import pipeline_ext4  # noqa: F401
    # pipeline_ext5 after pipeline_ext4, for the same reason.
    from .operators import pipeline_ext5  # noqa: F401
    # round-6 additions, last for the same serve-order reason.
    from .operators import multimodal_png  # noqa: F401
    from .operators import multimodal_gif  # noqa: F401
    # round-7 addition, last for the same serve-order reason.
    from .operators import multimodal_jpeg  # noqa: F401
    # resolve lazily-registered oracles (see Spec.oracle) now that every
    # module has registered — readers always see plain strings
    for s in _SPECS.values():
        if callable(s.oracle):
            s.oracle = s.oracle()
    _loaded = True
