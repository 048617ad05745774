"""Process-scoped memo for unresolved Column expression templates.

Building a Column tree costs one py4j round-trip per operator
(~0.2-0.7 ms on a virtualized host), and the suite's expression-heavy
builders (minhash digests, KN n-gram algebra, correction overlays)
re-build identical trees for every query that uses them — measured
tens of thousands of round-trips across one 141-arm bench run
(tools/construction_census.py / py4j_hotspots.py, r12).

An UNRESOLVED Column is an immutable template: analysis never mutates
the tree (Catalyst resolution produces new trees), so handing every
caller the same object is semantically identical to rebuilding it.
The win is py4j construction round-trips, paid once per process
instead of once per query: building the six mfdb_load import plans
plus species_key, warm, makes ~4.0-4.4k py4j calls with the memo and
~6.4-7.3k with it cleared before each pass (+0.28 s median build
time; pyspark 4.1.2, local[4]). It is not a codegen win: a rebuilt
tree's fresh lambda-variable names still hit the JVM codegen class
cache (Spark's CodegenMetrics compilation count: a reused and a
rebuilt lm._pairs or _bpe_fold_template tree compile the same number
of new classes).

Scope and safety:
- Cache keys are the builder's positional/keyword args, which must be
  hashable and must FULLY determine the returned tree. Builders that
  close over a DataFrame or other per-plan state must not be wrapped.
- The cached JavaObjects live as long as the py4j GATEWAY. PySpark
  keeps one gateway for the process lifetime in normal operation
  (sessions may stop and restart over it), but a crashed/relaunched
  JVM mints a NEW gateway whose ids don't resolve the old JavaObjects
  — memo entries are therefore tagged with the gateway identity and
  rebuilt on mismatch (r12 ADVICE low), so a post-restart process
  fails nowhere instead of everywhere.
- Frames built from the same cached template share Alias exprIds.
  Name-based joins/unions (``on=["col", ...]``) are fine — verified on
  pyspark 4.1.2 and how every in-package caller joins — but plan-id-
  based resolution BETWEEN two such frames (``df["col"]``,
  ``df.col == other.col`` join conditions) can hit ambiguity or
  mis-binding that fresh aliases would avoid. Callers composing two
  frames produced by templated builders must use name-based joins
  (r12 ADVICE low).
- The check-then-set below is not locked; foreachBatch handlers run
  on py4j callback threads concurrently with the driver thread. Under
  the GIL ``dict.setdefault`` is atomic, so the worst case is two
  threads building the same template once each and one winning —
  a duplicate build, never a torn entry (r12 ADVICE low).
- Callers must treat returned lists/tuples as immutable (they are
  returned as tuples to make accidental mutation loud).
"""

from __future__ import annotations

import functools

_MEMO: dict = {}


def _gateway_id() -> int:
    """Identity of the live py4j gateway (0 when no JVM yet): memo
    entries from a previous gateway hold dead JavaObjects and must not
    be served after a JVM relaunch."""
    try:
        from pyspark import SparkContext

        return id(SparkContext._gateway) if SparkContext._gateway else 0
    except Exception:
        return 0


def column_template(fn):
    """Memoize a pure ``(*hashable) -> Column | tuple[Column, ...]``
    template builder per process and per py4j gateway. Lists are
    normalized to tuples so a caller can't mutate the shared value in
    place."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        key = (
            _gateway_id(),
            fn.__module__,
            fn.__qualname__,
            args,
            tuple(sorted(kwargs.items())),
        )
        try:
            hit = _MEMO.get(key)
        except TypeError:  # unhashable arg — build fresh, don't cache
            return fn(*args, **kwargs)
        if hit is None:
            hit = fn(*args, **kwargs)
            if isinstance(hit, list):
                hit = tuple(hit)
            hit = _MEMO.setdefault(key, hit)
        return hit

    return wrapped


def clear() -> None:
    """Drop every cached template (all gateways). Wire this to an
    explicit gateway teardown if a harness ever relaunches the JVM
    mid-process; the gateway-id key already makes stale entries
    unreachable, so this is a memory hook, not a correctness one."""
    _MEMO.clear()
