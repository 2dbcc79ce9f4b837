"""pin(): materialize an operator-internal frame once, without leaking.

Operators here sometimes build an intermediate that several downstream
joins consume (LSH bands, shingle sets, candidate pairs, term
frequencies). Left lazy, Catalyst re-plans the whole subtree per
consumer — plan audits showed the LSH band join re-running four times
inside the Jaccard verify. The two materialization primitives differ in
lifecycle, and the difference matters for a library:

- ``df.cache()`` registers the plan in the session's CacheManager,
  which holds it until an EXPLICIT ``unpersist()`` — impossible for a
  caller to issue on a frame that never escapes the operator. A
  long-lived session (service, notebook, grading loop) calling such an
  operator repeatedly accumulates pinned executor memory until the
  session dies (curate.py documented this hazard in round 2; round-3
  review flagged that new internal caches reintroduced it).
- ``df.localCheckpoint(eager=False)`` materializes into
  MEMORY_AND_DISK blocks reused by every consumer, but the blocks are
  owned by the RDD, so the ContextCleaner frees them as soon as the
  returned frame is garbage-collected — the lifecycle a
  library-internal temporary actually wants.

What a pin costs, and when. ``pin()`` is NOT lazy: ``localCheckpoint``
builds the frame's physical RDD at call time, and under AQE (on in
every session this package builds) building it runs the adaptive plan
to its final stage — every shuffle map stage and every broadcast below
the pin executes as Spark jobs inside the ``pin()`` call, before any
action and whether or not the pinned frame is ever read. Only the final
stage, which writes the checkpoint blocks, waits for the first action
on the frame. So a pin costs its input's shuffle jobs immediately plus
one block write later; an operator that pins several intermediates has
run most of its jobs by the time it returns (``curate_increment`` on a
3-document increment starts 28 jobs before its frames are touched). A
pin pays off only when two or more consumers read the frame.

Trade-off, stated: checkpoint blocks are not recomputable — on a real
cluster, losing an executor that held a block fails the job instead of
recomputing the partition (and dynamic allocation can reap such
executors). For the short-lived frames pinned here that risk window is
one job; the alternative is unbounded CacheManager growth across a
session. Callers that prefer recomputable caching can still cache the
frame THEY pass in (e.g. the ``sh=`` argument of ``ngram_jaccard``)
and unpersist it themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Materialize-once with automatic release (``localCheckpoint``;
    its input's shuffle and broadcast stages run at call time — see
    the module docstring)."""
    return df.localCheckpoint(eager=False)
