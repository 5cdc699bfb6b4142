"""Pipeline-scoped cache lifetime (VERDICT r7 #5, SCALE.md).

Several registry operators persist a shared frame at call time and
return lazy results built on top of it — shingle/minhash signature
bases (`llm/dedup.py`), graph edge lists (`queries/graphs.py`), tf/idf
postings (`queries/llm3.py`), k-means point frames
(`llm/clustering.py`).  The persist is load-bearing (the frame feeds
2+ downstream consumers), but the RETURNED DataFrame must stay lazy,
so the operator cannot know when the caller is done and the cache's
lifetime is caller-managed.  Two session-lifetime consequences (r7
findings):

* executor memory fills with dead caches in a long-lived session;
* Spark's CacheManager substitutes any live cached subtree into every
  LATER query plan that contains it, silently changing plan shapes
  (a broadcast decision can degrade against an InMemoryRelation's
  size estimate) — the registry plan sweep measures clean-session
  plans for exactly this reason.

``pipeline_scope`` turns the prose contract ("call
``spark.catalog.clearCache()`` between pipelines") into an API: it
tracks every ``DataFrame.persist()`` / ``DataFrame.cache()`` issued
inside the scope and unpersists exactly those frames on exit —
caches created OUTSIDE the scope are untouched, unlike
``clearCache()``.

    from hive_release_spark.operators.cache import pipeline_scope

    with pipeline_scope():
        pairs = minhash_lsh_pairs(docs).collect()   # persists a base
        comps = connected_components(pairs_df)      # persists edges
    # every persist issued inside the block is now released

Implementation note: the scope instruments ``DataFrame.persist`` /
``DataFrame.cache`` for its duration (both restored on exit), so two
sharing rules apply (ADVICE r8-4 hardened both from prose into code):

* **Threads**: only persists issued by the scope-OWNING thread are
  tracked — a concurrent thread's persist during the block passes
  through untouched instead of being silently released at an exit it
  never asked for.  The scope protects one pipeline, not the JVM.
* **Nesting IS supported, by chaining**: an inner scope's tracking
  function wraps the outer's, so an inner persist lands in BOTH
  lists — the inner scope releases it early (its pipeline is done)
  and the outer's exit-time second unpersist is a no-op.  This is
  what lets a scoped registry entry (pipeline_neardedup_corpus) run
  inside the scoped bench harness.  Pinned by
  tests/test_cache_scope.py::test_nested_scopes_chain.

Frames materialized via ``localCheckpoint`` (the connected-components
iteration) are outside its reach; those are released by Spark's
ContextCleaner once unreferenced.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

try:
    # PySpark 4: the public pyspark.sql.DataFrame is an abstract base
    # whose CONCRETE subclass overrides persist/cache — instrumenting
    # the base would intercept nothing
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover — PySpark 3.x layout
    from pyspark.sql import DataFrame


@contextmanager
def pipeline_scope():
    """Unpersist every DataFrame persisted/cached inside the scope.

    The exit-time unpersists are synchronous, so executor storage is
    deterministically empty when the block closes — the right trade at
    a pipeline boundary.

    Yields the tracking list (mostly useful to tests); frames already
    unpersisted inside the scope are fine — ``unpersist`` on a
    non-cached frame is a no-op.
    """
    tracked: list[DataFrame] = []
    owner = threading.get_ident()
    orig_persist = DataFrame.persist
    orig_cache = DataFrame.cache

    def tracking_persist(self, *args, **kwargs):
        out = orig_persist(self, *args, **kwargs)
        if threading.get_ident() == owner:
            tracked.append(out)
        return out

    def tracking_cache(self):
        out = orig_cache(self)
        if threading.get_ident() == owner:
            tracked.append(out)
        return out

    DataFrame.persist = tracking_persist
    DataFrame.cache = tracking_cache
    try:
        yield tracked
    finally:
        DataFrame.persist = orig_persist
        DataFrame.cache = orig_cache
        for df in reversed(tracked):
            try:
                df.unpersist(blocking=True)
            except Exception:
                # a dead session / already-released frame must not
                # mask the block's own exception
                pass
