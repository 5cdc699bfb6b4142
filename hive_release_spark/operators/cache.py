"""Pipeline-scoped lifetime for what a pipeline materializes (SCALE.md).

Several registry operators persist a shared frame at call time and
return lazy results built on top of it — shingle/minhash signature
bases (`llm/dedup.py`), graph edge lists (`queries/graphs.py`), tf/idf
postings (`queries/llm3.py`), k-means point frames
(`llm/clustering.py`).  The persist is load-bearing (the frame feeds
2+ downstream consumers), but the RETURNED DataFrame must stay lazy,
so the operator cannot know when the caller is done and the cache's
lifetime is caller-managed.  Left alone, a long-lived session pays
twice:

* executor memory fills with dead caches;
* Spark's CacheManager substitutes any live cached subtree into every
  LATER query plan that contains it, silently changing plan shapes
  (a broadcast decision can degrade against an InMemoryRelation's
  size estimate) — the registry plan sweep measures clean-session
  plans for exactly this reason.

Iterative operators materialize too: connected components, PageRank
and the MMR rerank ``localCheckpoint`` a frame per round to keep
lineage flat, and those blocks live in executor storage until the JVM
happens to collect the frame.

``pipeline_scope`` is the one release rule for both: it tracks every
``DataFrame.persist()`` / ``DataFrame.cache()`` /
``DataFrame.localCheckpoint()`` issued inside the scope and frees
exactly those frames on exit — caches created OUTSIDE the scope are
untouched, unlike ``clearCache()``.

    from hive_release_spark.operators.cache import pipeline_scope

    with pipeline_scope():
        pairs = minhash_lsh_pairs(docs).collect()   # persists a base
        comps = connected_components(pairs_df)      # checkpoints labels
        comps.count()
    # every persist and checkpoint made inside the block is now freed

Implementation note: the scope instruments the three methods for its
duration (all restored on exit), so two sharing rules apply:

* **Threads**: only frames materialized by the scope-OWNING thread are
  tracked — a concurrent thread's persist during the block passes
  through untouched instead of being silently released at an exit it
  never asked for.  The scope protects one pipeline, not the JVM.
* **Nesting IS supported, by chaining**: an inner scope's tracking
  function wraps the outer's, so an inner persist lands in BOTH
  lists — the inner scope releases it early (its pipeline is done)
  and the outer's exit-time second release is a no-op.  This is what
  lets a scoped registry entry run inside the scoped bench harness.
  Pinned by tests/test_cache_scope.py::test_nested_scopes_chain.

**Hand-off**: a checkpoint's frame cannot be read once its blocks are
freed, so a scoped block that RETURNS a checkpoint-rooted frame removes
that one frame from the yielded list (``tracked.remove(out)``).
Chaining has already put it in the enclosing scope's list, so the
caller's scope frees it after the caller's action; with no enclosing
scope it is left to Spark's ContextCleaner.
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

_TRACKED = ("persist", "cache", "localCheckpoint")


@contextmanager
def pipeline_scope():
    """Free every DataFrame persisted, cached or local-checkpointed
    inside the scope.

    The exit-time releases are synchronous, so executor storage is
    deterministically empty when the block closes — the right trade at
    a pipeline boundary.

    Yields the tracking list; removing a frame from it hands that
    frame's release to the enclosing scope (module docstring).  Frames
    already unpersisted inside the scope are fine — releasing a
    non-cached frame is a no-op.
    """
    tracked: list[DataFrame] = []
    checkpoints: list[DataFrame] = []
    owner = threading.get_ident()
    originals = {name: getattr(DataFrame, name) for name in _TRACKED}

    def tracking(name):
        orig = originals[name]

        def method(self, *args, **kwargs):
            out = orig(self, *args, **kwargs)
            if threading.get_ident() == owner:
                tracked.append(out)
                if name == "localCheckpoint":
                    checkpoints.append(out)
            return out

        return method

    for name in _TRACKED:
        setattr(DataFrame, name, tracking(name))
    try:
        yield tracked
    finally:
        for name, orig in originals.items():
            setattr(DataFrame, name, orig)
        for df in reversed(tracked):
            try:
                if any(df is cp for cp in checkpoints):
                    # a local checkpoint's blocks belong to the RDD
                    # under its LogicalRDD, not to the CacheManager
                    df._jdf.queryExecution().analyzed().rdd().unpersist(True)
                else:
                    df.unpersist(blocking=True)
            except Exception:
                # a dead session / already-released frame must not
                # mask the block's own exception
                pass
