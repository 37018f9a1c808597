"""The storage seam: the one place an operator materializes a frame.

An operator materializes a frame that several plan branches consume
(or that a driver loop feeds back into itself) so it is computed once
and the plan above it stays shallow. Every such site calls
``materialize``; no operator module calls ``localCheckpoint``,
``checkpoint``, ``persist`` or ``cache`` itself (the AST guard in
``tests/test_plans.py``).

Why ``localCheckpoint`` and not ``persist``: a persist that is never
unpersisted leaks for the session, because the CacheManager holds its
blocks until the session ends, and an operator that returns a lazy frame
has no point at which to unpersist. The ContextCleaner frees checkpoint
blocks once the checkpointed frame is dereferenced.

The executor-loss caveat: checkpoint blocks are unreplicated and the
lineage above them is cut, so on a cluster the loss of an executor that
holds blocks makes the frame unrecoverable and fails the query, where a
persist would recompute from lineage. That is sound on ``local[N]`` and
for frames that live inside one query; a reliable mode (``checkpoint()``
to a replicated directory, or ``persist(MEMORY_AND_DISK_2)``) is a change
to this one function (SCALE.md, "Reliability caveat").

The job facts (``tests/test_store.py`` pins them on a one-shuffle
frame): with adaptive execution on, building even a "lazy" checkpoint
(``eager=False``) runs every shuffle-map stage below it, because
adaptive ``execute()`` materializes each query stage but the last; only
the final stage waits for the first action. ``eager=True`` runs that
final stage at build time too. With adaptive execution off, a lazy
checkpoint starts no job until the action. Either way, the action reads
the checkpointed partitions in one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, site: str, *, eager: bool) -> DataFrame:
    """``df`` checkpointed locally, ``eager`` as given.

    ``site`` is the call site's stable label (``"<module>.<frame>"``),
    one per call site; the plan capture script records it.
    """
    return df.localCheckpoint(eager=eager)
