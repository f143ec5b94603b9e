"""Job-execution helpers shared by operators and query builders: the
one lineage cut that iterative operators pin their per-round state
with, and the one way independent actions run concurrently.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def cut_lineage(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = False
) -> DataFrame:
    """Pin ``df`` and cut its lineage so iterative plans stay bounded.

    With ``checkpoint_dir`` unset the pin is a ``localCheckpoint``:
    blocks live in executor memory/disk and die with the executor —
    fine on local[n]. With a directory (HDFS/object store on a real
    cluster) it is a RELIABLE ``checkpoint()`` written there, which
    survives executor loss, so a long fixpoint that loses one executor
    does not restart from zero."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def run_concurrently(*thunks: Callable[[], object]) -> list:
    """Call the zero-argument ``thunks`` concurrently, one thread each,
    and return their results in submit order. Spark runs several jobs
    at once inside one application; actions queue only when the driver
    calls them one after another. The first thunk (in submit order)
    that raised re-raises here, after every thunk has finished.

    Each thunk runs under the caller's local properties (job group,
    job tags, description) and session tags, so the jobs it launches
    stay attributable to the calling query; a plain worker thread
    would start with none of them."""
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(inherit(t)) for t in thunks]]
