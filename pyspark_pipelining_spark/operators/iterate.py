"""The one iterative-fixpoint kernel: ``iterate`` applies ``step`` to a
frame until a round changes nothing or ``max_iter`` rounds have run.

Loop discipline (every convergence loop in the package goes through
here; fixed-count unrolls such as ``graph.pagerank_int`` need no loop
control and stay plain ``for`` loops):

* **every round's frame is a LAZY** ``localCheckpoint``.  LogicalRDD
  replaces the round's plan at construction time, so the next round's
  references to it (a step may read its input several times: join
  side, union branch, lookup table) share ONE materialization instead
  of cloning the subtree once per reference, and Catalyst plans never
  grow with the round count.  The entry state is checkpointed the
  same way.
* **one driver action per block of ``block`` rounds.**  The frames of
  a block union with a round tag into a single tiny grouped aggregate
  of ``probe``; stage graphs dedupe by RDD identity, so each frame
  materializes exactly once inside that job.  Only the per-round probe
  values reach the driver, never the state.
* **convergence.**  ``probe`` must move whenever the state moves (a sum
  of non-increasing labels, a count of monotonically peeled edges), so
  two adjacent equal probe values mean the later round changed
  nothing.  A deterministic step that changes nothing once changes
  nothing ever, so the input of that round is the fixpoint and is
  returned; the check runs mid-block, so a loop whose round ``r`` is
  the first to change nothing costs ``ceil(r / block)`` actions.  A
  round whose frame is empty has no row in the probe result and reads
  as ``None``; an empty state therefore converges in round 1 and comes
  back after one action.

Each call logs one INFO line: rounds run, probe actions, and whether
the loop converged or stopped at ``max_iter``.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_pipelining_spark.logutil import get_logger


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_iter: int,
    probe: Column,
    block: int = 4,
) -> DataFrame:
    """Run ``step`` from ``state`` to its fixpoint, at most ``max_iter``
    rounds.  ``step`` must return a frame with ``state``'s columns;
    ``probe`` is an aggregate over those columns that changes whenever
    the state changes.  Returns the first frame ``step`` leaves
    unchanged, or the frame of round ``max_iter`` (``max_iter <= 0``
    returns ``state`` itself)."""
    if max_iter <= 0:
        return state
    state = state.localCheckpoint(eager=False)
    chain: list = []  # probe values; chain[0] is the block-entry state's
    rounds = actions = 0
    while rounds < max_iter:
        frames: list[DataFrame] = []
        cur = state
        for _ in range(min(block, max_iter - rounds)):
            cur = step(cur).localCheckpoint(eager=False)
            frames.append(cur)
        # the first block also probes the entry state to seed the chain
        probed = frames if chain else [state, *frames]
        tagged = reduce(
            DataFrame.unionByName,
            (f.select(F.lit(i).alias("_round"), "*") for i, f in enumerate(probed)),
        )
        got = {r[0]: r[1] for r in tagged.groupBy("_round").agg(probe).collect()}
        actions += 1
        chain = chain[-1:] + [got.get(i) for i in range(len(probed))]
        for j in range(1, len(chain)):
            if chain[j] == chain[j - 1]:
                get_logger().info(
                    "iterate: converged, round %d changed nothing; "
                    "rounds=%d probe_actions=%d",
                    rounds + j, rounds + len(frames), actions,
                )
                return [state, *frames][j - 1]
        rounds += len(frames)
        state = frames[-1]
    get_logger().info(
        "iterate: hit max_iter=%d without converging; rounds=%d probe_actions=%d",
        max_iter, rounds, actions,
    )
    return state
