"""Generic BSP iterate driver: until converged, or for a fixed horizon.

The engine's iterative graph algorithms (connected components, label
propagation, join-mode PageRank, keyed personalized PageRank, Katz,
eigenvector, HITS, forward/reverse push, absorbing walks, k-core and
truss peels, random and node2vec walks, bow-tie reachability, the
Brandes forward pass, Luby MIS, maximal matching, Borůvka MSF, and
the path family's one monotone relaxation, ``plans.gather.relax``,
behind shortest paths, keyed BFS, widest paths, topological levels,
temporal reachability and SCC coloring) share one loop skeleton: compute the
next state from the current one, truncate lineage with
``localCheckpoint`` so the physical plan stays O(1) across rounds, run
one cheap convergence action, stop at ``max_iter`` otherwise. This is
the Pregel superstep shape with Spark's execution model: state is a
DataFrame, a superstep is a handful of joins/aggregates Catalyst plans
whole, and the only driver-side work per round is the convergence
check.

``iterate`` runs that skeleton in one of two modes:

- **probing** (``converged`` given): the probe runs after every round
  and the state is checkpointed every round, because the probe and the
  next round both scan it;
- **fixed horizon** (``converged=None``): exactly ``max_iter`` rounds,
  no probe, and the state is checkpointed every
  ``FIXED_HORIZON_CHECKPOINT_EVERY`` rounds — nothing scans the
  intermediate states, so an eager checkpoint every round is a job
  per round that buys nothing (``hitting_time`` at sf0.1 on
  ``local[32]``: 12.8 s before this every-third-round rule, 5.26 s
  with it).

**Observed probes.** A probing loop whose stop test reads exact integer
aggregates (``count``, ``count_if``, ``bit_xor(xxhash64(...))``) names
them in a :class:`Probe`. The harness attaches a fresh
``pyspark.sql.Observation`` to every new state before its eager
``localCheckpoint``, so the checkpoint job fills the row and the stop
test runs no job of its own (jobs per round: LPA 8 → 6, k_core 5 → 3).
The contract:

- integer aggregates only. An observed float sum merges task partials
  in completion order, so it is not reproducible run to run; the float
  L1 probes (``gather.l1_converged``) stay on ``collect``;
- the eager checkpoint fills the row, so a probe needs
  ``checkpoint=True``: ``Observation.get`` blocks until an action fills
  it, and without the checkpoint nothing would (the harness raises
  instead of hanging);
- a task retried after a fetch failure can add its partition twice to
  the observed row. A doubled partition changes the count, so the
  stop test can only see a spurious change — at most one extra round,
  never an early stop;
- a state the harness did not checkpoint (the first state after
  ``resume``) has no observed row; ``Probe.of`` then runs the same
  aggregates once as an explicit job.

**Drain loops.** A loop that runs until a frame comes out empty stops on
``Probe.drained(name)``: the new state's observed count ``name`` is 0.
A doubled partition can only make a non-empty count larger, never 0, so
it never stops early either. The frontier loops (bow-tie reachability,
the Brandes forward pass, random and node2vec walks) take the frontier
as the state and let ``drained(name, keep=frames)`` collect each
non-empty level; Luby MIS and Borůvka MSF take the shrinking set
(undecided vertices, inter-component edges) as the state and collect
their winners and selected edges from ``step``; maximal matching counts
its live rows and the push family its active rows. Each unions its
frames once at the end (``union_all``).

The C reference hand-rolls the equivalent do-while in every variant
(``Page_Rank_SERIAL.c:206-279``). Here the operators that loop over
Spark rounds are expressed on ``iterate``, except greedy coloring's
per-color loop, densest subgraph, the Brandes backward pass, HyperANF,
SimRank, WL refinement, Louvain levels, the SCC outer loop and the IVF
Lloyd loop, which still hand-roll their own.
"""
from __future__ import annotations

import json
import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation

# fixed-horizon checkpoint cadence (see the module docstring)
FIXED_HORIZON_CHECKPOINT_EVERY = 3


class Probe:
    """Named exact integer aggregates, observed on eager checkpoints.

    ``Probe(c=F.count(F.lit(1)))``; ``probe.checkpoint(df)`` is an eager
    ``localCheckpoint`` whose job also computes the aggregates, and
    ``probe.of(df)`` returns them as a dict for a frame this probe
    checkpointed (no job), or runs them once for any other frame.
    """

    def __init__(self, **aggs: Column):
        self._aggs = [c.alias(k) for k, c in aggs.items()]
        # (frame, row) of the most recent checkpoints: a stop test reads
        # the previous and the new state, never older ones
        self._rows: list[tuple[DataFrame, dict]] = []

    def _remember(self, df: DataFrame, row: dict) -> None:
        self._rows = self._rows[-1:] + [(df, row)]

    def checkpoint(self, df: DataFrame) -> DataFrame:
        obs = Observation()
        out = df.observe(obs, *self._aggs).localCheckpoint()
        self._remember(out, obs.get)
        return out

    def of(self, df: DataFrame) -> dict:
        for seen, row in self._rows:
            if seen is df:
                return row
        row = df.agg(*self._aggs).collect()[0].asDict()
        self._remember(df, row)
        return row

    def unchanged(self, after: int = 0):
        """Stop test: the new state's row equals the previous state's.
        Rounds up to ``after`` never stop (and never read ``prev``)."""
        return lambda prev, new, r: (
            r > after and self.of(new) == self.of(prev)
        )

    def drained(self, name: str, keep: list[DataFrame] | None = None):
        """Stop test: the new state's count ``name`` is 0. A non-empty
        new state is appended to ``keep``, so a loop whose rounds each
        emit a frame collects them for one union at the end."""

        def stop(_prev: DataFrame, new: DataFrame, _r: int) -> bool:
            if self.of(new)[name] == 0:
                return True
            if keep is not None:
                keep.append(new)
            return False

        return stop


def union_all(frames: list[DataFrame]) -> DataFrame:
    """One lazy union of the frames a loop collected, in order."""
    return reduce(DataFrame.unionByName, frames)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[DataFrame, DataFrame, int], bool] | None,
    max_iter: int,
    checkpoint: bool = True,
    warn: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    probe: Probe | None = None,
) -> tuple[DataFrame, int, bool]:
    """Run ``state = step(state, round)`` until ``converged`` or
    ``max_iter`` rounds; returns ``(state, rounds_run, converged)``.

    - ``step(state, round)`` (1-based round) returns the next state; it
      must NOT checkpoint — the harness localCheckpoints the state so
      plans never grow with the round count.
    - ``converged(prev, new, round)`` runs AFTER the checkpoint, so any
      action it triggers (count, agg) scans materialized partitions; it
      may carry loop state in a closure and record per-round metrics.
    - ``probe``: the stop test's integer aggregates; every round's state
      is checkpointed through it, so ``converged`` reads
      ``probe.of(new)`` (and ``probe.of(prev)``) without a job. Needs a
      probing loop with ``checkpoint=True`` (see the module docstring).
      It is an argument of its own, not found on ``converged``, because
      a caller that wraps ``converged`` (a round tracer) would hide it:
      the stop test would then run its aggregates as jobs again.
    - ``converged=None`` is the fixed-horizon mode: exactly
      ``max_iter`` rounds, no probe, a checkpoint every
      ``FIXED_HORIZON_CHECKPOINT_EVERY`` rounds; the returned flag is
      True once the horizon is reached.
    - do-while semantics: ``step`` always runs at least once when
      ``max_iter >= 1``.
    - ``warn``: message to emit as a RuntimeWarning when ``max_iter``
      is exhausted without convergence (omit for fixed-round
      algorithms where running out IS the contract, e.g. LPA gates).
    - ``checkpoint_dir``: DURABLE resumability (the north_rule's
      restart contract, extended from PageRank to every harness
      algorithm): after each round the state parquet plus a manifest
      (round number, done flag) land under the directory; with
      ``resume=True`` the loop restarts from the last persisted round
      instead of round 0 — a killed CC/LPA/SSSP job continues where
      it stopped. Convergence-callback closures restart fresh, which
      at worst costs one extra detection round (the detectors are all
      recompute-from-state). The manifest is written AFTER the state
      parquet, so a crash between the two resumes one round back —
      never forward into missing data.
    """
    if probe is not None and (converged is None or not checkpoint):
        raise ValueError(
            "an observed probe is filled by the per-round eager "
            "checkpoint: it needs converged and checkpoint=True"
        )
    rounds = 0
    done = False
    manifest = (
        os.path.join(checkpoint_dir, "iterate_manifest.json")
        if checkpoint_dir
        else None
    )
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
    if resume and manifest and os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        rounds = int(meta["round"])
        spark = state.sparkSession
        state = spark.read.parquet(
            os.path.join(checkpoint_dir, f"round_{rounds:05d}")
        )
        if meta.get("done"):
            return state, rounds, True
    start = rounds
    for rounds in range(start + 1, max_iter + 1):
        new = step(state, rounds)
        if checkpoint and (
            converged is not None
            or rounds % FIXED_HORIZON_CHECKPOINT_EVERY == 0
        ):
            # eager on purpose: several convergence callbacks probe with
            # partial-evaluation actions (isEmpty / limit-count), and a
            # LAZY localCheckpoint finalized by a partial job is the
            # classic missing-block hazard. An observed probe rides on
            # this job, so its stop test runs none of its own
            new = (
                probe.checkpoint(new) if probe is not None
                else new.localCheckpoint()
            )
        fin = (
            converged(state, new, rounds)
            if converged is not None
            else rounds == max_iter
        )
        if checkpoint_dir:
            new.write.mode("overwrite").parquet(
                os.path.join(checkpoint_dir, f"round_{rounds:05d}")
            )
            tmp = manifest + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"round": rounds, "done": bool(fin)}, f)
            os.replace(tmp, manifest)
        if fin:
            state = new
            done = True
            break
        state = new
    rounds = max(rounds, start)
    if not done and warn is not None:
        import warnings

        warnings.warn(warn, RuntimeWarning, stacklevel=2)
    return state, rounds, done
