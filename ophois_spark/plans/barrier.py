"""Statistics-truncating checkpoint barrier for driver-loop fixpoints.

Spark 4's ``Dataset.localCheckpoint`` truncates LINEAGE but preserves
the source plan's estimated statistics through
``LogicalRDD.rewriteStatsAndConstraints`` (ExistingRDD.scala:263,
observed in a driver jstack). ``SizeInBytesOnlyStatsPlanVisitor``
estimates an inner join as the PRODUCT of its children's sizeInBytes,
so an iterative operator whose per-round plan joins the previous
round's result WITH ITSELF (pointer doubling: ``s := s ∘ s``) doubles
the BigInt's bit-length every round even though every round is
checkpointed. After ~20 compounded self-joins Catalyst spends minutes
inside ``BigInteger.multiplyToomCook3`` re-estimating a 15k-row
relation — measured on the Boruvka loop at sf0.01: round 2 ≈ 2 s,
round 4 ≈ 300 s, then driver OOM at default heap. A per-round groupBy
does NOT deflate the estimate, so aggregation-bearing loops compound
too: label propagation joins its labels with a neighbour-min
aggregate of the same labels, and on a 128-node path with shuffled
ids its estimate's bit length doubled every round, from 190 at round
1 to 4,107,776 at round 15, where one round took 57 s (0.8 s at round
7). Every data-dependent driver loop therefore checkpoints through
this barrier, via ``plans.iterate.fixpoint``.

``stats_barrier`` checkpoints, and once the estimate has reached
``defaultSizeInBytes`` (Long.MaxValue: 63 bits) it rebuilds the
Dataset from the just-checkpointed RDD via
``SparkSession.internalCreateDataFrame``, which assigns a fresh
``LogicalRDD`` with default statistics. Growth restarts from the
default at every such barrier, so no plan built on barriered inputs
estimates more than a few hundred bits, regardless of round count.
An estimate below the default is kept: it is cheap, and it still
lets Catalyst broadcast a small side, which the default (unknown,
max) size never does. On the street-graph benchmark's simplify graph
at local[4], resetting every estimate made the H4 and H6 contraction
loops take 1.19 s and 5.17 s, against 0.85 s and 4.54 s when small
estimates are kept. Falls back to
the plain checkpointed frame if the internal API is unavailable
(correct, just slower after many rounds).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_warned_fallback = False


def stats_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + estimated-statistics truncation."""
    global _warned_fallback
    df = df.localCheckpoint(eager=eager)
    try:
        jdf = df._jdf
        # py4j hands the BigInt over as a Python int (via its decimal
        # string, which the reset below keeps short)
        if jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length() < 63:
            return df
        spark = df.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception as exc:  # pragma: no cover - internal-API drift fallback
        # A silent fallback here re-enters the documented Spark 4 stats
        # cliff (compounding sizeInBytes in driver loops → minutes/round,
        # driver OOM) with no visible cause, so
        # make the degradation loud — once.
        if not _warned_fallback:
            _warned_fallback = True
            _log.warning(
                "stats_barrier: internalCreateDataFrame unavailable (%s: %s); "
                "falling back to plain localCheckpoint. Driver loops "
                "(plans.iterate.fixpoint) may hit the Spark 4 "
                "statistics-compounding cliff — see module docstring.",
                type(exc).__name__,
                exc,
            )
        return df
