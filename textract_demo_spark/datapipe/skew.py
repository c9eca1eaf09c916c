"""Explicit skew-defusing joins: salt-replication for a hot key
joined against a dimension too big to broadcast.

The problem at 10^12 rows: an equi-join shuffles both sides by the
key, so one pathologically hot key (the mega-conversation, the
bot-farm user, the empty-string URL) lands on ONE reducer and the
stage runs at the speed of that straggler. AQE's skew-join handles
the sort-merge case by splitting oversized partitions, but it cannot
split a single hot KEY GROUP when the join must keep key grouping,
and it does nothing for the first shuffle of a hash join. The
explicit fix is the classic salt-replication:

- fact rows get ``_salt = hash(unique_col) % salt`` — a pure,
  deterministic, narrow expression (never ``rand()``, which breaks
  retry/replay determinism);
- the dimension replicates ``salt``-fold via ``explode(sequence)``
  — dim is medium-sized (too big to broadcast, tiny next to the
  fact), so the replication cost is ``salt x |dim|`` rows, bounded
  and chosen by the caller;
- the join key becomes ``(key, _salt)``: the hot key's rows now
  spread over ``salt`` reducers, and correctness is untouched
  because every fact row still meets its dim row exactly once (at
  its own salt).

Trade-off knob: ``salt`` multiplies dim shuffle volume and caps the
per-key parallelism gain; size it to the observed hot-key spread
(the same rule as the extraction pipeline's salted repartition,
engine/udfs.py).

Reference analog: the demo shards hot S3 prefixes across Lambda
concurrency implicitly; here the skew unit is the join reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# join types whose output rows all come from fact rows (each fact row
# meets its dim key at exactly one salt), by normalized Spark name
_FACT_SIDE_JOINS = {"inner", "left", "leftouter", "semi", "leftsemi",
                    "anti", "leftanti"}


def salted_skew_join(fact: DataFrame, dim: DataFrame, on: str,
                     unique_col: str, salt: int = 8,
                     how: str = "inner") -> DataFrame:
    """Join ``fact`` to ``dim`` on ``on`` with ``salt``-way key
    salting. ``unique_col`` must be a (near-)unique fact column — the
    salt derives from it so the spread is even and deterministic.
    ``dim`` must be unique per ``on`` key (a dimension); the shuffle
    hash-join hint keeps the demonstration honest when a small test
    dim would otherwise broadcast (broadcast joins have no shuffle
    skew to defuse — if the dim fits in memory, broadcast instead).

    ``how`` is inner, left, semi or anti (Spark's aliases of those
    accepted): every join type that keeps unmatched DIM rows would
    emit each of them ``salt`` times, once per replica."""
    if salt < 1:
        raise ValueError("salt must be >= 1")
    if how.lower().replace("_", "") not in _FACT_SIDE_JOINS:
        raise ValueError(
            f"salted_skew_join supports inner/left/semi/anti joins,"
            f" not {how!r}: unmatched dim rows would repeat per salt")
    keyed = (f"pmod(xxhash64(concat('sj-', cast({unique_col}"
             f" AS STRING))), {salt})")
    sf = fact.withColumn("_salt", F.expr(keyed).cast("int"))
    # sequence(0, salt-1) of int literals yields int elements, same
    # type as the fact side's cast (generators can't nest in a cast)
    sd = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return (sf.join(sd.hint("shuffle_hash"), [on, "_salt"], how)
            .drop("_salt"))
