"""Banded candidate-pair engine: the one LSH join behind every batch
near-dup operator (minhash, containment, simhash, perceptual
image/audio/video hashes, hyperplane cosine and pair distances).

Reference analogue: the banded pair-candidate builder that feeds the
proximity jobs instead of sifarish SameTypeSimilarity's all-pairs matcher
(SURVEY.md §2.3). Callers own only their sketch, their band (or probe)
expressions and their verify step; the join, its invariants and the cache
contract live here.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import caching


def banded_pairs(
    sketch: DataFrame,
    id_col: str,
    sigs: Sequence[Column],
    carry: Sequence[str] = (),
    probes: Sequence[Column] | None = None,
) -> DataFrame:
    """Candidate pairs ``(src, dst, <c>_a, <c>_b for c in carry)`` with
    ``src < dst``: items whose band signatures collide.

    ``sketch`` holds one row per item: ``id_col``, the ``carry`` columns
    the verify step reads, and whatever ``sigs``/``probes`` reference.

    - Plain bands (``probes=None``): each item emits one (band, sig) row
      per expression in ``sigs`` (band = its position), and the rows
      self-equi-join on (band, sig). A pair colliding in several bands
      meets several times, so the output is ``distinct``.
    - Probe join: the probe side emits one row per expression in
      ``probes``, the plain side one per expression in ``sigs``, and they
      join on sig alone. Probe sets whose members are pairwise distinct (a
      signature plus its one-bit flips) match each qualifying pair in
      exactly one probe, so no ``distinct`` shuffle runs.

    The sketch is persisted here, once, because both join sides read it —
    unpersisted, each side would re-run the sketch lineage (the shingle
    and minhash arrays, the perceptual-hash or hyperplane mapInPandas
    kernel, decode included). A caller that joins its candidates back to
    the sketch persists it first and passes the persisted frame; it is
    not cached twice. The cached frame is one row per item at any scale:
    a fingerprint, plus the shingle array for MinHash. Join keys are
    small (band int, sig string/long) and equi-only: no cartesian product
    anywhere, and candidate volume is the sum of squared bucket sizes."""
    sketch = caching.persist(sketch)

    def keyed(exprs: Sequence[Column]) -> DataFrame:
        return sketch.select(
            F.col(id_col).alias("_id"),
            *carry,
            F.posexplode(F.array(*exprs)).alias("band", "sig"),
        )

    plain = keyed(sigs)
    probe = plain if probes is None else keyed(probes)
    pairs = (
        probe.alias("a")
        .join(plain.alias("b"), ["band", "sig"] if probes is None else ["sig"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("src"),
            F.col("b._id").alias("dst"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
    )
    if probes is None:
        pairs = pairs.distinct()
    return pairs
