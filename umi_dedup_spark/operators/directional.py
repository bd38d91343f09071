"""Directional edge construction — the reference's core clustering predicate
re-expressed over candidate pairs.

Reference semantics (``lib/sequence_error.py:47-53``): directed edge
a -> b iff hamming(a, b) == threshold AND count[a] >= 2*count[b] - 1.
Graft (documented divergence, SURVEY.md §2.5 C1): the distance test is
``bit_count(simhash_a ^ simhash_b) <= threshold`` over 64-bit SimHash
fingerprints (a Hamming *ball*, since text perturbations move a variable
number of bits); the count predicate is applied directionally, verbatim.
Substring-pass pairs (shared >= window-length verbatim run) bypass the
SimHash distance test — they carry their own proof of near-duplication —
but still respect the directional count rule.

All predicates are JVM-side whole-stage-codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import hamming64, minhash_jaccard


def _directional(near: DataFrame) -> DataFrame:
    fwd = near.filter(F.col("count_a") >= 2 * F.col("count_b") - 1).select(
        F.col("src"), F.col("dst")
    )
    rev = near.filter(F.col("count_b") >= 2 * F.col("count_a") - 1).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return fwd.unionByName(rev)


def build_edges(pairs: DataFrame, fams: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs -> directed edges (src, dst).

    A canonical pair (a, b) is near-duplicate iff ``is_substring``, or
    hamming(simhash_a, simhash_b) <= ``cfg.hamming_threshold``, or the
    estimated MinHash Jaccard >= ``cfg.jaccard_threshold``. A
    near-duplicate pair emits a -> b iff count_a >= 2*count_b - 1 and
    b -> a iff count_b >= 2*count_a - 1: 0, 1 or 2 directed edges; 0
    means the two families stay separate (exactly as in the reference,
    where no adjacency entry forms).

    The attribute join runs in TWO phases to keep the wide MinHash
    signatures (num_perm longs ~ 512B/family) out of the main shuffle:
    phase 1 joins only the narrow attrs (simhash 8B, count) and decides
    the cheap gate (substring proof OR SimHash Hamming ball); phase 2
    joins minhash ONLY for the residual pairs that failed the cheap gate
    — at web scale most true near-dups pass phase 1, so the signature
    bytes shuffled scale with the residual, not with every candidate
    pair.
    """
    light = fams.select(
        F.col("norm_hash").alias("fam"),
        F.col("simhash"),
        F.col("fam_count"),
    )
    a = light.select(
        F.col("fam").alias("src"),
        F.col("simhash").alias("simhash_a"),
        F.col("fam_count").alias("count_a"),
    )
    b = light.select(
        F.col("fam").alias("dst"),
        F.col("simhash").alias("simhash_b"),
        F.col("fam_count").alias("count_b"),
    )
    p1 = pairs.join(a, "src").join(b, "dst")
    cheap = F.col("is_substring") | (
        hamming64(F.col("simhash_a"), F.col("simhash_b")) <= cfg.hamming_threshold
    )
    near_cols = ["src", "dst", "count_a", "count_b"]
    near_cheap = p1.filter(cheap).select(*near_cols)
    residual = p1.filter(~cheap).select(*near_cols)

    mh_a = fams.select(F.col("norm_hash").alias("src"), F.col("minhash").alias("minhash_a"))
    mh_b = fams.select(F.col("norm_hash").alias("dst"), F.col("minhash").alias("minhash_b"))
    near_mh = (
        residual.join(mh_a, "src")
        .join(mh_b, "dst")
        .filter(
            minhash_jaccard(F.col("minhash_a"), F.col("minhash_b"))
            >= cfg.jaccard_threshold
        )
        .select(*near_cols)
    )
    return _directional(near_cheap.unionByName(near_mh))
