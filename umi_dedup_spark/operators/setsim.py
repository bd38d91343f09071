"""Exact token-set similarity join (Jaccard >= t) via prefix filtering.

Graft analog of the reference's within-scope pairwise comparison surface
(the J-series equi-join, ``lib/markdup_sam.py:64`` grouping scope +
per-pair distance check ``lib/umi_data.py:160-170``), generalized to the
web-text n-gram Jaccard query: emit every pair of documents in the same
group whose distinct-token Jaccard similarity meets a threshold.

The naive plan — a quadratic self-join per group with a per-pair
``array_intersect`` — is exact but cannot scale: a web-scale source group
holds millions of documents, and |group|^2 pairs is not a computable
number at 100 TB. This module implements the standard distributed
set-similarity join (the AllPairs / PPJoin family — Bayardo et al. WWW'07,
Xiao et al. WWW'08, Vernica et al. SIGMOD'10 for the MapReduce layout):

1. **Global token order.** Tokens are totally ordered by (global
   frequency asc, token asc). Rare tokens first — candidate generation
   then pivots on the tokens least likely to collide.
2. **Prefix filter.** For Jaccard >= t, two sets can only qualify if
   their (|x| - ceil(t*|x|) + 1)-length prefixes under that order share
   at least one token. Proof sketch: J(x,y) >= t implies
   |x n y| >= ceil(t * max(|x|,|y|)); a shared element must then land in
   both prefixes. Only prefix tokens are exploded into the inverted
   index — the frequent (stopword) tail never enters the join.
3. **Candidate join.** Equi-join the prefix index with itself on
   (group, token); a length filter (min >= t * max, implied by J >= t)
   prunes mismatched sizes before the pair is even deduplicated. The
   groupBy that deduplicates candidates has map-side partial
   aggregation, so pairs sharing many prefix tokens combine locally
   before the shuffle.
4. **Verify.** Join the surviving candidate ids back to the full token
   arrays and compute the exact Jaccard — the output is *identical* to
   the quadratic plan (same IEEE double expression), prefix filtering
   only prunes pairs that provably cannot qualify.

Every step is a JVM-side DataFrame op (explode / window / equi-join /
agg): no Python in the hot path, no cartesian product, shuffles keyed on
(group, token) and candidate ids only — full token arrays ride exactly
two joins, both restricted to candidate pairs.

**Adaptive split** (same shape as ``lsh.candidate_pairs``'s small/big
bucket strategy): for groups at or below ``quadratic_group_cap``
documents, the within-group all-pairs join is CHEAPER than the
inverted-index plan — one shuffle co-locates the group, and when the
output density is high (boilerplate-heavy web sources) prefix filtering
prunes almost nothing while paying its own shuffles (measured at sf0.1:
13.8s pure-prefix vs 10.1s quadratic on 250-doc groups with 71% of all
pairs qualifying). Groups above the cap take the prefix-filtered path,
where |group|^2 stops being computable. Both paths produce identical,
exact output, so the cap is purely a physical-plan knob.

**Small-universe bitset path** (r6): when the corpus's GLOBAL distinct
token count fits in one machine word (``bitset_vocab_cap``, default 64)
and the doc count is broadcastable (``bitset_build_cap``), every token
set is encoded as a 64-bit mask (bit i = contains vocab[i]) and the
exact intersection size per pair is ``bit_count(ma & mb)`` — O(1)
instead of an O(|x|+|y|) string-hashing ``array_intersect``. Pair
generation becomes a single BroadcastHashJoin on the group key probed
by a round-robin-spread side: no shuffle of the pair stream, no
per-group task skew (a 20-group corpus otherwise serializes into 20
tasks), and no inverted-index explosion (on a dense small-vocab corpus
the prefix index degenerates: every token is ultra-frequent, candidate
generation emits hundreds of millions of rows that dedup right back to
the quadratic pair set). The encoding is a bijection token<->bit over
the COMPLETE vocabulary, so ji/na/nb — and hence the IEEE jaccard
double — are exactly those of the array paths. The probe is staged so
its cost on general data is negligible: a 2000-doc sample vocabulary
first (a real text corpus blows the cap immediately and falls through
to the prefix path), the full distinct-token check only after the
sample passes. Measured at sf1.0 (50k docs, 31-token vocab, 44.3M
qualifying pairs): 156s prefix+quad union -> see OPTIMIZATION_r06.md.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from umi_dedup_spark.session import spread_to_slots

# conservative guard against float round-up at exact multiples: erring
# DOWN lengthens the prefix (more candidates, never a missed pair)
_EPS = 1e-9


def _verify_jaccard(pairs: DataFrame, t: float) -> DataFrame:
    """Exact Jaccard over (a_id, b_id, _aset, _bset) rows: threshold on
    the unrounded double, output rounded to 4 places — the same IEEE
    expression as the SQL surface
    ``round(cast(ji as double)/(na+nb-ji), 4)``."""
    ji = F.size(F.array_intersect("_aset", "_bset"))
    na, nb = F.size("_aset"), F.size("_bset")
    jac = ji.cast("double") / (na + nb - ji)
    return pairs.filter(jac >= F.lit(t)).select(
        "a_id", "b_id", F.round(jac, 4).alias("jaccard")
    )


def _small_universe_vocab(
    base: DataFrame, vocab_cap: int, build_cap: int
) -> list[str] | None:
    """Return the sorted complete vocabulary iff the corpus qualifies for
    the bitset path, else None. Probes cheapest-first so general (large-
    vocab) data pays only a bounded sample scan: (1) vocabulary of a
    2000-doc sample — real text exceeds ``vocab_cap`` here and exits;
    (2) incremental doc-count check against ``build_cap`` (CollectLimit
    scans partitions incrementally, not the whole input); (3) the full
    distinct-token scan, only when both cheap probes pass."""
    sample_vocab = (
        base.select("_tset").limit(2000)
        .select(F.explode("_tset").alias("_tok")).distinct().count()
    )
    if sample_vocab > vocab_cap:
        return None
    if base.select("_id").limit(build_cap + 1).count() > build_cap:
        return None
    rows = (
        base.select(F.explode("_tset").alias("_tok"))
        .distinct().limit(vocab_cap + 1).collect()
    )
    if len(rows) > vocab_cap:
        return None
    return sorted(r["_tok"] for r in rows)


def _bitset_join(
    base: DataFrame, vocab: list[str], grp: list[str], t: float
) -> DataFrame:
    """Exact all-pairs Jaccard join over 64-bit token masks.

    bit i of a doc's mask <=> vocab[i] in its token set; the token->bit
    map is a bijection over the complete vocabulary, so
    bit_count(ma & mb) == |intersection| and the jaccard double is the
    identical IEEE expression of ``_verify_jaccard``. Null token arrays
    yield a null ``_sz`` and are dropped by the threshold filter, exactly
    as size(null) is in the array paths."""
    one = F.lit(1).cast("long")
    mask = reduce(
        Column.bitwiseOR,
        [
            F.when(F.array_contains("_tset", tok), F.shiftleft(one, i))
            .otherwise(F.lit(0).cast("long"))
            for i, tok in enumerate(vocab)
        ],
    )
    jk = grp if grp else ["_jk"]
    enc = base.withColumn("_mask", mask)
    if not grp:
        # single-valued join key that the optimizer cannot constant-fold
        # (a literal would fold the equi-condition to `true` and degrade
        # the plan to a BroadcastNestedLoopJoin)
        enc = enc.withColumn(
            "_jk", F.pmod(F.xxhash64("_id"), F.lit(1)).cast("int")
        )
    # lazy snapshot: BOTH join sides consume the encoding (the broadcast
    # build and the probe stream are separate subtrees — no exchange
    # reuse applies), so without it the tokenize+mask chain executes
    # twice and the probe side re-tokenizes inside the join stage.
    # Measured at 50k docs: full join 1.8-3.4s -> 0.69-0.75s. Narrow
    # rows (id, group, size, one long) bounded by bitset_build_cap;
    # blocks are ContextCleaner-reclaimed with the result's lineage.
    enc = enc.localCheckpoint(eager=False)
    # probe-side parallelism comes from the caller's scan-parallelism
    # floor on `base` (jaccard_similarity_join spreads under-split
    # inputs before any projection), so no extra exchange here
    a = enc.select(
        *jk,
        F.col("_id").alias("a_id"),
        F.col("_sz").alias("_na"),
        F.col("_mask").alias("_ma"),
    )
    b = enc.select(
        *jk,
        F.col("_id").alias("b_id"),
        F.col("_sz").alias("_nb"),
        F.col("_mask").alias("_mb"),
    )
    ji = F.bit_count(F.col("_ma").bitwiseAND(F.col("_mb")))
    jac = ji.cast("double") / (F.col("_na") + F.col("_nb") - ji)
    return (
        a.join(F.broadcast(b), jk)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(jac >= F.lit(t))
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
    )


def jaccard_similarity_join(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tset",
    group_col: str | None = None,
    threshold: float = 0.5,
    quadratic_group_cap: int = 1024,
    bitset_vocab_cap: int = 64,
    bitset_build_cap: int = 2_000_000,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """All pairs (a_id < b_id) with distinct-token Jaccard >= threshold.

    ``docs`` must carry one row per document: an orderable unique
    ``id_col``, an array<string> ``tokens_col`` of DISTINCT tokens, and
    optionally a ``group_col`` restricting pairs to equal groups (rows
    with a null group match nothing, as in an SQL equi-join).

    Returns (a_id, b_id, jaccard) with jaccard rounded to 4 places; the
    threshold is applied to the unrounded double, matching the SQL
    surface ``round(cast(ji as double)/(na+nb-ji), 4)``.

    ``quadratic_group_cap``: groups with at most this many documents run
    the co-located all-pairs join; larger groups run the prefix-filtered
    inverted-index plan (see module docstring). 0 forces the prefix path
    everywhere; the split requires ``group_col`` (without one the whole
    corpus is a single group and only the prefix path is safe at scale).
    The default bounds within-group pair fan-out at ~500k pairs/group.

    ``bitset_vocab_cap`` / ``bitset_build_cap``: when the corpus's total
    distinct-token count is at most ``bitset_vocab_cap`` (<= 64: one
    machine word) and the doc count at most ``bitset_build_cap`` (the
    broadcast-side bound), ALL groups take the small-universe bitset
    path (see module docstring) — identical exact output, O(1) per-pair
    verification, one broadcast join. ``bitset_vocab_cap=0`` disables
    the probe entirely.

    Pass ``caches`` to receive the persisted base projection and release
    it after materialization (the usual operator idiom, see
    ``lsh.candidate_pairs``); without it the base stays lazy and is
    recomputed by each of its consumers.
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    gcols = [group_col] if group_col else []

    base = docs.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias("_grp") for c in gcols],
        F.col(tokens_col).alias("_tset"),
    ).withColumn("_sz", F.size("_tset"))
    grp = ["_grp"] if gcols else []

    if bitset_vocab_cap > 0:
        if not 0 < bitset_vocab_cap <= 64:
            raise ValueError(
                f"bitset_vocab_cap must be in [0, 64], got {bitset_vocab_cap}"
            )
        # probes run on the UNSPREAD base: their limits stay cheap (a
        # round-robin exchange would force the full shuffle under a
        # limit), and they only read token/id columns
        vocab = _small_universe_vocab(base, bitset_vocab_cap, bitset_build_cap)
    else:
        vocab = None

    # Scan-parallelism floor (r6, guide §2.5): spread the (narrow) rows
    # so the per-row work above this point (mask encoding, prefix
    # explode, verification) does not run on a single core. NB: the
    # caller controls whether TOKENIZATION parallelizes — the tokens
    # expression lives in the caller's projection, below this exchange;
    # callers with unsplittable small inputs should spread the raw rows
    # before projecting (see __spark_entry__._ngram_jaccard).
    base = spread_to_slots(base)

    if vocab is not None:
        if caches is not None:
            base = base.persist()
            caches.append(base)
        return _bitset_join(base, vocab, grp, t)

    split = bool(gcols) and quadratic_group_cap > 0
    if split:
        # group sizes: a tiny (one row per group) aggregate joined back —
        # broadcastable whenever the group count is modest, and a plain
        # narrow-key equi-join otherwise
        gsz = base.groupBy("_grp").agg(F.count(F.lit(1)).alias("_gsz"))
        base = base.join(gsz, "_grp")
    if caches is not None:
        base = base.persist()
        caches.append(base)
    quad = None
    if split:
        small = base.filter(F.col("_gsz") <= quadratic_group_cap)
        base = base.filter(F.col("_gsz") > quadratic_group_cap)
        a = small.select(
            "_grp", F.col("_id").alias("a_id"), F.col("_tset").alias("_aset")
        )
        b = small.select(
            "_grp", F.col("_id").alias("b_id"), F.col("_tset").alias("_bset")
        )
        quad = _verify_jaccard(
            a.join(b, "_grp").filter(F.col("a_id") < F.col("b_id")), t
        )

    # 1. global token frequencies -> total order (freq asc, token asc).
    # Counted over the prefix-path (big-group) docs only: the theorem
    # holds under ANY fixed total order; frequency ordering is purely a
    # candidate-minimization heuristic, so restricting the count to the
    # docs this path actually joins is both cheaper and sharper.
    tok = base.select(*grp, "_id", "_sz", F.explode("_tset").alias("_tok"))
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tf"))

    # 2. keep only each document's prefix under that order
    plen = F.col("_sz") - F.ceil(F.lit(t) * F.col("_sz") - F.lit(_EPS)) + F.lit(1)
    w = Window.partitionBy("_id").orderBy(F.asc("_tf"), F.asc("_tok"))
    prefix = (
        tok.join(freq, "_tok")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= plen)
        .select(*grp, "_id", "_sz", "_tok")
    )
    if caches is not None:
        # BOTH sides of the candidate self-join consume the prefix index;
        # the alias projections differ below the exchange, so Catalyst
        # cannot ReusedExchange them — without a persist the whole
        # explode + frequency agg + per-doc window chain (3 exchanges)
        # executes once per side. The index is narrow (prefix tokens
        # only, ~(1-t)·|token occurrences| rows), far cheaper to cache
        # than to recompute.
        prefix = prefix.persist()
        caches.append(prefix)

    # 3. candidate pairs: inverted-index self-join on (group, token),
    #    size filter, map-side-combined dedup
    pa = prefix.select(
        *grp, F.col("_id").alias("a_id"), F.col("_sz").alias("_na"), "_tok"
    )
    pb = prefix.select(
        *grp, F.col("_id").alias("b_id"), F.col("_sz").alias("_nb"), "_tok"
    )
    cand = (
        pa.join(pb, [*grp, "_tok"])
        .filter(F.col("a_id") < F.col("b_id"))
        # J >= t  =>  min(|x|,|y|) >= t * max(|x|,|y|)
        .filter(
            F.least("_na", "_nb").cast("double")
            >= F.lit(t) * F.greatest("_na", "_nb") - F.lit(_EPS)
        )
        .select("a_id", "b_id")
        .distinct()
    )

    # 4. exact verification on candidates only
    av = base.select(F.col("_id").alias("a_id"), F.col("_tset").alias("_aset"))
    bv = base.select(F.col("_id").alias("b_id"), F.col("_tset").alias("_bset"))
    out = _verify_jaccard(cand.join(av, "a_id").join(bv, "b_id"), t)
    return out.unionByName(quad) if quad is not None else out
