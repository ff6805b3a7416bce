"""Deduplication operators — exact and approximate.

Capability parity: the reference's only dedup is
`dropDuplicates(["symbol","timestamp"])` (reference
src/consumer/transformations.py:137). Beyond parity, this module adds
the LLM-data-pipeline dedup family: MinHash+LSH, SimHash, n-gram
Jaccard — all built from JVM-side built-ins (no Python UDFs in the hot
path).

Scale notes:
- exact_dedup is a hash aggregate keyed on the dedup columns (map-side
  combine; one shuffle). Deterministic survivor selection via min_by.
- minhash LSH: signatures via k seeded xxhash64 mins (one explode + one
  hash-agg), candidate generation via a band-key self-join (equi-join →
  shuffle on band key, never all-pairs), verification by exact token
  Jaccard only on candidates. This is the standard shingle→minhash→
  band→bucket-join pipeline and scales linearly in corpus size for
  bounded bucket sizes.
- ngram_jaccard_pairs is the exact (quadratic) baseline — use only on
  small/blocked inputs; it exists as the oracle-checkable ground truth.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.functions.text import tokens as _tokens


def exact_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    tiebreaker_col: str | None = None,
) -> DataFrame:
    """Keep exactly one row per key. With a tiebreaker column the survivor
    is deterministic (min tiebreaker) — unlike `dropDuplicates`, whose
    survivor depends on partitioning/order; determinism is what makes the
    operator oracle-checkable and retry-stable.
    """
    if tiebreaker_col is None:
        return df.dropDuplicates(list(key_cols))
    others = [c for c in df.columns if c not in key_cols]
    packed = df.groupBy(*key_cols).agg(
        F.min_by(F.struct(*others), F.col(tiebreaker_col)).alias("_row")
    )
    return packed.select(*key_cols, *[F.col(f"_row.{c}").alias(c) for c in others])


def shingles_of(tokens_col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) from a pre-materialized tokens
    column. IMPORTANT: pass an attribute reference (a projected column),
    not a nested expression — expressions inside higher-order-function
    lambdas are re-evaluated per element (no CSE inside lambdas), which
    turns an O(len) shingle build into O(len²) regexp work.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens_col) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens_col, i + 1, n)))
    return F.array_distinct(F.filter(grams, lambda g: g != ""))


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _sh) with tokens materialized in their own projection stage.

    The emptiness guard filters on the TOKEN array, not the shingle
    array: a predicate on _sh would be pushed below the projection and
    re-inline the whole shingle build into a per-row filter (seen: 3×
    recompute, quadratic tokenization). size(_tk)>0 ⇒ size(_sh)>0, and
    its pushed form costs one split per row.
    """
    return (
        df.select(F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("_tk"))
        .filter(F.size("_tk") > 0)
        .select("_id", shingles_of(F.col("_tk"), n).alias("_sh"))
    )


_MERSENNE31 = (1 << 31) - 1


def base_hashes(shingle_col: Column) -> Column:
    """One xxhash64 per shingle, reduced mod the Mersenne prime 2^31-1
    (so the affine derivation below is a REAL universal hash: operands
    stay < 2^62 under ANSI mode AND the modulus actually wraps)."""
    return F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))


def minhash_signature(hash_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<long>) from a pre-materialized base-hash
    column (see base_hashes — materialize it first; see shingles_of for
    why). The k hash functions are derived affinely from the single base
    hash: h_i(x) = (a_i*x + b_i) mod p with p = 2^31-1 prime and
    a_i, b_i drawn from [1, p) — the textbook universal family.  Products
    are < 2^62, so ANSI long arithmetic cannot overflow, and a_i*x spans
    ~2^31 multiples of p, so each h_i is a genuinely different
    quasi-permutation of the base-hash space.  This cuts string-hashing
    cost k× vs hashing each shingle k times.

    HISTORY (round-10 bug): the original derivation reduced mod
    M61 = 2^61-1 with a_i < 2^30 and x < 2^31 — every product stayed
    BELOW the modulus, the mod never wrapped, every h_i was MONOTONE in
    x, and all k entries selected the same argmin shingle.  The
    signature degenerated to one permutation repeated k times:
    signature_jaccard returned only 0.0 or 1.0 (a Bernoulli(J) coin
    instead of a k-sample estimator), and the streaming near-dup gate —
    which trusts the estimate without an exact-Jaccard verify — dropped
    any doc sharing merely its min-hash shingle with the corpus (e.g. a
    short boilerplate footer).  The batch operators were shielded by
    their exact-Jaccard candidate verification; only recall shape was
    affected there.  Stored signatures/band keys from the degenerate
    scheme are incompatible — `IncrementalDedupJob` version-locks via
    _corpus_spec.json (format_version)."""
    import random

    rng = random.Random(0xD1CE)

    def derived(i: int) -> Column:
        a = rng.randrange(1, _MERSENNE31)
        b = rng.randrange(1, _MERSENNE31)
        return F.array_min(
            F.transform(hash_col, lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE31)))
        )

    return F.array(*[derived(i) for i in range(num_hashes)])


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bhash, sig) — one row per (doc, band): the persistable
    form of the minhash LSH index.  `bhash` is the banded candidate key
    (equi-join two of these tables on (band, bhash) to generate
    candidates); `sig` is the full signature (array<long>) so candidate
    pairs can be scored WITHOUT re-reading text: the fraction of equal
    signature entries is the standard unbiased Jaccard estimator.

    Docs whose token set is empty produce no rows (nothing to index).
    Same seeds as minhash_near_dup_pairs / minhash_cross_corpus_pairs,
    so indexes built here interoperate with both.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (num_hashes={num_hashes}, bands={bands})"
        )
    rows_per_band = num_hashes // bands
    base = _shingled(df, id_col, text_col, shingle_n)
    sig = base.select("_id", base_hashes(F.col("_sh")).alias("_hx")).select(
        "_id", minhash_signature(F.col("_hx"), num_hashes).alias("_sig")
    )
    return sig.select(
        F.col("_id").alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("_sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
        F.col("_sig").alias("sig"),
    ).select("id", "_band.band", "_band.bhash", "sig")


def signature_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Unbiased Jaccard estimate from two equal-length minhash
    signatures: fraction of positions where they agree.  Exact
    duplicates estimate 1.0 with probability 1; k=16 signatures have
    ~1/sqrt(16)=0.25 stddev — pick thresholds accordingly (an
    estimate-gated decision is the documented accuracy trade of
    index-only scoring; re-score with exact Jaccard where text is at
    hand)."""
    k = F.size(sig_a)
    matches = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x))
    return matches.cast("double") / k.cast("double")


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Pipeline: shingle → signature → band keys → explode bands →
    self-equi-join on (band_idx, band_hash) → distinct candidate pairs →
    exact Jaccard verify on the candidates only.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (num_hashes={num_hashes}, "
            f"bands={bands}) — a remainder would silently drop trailing "
            "signature entries, and bands > num_hashes would produce empty bands"
        )
    rows_per_band = num_hashes // bands
    # the shingle base feeds three plan branches (signatures + both verify
    # sides) — persist so the tokenize/shingle pass runs once. Lifecycle
    # note: the cache is left to Spark's LRU (unpersisting eagerly would
    # force recompute of the still-lazy result); callers running this in a
    # tight loop should clearCache() between rounds.
    base = _shingled(df, id_col, text_col, shingle_n).persist()
    sig = base.select("_id", base_hashes(F.col("_sh")).alias("_hx")).select(
        "_id", minhash_signature(F.col("_hx"), num_hashes).alias("_sig")
    )
    # band keys only — the (possibly large) shingle arrays must NOT ride
    # through the candidate self-join shuffle
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("_sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_band.band", "_band.bhash").persist()  # both sides of the self-join

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify only the (few) candidates with exact Jaccard on the shingle sets
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the quadratic ground truth for the
    approximate dedup operators). Shuffles as a cross-range self-join on
    id ordering; use only on small or pre-blocked inputs.
    """
    base = _shingled(df, id_col, text_col, n).persist()
    a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, bit-vote, sign.

    Pure column expressions: for each bit, sum(+1/-1 over tokens) > 0.
    Near-dup candidates are rows with small Hamming distance — compare via
    bit_count(sig_a ^ sig_b) (see hamming_pairs).
    """
    # stage token hashes as a real column: the 64 bit-vote aggregates below
    # each reference it, and expressions inside HOF lambdas get no CSE
    hashed = df.select(
        F.col(id_col).alias("id"), F.array_distinct(_tokens(F.col(text_col))).alias("_tk")
    ).select("id", F.transform("_tk", lambda t: F.xxhash64(t)).alias("_hx"))

    def _vote(mask: int):
        # closure factory (NOT a default-arg lambda: pyspark binds extra
        # lambda params as HOF arguments)
        return lambda acc, x: acc + F.when(
            x.bitwiseAND(F.lit(mask)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    sig = F.lit(0).cast("long")
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)  # signed-64 top bit
        vote = F.aggregate(F.col("_hx"), F.lit(0), _vote(mask))
        bit = F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        # shift/or construction: bit ops never overflow-error under ANSI mode
        sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return hashed.select("id", sig.alias("simhash"))


def _segment_values(n_seg: int) -> list[Column]:
    """Cut the 64-bit simhash into n_seg contiguous segments (the last
    absorbs remainder bits); returns one unsigned value column each."""
    width = 64 // n_seg
    vals = []
    for i in range(n_seg):
        start = i * width
        seg_width = 64 - start if i == n_seg - 1 else width
        mask = (1 << seg_width) - 1 if seg_width < 64 else -1
        vals.append(
            F.shiftrightunsigned("simhash", start).bitwiseAND(F.lit(mask))
        )
    return vals


def hamming_pairs(
    sig_df: DataFrame, max_distance: int = 3, min_agree: int = 1
) -> DataFrame:
    """All pairs from simhash_signatures within a Hamming radius.

    Generalized pigeonhole blocking: the 64 bits are cut into
    `max_distance + min_agree` segments; at most max_distance of them can
    differ for an in-radius pair, so at least min_agree whole segments
    agree — the candidate join is an equi-join on one specific
    combination of min_agree segment values (all C(n_seg, min_agree)
    combinations are emitted), never a cross join, and completeness
    holds exactly for any radius.

    min_agree tunes bucket occupancy at scale: with min_agree=1 and
    radius 3 the join key is one 16-bit segment (65,536 buckets — hot
    buckets go quadratic at billion-doc corpora); with min_agree=2 the
    key is a PAIR of ~12.8-bit segments (≈2^25 buckets, each ~512x
    sparser) at the cost of C(5,2)=10 exploded keys per row instead
    of 4. Same result set, provably (tests.test_properties).
    """
    from itertools import combinations

    if min_agree < 1:
        raise ValueError("min_agree must be >= 1")
    n_seg = max_distance + min_agree
    if n_seg > 64:
        raise ValueError("max_distance + min_agree must be <= 64")
    vals = _segment_values(n_seg)
    combo_keys = [
        F.struct(
            F.lit(ci).alias("combo"),
            # pack the combination's segment values into one scalar join
            # key (a hash collision can only ADD candidates — the exact
            # hamming filter below removes them — never lose a pair)
            F.xxhash64(*[vals[s] for s in combo]).alias("bkey"),
        )
        for ci, combo in enumerate(combinations(range(n_seg), min_agree))
    ]
    seg = sig_df.select(
        "id", "simhash", F.explode(F.array(*combo_keys)).alias("s")
    ).select("id", "simhash", "s.combo", "s.bkey")
    l, r = seg.alias("l"), seg.alias("r")
    return (
        l.join(
            r,
            (F.col("l.combo") == F.col("r.combo"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_distance)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: (node, cluster_id)
    where cluster_id = the minimum id reachable from the node — the
    step that turns pairwise dedup output into "keep one doc per
    cluster" (keeper = the node whose id equals its cluster_id).

    Min-label propagation: each iteration joins labels across edges and
    takes the per-node minimum — one shuffle join + one hash aggregate
    per round, all distributed (the driver loop only runs a cheap
    convergence probe).  Converges in <= component-diameter iterations;
    near-dup clusters are shallow (a doc family resembling each other),
    so this is 2-4 rounds in practice.  A corpus with adversarially long
    chains would want the alternating large-star/small-star variant
    (O(log n) rounds) — same join/agg building blocks.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_iters):
        nbr = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        # lineage truncation per round (see connected_components_star)
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components hit max_iters={max_iters} without converging: "
            "labels are only partially propagated and components with diameter "
            f"> {max_iters} are split into multiple clusters. Raise max_iters or "
            "use connected_components_star (O(log n) rounds).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def _symmetrized(edges: DataFrame) -> DataFrame:
    return (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_round(sym: DataFrame, phase: str) -> DataFrame:
    """One star operation over a symmetrized edge set.

    m(u) = min of u's closed neighborhood.  Large-star hangs every
    neighbor v > u off m(u); small-star hangs every neighbor v <= u off
    m(u) and links u itself to m(u).  No per-node adjacency arrays are
    materialized — m(u) is an aggregate joined back, so a hot node costs
    a big group in a hash-agg, never an unbounded collect.
    """
    m = sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least(F.col("_mn"), F.col("u")).alias("m")
    )
    with_m = sym.join(m, "u")
    if phase == "large":
        out = with_m.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        hang = with_m.filter(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_link = m.select("u", F.col("m").alias("v"))
        out = hang.union(self_link)
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds regardless of component DIAMETER, the
    scale path when clusters can be long chains (min-label propagation
    in `connected_components` needs one round per hop and is simpler /
    faster for the shallow clusters dedup typically produces).

    Each round is two aggregate+join passes over the edge set; edges
    contract monotonically toward stars rooted at each component's
    minimum id.  Returns (node, cluster_id), same contract as
    `connected_components` (property-tested equal).
    """
    edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    nodes = (
        edges.select("u").union(edges.select(F.col("v").alias("u"))).distinct()
    )
    # localCheckpoint per round truncates lineage — without it every
    # round's plan nests the previous rounds' joins and planning time
    # grows superlinearly (measured: minutes by round ~10).  At cluster
    # scale use a reliable checkpoint dir instead of local.
    e = _symmetrized(edges).localCheckpoint()
    prev_sig = None
    converged = False
    for _ in range(max_iters):
        e = _star_round(_symmetrized(e), "large")
        e = _star_round(_symmetrized(e), "small").localCheckpoint()
        # checksum of the edge set; per-row hash bounded < 2^31 so the
        # sum can never overflow long under ANSI mode
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 31))).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        warnings.warn(
            f"connected_components_star hit max_iters={max_iters} without the "
            "edge-set fixpoint: cluster labels may be incompletely contracted. "
            "Raise max_iters.",
            RuntimeWarning,
            stacklevel=2,
        )
    # stars: every node's minimum closed neighbor is its component root
    sym = _symmetrized(e)
    labels = sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least(F.col("_mn"), F.col("u")).alias("cluster_id")
    )
    # isolated-after-contraction roots keep themselves
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("cluster_id", F.col("u")).alias("cluster_id"),
        )
    )


def minhash_cross_corpus_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — the decontamination
    primitive: find training documents (left) that near-match held-out
    benchmark documents (right), then drop them from the training set.

    Same shingle → signature → band-key machinery as the self-join form
    (identical hash seeds, so a doc appearing in both corpora always
    collides with itself), but the candidate join is left-bands x
    right-bands: cost is linear in each corpus + quadratic only within
    shared LSH buckets, never |left| x |right|.

    Returns (left_id, right_id, jaccard) with jaccard >= threshold.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (num_hashes={num_hashes}, bands={bands})"
        )
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame, side: str):
        base = _shingled(df, id_col, text_col, shingle_n).persist()
        sig = base.select("_id", base_hashes(F.col("_sh")).alias("_hx")).select(
            "_id", minhash_signature(F.col("_hx"), num_hashes).alias("_sig")
        )
        bands_df = sig.select(
            F.col("_id").alias(f"{side}_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.col("_sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ]
                            ).alias("bhash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("_band"),
        ).select(f"{side}_id", "_band.band", "_band.bhash")
        return base, bands_df

    l_base, l_bands = banded(left, "left")
    r_base, r_bands = banded(right, "right")
    cand = (
        l_bands.join(r_bands, ["band", "bhash"])
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    sh_l = l_base.select(F.col("_id").alias("left_id"), F.col("_sh").alias("sh_l"))
    sh_r = r_base.select(F.col("_id").alias("right_id"), F.col("_sh").alias("sh_r"))
    inter = F.size(F.array_intersect("sh_l", "sh_r")).cast("double")
    union = F.size(F.array_union("sh_l", "sh_r")).cast("double")
    return (
        cand.join(sh_l, "left_id")
        .join(sh_r, "right_id")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **minhash_kwargs,
) -> DataFrame:
    """Drop training documents that near-match any benchmark document
    (anti-join on the cross-corpus matches) — the end-to-end
    benchmark-decontamination step."""
    matches = minhash_cross_corpus_pairs(
        train, benchmark, id_col=id_col, text_col=text_col, threshold=threshold, **minhash_kwargs
    ).select(F.col("left_id").alias(id_col))
    return train.join(matches, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Substring-level exact dedup — cross-document repeated SPANS
# ---------------------------------------------------------------------------
# Doc-level dedup (exact fingerprint, MinHash, SimHash above) cannot see
# a 20-line boilerplate block shared by otherwise-distinct documents —
# the span family ("Deduplicating Training Data Makes Language Models
# Better", Lee et al. 2022) finds repeated token SPANS across documents.
# The suffix-array formulation of the paper is replaced by a
# Spark-native one: fingerprint every k-token window (map-side fan-out),
# equi-join fingerprints across documents (shuffle on the hash key,
# never all-pairs), and merge adjacent matched windows into maximal
# spans with the diagonal/island trick (one windowed pass per matched
# pair) — every stage is a built-in relational op.


def span_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(id, pos, fp): xxhash64 fingerprint of every k-token window of
    every document; `pos` is the 1-based token position of the window
    start.  Map-side only (tokenize + posexplode — no shuffle); O(n·k)
    work per document.  The token array is STAGED as a projected column
    before the transform so the lambda's slice reads an attribute, not a
    re-evaluated expression (see shingles_of)."""
    if k < 1:
        raise ValueError(f"window size k must be >= 1 (got {k})")
    staged = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size("_toks")
    win_hashes = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.xxhash64(F.concat_ws("\x1f", F.slice(F.col("_toks"), i, k))),
    )
    return (
        staged.filter(n >= k)
        .select("id", F.posexplode(win_hashes).alias("pos0", "fp"))
        .select("id", (F.col("pos0") + 1).alias("pos"), "fp")
    )


def repeated_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_span_tokens: int | None = None,
    max_fp_docs: int | None = None,
) -> DataFrame:
    """Maximal repeated token spans between document pairs:
    (id_a, id_b, start_a, start_b, span_tokens) with id_a < id_b, start
    positions 1-based in token space, span_tokens >= min_span_tokens
    (default k).

    Plan shape: window fingerprints equi-joined on fp across documents
    (candidates only ever come from hash-key buckets), then maximal
    runs: matched windows of a pair lie on diagonals (pos_a - pos_b
    constant along a shared span), and within a diagonal consecutive
    positions collapse via the island trick (pos_a - row_number) into
    one group whose size + k - 1 is the span length in tokens.

    Scale: linear in corpus size for bounded fingerprint frequency.  A
    fingerprint occurring in f documents yields O(f²) candidate rows —
    exactly the LSH-bucket blowup — so at corpus scale pass
    `max_fp_docs` to exclude ultra-common windows from PAIR enumeration
    (frequency is one hash-agg).  Spans dropped by the cap are by
    definition corpus-wide boilerplate: find them with `common_spans`,
    which aggregates per fingerprint and never enumerates pairs.

    Distinct spans repeated WITHIN one pair (or overlapping spans from
    internal repetition) appear as separate rows — each maximal run on
    its diagonal.  Fingerprints are 64-bit hashes, so a span row is
    wrong only under an xxhash64 collision (~2⁻⁶⁴ per candidate);
    certify.span_certificate re-extracts both sides and would surface
    one."""
    from pyspark.sql import Window

    min_span = min_span_tokens if min_span_tokens is not None else k
    # The window-fingerprint subtree is referenced by BOTH sides of the
    # pair self-join (and by the frequency cap): Catalyst does not CSE
    # across joins, so without materialization the tokenize+posexplode
    # pass re-executes once per instance (~3x end-to-end, measured —
    # scripts/probe_span_pairs.py, round 21).  persist() shares ONE
    # computation across all instances — the same within-query pattern
    # as the minhash banded tables (eviction left to LRU; rows are
    # (id, pos, fp), narrow).  Salting the pair join was profiled and
    # REJECTED the same round: under the max_fp_docs cap the max
    # per-fingerprint doc frequency at bench scale is 4 (p999 = 3) —
    # there is no hot key to split.
    fps = span_fingerprints(df, id_col=id_col, text_col=text_col, k=k).persist()
    if max_fp_docs is not None:
        common = (
            fps.groupBy("fp")
            .agg(F.count_distinct("id").alias("_df"))
            .filter(F.col("_df") > max_fp_docs)
            .select("fp")
        )
        fps = fps.join(common, "fp", "left_anti")
    l = fps.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "fp")
    r = fps.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "fp")
    cand = (
        l.join(r, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = cand.withColumn("_island", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("id_a", "id_b", "diag", "_island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )


def _common_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_docs: int,
) -> DataFrame:
    """(fp, n_docs, n_occurrences, rep_id, rep_pos): the per-fingerprint
    aggregate both common-span views are built from — one hash-agg over
    the map-side window fingerprints, no pair enumeration."""
    fps = span_fingerprints(df, id_col=id_col, text_col=text_col, k=k)
    return (
        fps.groupBy("fp")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("id", "pos")).alias("_rep"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "fp",
            "n_docs",
            "n_occurrences",
            F.col("_rep.id").alias("rep_id"),
            F.col("_rep.pos").alias("rep_pos"),
        )
    )


def common_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide repeated k-token spans WITHOUT pair enumeration:
    (fp, n_docs, n_occurrences, rep_id, rep_pos, span_text) for every
    window fingerprint present in >= min_docs distinct documents, with
    a deterministic representative (min (id, pos)) re-extracted as
    text.  One hash-agg + one equi-join back for the representative —
    O(corpus) regardless of how many documents share the span, which is
    precisely the case where repeated_span_pairs' pair form explodes.
    The scale path for "find the navigation chrome shared by 10M
    pages"; feed the result to a masking/excision step keyed on
    (rep fingerprint match) rather than on pairs.

    Each row is one k-token window FRAGMENT: a 20-token boilerplate
    block shared by many docs appears as 13 overlapping rows.  That is
    the right granularity for excision (fp-keyed) — for the
    human-facing "what IS the shared chrome" answer, use
    `merged_common_spans`, which merges adjacent fragments into maximal
    blocks while staying aggregate-only."""
    stats = _common_span_stats(df, id_col, text_col, k, min_docs)
    return common_spans_from_stats(stats, df, id_col=id_col, text_col=text_col, k=k)


def common_spans_from_stats(
    stats: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """`common_spans` output from a PRECOMPUTED per-fingerprint stats
    frame (fp, n_docs, n_occurrences, rep_id, rep_pos) — the on-disk
    incremental span index path (streaming.incremental): the stats
    aggregate is maintained per batch and merged, so only the
    representative-text join runs at query time; the corpus is never
    re-fingerprinted."""
    staged = df.select(
        F.col(id_col).alias("rep_id"), _tokens(F.col(text_col)).alias("_toks")
    )
    return stats.join(staged, "rep_id").select(
        "fp",
        "n_docs",
        "n_occurrences",
        "rep_id",
        "rep_pos",
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("rep_pos"), k)).alias(
            "span_text"
        ),
    )


def merged_common_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """`common_spans` with adjacent window fragments merged into MAXIMAL
    repeated blocks (round-8 VERDICT task 2): qualifying fingerprints
    whose representative positions are consecutive in the same rep doc
    collapse — via the same island trick `repeated_span_pairs` uses on
    diagonals — into one row per contiguous run, whose span_text is the
    whole boilerplate block rather than a k-window.

    Returns (rep_id, span_start, span_tokens, n_windows, n_docs_min,
    n_docs_max, span_text): span_start 1-based in the rep doc's token
    space, span_tokens = n_windows + k - 1, and n_docs_min/max the
    range of per-window sharing counts inside the block (every k-window
    of the block is shared by at least n_docs_min documents; the FULL
    block as a unit is shared by at most n_docs_min — windows can be
    shared with different document sets).

    Plan stays aggregate-only — per-fingerprint hash-agg, a per-rep-doc
    window for run numbering (hash-partitioned on rep_id; the groupBy
    on (rep_id, run) reuses that partitioning, no extra Exchange), and
    one equi-join back to the rep doc's tokens.  Pairs are never
    enumerated, so ultra-common chrome shared by millions of docs costs
    the same as chrome shared by two.

    A block splits into multiple rows only where an interior window's
    min-(id, pos) representative lands in a DIFFERENT document (its
    run continues there) — coverage is preserved across the split
    (property-tested identity with the fragment form's windows).
    Two rows of one rep doc can OVERLAP by up to k-1 tokens when their
    qualifying rep positions sit closer than k apart (the runs
    partition positions, not extents)."""
    stats = _common_span_stats(df, id_col, text_col, k, min_docs)
    return merged_common_spans_from_stats(
        stats, df, id_col=id_col, text_col=text_col, k=k
    )


def merged_common_spans_from_stats(
    stats: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """`merged_common_spans` from a precomputed stats frame — see
    `common_spans_from_stats` for when that exists."""
    from pyspark.sql import Window

    w = Window.partitionBy("rep_id").orderBy("rep_pos")
    runs = stats.withColumn("_island", F.col("rep_pos") - F.row_number().over(w))
    merged = runs.groupBy("rep_id", "_island").agg(
        F.min("rep_pos").alias("span_start"),
        (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.min("n_docs").alias("n_docs_min"),
        F.max("n_docs").alias("n_docs_max"),
    )
    staged = df.select(
        F.col(id_col).alias("rep_id"), _tokens(F.col(text_col)).alias("_toks")
    )
    return merged.join(staged, "rep_id").select(
        "rep_id",
        "span_start",
        "span_tokens",
        "n_windows",
        "n_docs_min",
        "n_docs_max",
        F.concat_ws(
            " ", F.slice(F.col("_toks"), F.col("span_start"), F.col("span_tokens"))
        ).alias("span_text"),
    )


def excise_common_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Apply the span-dedup treatment ("Deduplicating Training Data
    Makes Language Models Better": training should see each repeated
    span ONCE): remove every occurrence of the given corpus-common
    spans from the documents EXCEPT the canonical representative
    occurrence chosen by `common_spans` (its min-(id, pos) rep).

    `spans` is `common_spans` output (fp, rep_id, rep_pos, ...) — or
    any (fp, rep_id, rep_pos) selection of windows to excise.

    Returns (id_col, text_col, excised_tokens): the rebuilt text with
    covered tokens dropped, and how many were dropped (0 for untouched
    docs — every input row is preserved).

    Overlapping span families (round-8 ADVICE): positions covered by ANY
    representative occurrence are PROTECTED — subtracted from the
    covered set — so a non-representative occurrence of span X that
    overlaps span Y's canonical occurrence inside Y's rep doc cannot
    delete tokens out of it.  Every excised span's content therefore
    survives at least once, intact, at its canonical (rep_id, rep_pos);
    the price is that the overlapping part of X's occurrence survives
    there too (deleting it would destroy Y's only kept copy).

    Plan: re-fingerprint the windows (map-side), equi-join to the
    excised fp set, drop the representative occurrence, aggregate
    covered token positions per doc (flatten k-sequences, distinct),
    and rebuild text from the kept positions — one shuffle for the fp
    join, one for the per-doc aggregate.  The per-doc covered-position
    array is bounded by the doc's own token count, so memory stays
    O(doc) per row; the rebuild is `array_except` over positions
    (hash-based, O(tokens + covered) per doc) followed by O(1)
    element_at lookups — linear even for a document that is mostly
    boilerplate.

    Note the reconstruction is in TOKEN space (lowercased, punctuation
    collapsed to single spaces) — the right currency for training-data
    pipelines whose tokenizer consumes the same normalization; keep the
    original column alongside if byte-exact provenance matters.

    SPLICE ARTIFACT (inherent to cut-and-concatenate excision, same as
    the suffix-array treatment's "discontinuities"): removing an
    interior occurrence joins its flanking tokens, which can form NEW
    k-grams — degenerately even the excised span itself (e.g. removing
    the middle [aa aa bb] from "aa aa [aa aa bb] bb" leaves
    "aa aa bb").  The guarantee is exact POSITIONAL deletion (every
    non-representative occurrence's tokens are removed; property-
    tested), not k-gram absence; pipelines that must avoid splice
    artifacts should split documents at excision boundaries instead
    (compose with operators.chunking)."""
    fps = span_fingerprints(df, id_col=id_col, text_col=text_col, k=k)
    hits = fps.join(spans.select("fp", "rep_id", "rep_pos"), "fp")
    is_rep = (F.col("id") == F.col("rep_id")) & (F.col("pos") == F.col("rep_pos"))
    win = F.sequence(F.col("pos"), F.col("pos") + k - 1)
    # one aggregate computes both position sets per doc (collect_list
    # skips the null branch of the unmatched when()); covered minus
    # protected = the overlapping-rep guarantee documented above
    covered = (
        hits.groupBy("id")
        .agg(
            F.array_distinct(
                F.flatten(F.collect_list(F.when(~is_rep, win)))
            ).alias("_cov_raw"),
            F.array_distinct(
                F.flatten(F.collect_list(F.when(is_rep, win)))
            ).alias("_protected"),
        )
        .select("id", F.array_except("_cov_raw", "_protected").alias("_covered"))
    )
    return _rebuild_excised(df, covered, id_col, text_col)


def _rebuild_excised(
    df: DataFrame, covered: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Concatenating rebuild shared by the excision treatments: drop the
    per-doc `_covered` positions from the staged token array, keep every
    input row (untouched docs join null → empty covered set), count the
    dropped tokens.  Linear per document: array_except over positions
    (hash-based) + O(1) element_at lookups."""
    staged = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_toks")
    )
    joined = staged.join(covered, "id", "left").withColumn(
        "_covered", F.coalesce(F.col("_covered"), F.array().cast("array<int>"))
    )
    # kept positions = all positions minus covered (array_except keeps
    # the FIRST array's order, so ascending); sequence(1, 0) would be
    # DESCENDING [1, 0] — hence the n >= 1 guard for empty token arrays
    n = F.size("_toks")
    kept_pos = F.when(
        n >= 1,
        F.array_except(F.sequence(F.lit(1), n), F.col("_covered")),
    ).otherwise(F.array().cast("array<int>"))
    kept = F.transform(kept_pos, lambda p: F.element_at(F.col("_toks"), p))
    return joined.select(
        F.col("id").alias(id_col),
        # null text stays null (token-space rebuild of nothing is
        # nothing, not ""); size() returns -1 on null, hence the guard
        F.when(F.col("_toks").isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
        F.when(F.col("_toks").isNull(), F.lit(0))
        .otherwise(F.size("_toks") - F.size(kept))
        .cast("long")
        .alias("excised_tokens"),
    )


def split_excise_common_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    keep_representative: bool = True,
) -> DataFrame:
    """Splice-SAFE span excision: instead of concatenating the flanks
    around each removed occurrence (`excise_common_spans`, whose
    cut-and-concatenate can re-form k-grams across the seam — see its
    SPLICE ARTIFACT note), SPLIT the document at every excision into
    separate chunk rows.  Each output chunk is a contiguous run of kept
    token positions, i.e. a verbatim substring of the original document
    in token space — so NO k-gram can exist in any chunk that was not
    already present at the same place in the input, and in particular no
    excised span can re-form.  This is the operator form of the escape
    hatch the concatenating treatment's docstring points at; compose
    with operators.chunking.chunk_documents downstream to cut the
    surviving pieces to context length.

    `spans` is `common_spans` output (fp, rep_id, rep_pos, ...).  With
    `keep_representative=True` (default) each span's canonical
    (rep_id, rep_pos) occurrence — and any position protected by a rep
    occurrence, same overlapping-family rule as `excise_common_spans` —
    stays embedded intact inside its chunk; with False EVERY occurrence
    is excised and the spans' content survives nowhere.

    Returns (id_col, chunk_idx, token_start, text_col, n_tokens):
    chunk_idx numbers a doc's chunks 0.. in order, token_start is the
    chunk's 1-based token position in the ORIGINAL document (provenance
    for audits and for re-aligning with span reports).  Untouched docs
    yield exactly one chunk (the whole document, token-normalized);
    fully-excised and empty/null docs yield no rows.

    Plan shape: identical shuffles to `excise_common_spans` (one fp
    equi-join, one per-doc covered aggregate) — the segmentation itself
    is pure map-side array work: kept positions via array_except, run
    boundaries via null-safe neighbor comparison over the STAGED kept
    array (attribute reference, not a re-evaluated expression — the
    HOF-CSE rule), segments zipped and fanned out with posexplode, each
    chunk sliced straight from the staged token array.  O(tokens) per
    document, no per-segment scan of the whole array."""
    fps = span_fingerprints(df, id_col=id_col, text_col=text_col, k=k)
    hits = fps.join(spans.select("fp", "rep_id", "rep_pos"), "fp")
    is_rep = (F.col("id") == F.col("rep_id")) & (F.col("pos") == F.col("rep_pos"))
    win = F.sequence(F.col("pos"), F.col("pos") + k - 1)
    if keep_representative:
        covered = (
            hits.groupBy("id")
            .agg(
                F.array_distinct(
                    F.flatten(F.collect_list(F.when(~is_rep, win)))
                ).alias("_cov_raw"),
                F.array_distinct(
                    F.flatten(F.collect_list(F.when(is_rep, win)))
                ).alias("_protected"),
            )
            .select("id", F.array_except("_cov_raw", "_protected").alias("_covered"))
        )
    else:
        covered = hits.groupBy("id").agg(
            F.array_distinct(F.flatten(F.collect_list(win))).alias("_covered")
        )
    return _split_rebuild(df, covered, id_col, text_col)


def _split_rebuild(
    df: DataFrame, covered: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Splice-safe rebuild shared by the split treatments: fan each doc
    out to one row per maximal run of kept positions.  Pure map-side
    array work after the covered join — O(tokens) per document."""
    staged = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_toks")
    )
    joined = staged.join(covered, "id", "left").withColumn(
        "_covered", F.coalesce(F.col("_covered"), F.array().cast("array<int>"))
    )
    n = F.size("_toks")
    kept_pos = F.when(
        n >= 1,
        F.array_except(F.sequence(F.lit(1), n), F.col("_covered")),
    ).otherwise(F.array().cast("array<int>"))
    staged2 = joined.select("id", "_toks", kept_pos.alias("_kept"))
    # run boundaries: a kept position starts a segment when its
    # predecessor position is absent (get() is 0-based and NULL-safe out
    # of bounds, so the first/last elements fall out of the coalesce)
    kept = F.col("_kept")
    seg_starts = F.filter(
        kept, lambda p, i: F.coalesce(F.get(kept, i - 1) != p - 1, F.lit(True))
    )
    seg_ends = F.filter(
        kept, lambda p, i: F.coalesce(F.get(kept, i + 1) != p + 1, F.lit(True))
    )
    segs = F.zip_with(
        seg_starts, seg_ends, lambda s, e: F.struct(s.alias("s"), (e - s + 1).alias("n"))
    )
    return (
        staged2.select("id", "_toks", F.posexplode(segs).alias("chunk_idx", "_seg"))
        .select(
            F.col("id").alias(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("_seg.s").cast("long").alias("token_start"),
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("_seg.s"), F.col("_seg.n"))
            ).alias(text_col),
            F.col("_seg.n").cast("long").alias("n_tokens"),
        )
    )


def internal_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_span_tokens: int | None = None,
    max_fp_occurrences: int | None = None,
) -> DataFrame:
    """Maximal token spans repeated WITHIN a single document:
    (id_col, start_a, start_b, span_tokens) with start_a < start_b —
    the within-document half of the Lee et al. 2022 treatment
    (`repeated_span_pairs` covers the cross-document half; a suffix
    array would surface both at once, this relational formulation
    splits them because their treatments differ: cross-doc excision
    keys on a corpus-wide representative, within-doc excision keeps
    the FIRST occurrence).

    Same plan shape as the cross-doc form with the join keyed on
    (id, fp) instead of fp alone: window fingerprints self-equi-joined
    per document, matched occurrence pairs grouped by diagonal
    (start_a - start_b), consecutive positions collapsed via the
    island trick.  Shuffle keys are (id, fp) — no cross-document
    traffic at all, so corpus scale-out is embarrassing; the quadratic
    hazard is per-DOCUMENT (a window occurring f times in one doc
    yields O(f²) pairs, f bounded by doc length).  For pathological
    repetition (the repetition_metrics gate's territory) pass
    `max_fp_occurrences` to exclude windows with more than that many
    occurrences in a doc from pair enumeration — `excise_internal_
    repeats` doesn't need pairs at all and handles them regardless."""
    from pyspark.sql import Window

    min_span = min_span_tokens if min_span_tokens is not None else k
    fps = span_fingerprints(df, id_col=id_col, text_col=text_col, k=k)
    if max_fp_occurrences is not None:
        hot = (
            fps.groupBy("id", "fp")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") > max_fp_occurrences)
            .select("id", "fp")
        )
        fps = fps.join(hot, ["id", "fp"], "left_anti")
    l = fps.select("id", F.col("pos").alias("pos_a"), "fp")
    r = fps.select("id", F.col("pos").alias("pos_b"), "fp")
    cand = (
        l.join(r, ["id", "fp"])
        .filter(F.col("pos_a") < F.col("pos_b"))
        .select("id", "pos_a", "pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("id", "diag").orderBy("pos_a")
    runs = cand.withColumn("_island", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("id", "diag", "_island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select(
            F.col("id").alias(id_col), "start_a", "start_b", "span_tokens"
        )
    )


def excise_internal_repeats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Within-document keep-FIRST span excision: every k-token window
    occurring >= min_occurrences times in a document keeps its first
    (lowest-position) occurrence and loses the rest — the within-doc
    companion to `excise_common_spans` (which keys its keeper on a
    corpus-wide representative).  Use after the repetition_metrics
    curation gate to REPAIR borderline documents instead of dropping
    them: the informative prefix survives, the copy-paste tail goes.

    Returns (id_col, text_col, excised_tokens) — every input row
    preserved, untouched docs identical (token-normalized).

    Positions covered by any first occurrence are PROTECTED from
    deletion by overlapping repeated windows (same rule as the rep
    protection in `excise_common_spans`), so each repeated window's
    content survives intact at least once per document.  No pair
    enumeration anywhere — one (id, fp) hash-agg for the first
    positions + occurrence counts, one join back, one per-doc covered
    aggregate — so a degenerate "same line 10 000 times" document
    costs O(windows), not O(windows²), and comes back as one line.

    Shares the concatenating rebuild (and its documented splice
    artifact) with `excise_common_spans`; positional deletion is the
    property-tested guarantee.  For the splice-safe chunk-row form,
    see `split_excise_internal_repeats`."""
    covered = _internal_covered(df, id_col, text_col, k, min_occurrences)
    return _rebuild_excised(df, covered, id_col, text_col)


def split_excise_internal_repeats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Splice-SAFE form of `excise_internal_repeats`: the same
    keep-first within-document excision, but documents SPLIT at every
    excision into chunk rows (id_col, chunk_idx, token_start, text_col,
    n_tokens) instead of concatenating the flanks — so no k-gram can
    exist in any chunk that was not at the same place in the original,
    and in particular no excised repeat can re-form across a seam.
    Same covered-position semantics as the concatenating form
    (first-occurrence positions protected), same chunk-row contract as
    `split_excise_common_spans` (untouched docs → one whole-doc chunk;
    fully-excised/empty/null docs → no rows)."""
    covered = _internal_covered(df, id_col, text_col, k, min_occurrences)
    return _split_rebuild(df, covered, id_col, text_col)


def _internal_covered(
    df: DataFrame, id_col: str, text_col: str, k: int, min_occurrences: int
) -> DataFrame:
    """Per-doc covered positions of the keep-first internal-repeat
    excision: non-first occurrences of every >= min_occurrences window,
    minus positions protected by any first occurrence."""
    fps = span_fingerprints(df, id_col=id_col, text_col=text_col, k=k)
    return _internal_covered_from_fps(fps, k, min_occurrences)


def _internal_covered_from_fps(
    fps: DataFrame, k: int, min_occurrences: int
) -> DataFrame:
    """`_internal_covered` from a PRECOMPUTED (id, pos, fp) window-
    fingerprint frame — for callers that already hold the exploded
    fingerprints (property tests; any future caller that genuinely
    amortizes the pass).  NOTE: `IncrementalDedupJob` deliberately does
    NOT route its span-fp index partial through a shared frame — the
    fused form measured ~25% slower than recomputing the map-side pass
    (round-10 A/B, see the job's repair_internal comment)."""
    firsts = (
        fps.groupBy("id", "fp")
        .agg(
            F.min("pos").alias("_first_pos"),
            F.count(F.lit(1)).alias("_occ"),
        )
        .filter(F.col("_occ") >= min_occurrences)
        .select("id", "fp", "_first_pos")
    )
    hits = fps.join(firsts, ["id", "fp"])
    is_first = F.col("pos") == F.col("_first_pos")
    win = F.sequence(F.col("pos"), F.col("pos") + k - 1)
    return (
        hits.groupBy("id")
        .agg(
            F.array_distinct(
                F.flatten(F.collect_list(F.when(~is_first, win)))
            ).alias("_cov_raw"),
            F.array_distinct(
                F.flatten(F.collect_list(F.when(is_first, win)))
            ).alias("_protected"),
        )
        .select("id", F.array_except("_cov_raw", "_protected").alias("_covered"))
    )


def span_contaminated_ids(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    min_windows: int = 1,
) -> DataFrame:
    """Training documents containing a verbatim k-token window of any
    benchmark document — the GPT-3-style n-gram overlap decontamination
    rule (k=13 there), which catches PARTIAL contamination (a benchmark
    question embedded inside an otherwise-unrelated page) that
    doc-level near-dup matching (`minhash_cross_corpus_pairs`)
    structurally cannot see.

    Returns (id_col, matched_windows, matched_benchmark_docs) for every
    train doc with >= min_windows distinct matched window positions.
    Plan: both sides window-fingerprinted map-side, one equi-join on
    the 64-bit fp (never |train| x |benchmark|), one hash-agg — linear
    in each corpus.  `min_windows > 1` trades recall for robustness to
    hash-collision noise / generic k-token phrases."""
    t = span_fingerprints(train, id_col=id_col, text_col=text_col, k=k)
    b = span_fingerprints(benchmark, id_col=id_col, text_col=text_col, k=k)
    matched = t.join(
        b.select(F.col("fp"), F.col("id").alias("_bench_id")).distinct(), "fp"
    )
    return (
        matched.groupBy("id")
        .agg(
            F.count_distinct("pos").alias("matched_windows"),
            F.count_distinct("_bench_id").alias("matched_benchmark_docs"),
        )
        .filter(F.col("matched_windows") >= min_windows)
        .select(
            F.col("id").alias(id_col), "matched_windows", "matched_benchmark_docs"
        )
    )


def decontaminate_spans(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    min_windows: int = 1,
) -> DataFrame:
    """Drop training documents flagged by `span_contaminated_ids` —
    the span-level companion to `decontaminate` (doc-level minhash):
    run BOTH at corpus scale; minhash catches paraphrased/reordered
    near-copies, the span rule catches short verbatim embeddings.
    For the SURGICAL alternative (remove just the benchmark text, keep
    the page), see `excise_contaminated_spans`."""
    flagged = span_contaminated_ids(
        train, benchmark, id_col=id_col, text_col=text_col, k=k, min_windows=min_windows
    ).select(id_col)
    return train.join(flagged, id_col, "left_anti")


def excise_contaminated_spans(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """SURGICAL span decontamination: instead of dropping a training
    document that embeds verbatim benchmark windows
    (`decontaminate_spans`), remove exactly the contaminated token
    positions and keep the rest of the page — the right treatment when
    contamination is a quoted exam question inside an otherwise
    valuable document, where the drop rule wastes the whole page.

    Returns (id_col, text_col, excised_tokens): every input row
    preserved; clean docs come back token-normalized with 0 excised; a
    page that was NOTHING BUT benchmark text comes back empty (let the
    downstream quality gate discard it).  No protection set — benchmark
    content has no keep-one right, every matched window's positions go.

    Plan: identical to the detection join (`span_contaminated_ids`) —
    both sides window-fingerprinted map-side, one fp equi-join, one
    per-doc covered aggregate — plus the shared linear rebuild.  Linear
    in each corpus; never |train| × |benchmark|.

    Splice caveat (same physics as `excise_common_spans`): the
    concatenating rebuild can in principle re-form a benchmark k-gram
    across an excision seam in degenerate self-overlapping cases.
    Pipelines needing a hard guarantee should re-run
    `span_contaminated_ids` on the output as a verification pass (the
    operator is cheap) and drop the (vanishingly rare) survivors."""
    t = span_fingerprints(train, id_col=id_col, text_col=text_col, k=k)
    b_fps = (
        span_fingerprints(benchmark, id_col=id_col, text_col=text_col, k=k)
        .select("fp")
        .distinct()
    )
    return _excise_from_fp_index(train, t, b_fps, id_col, text_col, k)


def excise_contaminated_spans_from_index(
    train: DataFrame,
    benchmark_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """`excise_contaminated_spans` against a PREBUILT benchmark
    fingerprint index (one `fp bigint` column —
    `streaming.incremental.build_benchmark_span_index` output): the
    streaming-ingest form, where re-fingerprinting the benchmark per
    micro-batch would be waste.  `k` must match the index's build k."""
    t = span_fingerprints(train, id_col=id_col, text_col=text_col, k=k)
    return _excise_from_fp_index(
        train, t, benchmark_fps.select("fp").distinct(), id_col, text_col, k
    )


def _excise_from_fp_index(
    train: DataFrame,
    train_fps: DataFrame,
    bad_fps: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> DataFrame:
    hits = train_fps.join(bad_fps, "fp")
    covered = hits.groupBy("id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("pos"), F.col("pos") + k - 1))
            )
        ).alias("_covered")
    )
    return _rebuild_excised(train, covered, id_col, text_col)
