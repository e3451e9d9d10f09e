"""Deduplication operators: exact, n-gram Jaccard and containment,
MinHash+LSH, SimHash, embedding-cosine.

Scale design (100 TB of documents):
- exact: one hash-groupBy on md5(text) — map-side partials, no data
  explosion.
- n-gram Jaccard / containment: EXACT, via an AllPairs/PPJoin prefix
  filter over xxhash64-hashed shingles (candidates come from joining
  each doc's rarest shingles only), then one verify kernel for both
  scores (`_shingle_intersections`): hashed-shingle arrays for
  candidate docs only, intersected per pair in numpy.
- MinHash+LSH: signatures are MAP-ONLY — tokenize → word 3-grams →
  crc32 → 128 permuted mins inside one Arrow-batched pass over the
  documents (`_minhash_matrix`), and each doc's 32 band ids are mixed
  numpy-side (`_band_sigs`): no shingle explode, no shuffle. The only
  exchange before candidates is ONE (band, sig) groupBy over
  |docs|×32 rows with in-place, size-capped pair expansion —
  candidate volume is O(docs × bands) instead of all-pairs — then
  exact-Jaccard verification restricted to candidates. Precision 1.0
  by construction; recall governed by (bands, rows) — 32×4 gives
  P(miss | J≥0.4) < 1e-3 per pair and effectively 0 at J≥0.6.
- SimHash: 64-bit fingerprint via bitwise vote aggregation (pure
  Catalyst, no UDF), pigeonhole banding on 16-bit chunks for
  hamming ≤ 3 candidates.
- embedding: exact pairwise cosine over a self-join; at scale the
  candidate space is cut with random-hyperplane LSH (see
  similarity.py) before the exact filter.
"""

from __future__ import annotations

import random
import re
import zlib
from fractions import Fraction

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbeam_spark.operators.util import rebalance_for_arrow, round_half_up

# Mersenne prime 2^31-1: (a*x+b) stays < 2^62, no int64 overflow.
_MERSENNE = 2147483647
_NUM_PERM = 128
_BANDS = 32
_ROWS_PER_BAND = _NUM_PERM // _BANDS
# band-id polynomial base (see _band_sigs)
_MIX = np.int64(1000003)
# minhash_lsh_pairs verify tiers, by distinct candidate pairs: up to
# _DRIVER_VERIFY_PAIRS on the driver, up to _ARROW_VERIFY_PAIRS in one
# Arrow pass over candidate texts, beyond that (or past _RAW_PAIR_CAP
# raw bucket pairs) the distributed hashed-array verify.
_DRIVER_VERIFY_PAIRS = 10_000
_ARROW_VERIFY_PAIRS = 200_000
_RAW_PAIR_CAP = 400_000

_rng = random.Random(42)
_PERM_A = np.array(
    [_rng.randrange(1, _MERSENNE) for _ in range(_NUM_PERM)], dtype=np.int64
)
_PERM_B = np.array(
    [_rng.randrange(0, _MERSENNE) for _ in range(_NUM_PERM)], dtype=np.int64
)
_WS = re.compile(r"\s+")


def _word_ngrams(text: str, n: int) -> set[str]:
    """The DISTINCT word n-grams of one text (lowercased, split on
    whitespace runs, joined by one space) — the shingle set every
    Python-side path in this module hashes or compares. Empty when the
    text has fewer than n tokens."""
    toks = _WS.split(text.lower())
    return {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}


def _minhash_matrix(ids, texts, n: int) -> tuple[np.ndarray, np.ndarray]:
    """One batch of (id, text) rows → (sids, M): the int64 ids of the
    docs with at least n tokens (shorter docs get no signature) and
    their len(sids)×128 int64 MinHash matrix,
    M[d, k] = min over d's distinct n-grams g of
    (_PERM_A[k]·(crc32(g) & 0x7FFFFFFF) + _PERM_B[k]) mod (2³¹−1).

    A signature depends only on its own doc, so computing it where the
    doc row already lives makes the signature stage map-only (no
    explode, no exchange; signature volume = doc count). Any fixed
    31-bit gram hash works — candidates are exact-verified downstream,
    and the planted-duplicate recall of the 32×4 banding is
    hash-independent."""
    sids, mins = [], []
    for sid, txt in zip(ids, texts):
        grams = _word_ngrams(txt, n)
        if not grams:
            continue
        x = np.fromiter(
            (zlib.crc32(g.encode()) & 0x7FFFFFFF for g in grams),
            dtype=np.int64,
            count=len(grams),
        )
        # (|grams| × 128) permuted hashes; a*x < 2^62 so int64 is exact
        mins.append(((x[:, None] * _PERM_A + _PERM_B) % _MERSENNE).min(axis=0))
        sids.append(sid)
    if not sids:
        return np.empty(0, np.int64), np.empty((0, _NUM_PERM), np.int64)
    return np.array(sids, dtype=np.int64), np.vstack(mins)


def _band_sigs(M: np.ndarray) -> np.ndarray:
    """d×128 MinHash matrix → d×32 band ids: each band's 4 rows folded
    as ((m0·MIX + m1)·MIX + m2)·MIX + m3 in wrapping int64. The id is
    an arbitrary deterministic hash — a grouping key only."""
    Mb = M.reshape(len(M), _BANDS, _ROWS_PER_BAND)
    with np.errstate(over="ignore"):
        sig = Mb[:, :, 0]
        for j in range(1, _ROWS_PER_BAND):
            sig = sig * _MIX + Mb[:, :, j]
    return sig


def _threshold_fraction(threshold: float) -> tuple[int, int]:
    """(num, den) with num/den ≤ threshold and den ≤ 10_000, for the
    INTEGER-exact ⌈τ·|d|⌉ of the prefix filters.

    Float arithmetic is not enough: ceil(0.8*5) = ceil(4.0000000000000002)
    = 5 would silently shorten prefixes and lose pairs, so τ is taken
    as the exact decimal fraction of its repr. The denominator is
    bounded (exact for any realistic threshold like 0.8 or 0.725): an
    unbounded repr such as 1/3 → 6004799503160661/18014398509481984
    would make the generated `sz * num` expression overflow int64 under
    ANSI mode for docs with ≳2,700 shingles. The bounded fraction is
    never rounded UP: a larger τ' shortens prefixes / tightens bounds
    and could drop a true pair, while stepping down ≤1e-4 only admits a
    few extra candidates, which the exact verify stage then rejects."""
    exact = Fraction(str(threshold))
    frac = exact.limit_denominator(10_000)
    if frac > exact:
        frac = Fraction(frac.numerator - 1, frac.denominator)
    return frac.numerator, frac.denominator


def _x1e4_cutoff(threshold: float) -> int:
    """The cutoff for a score quantized as ⌊score·10⁴⌋. Rounded, not
    truncated: 0.57 * 10000 is 5699.999… in floating point, and int()
    of it would admit a score of 5699 (0.5699…) at threshold 0.57."""
    return round(threshold * 10_000)


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) rows — one per n-word shingle per doc, DISTINCT
    within the doc by default (set distinct=False to keep every
    occurrence, e.g. for repetition scoring).

    Built from slice+arrays_zip+explode rather than a higher-order
    `transform` lambda: HOF lambdas are interpreted per element in
    Spark, while this shape stays inside whole-stage codegen (~5×
    faster on the shingling stage at sf0.1)."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col).alias("sid"), toks.alias("t")).filter(
        F.size("t") >= n
    )
    cnt = F.size("t") - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice("t", i + 1, cnt).alias(f"w{i}") for i in range(n)]
    )
    gram = F.concat_ws(" ", *[F.col(f"z.w{i}") for i in range(n)])
    out = base.select("sid", F.explode(zipped).alias("z")).select(
        "sid", gram.alias("shingle")
    )
    return out.distinct() if distinct else out


def exact_dedup_survivors(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: per content fingerprint keep the min id.

    Returns (fp, keep_id, n_copies). One hash aggregation; at 100 TB
    group on the 128-bit digest, never on the raw text.
    """
    return docs.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, n_common) + per-doc sizes → thresholded Jaccard."""
    sa = sizes.withColumnRenamed("sid", "id_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("sid", "id_b").withColumnRenamed("sz", "sz_b")
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Above this many candidate pairs the verify stage stops broadcasting
# the pair frame / its id set and lets AQE plan shuffle joins from
# runtime sizes. ~1M (id_a, id_b) longs is ~16MB serialized — well
# inside driver/executor broadcast budgets; a boilerplate-heavy corpus
# at 100x can exceed it, and an oversized broadcast fails the job.
_BROADCAST_CAND_MAX = 1_000_000


def _shingle_intersections(
    cand: DataFrame,
    sh: DataFrame,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """(id_a, id_b, i, sa, sb) for candidate (id_a, id_b) pairs over a
    per-doc DISTINCT (sid, shingle) table: i = |A∩B|, sa = |A|,
    sb = |B|. The one exact-verify kernel behind the Jaccard and the
    containment pairs; callers score it in Spark, so rounding and
    integer division match the SQL oracles.

    Shape: each candidate doc's shingle set is collected ONCE as an
    array (one combinable groupBy), candidate pairs pull both arrays
    through two equi-joins, and the intersection is a C-level
    sorted-array op per pair — data through the joins is
    O(pairs × doc_size), never candidates × corpus. The exploded
    candidate×shingle join this replaced materialized Σ_pairs |A| rows
    and sort-merged them against the full shingle table (68 s and a
    spill at the 30× probe).

    The shingle table is SEMI-JOIN filtered to docs that appear in a
    candidate pair BEFORE the array groupBy — near-dup candidates
    touch a small fraction of the corpus, and collecting arrays for
    every doc was SLOWER than the exploded join (103 s vs 68 s at the
    30× probe: a 30M-row collect_list shuffle for 15k candidate docs).

    broadcast_candidates=None (the default) SIZE-GATES the broadcast:
    the candidate frame is checkpointed once (it feeds both the id
    semi-join and the pair join — uncheckpointed, the upstream
    candidate generation evaluates twice) and counted; past
    _BROADCAST_CAND_MAX pairs the hints are dropped and AQE plans
    shuffle joins. Candidate volume is data-dependent — boilerplate-
    heavy corpora at 30×+ can push it past driver broadcast limits.

    Shingles travel as xxhash64 INT64s, never strings (a string table
    is hashed here): at the boilerplate-flood 30× probe, two ~50–150
    STRING arrays per pair moved multi-GB through the pair join. Set
    cardinalities are preserved modulo xxhash64 collisions within one
    doc's shingle set (≤ |d|²/2⁶⁵ ≈ 1e-15 for the largest docs — far
    below every ulp guard in the repo)."""
    if broadcast_candidates is None:
        cand = cand.localCheckpoint(eager=True)
        broadcast_candidates = cand.count() <= _BROADCAST_CAND_MAX
    cand_ids = (
        cand.select(F.col("id_a").alias("sid"))
        .unionByName(cand.select(F.col("id_b").alias("sid")))
        .distinct()
    )
    if broadcast_candidates:
        cand_ids = F.broadcast(cand_ids)
    sh_c = sh.join(cand_ids, "sid", "left_semi")
    if dict(sh_c.dtypes)["shingle"] == "string":
        sh_c = sh_c.select("sid", F.xxhash64("shingle").alias("shingle"))
    arrs = sh_c.groupBy("sid").agg(F.collect_list("shingle").alias("hs"))
    cand_b = F.broadcast(cand) if broadcast_candidates else cand
    a = arrs.select(F.col("sid").alias("id_a"), F.col("hs").alias("hs_a"))
    b = arrs.select(F.col("sid").alias("id_b"), F.col("hs").alias("hs_b"))
    paired = a.join(cand_b, "id_a").join(b, "id_b")

    def part(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            inter, sa, sb = [], [], []
            for ha, hb in zip(pdf["hs_a"], pdf["hs_b"]):
                # arrays are per-doc DISTINCT by construction (the
                # shingle table is distinct per (sid, shingle))
                a_ = np.asarray(ha, dtype=np.int64)
                b_ = np.asarray(hb, dtype=np.int64)
                inter.append(np.intersect1d(a_, b_, assume_unique=True).size)
                sa.append(a_.size)
                sb.append(b_.size)
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "i": inter,
                    "sa": sa,
                    "sb": sb,
                }
            )

    return paired.mapInPandas(
        part, "id_a long, id_b long, i long, sa long, sb long"
    )


def _verified_jaccard_arrays(
    cand: DataFrame,
    sh: DataFrame,
    threshold: float,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs with exact shingle
    Jaccard ≥ threshold, rounded to 4 dp after the raw-double filter.
    i / (sa + sb − i) is a correctly rounded division of small ints,
    the same double the JVM computes for the SQL oracles."""
    inter = _shingle_intersections(cand, sh, broadcast_candidates)
    jac = F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))
    return inter.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs with shingle-Jaccard >= threshold — EXACT, via the
    AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07) instead of
    the naive full shingle self-join.

    Candidate generation joins only each doc's PREFIX shingles: order
    every doc's shingle set by global document frequency ascending
    (rarest first, shingle as tie-break — any total order works), and
    keep the first |d| − ⌈τ·|d|⌉ + 1. Completeness: if J(A,B) ≥ τ,
    let c be the order-minimal common shingle; were c outside A's
    prefix, ≥ p_A elements of A would precede c, none common, so
    |A∩B| ≤ |A| − p_A = ⌈τ|A|⌉ − 1 < τ|A| ≤ τ|A∪B| — contradiction.
    Symmetrically c is in B's prefix, so the SAME shingle appears in
    both prefixes and the prefix-prefix equi-join finds every pair.

    Why it scales where the naive join doesn't: a boilerplate shingle
    shared by k docs used to contribute k² join rows; under the
    df-ascending order a high-df shingle lands in a doc's prefix only
    when the doc has almost nothing rarer (each doc contributes just
    ~(1−τ)·|d|+1 prefix rows), so ubiquitous shingles drop out of
    candidate generation entirely. Verification then computes the
    exact intersection for candidates only (_verified_jaccard_arrays).

    ⌈τ·|d|⌉ is evaluated in INTEGER arithmetic (see
    _threshold_fraction)."""
    num, den = _threshold_fraction(threshold)
    # eager checkpoint, not cache(): sizes/dfreq/prefix/verify all
    # consume the shingle table, and with a lazy cache their stages
    # launch CONCURRENTLY before the cache is populated — each
    # re-running the explode+distinct (the 10× probe measured the
    # single-action query at 2.4× the sum of its materialized stages)
    #
    # Shingles are xxhash64-hashed to INT64 here, once, so every
    # downstream stage — the two window ladders, the prefix-prefix
    # equi-join (28M join rows at the 30x boilerplate-flood probe),
    # and the array verify — sorts/joins/ships 8-byte longs instead
    # of ~30-60-byte strings. The df-ascending prefix order becomes
    # (df, hash): the completeness proof only needs SOME total order
    # shared by both sides, and jaccard values are preserved modulo
    # within-doc xxhash64 collisions (≤ |d|²/2⁶⁵ ≈ 1e-15).
    sh = (
        shingle_table(docs, id_col, text_col, n)
        .select("sid", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    # df and sz as WINDOW counts, not groupBy+join-back: the join of
    # the 30x shingle table (30M rows) against its own per-shingle
    # rollup was the dominant sort — a count over partitionBy(shingle)
    # needs only the shingle shuffle, and sz shares the sid exchange
    # the ranking window already pays (same partitioning, Spark plans
    # one Exchange feeding both WindowExecs).
    w_df = Window.partitionBy("shingle")
    w_sz = Window.partitionBy("sid")
    w = Window.partitionBy("sid").orderBy("df", "shingle")
    # checkpointed: the prefix frame feeds BOTH sides of the candidate
    # self-join; uncheckpointed the window ladder evaluates twice
    pref = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("sz", F.count(F.lit(1)).over(w_sz))
        .withColumn("r", F.row_number().over(w))
        # r <= sz - ceil(t*sz) + 1, ceil via integer (sz*num+den-1)//den
        .filter(
            F.col("r")
            <= F.col("sz")
            - F.expr(f"(sz * {num} + {den} - 1) DIV {den}")
            + F.lit(1)
        )
        .select("sid", "shingle", "r", "sz")
    ).localCheckpoint(eager=True)
    pa = pref.select(
        F.col("sid").alias("id_a"), "shingle",
        F.col("r").alias("ra"), F.col("sz").alias("sa"),
    )
    pb = pref.select(
        F.col("sid").alias("id_b"), F.col("shingle").alias("shingle_b"),
        F.col("r").alias("rb"), F.col("sz").alias("sb"),
    )
    # POSITIONAL filter (PPJoin): a true pair's order-minimal common
    # shingle c has every common element at rank >= rank(c) in both
    # docs, so |A∩B| <= 1 + min(sa-ra, sb-rb); and J >= t forces
    # |A∩B| >= ceil(t/(1+t)·(sa+sb)) = (num·(sa+sb)+num+den-1) DIV
    # (num+den). The c-generated join row always passes, so
    # completeness survives while random shared-rare-shingle
    # candidates die here (sf0.1 measured: 119k -> 12.8k candidates
    # for 256 true pairs).
    alpha = F.expr(
        f"({num} * (sa + sb) + {num} + {den} - 1) DIV ({num} + {den})"
    )
    cand = (
        pa.join(pb, F.col("shingle") == F.col("shingle_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            1 + F.least(F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb"))
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verified_jaccard_arrays(cand, sh, threshold)


# Extended-prefix length for containment_pairs' count filter — an
# ABSOLUTE constant (the fractional-cap rule does not apply: this is
# an exactness-preserving filter, never a result cap). e=2 measured
# at the 30x probe: candidates 4.69M -> 9.5k (490x) for +31% join
# rows; e=3 bought only ~1.6k fewer verifies for +13% more join rows.
_CONTAIN_PREFIX_EXT = 2


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs with shingle CONTAINMENT |A∩B| / min(|A|,|B|) ≥
    threshold — EXACT, via a ONE-SIDED AllPairs/PPJoin prefix filter
    (guide §3: pre-filter the big join side; same family as
    ngram_jaccard_pairs, different prefix schedule).

    Why one-sided: containment's denominator is min(|A|,|B|), so the
    LARGER doc of a pair cannot prune by its own size at all — a short
    doc embedded whole inside a huge one scores 1.0 (that subset
    signal is the point of the operator). Only the SMALLER side admits
    a prefix: order every doc's shingles by global df ascending (hash
    tie-break) and keep the first |d| − ⌈τ·|d|⌉ + 1. Completeness for
    the min side: if C(A,B) ≥ τ with s = min(|A|,|B|) = |S|, then
    i = |A∩B| ≥ ⌈τ·s⌉ (i is an integer); were the order-minimal common
    shingle c outside S's prefix, ≥ s − ⌈τs⌉ + 1 elements of S would
    precede c, none common, so i ≤ ⌈τs⌉ − 1 — contradiction. The
    larger side indexes its FULL shingle set, so the c-generated row
    always exists in the prefix×full equi-join (sz_p ≤ sz_f picks the
    min side as the prefix side; equal sizes qualify from either).

    Why it scales where the naive self-join didn't (the r9 30× probe
    measured the naive shape at b=2.2, 112 s): a boilerplate shingle
    shared by k docs contributed k² join rows; here it contributes
    (#docs whose PREFIX holds it) × k — under the df-ascending order a
    high-df shingle lands in a prefix only when the doc has almost
    nothing rarer, so the flood term collapses from quadratic to
    ~linear in k. The PPJoin positional bound then kills
    shared-rare-shingle noise: every common element has rank ≥ rank(c)
    in both docs, so i ≤ 1 + min(sz_p − r_p, sz_f − r_f), and a
    qualifying pair needs i ≥ ⌈τ·sz_p⌉ (the c-row itself always
    passes, so completeness survives).

    EXTENDED-PREFIX COUNT FILTER (AdaptJoin-style ℓ-extension): the
    basic prefix is minimal — ONE shared prefix shingle makes a
    candidate — and the 30× probe measured 4.6M verify-and-reject
    candidates for 7.7k true pairs (docs sharing a single rare-ish
    shingle; ALL within-copy, i.e. real corpus near-miss density,
    not a replica artifact). Extending the prefix by a constant
    _CONTAIN_PREFIX_EXT positions buys a count requirement: a
    qualifying pair misses at most plen − 1 of S's shingles
    (|S \\ L| ≤ s − ⌈τs⌉ = plen − 1), so of S's first
    min(plen + e, s) shingles at least min(e+1, ⌈τs⌉) must appear in
    L. Measured at the 30× probe: e=2 cuts candidates 4.69M → 9.5k
    (490×) for +31% candidate-join rows — verify mass collapses to
    ~the true-pair set and re-enters the broadcast gate.

    Verification is exact (`_shingle_intersections`, the same kernel
    and ~1e-15 within-doc hash-collision caveat as the Jaccard pairs);
    the quantized score i·10⁴ DIV min(sz) is evaluated in Spark SQL so
    the integer truncation semantics match the DuckDB oracle
    bit-for-bit.

    ⌈τ·|d|⌉ uses the same integer-exact fraction as
    ngram_jaccard_pairs (_threshold_fraction)."""
    num, den = _threshold_fraction(threshold)
    sh = (
        shingle_table(docs, id_col, text_col, n)
        .select("sid", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    w_df = Window.partitionBy("shingle")
    w_sz = Window.partitionBy("sid")
    w = Window.partitionBy("sid").orderBy("df", "shingle")
    # checkpointed: ranked feeds BOTH the prefix side and the full
    # index side of the candidate join; uncheckpointed the window
    # ladder evaluates twice (ngram_jaccard_pairs precedent)
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("sz", F.count(F.lit(1)).over(w_sz))
        .withColumn("r", F.row_number().over(w))
        .select("sid", "shingle", "r", "sz")
    ).localCheckpoint(eager=True)
    # basic prefix length; the join side keeps _CONTAIN_PREFIX_EXT
    # extra positions to feed the count requirement below
    plen = (
        F.col("sz")
        - F.expr(f"(sz * {num} + {den} - 1) DIV {den}")
        + F.lit(1)
    )
    ext = _CONTAIN_PREFIX_EXT
    pref = ranked.withColumn("plen", plen).filter(
        F.col("r") <= F.col("plen") + F.lit(ext)
    )
    pa = pref.select(
        F.col("sid").alias("sid_p"), "shingle",
        F.col("r").alias("rp"), F.col("sz").alias("szp"),
        F.col("plen").alias("plp"),
    )
    pb = ranked.select(
        F.col("sid").alias("sid_f"), F.col("shingle").alias("shingle_f"),
        F.col("r").alias("rf"), F.col("sz").alias("szf"),
    )
    # per-row positional bound: i >= ceil(t*szp) for a qualifying
    # pair (szp is the min size by the join condition) while the
    # order-minimal common shingle's row has
    # i <= 1 + min(szp-rp, szf-rf)
    alpha = F.expr(f"(szp * {num} + {den} - 1) DIV ({den})")
    pos_ok = (
        1
        + F.least(F.col("szp") - F.col("rp"), F.col("szf") - F.col("rf"))
        >= alpha
    ).cast("int")
    # count requirement: |S \ L| <= plen - 1, so of S's first
    # min(plen + ext, szp) shingles at least min(ext + 1, alpha)
    # appear in L (szp - plp + 1 == alpha)
    req = F.least(F.lit(ext) + 1, F.col("szp") - F.col("plp") + 1)
    cand = (
        pa.join(pb, F.col("shingle") == F.col("shingle_f"))
        .filter(
            (F.col("sid_p") != F.col("sid_f"))
            & (F.col("szp") <= F.col("szf"))
        )
        .groupBy("sid_p", "sid_f")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max(pos_ok).alias("anypos"),
            F.first(req).alias("req"),
        )
        .filter((F.col("m") >= F.col("req")) & (F.col("anypos") == 1))
        .select(
            F.least("sid_p", "sid_f").alias("id_a"),
            F.greatest("sid_p", "sid_f").alias("id_b"),
        )
        .distinct()
    )
    cq = F.expr("i * 10000 DIV least(sa, sb)")
    return (
        _shingle_intersections(cand, sh)
        .select("id_a", "id_b", cq.cast("long").alias("containment_x1e4"))
        .filter(F.col("containment_x1e4") >= _x1e4_cutoff(threshold))
    )


def exact_jaccard_of_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """EXACT shingle-Jaccard for an explicit (id_a, id_b) pair list —
    the linear-cost verify that replaces an exhaustive AllPairs twin
    when the pairs to certify are already known (e.g. every pair an
    incremental MinHash index REPORTED: the τ−4σ no-false-positive
    gate needs exact J only for reported pairs, never the corpus).

    Scan shape: the corpus is SEMI-JOIN pruned to docs that appear in
    a pair before any shingling (near-dup pairs touch a small, linear
    fraction of the corpus; the isin-list trap from CLAUDE.md is
    avoided — ids travel as a broadcast frame under the same size
    gate `_shingle_intersections` uses), so total work is
    O(scan + pairs × doc_size) regardless of corpus pair density.

    Returns (id_a, id_b, jaccard) for every input pair whose BOTH
    docs have ≥1 shingle (a MinHash-reported pair always does — a
    sub-n-token doc never gets a signature); callers comparing
    counts against the input should treat dropped rows as failures.
    """
    pairs = (
        pairs.select("id_a", "id_b").distinct().localCheckpoint(eager=True)
    )
    small = pairs.count() <= _BROADCAST_CAND_MAX
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if small:
        ids = F.broadcast(ids)
    docs_f = docs.join(ids, id_col, "left_semi")
    sh = shingle_table(docs_f, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    # threshold 0.0 keeps every verified pair (jaccard >= 0 always)
    return _verified_jaccard_arrays(
        pairs, sh, 0.0, broadcast_candidates=small
    )


def minhash_signatures_with_bands_maponly(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(sid, mh array<long>[128], bands array<long>[32]) in ONE Arrow
    pass — the ARRAY layout for signature persistence: a 3-column
    frame keeps every downstream plan narrow (a 128-individual-column
    layout costs seconds of driver analysis per plan and holds the
    estimator in interpreted evaluation), and `bands` holds the same
    band ids minhash_band_buckets_maponly emits."""

    def part(batches):
        import pandas as pd

        for pdf in batches:
            sids, M = _minhash_matrix(pdf[id_col], pdf[text_col], n)
            if len(sids):
                yield pd.DataFrame(
                    {"sid": sids, "mh": list(M), "bands": list(_band_sigs(M))}
                )

    return rebalance_for_arrow(
        docs.select(F.col(id_col), F.col(text_col))
    ).mapInPandas(part, "sid long, mh array<long>, bands array<long>")


def minhash_band_buckets_maponly(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_parts: int | None = None,
) -> DataFrame:
    """(sid, band, sig) bucket rows straight out of ONE Arrow pass:
    the 128 per-doc MinHash values never leave the Python worker —
    only each doc's 32 band ids ship, as 3 narrow columns. Versus a
    128-column signature frame exploded JVM-side, this removes the
    band explode, the 32-struct hash projection AND the 128-column
    plan analysis cost — the shuffle carries 3 longs per (doc, band).

    A single-file input is round-robin rebalanced to at least
    `min_parts` partitions (default: the session's parallelism) so the
    signature compute does not run as one task."""

    def part(batches):
        import pandas as pd

        for pdf in batches:
            sids, M = _minhash_matrix(pdf[id_col], pdf[text_col], n)
            if len(sids):
                yield pd.DataFrame(
                    {
                        "sid": np.repeat(sids, _BANDS),
                        "band": np.tile(
                            np.arange(_BANDS, dtype=np.int64), len(sids)
                        ),
                        "sig": _band_sigs(M).reshape(-1),
                    }
                )

    return rebalance_for_arrow(
        docs.select(F.col(id_col), F.col(text_col)), min_parts=min_parts
    ).mapInPandas(part, "sid long, band long, sig long")


def _bucket_groups(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """(sid, band, sig) bucket rows → (band, sig, ids) member lists:
    ONE groupBy collecting each bucket's sorted members, size-capped.

    The bucket self-join formulation shuffles the exploded bands twice
    and measured ~2× slower end-to-end at sf0.1 (8.7s → 4.7s for the
    full minhash pipeline). Pair expansion is quadratic per bucket
    either way (a join over the same key materializes the same k²
    rows in one task), so degenerate buckets larger than `max_bucket`
    — hash collisions over boilerplate shingles, never near-dup
    clusters that other bands wouldn't also catch — are dropped to
    bound task size at the 100 TB scale.

    Split out from the pair expansion so a caller can materialize the
    SMALL grouped frame once (only buckets with ≥2 members survive)
    and expand pairs from it more than one way without recomputing
    the signature pipeline upstream."""
    return (
        buckets.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("sid")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )


def _expand_bucket_pairs(grp: DataFrame, distinct: bool) -> DataFrame:
    """(band, sig, ids) member lists → (id_a, id_b) pairs, expanded in
    place. ids is sorted, so (ids[i], ids[j>i]) already satisfies
    id_a < id_b. The HOF lambda is interpreted, but it only runs over
    matched buckets (a few per near-dup cluster), not the full corpus.
    A J≈0.9 pair collides in ~2/3 of the 32 bands, so the raw pair
    stream carries ~20× duplicates: `distinct=False` lets a caller
    that is about to collect anyway dedupe in a set instead of paying
    a second shuffle (≈0.3s of the sf0.1 wall)."""
    pairs = F.explode(
        F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b))))"
        )
    )
    out = grp.select(pairs.alias("p")).select("p.id_a", "p.id_b")
    return out.distinct() if distinct else out


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidates, exact-verified at `threshold`.

    Output is exact-precision (candidates are re-checked with true
    Jaccard), so for thresholds where band recall ≈ 1 it equals the
    exhaustive `ngram_jaccard_pairs` result.

    Pipeline shape (each step's cost scales with what it must touch):
    1. Band buckets are computed MAP-ONLY per doc
       (minhash_band_buckets_maponly): no shingle explode, no shuffle —
       the only exchange before candidates is the (band, sig) groupBy
       over |docs|×32 rows.
    2. The candidate pair set is tiny by the bucket-cap construction
       (O(docs × bands) buckets, each expanding at most max_bucket²/2
       pairs), so ONE collect materializes it on the driver: the pair
       frame and the candidate-id filter are then rebuilt locally —
       no cache, no second traversal of the signature pipeline.
       Degenerate corpora that still exceed the collect cap fall back
       to the distributed cache + semi-join path.
    3. Exact verification builds DISTINCT shingle sets only for docs
       that appear in some candidate pair (map-side semi filter), so
       the expensive part of verification scales with candidate
       volume, not corpus size.
    """
    spark = docs.sparkSession
    # Collect the RAW (non-distinct) pair stream and dedupe in a set:
    # a J≈0.9 pair collides in ~2/3 of the 32 bands, so raw volume is
    # ≤32× the distinct pair count — for real near-dup densities a
    # few-hundred-KB collect — and skipping the distinct saves one
    # full shuffle before the collect. If the raw stream hits the
    # 400k cap the corpus is degenerate and we fall through to the
    # fully distributed verify path below.
    #
    # Rebalance width: the signature kernel is LIGHT (~0.15 ms/doc),
    # so past ~8 local tasks the per-task Python round-trip outweighs
    # the compute (sf0.1 measured: 8-way 0.74s vs 32-way 0.96s for
    # the whole bucket job). At cluster scale inputs arrive in many
    # splits and rebalance_for_arrow is a no-op either way.
    sig_parts = max(
        8, spark.sparkContext.defaultParallelism // 4
    )
    # The grouped bucket-members frame is materialized ONCE
    # (localCheckpoint): it feeds the raw-pair probe collect below
    # AND — when the probe overflows — the distributed fallback's
    # distinct pair expansion. Uncheckpointed, the fallback regime
    # recomputed the whole signature+bucket pipeline a second time
    # (the multi-consumer recompute rule): the r9 100× replica
    # measured pass1 11.5s + pass2 7.4s warm for identical work.
    # The frame is small in every regime — only buckets with ≥2
    # members survive the groupBy filter — so the checkpoint adds
    # one ~0.1s job at sf0.1 and removes a full signature pass at
    # the 100× fallback flip.
    grp = _bucket_groups(
        minhash_band_buckets_maponly(
            docs, id_col, text_col, n, min_parts=sig_parts
        ),
        max_bucket=1000,
    ).localCheckpoint(eager=True)
    raw_rows = (
        _expand_bucket_pairs(grp, distinct=False)
        .limit(_RAW_PAIR_CAP + 1)
        .collect()
    )
    pair_rows = sorted({(r[0], r[1]) for r in raw_rows})
    if (
        len(raw_rows) <= _RAW_PAIR_CAP
        and len(pair_rows) <= _ARROW_VERIFY_PAIRS
    ):
        # Near-dup regime: pairs fit the driver easily. The id set
        # collects to an IN filter that rides the parquet scan
        # (PushedFilters) — the verify pass READS only candidate docs,
        # and each pair verifies independently in one Arrow-batched
        # map stage (no shingle explode, no join-back of sizes).
        id_list = sorted(
            {r[0] for r in pair_rows} | {r[1] for r in pair_rows}
        )

        def _candidate_docs(cols):
            """Scan restricted to candidate ids. Small sets ride the
            parquet scan as a pushed IN filter; past the pushdown-
            friendly size, Catalyst evaluates `In` as a LINEAR list
            per row (measured 10s for 14k ids × 150k rows at the 30×
            probe) — a broadcast semi-join is a hash probe instead."""
            sel = docs.select(*cols)
            if len(id_list) <= 1000:
                return sel.filter(F.col(id_col).isin(id_list))
            ids_df = spark.createDataFrame(
                [(i,) for i in id_list], f"{id_col} long"
            )
            return sel.join(F.broadcast(ids_df), id_col, "left_semi")

        if len(pair_rows) <= _DRIVER_VERIFY_PAIRS:
            # Tiny near-dup set (the overwhelmingly common regime):
            # verification is O(pairs) work on O(pairs) docs, so ONE
            # JVM-only collect of the candidate texts (pushed IN
            # filter on the scan) replaces the whole second Python
            # stage — measured ~0.4s off the sf0.1 wall. Threshold
            # filter and rounding ALSO run driver-side: the result is
            # a LocalTableScan and the query costs three jobs (bucket
            # checkpoint, pair collect off it, texts).
            # `round_half_up` is the documented
            # bit-exact twin of Spark's ROUND on doubles
            # (BigDecimal.valueOf == Decimal(repr(x));
            # tests/test_operators.py pins the equivalence against
            # F.round over random doubles).
            gset = {
                r[0]: _word_ngrams(r[1], n)
                for r in _candidate_docs([id_col, text_col]).collect()
            }
            rows = [
                (ia, ib, round_half_up(jraw, 4))
                for ia, ib, jraw in (
                    (
                        ia,
                        ib,
                        len(gset[ia] & gset[ib])
                        / (len(gset[ia] | gset[ib]) or 1),
                    )
                    for ia, ib in ((r[0], r[1]) for r in pair_rows)
                    if ia in gset and ib in gset
                )
                if jraw >= threshold
            ]
            return spark.createDataFrame(
                rows, "id_a long, id_b long, jaccard double"
            )
        # 10k < pairs <= 200k: distributed Arrow verify over the
        # candidate-only scan (only reached above the driver-verify
        # tier, so pair_rows is never empty here)
        cand = spark.createDataFrame(pair_rows, "id_a long, id_b long")
        cand_docs = _candidate_docs(docs.columns)
        return _pairwise_text_jaccard(
            cand, cand_docs, id_col, text_col, n, threshold
        )
    # Degenerate corpora: huge candidate sets stay distributed. The
    # verify is the ARRAY shape (hashed-shingle arrays + C-level
    # intersection), not the exploded shingle join: at the r9
    # boilerplate-flood 30x probe the exploded join sort-merged
    # Σ_pairs|A| ≈ 300M rows for millions of verify-and-reject
    # candidates (57s wall) — the exact shape _shingle_intersections
    # was built to replace. The helper does its own checkpoint,
    # candidate-id semi-prune and broadcast size-gating. The distinct
    # pair expansion reads the SAME checkpointed bucket frame the
    # probe collect used — no second signature pass (r9: 100× warm
    # wall 22.2 → 17.1s, first-in-session 57 → 40s, from this reuse).
    cand = _expand_bucket_pairs(grp, distinct=True)
    return _verified_jaccard_arrays(
        cand, shingle_table(docs, id_col, text_col, n), threshold
    )


def _pairwise_text_jaccard(
    cand: DataFrame,
    cand_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard per candidate pair, texts joined in and
    each pair scored independently in one Arrow batch pass.

    Same semantics as the hashed-array verify (distinct word n-grams,
    |∩|/|∪|): the raw ratio is an exact rational of small ints, so the
    Python float division equals the JVM double division bit-for-bit,
    and the 4-dp ROUND + threshold filter stay in Spark so rounding
    semantics match the SQL oracle. Scale shape: the pair list and
    candidate texts are both O(near-dup pairs) — two joins over
    candidate-only rows, then a map-only scoring stage; nothing here
    ever touches the full corpus."""
    ta = cand_docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")
    )
    tb = cand_docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")
    )
    withtext = (
        ta.join(F.broadcast(cand), "id_a").join(F.broadcast(tb), "id_b")
    )

    def part(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            jraw = []
            for a, b in zip(pdf["text_a"], pdf["text_b"]):
                ga, gb = _word_ngrams(a, n), _word_ngrams(b, n)
                jraw.append(len(ga & gb) / (len(ga | gb) or 1))
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "jraw": jraw,
                }
            )

    scored = withtext.mapInPandas(
        part, "id_a long, id_b long, jraw double"
    )
    return (
        scored.filter(F.col("jraw") >= threshold)
        .select("id_a", "id_b", F.round("jraw", 4).alias("jaccard"))
    )


SIMHASH_PORTABLE_BITS = 60  # 15 md5 hex chars; 64 would overflow
# DuckDB's signed-BIGINT hex cast, and the oracle must parse the
# identical integer


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """SimHash per doc: per-bit vote sums over shingle hashes, folded
    into one long — all Catalyst expressions, one shuffle.

    Default hash is xxhash64 (64 bits, fastest, Spark-specific).
    ``portable=True`` derives a 60-bit hash from the first 15 hex
    chars of md5 — reproducible in ANY engine with md5 (the
    heavy_hitters_cms precedent), which is what lets dedup_simhash
    carry a full DuckDB hash oracle instead of a rows-only gate."""
    sh = shingle_table(docs, id_col, text_col, n)
    if portable:
        bits = SIMHASH_PORTABLE_BITS
        h = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    else:
        bits = 64
        h = F.xxhash64("shingle")
    votes = [
        F.sum(
            F.when(
                h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), j)) != 0, 1
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = sh.groupBy(F.col("sid")).agg(*votes)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        bit = F.when(
            F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        fp = fp.bitwiseOR(bit)
    return voted.select("sid", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: the fingerprint splits into
    max_hamming+1 chunks, so any pair within max_hamming differing
    bits matches on at least one chunk — candidates come from the
    chunk-equality joins, then the exact bit_count(xor) filter.
    """
    fps = simhash_fingerprints(docs, id_col, text_col, portable=portable)
    bits = SIMHASH_PORTABLE_BITS if portable else 64
    n_chunks = max_hamming + 1
    width = bits // n_chunks
    chunk_structs = []
    for c in range(n_chunks):
        start = c * width
        w = bits - start if c == n_chunks - 1 else width
        mask = (1 << w) - 1
        chunk_structs.append(
            F.struct(
                F.lit(c).alias("ck"),
                F.shiftrightunsigned(F.col("simhash"), start)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
        )
    # Same single-shuffle bucket-group shape as _bucket_groups: explode
    # each fingerprint into its n_chunks (chunk-index, chunk-value)
    # buckets, group, and expand member pairs in place. The previous
    # formulation self-joined the fingerprint table once per chunk
    # (n_chunks × 2 shuffles + a union-distinct) — 30 exchanges at
    # n_chunks=4 vs 3 here, identical output.
    buckets = fps.select(
        "sid", "simhash", F.explode(F.array(*chunk_structs)).alias("b")
    ).select("sid", "simhash", F.col("b.ck").alias("ck"), F.col("b.cv").alias("cv"))
    grp = (
        buckets.groupBy("ck", "cv")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("sid", "simhash"))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pairs = F.explode(
        F.expr(
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms) - i - 1), "
            "y -> struct(x.sid AS id_a, y.sid AS id_b, "
            "x.simhash AS sh_a, y.simhash AS sh_b))))"
        )
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        grp.select(pairs.alias("p"))
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Group near-duplicate PAIRS into clusters: returns one row per
    node appearing in any pair, with `cluster_id` = the minimum node id
    of its connected component.

    Spark-first shape: iterative min-label propagation. Each round is
    one shuffle (edges ⋈ labels on src, then min-agg on dst) and labels
    only ever decrease, so `sum(label)` is a strictly-decreasing
    convergence metric — no driver-side graph state, no collect.
    `localCheckpoint` truncates lineage each round so the plan stays
    O(1) deep instead of O(iterations).

    100 TB posture: rounds needed = graph diameter. Near-dup graphs are
    star-like (diameter ~2-4), so 3-5 shuffles in practice. For
    pathological chains, switch to the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce"), which
    converges in O(log^2 n) rounds with the same join-agg primitive —
    the per-round operator below is deliberately that primitive.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for it in range(max_iter):
        prop = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(prop, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        # Convergence test every 2nd round (halves the driver-action
        # job count on deep graphs). Sound because labels only ever
        # DECREASE: an unchanged sum across two rounds means neither
        # round moved a label ⇒ fixed point. Worst case vs per-round
        # checking is one extra (no-op) propagation round.
        if it % 2 == 1 or it == max_iter - 1:
            cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def incremental_minhash_index(
    docs_new: DataFrame,
    index_dir: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Incremental near-dup detection against a persisted signature
    index — the 100 TB operating mode: yesterday's corpus is NEVER
    re-shingled, only its 128×int signatures (≤ 1 KB/doc, stored as
    ONE array column so derived plans stay 3 columns wide) persist
    alongside the 32 pre-mixed band signatures.

    Per batch:
    1. signatures for the NEW docs only (map-only, zero shuffle);
    2. band buckets over old ∪ new signatures, keeping only buckets
       that contain ≥ 1 new doc — candidate volume scales with the
       BATCH, not the corpus;
    3. scoring by the MinHash Jaccard estimator (share of equal
       components; unbiased, σ ≈ √(J(1−J)/128) ≈ 0.04) — the
       historical text is not re-read. New-vs-new pairs could be
       exact-verified like `minhash_lsh_pairs`; this operator keeps
       one uniform estimator path so old and new pairs are
       comparable.
    4. the new signatures land under a content-derived
       `batch=<id>` subdirectory with OVERWRITE semantics — the id is
       a hash of the batch's sid set, so re-running the same batch
       (crash between write and consume, orchestrator retry) rewrites
       the same subdirectory instead of appending duplicate rows that
       would inflate later batches' buckets. This makes the call
       truly idempotent-per-batch while keeping the index append-only
       across DISTINCT batches.

    Returns (id_a, id_b, est_jaccard_x1e4, a_is_new, b_is_new) pairs
    with estimate ≥ threshold.
    """
    import os

    spark = docs_new.sparkSession
    # Deterministic batch id from the id SET (order-free aggregates
    # over a column-pruned scan): names the index subdirectory, and
    # lets a RETRY of the same batch recognize its own crashed
    # write in the index and exclude it from the "old" side.
    agg = docs_new.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.col(id_col).cast("string"))).alias("s"),
        F.expr(f"bit_xor(hash(cast({id_col} AS STRING)))").alias("x"),
    ).collect()[0]
    batch_id = f"{agg['n'] or 0:x}-{(agg['s'] or 0) & 0xFFFFFFFFFF:x}-{(agg['x'] or 0) & 0xFFFFFFFF:x}"
    sig_new = minhash_signatures_with_bands_maponly(
        docs_new, id_col, text_col, n
    )
    sig_new = sig_new.withColumn("is_new", F.lit(True))
    have_old = os.path.isdir(index_dir) and any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(index_dir)
        for f in fs
    )
    if have_old:
        sig_old = (
            spark.read.option("basePath", index_dir).parquet(index_dir)
            .filter(F.col("batch") != batch_id)
            .drop("batch")
            .withColumn("is_new", F.lit(False))
        )
        sigs = sig_old.unionByName(sig_new)
    else:
        sigs = sig_new
    # materialize ONCE: the signature frame feeds the band buckets
    # AND both sides of the estimator join — uncheckpointed it would
    # recompute the Arrow signature pass three times. The ARRAY
    # layout (3 columns, not 129) keeps every derived plan narrow.
    sigs = sigs.localCheckpoint(eager=True)

    buckets = sigs.select(
        "sid", "is_new", F.posexplode("bands").alias("band", "sig")
    )
    grp = (
        buckets.groupBy("band", "sig")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("sid", "is_new"))
            ).alias("ms"),
            F.max(F.col("is_new").cast("int")).alias("any_new"),
        )
        # only buckets a NEW doc landed in; degenerate buckets capped
        .filter(
            (F.col("any_new") == 1)
            & (F.size("ms") > 1)
            & (F.size("ms") <= 1000)
        )
    )
    pairs = F.explode(
        F.expr(
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms) - i - 1), "
            "y -> struct(x.sid AS id_a, y.sid AS id_b, "
            "x.is_new AS a_is_new, y.is_new AS b_is_new))))"
        )
    )
    cand = (
        grp.select(pairs.alias("p"))
        .select("p.id_a", "p.id_b", "p.a_is_new", "p.b_is_new")
        .filter(F.col("a_is_new") | F.col("b_is_new"))
        .distinct()
    )
    a = sigs.select(F.col("sid").alias("id_a"), F.col("mh").alias("a_mh"))
    b = sigs.select(F.col("sid").alias("id_b"), F.col("mh").alias("b_mh"))
    # estimator over the array pair: interpreted HOF, but it runs
    # only over CANDIDATE pairs (batch-scaled), never the corpus
    est = F.expr(
        "size(filter(zip_with(a_mh, b_mh, (x, y) -> x = y), v -> v))"
        f" * 10000 DIV {_NUM_PERM}"
    )
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            est.cast("long").alias("est_jaccard_x1e4"),
            "a_is_new",
            "b_is_new",
        )
        .filter(F.col("est_jaccard_x1e4") >= _x1e4_cutoff(threshold))
    )
    out = out.localCheckpoint(eager=True)  # materialize BEFORE write
    # idempotent landing: overwrite THIS batch's subdirectory only
    # (from the checkpointed frame — no signature recompute)
    sigs.filter(F.col("is_new")).drop("is_new").coalesce(4).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, f"batch={batch_id}"))
    return out.orderBy("id_a", "id_b")
