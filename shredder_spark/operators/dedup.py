"""Deduplication operators for large-scale training-data pipelines.

Tiers (each a declared query or a recall-tested scale path):

- exact key/content dedup — hash groupBy, the O(n) baseline.
- exact Jaccard pairs — O(n²) within an id-bounded block; the *oracle*
  tier that scores the approximate tiers.
- MinHash + LSH banding — the 100 TB tier: candidate generation is a
  band-bucket equi-join (shuffle on band hash), never all-pairs. Built
  from Catalyst higher-order functions (xxhash64 + affine permutations)
  — fully JVM-side, no UDFs, deterministic given (num_perm, seed).
- SimHash — 64-bit fingerprint, hamming-distance near-dup; JVM-side
  via explode + bit arithmetic.

Scale notes: all-pairs comparisons only ever happen *within LSH
buckets*; every stage before that is a narrow map or a keyed shuffle.
Skewed buckets (e.g. empty-doc signatures) are capped by
``max_bucket_size`` the same way production dedup pipelines drop
degenerate bands.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from shredder_spark.partitioning import spread_small_input

# Mersenne prime 2^31-1 as the universal-hash modulus: products of
# 31-bit values fit in a 62-bit long, so the affine permutations stay
# inside ANSI long arithmetic (2^61-1 would need 128-bit products).
_MERSENNE_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the min-``order_col`` row per key group (reference-style
    keeper semantics, Q41). Single hash shuffle on the keys."""
    w = df.groupBy(*keys).agg(F.min(order_col).alias(order_col))
    return df.join(w, keys + [order_col], "left_semi")


def content_fingerprint(col: Column, normalize: bool = True) -> Column:
    """128-bit content hash for byte-identical (optionally
    whitespace-normalized) dedup; md5 so an external SQL oracle can
    reproduce it."""
    c = col
    if normalize:
        c = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(c)


def tokens_col(text: Column) -> Column:
    return F.array_distinct(F.split(text, " "))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float = 0.8) -> DataFrame:
    """Exact all-pairs Jaccard over distinct-token sets (oracle tier —
    O(n²), apply only to a bounded block or LSH candidates)."""
    t = df.select(F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("_tok"))
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a._tok"), F.col("b._tok")))
    union = F.size(F.array_union(F.col("a._tok"), F.col("b._tok")))
    jac = inter / union.cast("double")
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("i"), F.col("b._id").alias("j"),
                jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _perm_constants(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rnd = _SplitMix(seed)
    out = []
    for _ in range(num_perm):
        a = rnd.next() % (_MERSENNE_P - 1) + 1
        b = rnd.next() % _MERSENNE_P
        out.append((a, b))
    return out


# SQL-text twin of token_hashes over a NAMED column (r12 — one
# F.expr parse instead of per-call Column composition; identical
# Catalyst expression)
_TOKEN_HASHES_SQL = ("transform(array_distinct(split({col}, ' ')), "
                     f"t -> xxhash64(t) & {_MERSENNE_P}L)")


def token_hashes(text: Column) -> Column:
    """31-bit xxhash64 of each distinct token — the MinHash base.
    Project this into a named column BEFORE fanning out permutations:
    Catalyst does not CSE a repeated subexpression across the num_perm
    array_min branches, so inlining it recomputes split+distinct+hash
    per permutation (measured 3.3x slower at sf0.1)."""
    return F.transform(tokens_col(text),
                       lambda t: F.xxhash64(t).bitwiseAND(F.lit(_MERSENNE_P)))


def _minhash_sql(col_name: str, num_perm: int = 64, seed: int = 1) -> str:
    """SQL text of the MinHash signature over a NAMED token-hash array
    column — semantically identical to :func:`minhash_from_hashes`
    (r12 optimization, guide §1.2 "per-task work" applied to the
    DRIVER: composing the 64 array_min(transform(...)) branches as
    Column objects costs ~1.2 s of py4j round-trips per call; one
    ``F.expr`` parse of the same expression is ~20 ms. All operands
    are non-negative bigints, so SQL ``%`` matches Column ``%``)."""
    terms = ", ".join(
        f"array_min(transform({col_name}, h -> (h * {a}L + {b}L) % "
        f"{_MERSENNE_P}L))"
        for a, b in _perm_constants(num_perm, seed))
    return f"array({terms})"


def minhash_from_hashes(hashes: Column, num_perm: int = 64,
                        seed: int = 1) -> Column:
    """Signature from a (projected) token-hash array: per permutation
    ``min((h*a+b) mod p)`` — pure Catalyst, deterministic. (Column-
    input form; operators on a named column use the ``_minhash_sql``
    string builder — same expression, one parse.)"""
    def _perm(a: int, b: int):
        # factory closure: pyspark counts default-arg params as lambda
        # arity, so capture constants here instead
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)

    return F.array(*[
        F.array_min(F.transform(hashes, _perm(a, b)))
        for a, b in _perm_constants(num_perm, seed)
    ])


class _SplitMix:
    """SplitMix64 — tiny deterministic PRNG for permutation constants."""

    def __init__(self, seed: int):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self) -> int:
        self.state = (self.state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 1,
    max_bucket_size: int = 200,
    verify: bool = True,
    _stages: dict | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding (B72, the scale tier).

    bands×rows = num_perm; candidate pairs share ≥1 identical band.
    With r=num_perm/bands rows/band the match probability is
    1-(1-j^r)^bands — (64,16) centers the S-curve near j≈0.7, high
    recall at j≥0.8. Candidates are then exact-verified (default) so
    precision is 1.0 and only recall is approximate.
    """
    assert num_perm % bands == 0
    rows = num_perm // bands
    # The expensive subtree (tokenize + num_perm permutations) must
    # appear exactly ONCE in the DAG — the previous self-join shape
    # evaluated it 4x (bucket-size count, semi-join, and both join
    # sides) and quadrupled the codegen surface. Bucket membership is
    # therefore collected per (band, bandhash) and pairs are generated
    # in-array; everything downstream hangs off that single groupBy.
    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    # local/small inputs arrive as one split; spread the signature
    # computation. On a real cluster the scan already has thousands
    # of splits and this is a no-op (r12: file-size probe, no .rdd).
    src = spread_small_input(src, "_id")
    # staged projection: hash the tokens once, then fan out the
    # num_perm permutations over the named column (see token_hashes).
    # Both stages are built as ONE parsed SQL expression each — the
    # equivalent Column composition costs >1 s of driver py4j churn
    # per call (r12; see _minhash_sql).
    sig = src.select(
        "_id",
        F.expr(_TOKEN_HASHES_SQL.format(col="_text")).alias("_hs"),
    ).select(
        "_id",
        F.expr(_minhash_sql("_hs", num_perm, seed)).alias("_sig"),
    )
    # The banded relation is (id, band, bandhash) ONLY — at 100 TB the
    # banding shuffle must never ship token arrays (16 copies of every
    # doc's tokens); text is re-joined afterwards for the (much
    # smaller) candidate set.
    band_structs = ", ".join(
        f"named_struct('band', {i}, 'bh', "
        f"xxhash64(slice(_sig, {i * rows + 1}, {rows})))"
        for i in range(bands))
    banded = sig.select(
        "_id",
        F.expr(f"explode(array({band_structs}))").alias("b"),
    ).select("_id", "b.band", "b.bh")

    # One shuffle groups bucket members; the size cap is a filter on
    # the collected array (skew guard: degenerate buckets — stopwords,
    # empty docs — are skipped, same semantics as the old count+semi-
    # join but without a second evaluation of the banded relation).
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket_size))
    )
    # i<j pairs straight from the sorted member array — no self-join.
    pair_expr = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), "
        "y -> named_struct('i', x, 'j', y))))"
    )
    cand_multi = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.i", "p.j")
    )
    cand = cand_multi.dropDuplicates(["i", "j"])
    if _stages is not None:
        # introspection hook for tools/minhash_profile_r13.py: the SAME
        # lazy frames the operator composes, so stage timings measure
        # the real pipeline (simhash_pairs pattern)
        _stages.update(sig=sig, banded=banded, buckets=buckets,
                       cand_multi=cand_multi, cand=cand)
    if not verify:
        return cand
    # r13 NEGATIVE RESULT (keep the dropDuplicates HERE, before the
    # verify joins): the sf10 stage profile (MINHASH_PROFILE_r13.json)
    # read this exchange as the biggest marginal stage (2.4 s to dedup
    # 40.4M → 37.6M candidates, multiplicity 1.074, with only 1.38M
    # surviving the jaccard filter), so moving the dedup AFTER the
    # threshold filter looked like a ~25× smaller shuffle. Measured
    # single-session interleaved A/B at sf10 (MINHASH_DEDUP_AB_r13
    # .json): the multi-set shape is ~3× SLOWER end-to-end (20.6 vs
    # 6.8 s normalized, old wins all 4 interleaved cycles) — the
    # aggregate exchange gives AQE an exact-stats materialization
    # boundary that keeps the two verify joins well-planned, worth far
    # more than the exchange costs. Stage marginals are not additive
    # across this boundary; don't re-attempt without an end-to-end A/B.
    # Exact verification, three measured wins over the naive join-text-
    # then-tokenize shape (4× end-to-end at sf0.1, identical output):
    # 1. tokenize ONCE per doc BEFORE the join — the naive shape
    #    tokenized per pair side (2·|pairs| splits instead of |docs|);
    # 2. verify on xxhash64 token hashes, not strings — array set ops
    #    hash every element, and hashing fixed-width longs beats
    #    hashing variable-length UTF8 (collision risk ~(T²/2)·2⁻⁶⁴ per
    #    doc — vanishing for real token counts, and only this verify
    #    tier uses hashes; the exact-oracle tier `jaccard_pairs` stays
    #    on raw strings);
    # 3. |union| = nᵢ + nⱼ − |inter| — one array_intersect per pair,
    #    no array_union materialization.
    # The candidate side stays small (bucket-capped), so AQE broadcasts
    # it — the corpus is scanned, never shuffled.
    # r12 (guide §2.5): the verify tokenize pass gets the same
    # local-parallelism spread as the signature pass — a single-split
    # local fixture otherwise tokenizes the whole corpus in ONE task
    # (twice: i-side probe and j-side build); no-op on a real cluster.
    tsrc = spread_small_input(
        df.select(F.col(id_col).alias("_id"),
                  F.col(text_col).alias("_text")), "_id")
    txt = tsrc.select(
        "_id",
        F.transform(tokens_col(F.col("_text")),
                    lambda x: F.xxhash64(x)).alias("_tok"),
    ).select("_id", "_tok", F.size("_tok").alias("_n"))
    cand = (cand
            .join(txt.select(F.col("_id").alias("i"), F.col("_tok").alias("ti"),
                             F.col("_n").alias("ni")), "i")
            .join(txt.select(F.col("_id").alias("j"), F.col("_tok").alias("tj"),
                             F.col("_n").alias("nj")), "j"))
    inter = F.size(F.array_intersect("ti", "tj"))
    union = (F.col("ni") + F.col("nj") - inter).cast("double")
    # r12: the threshold filter is written NULL-TOLERANT (coalesce to a
    # below-threshold sentinel — identical surviving rows: a NULL
    # jaccard never passed ``>=``). A null-intolerant filter makes
    # InferFiltersFromConstraints push ``isnotnull(<tokenize expr>)``
    # into the scan-side Filter nodes, where it evaluates the full
    # split+xxhash64 transform a SECOND time per row (Filter and
    # Project don't share subexpressions across operators) — the
    # measured plans showed every corpus row tokenized twice per side.
    return (
        cand.select("i", "j", (inter / union).alias("jaccard"))
        .filter(F.coalesce(F.col("jaccard"), F.lit(-1.0)) >= threshold)
    )


def oversized_lsh_buckets(df: DataFrame, id_col: str, text_col: str, *,
                          num_perm: int = 64, bands: int = 16,
                          seed: int = 1,
                          max_bucket_size: int = 200) -> DataFrame:
    """(band, bh) buckets whose member count exceeds ``max_bucket_size``
    — the skew BLOCKLIST. ``minhash_lsh_pairs(max_bucket_size=K)``
    generates pairs from exactly the buckets this relation excludes,
    so feeding it to the incremental tier (``IncrementalNearDup(
    exclude_buckets=...)``) makes both tiers decide over the SAME
    pair universe: the admitted-set equality contract then holds
    capped, which is the production shape (the cap cannot be computed
    online — final bucket sizes aren't known mid-stream — so it
    becomes an explicit blocklist input, exactly how production
    pipelines ship known-degenerate signature lists)."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    sig = (df.select(F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_text"))
           .select("_id",
                   F.expr(_TOKEN_HASHES_SQL.format(
                       col="_text")).alias("_hs"))
           .select("_id",
                   F.expr(_minhash_sql("_hs", num_perm,
                                       seed)).alias("_sig")))
    band_structs = ", ".join(
        f"named_struct('band', {i}, 'bh', "
        f"xxhash64(slice(_sig, {i * rows + 1}, {rows})))"
        for i in range(bands))
    banded = sig.select(
        F.expr(f"explode(array({band_structs}))").alias("b"),
    ).select("b.band", "b.bh")
    return (banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "bh"))


def simhash_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from a (projected) token-hash array.

    For each bit k: sum over tokens of ±1 by bit k of the hash;
    fingerprint bit k = (sum > 0). Returns bigint. As with MinHash,
    project the hash array into a named column first — the 64 bit
    branches each reference it and Catalyst won't CSE an inlined
    copy."""

    def _bit_sum(k: int):
        # test bit k via unsigned shift (1<<63 doesn't fit a signed long)
        return lambda acc, h: acc + F.when(
            F.shiftrightunsigned(h, k).bitwiseAND(F.lit(1)) == 1,
            F.lit(1)).otherwise(F.lit(-1))

    def _bit_value(k: int) -> int:
        return (1 << k) if k < 63 else -(1 << 63)

    bit_terms = [
        F.when(F.aggregate(hashes, F.lit(0).cast("long"), _bit_sum(k)) > 0,
               F.lit(_bit_value(k))).otherwise(F.lit(0))
        for k in range(64)
    ]
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out.bitwiseOR(t)
    return out


def simhash64(text: Column) -> Column:
    """Single-expression convenience form of ``simhash_from_hashes``
    (recomputes the hash array per bit branch — fine for goldens and
    small inputs; hot paths stage the projection)."""
    return simhash_from_hashes(
        F.transform(F.split(text, " "), lambda t: F.xxhash64(t)))


def simhash_from_hashes_arrow() -> Column:
    """Arrow-vectorized tier of ``simhash_from_hashes``: identical
    fingerprints (the vote is an exact integer sum, bit k = sum > 0,
    bit 63 carries the sign value), computed as one numpy bit-matrix
    per batch instead of 64 interpreted Catalyst fold branches per row
    — the fold profiled as the dominant cost of the sf1 simhash pass.
    Returns a pandas_udf Column factory; call with the hash-array
    column. Tier equality is pinned in tests/test_llm_ops.py."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf("long")
    def _sh(hashes: pd.Series) -> pd.Series:
        import numpy as _np

        out = []
        for h in hashes:
            if h is None:
                out.append(None)
                continue
            u = _np.asarray(h, dtype=_np.int64).astype(_np.uint64)
            if len(u) == 0:
                out.append(0)
                continue
            bits = (u[:, None] >> shifts[None, :]) & _np.uint64(1)
            votes = 2 * bits.sum(axis=0, dtype=_np.int64) - len(u)
            word = int(((votes > 0).astype(_np.uint64)
                        << shifts).sum(dtype=_np.uint64))
            out.append(word - (1 << 64) if word >= (1 << 63) else word)
        return pd.Series(out, dtype="object")

    return _sh


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# one cached fingerprint+quads set per session (see simhash_pairs
# docstring: the newest call evicts the previous call's cache)
_SIMHASH_QUADS_CACHE: DataFrame | None = None


def _sub_first_match_pred(n_sub: int, sub_bits: int, rem_width: int):
    """Exactly-once predicate for the hot-bucket sub-range re-block:
    true iff ``a.sq`` is the LOWEST sub-range index where ``a._rem``
    and ``b._rem`` agree. ``shiftleft`` needs a bigint base — with an
    int literal the shift count wraps mod 32, so a pair whose lowest
    equal sub-range is ≥ 31 (reachable at n_sub up to 63, e.g.
    n_blocks=64 / key_blocks=1 / max_distance ≥ 30) would be silently
    dropped (r12 advice guard; pinned in tests/test_llm_ops.py)."""
    def sub(col, j):
        width = sub_bits if j < n_sub - 1 else rem_width - sub_bits * (
            n_sub - 1)
        return (F.shiftrightunsigned(col, j * sub_bits)
                .bitwiseAND(F.lit((1 << width) - 1)))

    sm = None
    for j in range(n_sub):
        term = F.when(sub("a._rem", j) == sub("b._rem", j),
                      F.lit(1 << j)).otherwise(F.lit(0))
        sm = term if sm is None else sm + term
    return F.expr("shiftleft(1L, a.sq)") == sm.bitwiseAND(-sm)


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_distance: int = 3, n_blocks: int = 4,
                  key_blocks: int = 1, salt_threshold: int = 4096,
                  salts: int = 64,
                  _stages: dict | None = None) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, multi-index blocked.

    The fingerprint splits into ``n_blocks`` equal bit blocks; the
    blocking keys are all C(n_blocks, key_blocks) block-combinations
    (pigeonhole: d ≤ max_distance flips at most d blocks, so a
    qualifying pair shares ≥ n_blocks − d blocks and therefore at
    least one whole key; requires n_blocks − max_distance ≥
    key_blocks). The default is the classic 4 blocks × 16-bit
    single-block keys. Wider keys (e.g. 8 blocks / 3-block 24-bit
    keys) trade exploded rows for candidate selectivity — measured at
    sf10 they DON'T pay on this corpus (4.2e8 candidates vs 9.8e8 for
    14× the explode volume: SimHash bits are correlated across
    common-vocabulary docs, so wider keys gain far less than the
    2^8 a random model predicts); the knob exists for high-entropy
    fingerprint corpora where the random model holds.

    Three more scale properties:
    - a pair sharing several keys is emitted exactly ONCE, at the
      lexicographically-lowest all-equal block combination — computed
      from the pair's equal-block bitmask with x&-x bit tricks, so
      there is NO dropDuplicates shuffle of the quadratic candidate
      set (at sf10 that shuffle alone was ~5·10^8 rows);
    - key buckets larger than ``salt_threshold`` (degenerate content
      voting to the same block words) are salted ``salts``-ways
      (a-side keyed by hash(_id), b-side replicated), so a hot
      bucket's |b|^2 comparisons spread over ``salts`` tasks instead
      of one straggler;
    - the fingerprint pass is persisted so the hot-key split doesn't
      recompute the Arrow vote. Lifecycle: the cache must outlive the
      returned (lazy) DataFrame's first action, so it is NOT unpersisted
      here; instead each new ``simhash_pairs`` call unpersists the
      previous invocation's cache (module-level handle), capping the
      session's pinned storage at one fingerprint set no matter how many
      times the operator runs (round-9 advice: repeated harness calls
      were stacking caches).

    Cache contract (single-threaded, one live result at a time): the
    module-level handle is not thread-safe, and calling
    ``simhash_pairs`` again unpersists the PREVIOUS call's cache even
    if that call's returned lazy DataFrame has not been actioned yet —
    the earlier result stays correct but silently recomputes its
    fingerprint pass on first action. Action (or discard) each result
    before requesting the next; interleave only if the recompute cost
    is acceptable."""
    from itertools import combinations

    assert 64 % n_blocks == 0, "blocks must tile the 64-bit fingerprint"
    assert n_blocks - max_distance >= key_blocks, \
        "pigeonhole needs n_blocks - max_distance >= key_blocks"
    bb = 64 // n_blocks
    bmask = (1 << bb) - 1
    combos = list(combinations(range(n_blocks), key_blocks))

    # spread the fingerprint pass: local/small inputs arrive as a few
    # splits and the Arrow vote is the dominant per-row cost (same
    # pattern as minhash_lsh_pairs; a real cluster scan has thousands
    # of splits and this branch never fires)
    src = spread_small_input(
        df.select(F.col(id_col).alias("_id"),
                  F.col(text_col).alias("_text")), "_id")
    # staged projection (see token_hashes): hash the tokens JVM-side
    # once, then compute the 64 bit votes in the Arrow tier — one numpy
    # bit matrix per batch instead of 64 interpreted fold branches per
    # row (the fold was the dominant cost of this pass at sf1)
    s = src.select(
        "_id",
        F.transform(F.split(F.col("_text"), " "),
                    lambda t: F.xxhash64(t)).alias("_th"),
    ).select("_id", simhash_from_hashes_arrow()(F.col("_th")).alias("_sh"))

    def _block(col: str, k: int):
        return F.shiftrightunsigned(col, k * bb).bitwiseAND(F.lit(bmask))

    structs = []
    for ci, combo in enumerate(combos):
        if key_blocks * bb < 64:
            kv = _block("_sh", combo[0])
            for pos, k in enumerate(combo[1:], start=1):
                kv = kv + _block("_sh", k) * F.lit(1 << (bb * pos))
        else:
            # packed arithmetic would overflow signed long under ANSI
            # (e.g. n_blocks=4, key_blocks=4: top term * 2^48 can pass
            # 2^63-1) — XOR-fold via xxhash64 instead; equal blocks
            # still map to equal keys, and a hash collision only merges
            # buckets (extra candidates), never loses a qualifying pair
            kv = F.xxhash64(*[_block("_sh", k) for k in combo])
        cm = sum(1 << k for k in combo)
        structs.append(F.struct(F.lit(ci).alias("q"),
                                kv.cast("long").alias("qv"),
                                F.lit(cm).alias("cm")))
    global _SIMHASH_QUADS_CACHE
    if _SIMHASH_QUADS_CACHE is not None:
        try:
            _SIMHASH_QUADS_CACHE.unpersist()
        except Exception:  # session may be gone
            pass
    quads = (s.select("_id", "_sh",
                      F.explode(F.array(*structs)).alias("b"))
             .select("_id", "_sh", "b.q", "b.qv", "b.cm")
             .persist())
    _SIMHASH_QUADS_CACHE = quads

    # equal-block bitmask of the candidate pair, then its lowest
    # key_blocks set bits: the pair is emitted only on the combo whose
    # block mask IS those lowest bits (exactly-once, no dedup shuffle)
    def _first_match_only():
        eq = None
        for k in range(n_blocks):
            term = F.when(_block("a._sh", k) == _block("b._sh", k),
                          F.lit(1 << k)).otherwise(F.lit(0))
            eq = term if eq is None else eq + term
        low = None
        rest = eq
        for _ in range(key_blocks):
            bit = rest.bitwiseAND(-rest)
            low = bit if low is None else low + bit
            rest = rest - bit
        return F.col("a.cm") == low

    def _cand(a, b, extra):
        return (
            a.join(b, (F.col("a.q") == F.col("b.q")) &
                   (F.col("a.qv") == F.col("b.qv")) & extra &
                   (F.col("a._id") < F.col("b._id")) & _first_match_only())
            .select(F.col("a._id").alias("i"), F.col("b._id").alias("j"),
                    hamming64(F.col("a._sh"), F.col("b._sh")).alias("dist"))
        )

    hot_keys = (quads.groupBy("q", "qv").count()
                .filter(F.col("count") > salt_threshold).select("q", "qv"))
    cold = quads.join(F.broadcast(hot_keys), ["q", "qv"], "left_anti")
    cold_cand = _cand(cold.alias("a"), cold.alias("b"), F.lit(True))

    hot = quads.join(F.broadcast(hot_keys), ["q", "qv"], "left_semi")

    # Hot-bucket RE-BLOCKING (r11, from SIMHASH_DECOMP_r10: 790 hot
    # buckets carried 83% of the 4.4e10 sf100 candidate volume — the
    # slope is candidate count, so salting alone only spreads the
    # work; this removes it). Pigeonhole again, one level down: a
    # qualifying pair in a hot bucket agrees on the key blocks, so
    # its ≤ max_distance flips all fall in the REMAINING
    # 64 − key_blocks·bb bits; split those into max_distance+1
    # sub-ranges and the pair shares ≥1 whole sub-range. Joining hot
    # rows on (q, qv, sq, sub-value) subdivides a hot bucket ~2^bits
    # ways for non-duplicate pairs while keeping recall exact; the
    # lowest-equal-sub-range trick keeps emission exactly-once (same
    # x&-x form as the combo mask). Sub-buckets that stay hot
    # (near-identical remaining bits = genuinely duplicate-dense
    # content) still get the salt spread.
    n_sub = max_distance + 1
    rem_width = (n_blocks - key_blocks) * bb
    if rem_width >= n_sub and rem_width <= 63:
        sub_bits = rem_width // n_sub
        # remaining-bit value depends on WHICH combo the row's key
        # used: one packed expression per combo, indexed by q
        rem_exprs = []
        for combo in combos:
            others = [k for k in range(n_blocks) if k not in combo]
            rv = _block("_sh", others[0])
            for pos, k in enumerate(others[1:], start=1):
                rv = rv + _block("_sh", k) * F.lit(1 << (bb * pos))
            rem_exprs.append(rv.cast("long"))
        hot = hot.withColumn(
            "_rem", F.element_at(F.array(*rem_exprs), F.col("q") + 1))

        def _sub(col: str, j: int):
            width = sub_bits if j < n_sub - 1 else rem_width - sub_bits * (
                n_sub - 1)
            return (F.shiftrightunsigned(col, j * sub_bits)
                    .bitwiseAND(F.lit((1 << width) - 1)))

        hot = (hot.select(
            "*", F.explode(F.array(*[
                F.struct(F.lit(j).alias("sq"),
                         _sub("_rem", j).alias("sqv"))
                for j in range(n_sub)])).alias("_sb"))
            .select(F.col("_id"), F.col("_sh"), F.col("q"), F.col("qv"),
                    F.col("cm"), F.col("_rem"),
                    F.col("_sb.sq").alias("sq"),
                    F.col("_sb.sqv").alias("sqv")))

        sub_keys_eq = ((F.col("a.sq") == F.col("b.sq")) &
                       (F.col("a.sqv") == F.col("b.sqv")) &
                       _sub_first_match_pred(n_sub, sub_bits, rem_width))
        hot2_keys = (hot.groupBy("q", "qv", "sq", "sqv").count()
                     .filter(F.col("count") > salt_threshold)
                     .select("q", "qv", "sq", "sqv"))
        cold2 = hot.join(F.broadcast(hot2_keys),
                         ["q", "qv", "sq", "sqv"], "left_anti")
        cold2_cand = _cand(cold2.alias("a"), cold2.alias("b"),
                           sub_keys_eq)
        hot2 = hot.join(F.broadcast(hot2_keys),
                        ["q", "qv", "sq", "sqv"], "left_semi")
        hot2_a = hot2.withColumn(
            "_salt", F.pmod(F.xxhash64("_id"), F.lit(salts)).cast("int"))
        hot2_b = hot2.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
        hot_cand = cold2_cand.unionByName(_cand(
            hot2_a.alias("a"), hot2_b.alias("b"),
            sub_keys_eq & (F.col("a._salt") == F.col("b._salt"))))
    else:
        # no re-blockable remaining bits (whole-fingerprint keys):
        # equal key already implies the pair qualifies — salt only
        hot_a = hot.withColumn(
            "_salt", F.pmod(F.xxhash64("_id"), F.lit(salts)).cast("int"))
        hot_b = hot.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
        hot_cand = _cand(hot_a.alias("a"), hot_b.alias("b"),
                         F.col("a._salt") == F.col("b._salt"))
    if _stages is not None:
        # introspection hook for tools/simhash_decompose.py: the SAME
        # lazy frames the operator composes, so stage timings measure
        # the real pipeline, not a re-implementation that could drift
        _stages.update(quads=quads, hot_keys=hot_keys,
                       cold_candidates=cold_cand, hot_candidates=hot_cand)
    return (cold_cand.filter(F.col("dist") <= max_distance)
            .unionByName(hot_cand.filter(F.col("dist") <= max_distance)))


def ngrams_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams as array<string> (JVM-side).

    Guarded for short docs: sequence(1,0) would generate a DESCENDING
    [1,0] in Spark, so emit an empty array when size(toks) < n."""
    toks = F.split(text, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)) \
        .otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.6) -> DataFrame:
    t = df.select(F.col(id_col).alias("_id"),
                  ngrams_col(F.col(text_col), n).alias("_ng"))
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect("a._ng", "b._ng"))
    union = F.size(F.array_union("a._ng", "b._ng"))
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("i"), F.col("b._id").alias("j"),
                (inter / union.cast("double")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------- winnowing (MOSS)

_WINNOW_BASE = 257
_WINNOW_MOD = (1 << 31) - 1


def winnow_reference(text: str, k: int = 8, w: int = 4) -> list[int]:
    """Pure-Python winnowing reference (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 "local algorithms for document fingerprinting"): k-gram
    Rabin-Karp rolling hashes, rightmost-minimum per window of w,
    deduplicated by (position, hash). Used as the golden oracle for the
    vectorized UDF; O(n·k) — test-sized inputs only."""
    s = " ".join(text.lower().split())
    if len(s) < k:
        return []
    hashes = []
    for i in range(len(s) - k + 1):
        h = 0
        for ch in s[i:i + k]:
            h = (h * _WINNOW_BASE + ord(ch)) % _WINNOW_MOD
        hashes.append(h)
    picked: list[tuple[int, int]] = []
    for start in range(max(len(hashes) - w + 1, 1)):
        window = hashes[start:start + w]
        m = min(window)
        pos = start + max(i for i, h in enumerate(window) if h == m)
        if not picked or picked[-1] != (pos, m):
            if (pos, m) not in picked:
                picked.append((pos, m))
    return [h for _, h in picked]


def winnow_fingerprints(text_col: str = "text", k: int = 8, w: int = 4):
    """Winnowing fingerprints as a vectorized pandas UDF → array<bigint>.

    Per doc: numpy sliding-window k-gram polynomial hashes (one matvec)
    + rightmost-min window selection — no Python per-char loops. The
    fingerprint set is position-robust: local edits perturb only nearby
    k-grams, so near-duplicate documents share most fingerprints
    (overlap ≥ threshold → near-dup candidate, same join shape as the
    MinHash tier). Oracle: winnow_reference golden tests (a rolling
    hash isn't expressible in portable SQL, so no DuckDB hash check)."""

    @F.pandas_udf("array<bigint>")
    def _winnow(texts: pd.Series) -> pd.Series:
        import numpy as np

        weights = np.array(
            [pow(_WINNOW_BASE, k - 1 - j, _WINNOW_MOD) for j in range(k)],
            dtype=np.int64)

        def one(text: str) -> list[int]:
            s = " ".join((text or "").lower().split())
            if len(s) < k:
                return []
            c = np.frombuffer(s.encode("utf-8", "replace"), dtype=np.uint8)
            grams = np.lib.stride_tricks.sliding_window_view(c, k).astype(np.int64)
            hashes = (grams % _WINNOW_MOD) @ weights % _WINNOW_MOD
            n_win = max(len(hashes) - w + 1, 1)
            wins = np.lib.stride_tricks.sliding_window_view(
                hashes, min(w, len(hashes)))[:n_win]
            # rightmost minimum per window
            rev_arg = wins.shape[1] - 1 - np.argmin(wins[:, ::-1], axis=1)
            pos = np.arange(n_win) + rev_arg
            hs = wins[np.arange(n_win), rev_arg]
            # dedup by picked position, vectorized: winnowing's chosen
            # positions are NONDECREASING as the window slides (the
            # rightmost-min can only stay or move right), so a repeat
            # of (pos, hash) is always adjacent and first-occurrence
            # dedup reduces to an adjacent-diff mask — no Python loop
            # (golden-pinned against winnow_reference, which keeps the
            # full membership check).
            keep = np.empty(n_win, dtype=bool)
            keep[0] = True
            np.not_equal(pos[1:], pos[:-1], out=keep[1:])
            return hs[keep].tolist()

        return texts.map(one)

    return _winnow(F.col(text_col))


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 4,
    min_overlap: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap: explode
    fingerprints, equi-join on hash (the scale shape — no n²), count
    shared fingerprints per pair, filter by overlap ratio vs the
    smaller set. Columns: i, j, overlap."""
    fp = df.select(F.col(id_col).alias("_id"),
                   winnow_fingerprints(text_col, k, w).alias("_fp"))
    fp = fp.withColumn("_n", F.size("_fp")).filter(F.col("_n") > 0)
    ex = fp.select("_id", "_n", F.explode(F.array_distinct("_fp")).alias("_h"))
    a = ex.select(F.col("_id").alias("i"), F.col("_n").alias("na"), "_h")
    b = ex.select(F.col("_id").alias("j"), F.col("_n").alias("nb"), "_h")
    shared = (a.join(b, ["_h"]).filter(F.col("i") < F.col("j"))
              .groupBy("i", "j", "na", "nb").agg(F.count("*").alias("_shared")))
    return (shared
            .select("i", "j",
                    F.round(F.col("_shared") / F.least("na", "nb"), 2).alias("overlap"))
            .filter(F.col("overlap") >= min_overlap)
            .orderBy("i", "j"))


def dedupe_keepers(df: DataFrame, id_col: str, text_col: str,
                   **lsh_kwargs) -> DataFrame:
    """End-to-end corpus dedup: drop the higher-id side of every
    near-dup pair (greedy keep-lowest-id policy — no transitive
    clustering pass, which can only over-drop, never leave a
    surviving near-dup pair *among pairs the banding saw*; a finite
    ``max_bucket_size`` skips degenerate buckets, so the no-survivor
    guarantee is modulo that skew cap). Returns the kept rows of
    ``df``.

    Plan shape: minhash_lsh_pairs (keyed shuffles only) + one
    left_anti join on the id — no collect, no iteration.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    drop = pairs.select(F.col("j").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup edge list (i, j) by
    iterative min-label propagation — the transitive-closure upgrade
    over the greedy pair policy. Returns (id, cluster) where cluster is
    the minimum id reachable in the component (the canonical
    representative).

    Scale shape: each iteration is one join + one min-aggregate —
    keyed shuffles only — and each round's labels are eagerly
    **localCheckpoint**-ed, which both materializes them and truncates
    lineage; without truncation the logical plan doubles per iteration
    and the driver OOMs just *formatting* it (observed at sf0.1).
    On a real cluster with ``spark.sparkContext.setCheckpointDir`` use
    ``checkpoint()`` instead for fault tolerance. The edge list is
    checkpointed once up front so the (possibly expensive) upstream
    pair computation — e.g. MinHash-LSH — runs exactly once, not once
    per iteration. Convergence is a LIMIT-1 existence probe (no full
    count); iterations needed = graph diameter, tiny for near-dup
    clusters; ``max_iter`` bounds pathological chains. This is the
    standard Pregel-style CC on DataFrames — GraphX/GraphFrames are
    JVM/RDD surfaces we deliberately avoid.
    """
    edges = pairs.select(F.col("i").cast("long"), F.col("j").cast("long"))
    sym = edges.union(
        edges.select(F.col("j").alias("i"), F.col("i").alias("j"))
    ).localCheckpoint(eager=True)
    labels = (sym.select(F.col("i").alias("id")).distinct()
              .withColumn("label", F.col("id"))).localCheckpoint(eager=True)
    for _ in range(max_iter):
        prop = (sym.join(labels, sym["i"] == labels["id"])
                .select(F.col("j").alias("id"), F.col("label")))
        new_labels = (labels.select("id", "label").union(prop)
                      .groupBy("id").agg(F.min("label").alias("label"))
                      ).localCheckpoint(eager=True)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels.withColumnRenamed("label", "cluster")


def dedupe_keepers_clustered(df: DataFrame, id_col: str, text_col: str,
                             **lsh_kwargs) -> DataFrame:
    """Cluster-correct corpus dedup: group near-dup pairs into
    connected components and keep exactly one doc (the min id) per
    component. Unlike the greedy policy this never over-drops a chain:
    component {1-2, 2-3} keeps 1 and drops {2, 3}, but {1-2}, {3-4}
    keeps both 1 and 3."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    cc = connected_components(pairs.select("i", "j"))
    drop = cc.filter(F.col("id") != F.col("cluster")) \
             .select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")
