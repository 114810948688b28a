"""Deduplication at training-corpus scale: exact, MinHash-LSH, SimHash,
n-gram Jaccard.

All variants follow the shuffle-frugal shapes used by production dedup
pipelines:

* **exact** — hash-groupBy: one shuffle on a 128-bit content key.
* **MinHash + LSH** — signatures are pure Column expressions (nested
  higher-order functions over shingles — no UDF); candidate pairs come from a
  self-equi-join on (band, band-hash), i.e. a shuffle on small keys instead of
  an O(n²) cross join; candidates are verified with exact shingle Jaccard.
* **SimHash** — 64-bit signature via bitwise majority vote of token hashes;
  near-dup candidates via block-combination keys (Manku et al., WWW'07:
  k-bit Hamming over b blocks ⇒ some b−k blocks all equal — join on every
  C(b, b−k) concatenation, keys stay ≥16 selective bits at any radius),
  verified with ``bit_count(xor)``.
* **n-gram Jaccard** — inverted-index join on shingle hashes with a hot-key
  cutoff, the classic MapReduce similarity-join.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fast_causal_inference_spark.datapipe.cachereg import register_cache
from fast_causal_inference_spark.datapipe.text import (
    bind_once,
    content_md5,
    ngram_transform,
    tokens,
)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Keep one row per exact text (lowest/highest id). One hash shuffle."""
    if keep not in ("min", "max"):
        raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
    key = content_md5(F.col(text_col))
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    w = Window.partitionBy(key).orderBy(order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).drop("__rn"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(content_hash, n_dups, keep_id) for every duplicated text."""
    return (df.groupBy(content_md5(F.col(text_col)).alias("content_hash"))
              .agg(F.count("*").alias("n_dups"),
                   F.min(id_col).alias("keep_id"))
              .where(F.col("n_dups") > 1))


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) of normalized text."""
    return bind_once(tokens(text),
                     lambda tk: F.array_distinct(ngram_transform(tk, n)))


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles — the hot-path
    representation: downstream set ops (array_intersect for Jaccard,
    array_min for MinHash, the inverted-index shuffle) all run on longs
    instead of strings.  Identical dedup semantics modulo 64-bit collisions
    (~n²/2⁶⁴).

    NB the window is materialized with slice+concat_ws and hashed ONCE —
    measured ~2.5× faster than hashing the n token elements directly
    (``xxhash64(get(toks,i),…)``), because per-element array access inside
    an interpreted HOF lambda dominates the string bytes hashed.  The
    n-gram array is let-bound (:func:`~...text.bind_once`) so consumers —
    including ``explode`` for the inverted index — evaluate the
    tokenize+window pipeline exactly once per document.
    """
    return bind_once(tokens(text), lambda tk: F.array_distinct(
        F.transform(ngram_transform(tk, n), lambda g: F.xxhash64(g))))


def _minhash_from_hashes(gh: Column, num_hashes: int) -> Column:
    """Signature from a shingle-hash array: the per-seed values are
    xxhash64 over the 8-byte shingle hash — no string ever re-hashed."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    # gh is let-bound: a closure reference would re-evaluate the whole
    # shingle pipeline once per seed (64×)
    return bind_once(gh, lambda g: F.transform(
        seeds,
        lambda s: F.array_min(F.transform(g, lambda h: F.xxhash64(h, s)))))


def minhash_signature(text: Column | str, num_hashes: int = 64,
                      shingle_size: int = 3) -> Column:
    """MinHash signature: for seed s, min over shingle hashes of
    xxhash64(shingle_hash, s). Pure nested higher-order functions —
    evaluated JVM-side per row."""
    return _minhash_from_hashes(shingle_hashes(text, shingle_size),
                                num_hashes)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays.

    Two empty arrays compare as identical (J = 1.0) — and the explicit
    branch keeps the division off the 0/0 case, which Spark 4's default
    ANSI mode would otherwise raise on."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def _shingle_inv(df: DataFrame, text_col: str, id_col: str,
                 n: int) -> DataFrame:
    """Inverted shingle index ``(id, gh)`` — the ONE shared, cached
    relation behind every shingle-based dedup family.

    Why exactly this shape:

    * two primitive long columns — the in-memory columnar cache writes
      them fast (caching the array-typed shingle relation measured
      seconds for a few thousand rows: the array ColumnType writer is
      orders of magnitude slower than primitive columns);
    * NOTHING computed above the explode — a projection over a Generate
      is re-evaluated per OUTPUT row, so carrying ``size(shingles)``
      alongside the explode re-ran the whole tokenize+n-gram pipeline
      once per shingle (measured 24 s vs 0.7 s on a 5k-doc corpus);
      per-doc shingle counts are recovered relationally downstream
      (window count in the prefix ranker, array size in the verifier);
    * at corpus scale an exploded long relation shuffles and spills
      cleanly where an array-of-all-shingles column does not.

    ngram and MinHash calls with the same (df, text_col, id_col, n)
    produce plan-equal frames, so the cache is built once per corpus and
    shared across the whole dedup suite."""
    # repartition BEFORE the explode: the tokenize+n-gram+hash pipeline is
    # the expensive part, and below the explode it runs inside the SCAN
    # stage — one task per input split, i.e. single-threaded on a small
    # corpus file (measured 3.2 s vs 0.7 s at sf0.1).  Hashing the raw
    # docs by id first (a) fans the HOF work across the cluster and
    # (b) still leaves the cached relation hash-partitioned by id for the
    # prefix ranker's window and the verifier's per-doc aggregations.
    # One partition per core (defaultParallelism, as in
    # design.repartition_big_design), not spark.sql.shuffle.partitions:
    # AQE never coalesces a cached relation's partitioning, so every
    # partition-local aggregation, window and join below the cache runs
    # one task per cached partition (32 under the session default).
    cores = df.sparkSession.sparkContext.defaultParallelism
    out = (df.repartition(cores, F.col(id_col))
           .select(F.col(id_col).alias("id"),
                   F.explode(shingle_hashes(F.col(text_col), n))
                   .alias("gh"))
           .cache())
    # registered for bulk release (cachereg.release_dedup_caches)
    return register_cache(out)


def _verify_jaccard(cand: DataFrame, inv: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs through per-doc
    shingle-hash ARRAYS: re-pack the (cached) inverted index into one
    distinct-hash array per doc, join each candidate to its two arrays by
    id, and count the intersection natively (``array_intersect``) per
    pair.  J = |∩| / (na + nb − |∩|); pairs with an empty intersection
    drop out, matching the old join-through-the-index semantics at any
    threshold.

    Why arrays here (and only here): the former relational verify joined
    candidates through the EXPLODED index — |cand| × na intermediate rows
    shuffled into a second (id_b, gh) join (62M rows at sf1 for 1.2M
    candidates).  Re-packed arrays move each candidate doc's shingle set
    ONCE per side — candidate-proportional bytes, ~50× fewer rows, and
    the intersection runs as a codegen'd expression instead of a
    shuffle+aggregate (measured 9-11 s → 2-4.5 s for the sf1 verify step,
    bit-identical output).  The arrays are never cached (the cached
    currency stays the primitive-long exploded relation — see
    :func:`_shingle_inv`) and each array is bounded by its own doc's
    distinct-shingle count, the same per-doc bound the exploded rows
    carry."""
    arrs = inv.groupBy("id").agg(F.collect_list("gh").alias("ghs"))
    a = arrs.select(F.col("id").alias("id_a"), F.col("ghs").alias("gha"))
    b = arrs.select(F.col("id").alias("id_b"), F.col("ghs").alias("ghb"))
    inter = F.size(F.array_intersect("gha", "ghb"))
    return (cand.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", inter.alias("inter"),
                    F.size("gha").alias("na"), F.size("ghb").alias("nb"))
            .withColumn("jaccard", F.col("inter")
                        / (F.col("na") + F.col("nb") - F.col("inter")))
            .where((F.col("inter") > 0)
                   & (F.col("jaccard") >= threshold))
            .select("id_a", "id_b", "jaccard"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, shingle_size: int = 3,
                      threshold: float = 0.7,
                      scheme: str = "oph") -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact-Jaccard verification.

    banding: ``num_hashes`` minhash slots split into ``bands`` groups; docs
    sharing any (band, band-hash) bucket become candidates.

    ``scheme='oph'`` (default) — one-permutation hashing, fully relational:
    ONE explode of the shingle-hash array, ``groupBy(id, bin).min`` for the
    per-bin minima (bin = h mod num_hashes), ``groupBy(id, band)`` packing
    each band's (bin, min) set into a 64-bit bucket key.  One hash per
    shingle instead of ``num_hashes``; everything whole-stage codegen, no
    per-seed HOF loops.  Empty bins simply drop out of the band key (two
    near-dups share their empty bins too, so collision behavior is
    preserved).  This is also the shape that scales: explode + two
    map-side-combined groupBys + an equi-join on small keys.

    ``scheme='classic'`` — per-seed rehash signature
    (:func:`minhash_signature`), kept for signature-level parity.
    """
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a positive multiple of "
            f"bands={bands}: a non-dividing split silently changes the "
            "effective banding (and bands > num_hashes would degenerate "
            "to one all-docs bucket)")
    rows = num_hashes // bands
    inv = _shingle_inv(df, text_col, id_col, shingle_size)
    if scheme == "oph":
        binned = (inv.withColumn("bin",
                                 F.pmod(F.col("gh"), F.lit(num_hashes))
                                 .cast("int"))
                  .groupBy("id", "bin").agg(F.min("gh").alias("mh")))
        banded = (binned
                  .withColumn("band", (F.col("bin") / rows).cast("int"))
                  .groupBy("id", "band")
                  # the key hashes (bin, minimum) PAIRS — value-only keys
                  # would collide docs whose minima land in different
                  # bins of the band but form the same value sequence
                  # (cost-only: verification is exact, but the banding
                  # is supposed to exclude structurally-unrelated pairs)
                  .agg(F.xxhash64(F.concat_ws(",", F.transform(
                      F.sort_array(F.collect_list(F.struct("bin", "mh"))),
                      lambda s: F.concat_ws(":", s["bin"].cast("string"),
                                            s["mh"].cast("string")))))
                      .alias("bucket")))
    else:
        with_sig = df.select(
            F.col(id_col).alias("id"),
            _minhash_from_hashes(
                shingle_hashes(F.col(text_col), shingle_size),
                num_hashes).alias("sig"))
        banded = with_sig.select(
            "id",
            F.explode(F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(
                        ",",
                        F.transform(F.slice(F.col("sig"), b * rows + 1, rows),
                                    lambda x: x.cast("string"))))
                    .alias("bucket")))).alias("bb")) \
            .select("id", "bb.band", "bb.bucket")
    # cache + eager count: the band self-join reads `banded` twice, and a
    # lazily-cached relation double-computes in one composed query (see
    # the ranked.count() note in ngram_jaccard_pairs).  For the OPH
    # scheme this also materializes the shared shingle index as a
    # byproduct; the classic scheme's banded derives from df directly,
    # so inv is first computed by _verify_jaccard's single array
    # re-pack, landing in the cache as it streams through
    banded = register_cache(banded.cache())
    banded.count()
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (left.join(right, [F.col("l.band") == F.col("r.band"),
                              F.col("l.bucket") == F.col("r.bucket"),
                              F.col("l.id") < F.col("r.id")])
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    return _verify_jaccard(cand, inv, threshold)


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", **lsh_kwargs) -> DataFrame:
    """Drop near-duplicates: for every verified pair, the higher id loses.

    (Single-link transitive closure is iterative; this one-round greedy drop
    is the standard first pass and removes every detected pair.)
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, **lsh_kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_masks(bits: int) -> list[int]:
    """Signed-64 bit masks 1<<i (i=63 wraps to the sign bit)."""
    return [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]


def simhash(text: Column | str, bits: int = 64) -> Column:
    """SimHash: per-bit majority vote over token hashes, packed into a long.

    Shift amounts can't be lambda variables in Spark SQL, so bit tests use a
    literal mask array instead (h & mᵢ ≠ 0).
    """
    # hash each token ONCE (HOF lambdas are interpreted per element — an
    # xxhash64 inside the mask loop would run 64× per token)
    hashes = F.transform(tokens(text), lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _bit_masks(bits)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks,
                        lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, b: a + b))
    packed = F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x))
    return packed


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """(id, sig) via the relational formulation: explode tokens, hash each
    once, ``groupBy(id)`` with one conditional SUM per bit (whole-stage
    codegen, map-side combined), then pack the majority bits.  Same result
    as the :func:`simhash` Column (ties → 0), ~2× faster than the per-token
    HOF vote and the shape that scales (shuffle payload: 65 longs per doc).
    """
    masks = _bit_masks(bits)
    # bind_once keeps the tokenizing split out of the per-output-row
    # re-evaluation Generate does for non-codegen generator inputs
    # pre-repartition: below the explode the tokenizer runs in the scan
    # stage (one task per input split) — same fix as _shingle_inv, and
    # sized to the cores for the same reason: simhash_pairs caches this
    # relation, and a cached relation's partitioning is never coalesced
    cores = df.sparkSession.sparkContext.defaultParallelism
    toks = (df.repartition(cores, F.col(id_col))
            .select(F.col(id_col).alias("id"),
                    F.explode(bind_once(tokens(F.col(text_col)),
                                        lambda x: x)).alias("t"))
            .withColumn("h", F.xxhash64("t")))
    # collapse repeated tokens BEFORE the 64 bit-test sums: natural text
    # repeats tokens (measured 2.33× on this corpus at sf0.1 and sf1),
    # and grouping by (id, h) on id-partitioned rows is partition-local
    # (HashPartitioning(id) clusters every (id, h) group), so the cheap
    # count pass adds no exchange while the wide bit-test aggregation
    # then runs over distinct hashes weighted by their counts — exact:
    # Σ_tokens bit(h) = Σ_distinct c·bit(h).  The per-bit aggregates are
    # single parsed SQL strings (one py4j call each instead of ~6 — the
    # thread sample put ~0.3-0.45 s of driver time in Column chatter);
    # shiftleft(1L, i) folds to the same signed-64 mask constants.
    cnts = toks.groupBy("id", "h").agg(F.count(F.lit(1)).alias("c"))
    votes = cnts.groupBy("id").agg(
        F.sum("c").alias("n"),
        *[F.expr(
            f"sum(CASE WHEN (h & shiftleft(CAST(1 AS BIGINT), {i})) != 0 "
            f"THEN c ELSE CAST(0 AS BIGINT) END) AS b{i}")
          for i in range(len(masks))])
    # shallow aggregate-over-zip instead of a 64-deep bitwiseOR chain —
    # identical values (ties → 0), but the nested chain made Janino
    # compile a 64-level expression tree (seconds of cold-start per plan)
    masks_arr = F.expr("array(" + ", ".join(
        f"shiftleft(CAST(1 AS BIGINT), {i})"
        for i in range(len(masks))) + ")")
    bvals = F.expr("array(" + ", ".join(
        f"CAST(b{i} AS BIGINT)" for i in range(len(masks))) + ")")
    packed = F.aggregate(
        F.zip_with(bvals, masks_arr,
                   lambda v, m: F.when(v * 2 > F.col("n"), m)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))
    return votes.select("id", packed.alias("sig"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  chunks: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash with **block-combination** candidate keys
    (Manku, Jain & Das Sarma, WWW'07 §3): split the 64-bit signature into
    ``b`` blocks; if two signatures differ in at most ``k = max_hamming``
    bits, the differing bits touch at most ``k`` blocks, so AT LEAST
    ``m = b − k`` blocks are identical — joining candidates on every
    ``C(b, m)`` combination of ``m`` concatenated blocks therefore has
    the SAME exact-recall guarantee as an all-pairs scan, but the join
    key carries ``m·(64/b)`` selective bits instead of the single narrow
    chunk the naive pigeonhole uses.  Every candidate is then verified
    with an exact ``bit_count(xor)``, so precision is exact too.

    ``chunks`` is the block count ``b`` (legacy name kept for API
    compatibility).  The default picks ``b = 4`` for ``k ≤ 3`` — the
    classic 4×16-bit pigeonhole, C(4,1)=4 single-block keys of 16 bits —
    and ``b = k + 3`` otherwise (3 concatenated blocks per key): for
    ``k = 8`` that is C(11,3) = 165 keys of ~17 bits.  Versus a
    ``b = k + 1`` single-block scheme (7-bit keys, 128 distinct values →
    a Θ(n²/128) candidate join) the candidate volume drops from
    quadratic-with-a-small-constant to near-linear.  The block count
    trades two costs (measured at sf1, 50k docs / 1.05M true pairs):
    NARROW keys (b = k+2 → ~13 bits) let random bucket collisions blow
    up, while MANY combinations (b = k+4 → C(12,4)=495) multiply the
    duplicate-candidate mass — every hamming-0 pair matches all C(b,m)
    keys and each copy rides the dedup shuffle.  b = k+3 measured
    fastest at both scales (sf1 14.1 s vs 20.5 s for k+4 and 24.6 s for
    k+2); raise ``chunks`` toward k+4/k+5 for corpora where random
    collisions (huge n, few true pairs) dominate the duplicate mass.

    Scale shape: one explode to ``C(b, m)`` (id, sig, key) rows per doc
    (rows of three longs — ids-only shuffle payload), one equi-join on a
    single ≥16-bit long key, one dedup on the (bounded, output-sized)
    candidate set, then the exact verify.  No driver-side state.
    """
    k = max_hamming
    b = chunks if chunks is not None else (4 if k <= 3 else k + 3)
    if b < k + 1:
        raise ValueError(
            f"chunks={b} cannot guarantee recall at max_hamming={k}: "
            "block-combination candidates need at least max_hamming+1 "
            f"blocks — raise chunks to at least {k + 1} (or omit it)")
    if b > 64:
        raise ValueError(f"chunks={b} exceeds the 64 signature bits")
    m = b - k
    import math
    from itertools import combinations as _combinations
    n_combos = math.comb(b, m)
    if n_combos > 5000:  # check BEFORE materializing (C(32,16) is 6e8)
        raise ValueError(
            f"chunks={b} with max_hamming={k} yields C({b},{m})="
            f"{n_combos} combination keys per document — pick a "
            "smaller block count (b ≈ max_hamming + 4 keeps the "
            "fan-out bounded while the keys stay selective)")
    combos = list(_combinations(range(b), m))
    # distribute the 64 bits over b blocks as evenly as possible
    widths = [64 // b + (1 if i < 64 % b else 0) for i in range(b)]
    offs = [sum(widths[:i]) for i in range(b)]
    # two primitive longs per doc; cached so the candidate join, the
    # expansion joins, and the within-group join share one token-vote
    # aggregation.  Eager: the join sides would otherwise re-run the
    # vote agg before the cache populates (see the ranked.count() note
    # in ngram_jaccard_pairs).
    sigs = register_cache(simhash_signatures(df, text_col, id_col).cache())
    sigs.count()
    # candidates are generated over DISTINCT signatures, then verified
    # signature pairs expand back to member pairs.  A dedup corpus is
    # duplicate-heavy by construction: a cluster of m identical texts
    # shares one signature, so the naive per-document join emits every
    # one of its C(m,2) member pairs from EVERY matching combination
    # (C(b, b-k) copies each through the dedup shuffle), while the
    # distinct-signature join emits each signature pair once and the
    # member pairs materialize exactly once in the expansion join.
    reps = sigs.select("sig").distinct()
    # per-signature block values, computed once and carried through the
    # combo fan-out
    blk = F.array(*[
        F.shiftright(F.col("sig"), offs[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1).cast("long"))
        for i in range(b)])
    # one long per combination: xxhash64(combo_id, selected blocks) — a
    # single equi-join column covering both "same combination" and "same
    # key", with no bit-packing width limit (equal blocks hash equal, so
    # recall is untouched; a 64-bit hash collision can only ADD a
    # candidate, which the exact verify below drops).
    # The fan-out to C(b, m) rows per doc goes through a broadcast cross
    # join against a tiny (cid, i0..i{m-1}) table rather than exploding a
    # literal array of C(b, m) key expressions — the latter is a single
    # generated consume function of ~500×m hash terms, which blows
    # Janino's 64 KB method limit and silently drops the whole stage to
    # the interpreted path (measured ~10× slower).  The table is built in
    # the JVM: one range row per combination picks its block indices
    # from constant-folded literal arrays (cid is bigint: xxhash64 hashes
    # by type, so the key values depend on it).  A createDataFrame of
    # Python tuples would scan a pickled Python RDD, i.e. start a Python
    # worker per call.
    combo_df = df.sparkSession.range(0, n_combos, 1, 1).selectExpr(
        "id AS cid",
        *[f"element_at(array({', '.join(str(c[j]) for c in combos)}), "
          f"CAST(id + 1 AS INT)) AS i{j}" for j in range(m)])
    key = F.xxhash64(
        F.col("cid"),
        *[F.element_at(F.col("blk"), (F.col(f"i{j}") + 1).cast("int"))
          for j in range(m)])
    keyed = (reps.withColumn("blk", blk)
             .join(F.broadcast(combo_df))
             .select("sig", key.alias("key")))
    left, right = keyed.alias("l"), keyed.alias("r")
    sig_pairs = (left.join(right, [F.col("l.key") == F.col("r.key"),
                                   F.col("l.sig") < F.col("r.sig")])
                 .select(F.col("l.sig").alias("sig_a"),
                         F.col("r.sig").alias("sig_b"))
                 .dropDuplicates(["sig_a", "sig_b"])
                 .withColumn("hamming",
                             hamming64(F.col("sig_a"), F.col("sig_b"))
                             .cast("int"))
                 .where(F.col("hamming") <= max_hamming))
    # REJECTED with measurements (r12): canonical-combination emission
    # (keep a pair only at the first m-subset of its equal-block set,
    # removing this dropDuplicates exchange outright) was implemented,
    # verified output-identical at k=2/3/5/8, and measured a wash-to-
    # slower at both scales: Catalyst already pushes the hamming filter
    # BELOW this aggregate (the filter depends only on the grouping
    # keys), so the dedup exchange only ever carries hamming-qualified
    # pairs, while the canonical test pays an 11-term equal-block CASE
    # chain on every raw join match (measured 86M rows at sf1).
    # expansion: every member pair of a verified signature pair, each
    # exactly once (the signature pair is unique, so no dedup needed);
    # least/greatest restores the id_a < id_b contract
    ma = sigs.select(F.col("id").alias("__ia"), F.col("sig").alias("sig_a"))
    mb = sigs.select(F.col("id").alias("__ib"), F.col("sig").alias("sig_b"))
    cross = (sig_pairs.join(ma, "sig_a").join(mb, "sig_b")
             .select(F.least("__ia", "__ib").alias("id_a"),
                     F.greatest("__ia", "__ib").alias("id_b"),
                     "hamming"))
    # identical-signature members pair among themselves at hamming 0
    within = (sigs.alias("a")
              .join(sigs.alias("b"),
                    [F.col("a.sig") == F.col("b.sig"),
                     F.col("a.id") < F.col("b.id")])
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"),
                      F.lit(0).cast("int").alias("hamming")))
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        prefix_filter: bool = True) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold, via inverted-index join
    with PREFIX FILTERING (exact, no candidates lost).

    Prefix-filter principle: order the shingle universe globally by
    (frequency, hash); if J(a,b) ≥ t then a and b must share a shingle within
    each document's first ⌊(1−t)·|sh|⌋+1 shingles of that order. Indexing only
    those prefixes shrinks the candidate join by orders of magnitude on dense
    corpora while staying exact — candidates are then verified with the
    true Jaccard against per-doc shingle-hash arrays
    (:func:`_verify_jaccard`; the candidate/prefix exchanges stay
    primitive longs, arrays appear only in the final candidate-
    proportional verification join).
    """
    inv = _shingle_inv(df, text_col, id_col, n)
    # per-doc shingle count, recovered over the same partition-by-id
    # exchange the prefix ranker needs anyway (inv deliberately carries no
    # size column — see _shingle_inv)
    w_id = Window.partitionBy("id")
    if prefix_filter:
        freq = inv.groupBy("gh").count()
        # doc-frequency pruning: a df==1 shingle can never produce a
        # candidate — drop AFTER rank assignment (prefix positions stay
        # exact) to shed the singleton mass from the join
        ranked = (inv.join(freq, "gh")
                  .withColumn("n_sh", F.count(F.lit(1)).over(w_id))
                  .withColumn("rk", F.row_number().over(
                      Window.partitionBy("id").orderBy("count", "gh")))
                  .where(F.col("rk") <=
                         F.floor((1.0 - threshold) * F.col("n_sh")) + 1)
                  .where(F.col("count") >= 2)
                  .select("id", "n_sh", "gh", "rk")
                  .cache())
        ranked = register_cache(ranked)
    else:
        ranked = (inv.withColumn("n_sh", F.count(F.lit(1)).over(w_id))
                  .withColumn("rk", F.row_number().over(
                      Window.partitionBy("id").orderBy("gh")))
                  .select("id", "n_sh", "gh", "rk")
                  .cache())
        ranked = register_cache(ranked)
    # EAGERLY materialize before the self-join: a lazily-cached relation
    # referenced on both sides of one composed query gets its (freq join +
    # two windows) plan evaluated once per side before any block lands in
    # the cache — measured 12.6 s vs 4.1 s for the whole pair query at
    # sf0.1.  Four primitive longs per surviving prefix shingle — tiny.
    ranked.count()
    l, r = ranked.alias("l"), ranked.alias("r")
    # length filter: J(a,b) ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t — prunes candidates
    # before the (expensive) exact verification, exactly.  The positional
    # filter (PPJoin, Xiao et al. 2008) is exact too, and is applied in
    # its ACCUMULATED form over all shared prefix shingles of a pair:
    # with c = |prefix(a) ∩ prefix(b)| and (il, jr) the per-doc ranks of
    # the globally-LAST shared prefix shingle, every other common shingle
    # of the pair ranks after (il, jr) in BOTH docs — doc-local row
    # numbers follow the one global (doc-frequency, hash) order, so a
    # common shingle ranked before il in doc a would also rank before
    # jr ≤ |prefix(b)| in doc b and be counted in c already.  Hence
    # overlap ≤ c + min(na − il, nb − jr), and J ≥ t needs overlap ≥
    # ⌈t/(1+t)·(na+nb)⌉.  This bound is provably ≤ the per-event bound
    # 1 + min(na − rk_l, nb − rk_r) at the FIRST shared shingle (ranks of
    # the last shared shingle trail the first by ≥ c−1 on both sides), so
    # it prunes a superset of what the survive-if-ANY-event form pruned
    # while still losing no true pair; the groupBy that evaluates it is
    # the same pair-keyed exchange the old dropDuplicates paid, with
    # map-side partial aggregation collapsing the per-event rows.
    overlap_req = F.ceil(F.lit(threshold / (1.0 + threshold))
                         * (F.col("na") + F.col("nb")))
    cand = (l.join(r, [F.col("l.gh") == F.col("r.gh"),
                       F.col("l.id") < F.col("r.id"),
                       F.col("r.n_sh") >= threshold * F.col("l.n_sh"),
                       F.col("l.n_sh") >= threshold * F.col("r.n_sh")])
            .groupBy(F.col("l.id").alias("id_a"),
                     F.col("r.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("c"),
                 F.max("l.rk").alias("il"), F.max("r.rk").alias("jr"),
                 F.first("l.n_sh").alias("na"),
                 F.first("r.n_sh").alias("nb"))
            .where(F.col("c") + F.least(F.col("na") - F.col("il"),
                                        F.col("nb") - F.col("jr"))
                   >= overlap_req)
            .select("id_a", "id_b", "na", "nb"))
    verified = _verify_jaccard(cand, inv, threshold)
    # the pair relation is the COMPRESSED output (output-proportional, tiny
    # vs corpus) — cache it so downstream consumers (dedup drop, transitive
    # closure) and repeated identical calls reuse one computation
    return verified.cache()


# ---------------------------------------------------------------------------
# transitive closure — duplicate clusters from pairs
# ---------------------------------------------------------------------------


_MEMORY_UNITS = {"": 1 << 20, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                 "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                 "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}


def driver_edge_cutoff(memory: str) -> int:
    """Most edges :func:`connected_components` solves on the driver for
    a ``spark.driver.memory`` of ``memory`` (``8g``, ``512m``, ``2t``; a
    bare number is MiB, as Spark reads it): 20M edges per 8 GiB."""
    m = re.fullmatch(r"(\d+)\s*([a-z]*)", memory.strip().lower())
    if not m or m.group(2) not in _MEMORY_UNITS:
        raise ValueError(f"not a memory size: {memory!r}")
    return int(m.group(1)) * _MEMORY_UNITS[m.group(2)] * 20_000_000 \
        // (8 << 30)


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iterations: int = 20) -> DataFrame:
    """(id, component) for every id in the pair relation — component =
    MIN id reachable through the duplicate graph (transitive closure).

    Iterative min-label propagation with pointer jumping: each round every
    node takes the min of its own label, its neighbors' labels, AND its
    label's label (path halving) — one groupBy + two joins per round, all
    keyed shuffles, no driver state.  Plain propagation needs O(diameter)
    rounds; the pointer-jump join makes long chains converge in
    O(log diameter).  Dedup graphs are near-cliques, so 2-3 rounds are
    typical; ``localCheckpoint`` truncates the growing lineage.

    Use with any of the *_pairs outputs::

        comp = connected_components(minhash_lsh_pairs(df))
        keep = comp.groupBy("component").agg(F.min("id").alias("keep_id"))
    """
    edges = (pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
             .where(F.col("u") != F.col("v")).distinct()
             .localCheckpoint(eager=True))
    n_edges = edges.count()
    id_type = dict(zip(pairs.schema.names,
                       [f.dataType.simpleString()
                        for f in pairs.schema.fields]))[a_col]
    if n_edges == 0:
        return pairs.sparkSession.createDataFrame(
            [], f"id {id_type}, component {id_type}")
    # small graphs (the normal case: pairs are the COMPRESSED dedup output)
    # solve on the driver — the distributed loop costs ~20 scheduled jobs,
    # pure overhead below millions of edges.  Vectorized min-label
    # propagation over DENSE indices (np.unique sorts ascending, so index
    # order == id order and min-index == min-id): every round takes each
    # node's label to the min across its edges, then pointer-jumps
    # (label <- label[label]) to a per-round fixpoint — the same fixpoint
    # as union-find with union-by-min, in O(m) numpy work per round and
    # O(log n) rounds, without the per-edge Python dict loop that
    # dominated the driver gap at sf1.
    # Cutoff (round-12 crossover A/B, SCALE.md): on a 4.1M-edge graph
    # (400k 5-cliques + a 100k chain) the driver branch runs 7-12 s vs
    # 125-131 s for the distributed loop (the chain costs it ~17
    # pointer-jump rounds of joins); at 20M edges the driver branch is
    # 23-34 s at 2.8 GB peak Python RSS (~0.14 GB per M edges), both
    # branches output-identical.  The cutoff scales with the driver's
    # memory: 20M edges (~3 GB of headroom) on the default 8g driver.
    memory = pairs.sparkSession.sparkContext.getConf().get(
        "spark.driver.memory", "1g")
    if n_edges <= driver_edge_cutoff(memory):
        import numpy as np
        import pandas as pd

        try:
            tbl = edges.toArrow()
            eu_raw = tbl.column(0).to_numpy(zero_copy_only=False)
            ev_raw = tbl.column(1).to_numpy(zero_copy_only=False)
        except Exception:                # non-Arrow-convertible id types
            ep = edges.toPandas()
            eu_raw = ep["u"].to_numpy()
            ev_raw = ep["v"].to_numpy()
        ids, inv = np.unique(np.concatenate([eu_raw, ev_raw]),
                             return_inverse=True)
        m = len(eu_raw)
        eu, ev = inv[:m], inv[m:]
        label = np.arange(len(ids), dtype=np.int64)
        while True:
            prev = label
            # min label across each edge, applied to both endpoints
            mn = np.minimum(label[eu], label[ev])
            label = label.copy()
            np.minimum.at(label, eu, mn)
            np.minimum.at(label, ev, mn)
            # pointer jumping: label[i] <= i stays invariant, so
            # label[label] only decreases — iterate to the round fixpoint
            while True:
                nxt = label[label]
                if np.array_equal(nxt, label):
                    break
                label = nxt
            if np.array_equal(label, prev):
                break
        out = pd.DataFrame({"id": ids, "component": ids[label]})
        # explicit schema: pandas inference would return bigint for
        # integer ids, making the output type depend on WHICH path ran
        # (empty / driver / distributed) instead of on the input type
        return pairs.sparkSession.createDataFrame(
            out, f"id {id_type}, component {id_type}")
    # size the iteration shuffles to the pair graph
    parts = int(max(2, min(200, n_edges // 500_000 + 2)))
    edges = edges.repartition(parts, "u").localCheckpoint(eager=True)
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    labels = (sym.groupBy("u").agg(F.min("v").alias("l"))
              .select(F.col("u").alias("id"),
                      F.least("u", "l").alias("label"))
              .localCheckpoint(eager=True))

    for _ in range(max_iterations):
        # neighbor labels
        nb = (sym.join(labels.withColumnRenamed("id", "v"), "v")
              .groupBy("u").agg(F.min("label").alias("nl"))
              .withColumnRenamed("u", "id"))
        stepped = (labels.join(nb, "id", "left")
                   .select("id", F.least("label",
                                         F.coalesce("nl", "label"))
                           .alias("label")))
        # pointer jumping: label <- label(label)
        parent = stepped.select(F.col("id").alias("label"),
                                F.col("label").alias("gl"))
        jumped = (stepped.join(parent, "label", "left")
                  .select("id", F.least("label",
                                        F.coalesce("gl", "label"))
                          .alias("label"))
                  .localCheckpoint(eager=True))
        changed = (jumped.alias("n").join(
            labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label")))
        labels = jumped
        if changed.isEmpty():
            break

    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Drop ALL transitive near-duplicates, keeping each component's min id
    (the closure of the per-pair greedy drop in :func:`minhash_dedup`)."""
    comp = connected_components(pairs)
    losers = comp.where(F.col("id") != F.col("component")) \
                 .select(F.col("id").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Exact repeated-substring spans (Lee et al. 2021 "Deduplicating Training
# Data Makes Language Models Better" — the EXACT-substring criterion, as
# opposed to the whole-document Jaccard family above)
# ---------------------------------------------------------------------------


def repeated_substring_spans(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", n: int = 10,
                             min_run_tokens: int = 30,
                             max_gram_df: int = 50) -> DataFrame:
    """Cross-document EXACT repeated token spans of ≥ ``min_run_tokens``.

    Relational restatement of the suffix-array criterion: a shared span of
    L tokens is exactly a DIAGONAL run of L−n+1 matching positional
    n-grams (pos_a − pos_b constant, positions consecutive).  Shape:

    1. explode positional n-gram hashes — ONE pass, (id, pos, gram64);
    2. drop grams appearing in only one document (cannot witness a
       cross-doc span) and grams with document frequency > ``max_gram_df``
       (boilerplate n-grams — their pair join is df², the quadratic
       blow-up; the paper's suffix-array also caps bucket depth.  Dropping
       a gram can only SPLIT a reported span, never invent one);
    3. self-join on gram64 (id_a < id_b) — candidate volume is
       Σ df²_bounded, output-proportional for near-dup corpora;
    4. per (id_a, id_b, pos_a − pos_b) diagonal: a run is a maximal
       consecutive pos_a chain — grouped with the classic
       row_number-difference trick (one window over the matched relation,
       partitioned by pair+diagonal, never the corpus).

    Returns (id_a, id_b, start_a, start_b, run_tokens) with
    run_tokens = matched-gram chain length + n − 1 ≥ ``min_run_tokens``.
    """


    tk = tokens(F.col(text_col))
    # docs shorter than n tokens cannot contain a full n-gram — without
    # this filter ngram_transform's single truncated gram would fabricate
    # an n-token "span" from any sub-n exact match
    grams = (df.where(F.size(tk) >= n)
             .select(F.col(id_col).alias("id"),
                     F.posexplode(ngram_transform_hashed(tk, n))
                     .alias("pos", "g")))
    # document frequency per gram — map-side-combined count over distinct
    # (gram, id); bounded grams keep the pair join output-proportional
    gdf = (grams.select("g", "id").distinct()
           .groupBy("g").agg(F.count(F.lit(1)).alias("df"))
           .where((F.col("df") >= 2) & (F.col("df") <= max_gram_df)))
    pruned = grams.join(gdf, "g")
    l, r = pruned.alias("l"), pruned.alias("r")
    matched = (l.join(r, [F.col("l.g") == F.col("r.g"),
                          F.col("l.id") < F.col("r.id")])
               .select(F.col("l.id").alias("id_a"),
                       F.col("r.id").alias("id_b"),
                       F.col("l.pos").alias("pos_a"),
                       F.col("r.pos").alias("pos_b"))
               .withColumn("diag", F.col("pos_a") - F.col("pos_b")))
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = (matched
            .withColumn("rn", F.row_number().over(w))
            .withColumn("grp", F.col("pos_a") - F.col("rn"))
            .groupBy("id_a", "id_b", "diag", "grp")
            .agg(F.min("pos_a").alias("start_a"),
                 F.min("pos_b").alias("start_b"),
                 (F.count(F.lit(1)) + n - 1).alias("run_tokens")))
    return (runs.where(F.col("run_tokens") >= min_run_tokens)
            .select("id_a", "id_b", "start_a", "start_b", "run_tokens"))


def ngram_transform_hashed(tk, n: int):
    """Positional n-gram 64-bit hashes of a bound token array (xxhash64 of
    the joined window — one hash per position, shared by
    :func:`repeated_substring_spans`)."""

    return bind_once(tk, lambda t: F.transform(
        ngram_transform(t, n), lambda s: F.xxhash64(s)))
