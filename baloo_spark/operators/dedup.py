"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design notes (the point of each strategy at 100 TB):

- **exact**: one hash-groupBy shuffle on a 32-char key; AQE coalesces
  the post-shuffle partitions. The only full-data shuffle in the file.
- **MinHash+LSH**: k permutations of murmur shingle hashes -> b bands;
  candidate generation is groupBy(band, band_hash) — documents only
  meet if they collide in >=1 band, so the cross-product never
  materializes. Verification joins shingle sets for candidates only.
- **SimHash**: 64-bit signature per doc computed in ONE groupBy over
  exploded tokens (64 conditional sums = map-side combine friendly);
  near-dup candidates via 4x16-bit band collisions, verified with
  bit_count(xor) <= radius (both JVM intrinsics).
- **n-gram Jaccard**: exact verifier, also standalone for small
  blocks; array_intersect/array_union stay JVM-side.
- **embedding cosine**: see similarity.py; near-dup = cos >= tau.

All shingling/hashing is built-in-function only — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deterministic permutation parameters for MinHash (fixed seeds)
_MERSENNE = (1 << 61) - 1
# dedup_clusters solves a pair graph of up to this many edges on the
# driver (16 MB of Arrow longs); a larger one takes the Spark loop
_CC_DRIVER_MAX_EDGES = 1_000_000


def _perm_params(k: int):
    # fixed LCG so signatures are reproducible across runs/engines;
    # params kept to 31 bits so a*h fits in a signed long even with
    # ANSI overflow checking on (h is reduced to 31 bits too)
    params = []
    x = 0x243F6A8885A308D3
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x >> 16) & 0x7FFFFFFF
        y = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (y >> 16) & 0x7FFFFFFF
        params.append((a | 1, b))
    return params


def shingles(col, n: int = 3):
    """Character n-gram shingle array (distinct), JVM-side:
    transform(sequence(1, len-n+1), i -> substring(text, i, n))."""
    return F.array_distinct(
        F.expr(f"transform(sequence(1, greatest(length({col}) - {n - 1}, 1)), "
               f"i -> substring({col}, i, {n}))"))


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int,
              shingle: str, out: str = "sh") -> DataFrame:
    """(id, shingle-array) projection.

    For word shingles the token array is materialized as its own
    projection first: referencing the split inside the per-shingle
    lambda would re-tokenize the text for EVERY shingle index
    (O(words^2) per doc). Slicing a bound array attribute is O(n).

    Word shingles are distinct n-grams of the non-empty whitespace
    tokens (more discriminative than char shingles on natural text:
    unrelated documents sharing a vocabulary still share almost no
    word trigrams). ``text_col`` may already BE a token array
    (ArrayType) — a caller running several shingle widths over one
    corpus tokenizes once, checkpoints the arrays, and each width
    shingles the bound attribute directly (one regex-split pass over
    the corpus instead of one per width). Empty tokens are dropped on
    both paths, so a raw ``split(text, ' ')`` array shingles like its
    text.
    """
    if shingle == "word":
        from pyspark.sql.types import ArrayType
        dt = {f.name: f.dataType for f in df.schema.fields}.get(text_col)
        toks = (F.col(text_col) if isinstance(dt, ArrayType)
                else F.split(F.trim(F.col(text_col)), "\\s+"))
        t = df.select(F.col(id_col),
                      F.filter(toks, lambda x: x != F.lit(""))
                      .alias("__tok__"))
        sh = F.array_distinct(F.expr(
            f"transform(sequence(0, greatest(size(__tok__) - {n}, 0)), "
            f"i -> concat_ws(' ', slice(__tok__, i + 1, {n})))"))
        return t.select(F.col(id_col), sh.alias(out))
    if shingle == "char":
        # substring over a bound string attribute is already O(n)
        return df.select(F.col(id_col), shingles(text_col, n).alias(out))
    raise ValueError("shingle must be 'word' or 'char'")


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread a narrow input over the cluster: small files arrive as
    1-2 partitions, serializing all downstream compute. At 100 TB the
    scan naturally has thousands of partitions and this is a no-op.
    (Shared implementation: plans/layout.spread — the same fix applies
    to every expression-heavy operator family, not just dedup.)"""
    from ..plans.layout import spread
    return spread(df)


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text md5: one hash aggregation.
    Returns one row per distinct content with the kept (min) id and
    the duplicate count."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    return (df.select(F.md5(norm).alias("fingerprint"), F.col(id_col))
            .groupBy("fingerprint")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).cast("long").alias("n_copies")))


def incremental_dedup(new_docs: DataFrame, seen: DataFrame | None,
                      text_col: str = "text",
                      id_col: str = "doc_id"):
    """Incremental exact dedup for append-only corpora (the daily
    crawl-update pattern): drop new documents whose normalized content
    was already ingested in ANY previous batch, then dedupe within the
    batch itself.

    ``seen``: the historical fingerprint store — a DataFrame with a
    ``fingerprint`` column, normally last call's second output read
    back from parquet (None ⇒ first batch). Returns
    ``(survivors, seen_out)``:

    - ``survivors`` — one row per novel content (min ``id_col`` kept),
      with ``fingerprint`` attached for lineage;
    - ``seen_out`` — the updated store (old ∪ new fingerprints),
      written back for the next increment.

    Scale shape: the store is fingerprints only (32-byte md5 per
    DISTINCT content, not per document), so at 100 TB corpus scale it
    is ~1e9 rows of 32 bytes — a normal shuffle-join side, not a
    broadcast. One left-anti hash join against the store + one
    in-batch hash agg; the store update is a union the writer
    deduplicates for free (``seen_out`` is already distinct by
    construction).
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    fps = new_docs.select(F.md5(norm).alias("fingerprint"), F.col(id_col))
    if seen is not None:
        fresh = fps.join(seen.select("fingerprint"), "fingerprint",
                         "left_anti")
    else:
        fresh = fps
    survivors = (fresh.groupBy("fingerprint")
                 .agg(F.min(id_col).alias("keep_id"),
                      F.count(F.lit(1)).cast("long").alias("n_copies")))
    new_fps = survivors.select("fingerprint")
    seen_out = (new_fps if seen is None
                else seen.select("fingerprint").union(new_fps))
    return survivors, seen_out


def _minhash_sigs_from_shingles(shdf: DataFrame, id_col: str,
                                k: int) -> DataFrame:
    """Signature fold over an existing (id, shingle-array) table —
    split out (r11) so minhash_lsh_pairs can feed the SAME
    checkpointed shingle table to the fold and to both verify joins
    instead of re-shingling the corpus three times."""
    # reduce shingle hashes to 31 bits: (31b a) * (31b h) + (31b b)
    # stays under 2^63, overflow-safe under ANSI mode. The hash array
    # is materialized as its own projection: lambda subtrees defeat
    # Catalyst CSE, so inlining it into the signature fold would
    # re-shingle + re-hash the text per fold step.
    hashed = F.transform(F.col("sh"), lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 31)))
    base = shdf.select(F.col(id_col), hashed.alias("__hs__"))

    # ONE aggregate folding the hash array into a k-wide min array
    # (acc[j] = min over h of (a_j*h+b_j) mod M). A k-expression
    # alternative (k x array_min(transform)) produces identical
    # signatures but a k-times-larger codegen unit (~3.5x slower
    # first run from compile time alone). The (a, b) permutation
    # params ride along as ONE constant struct array so each fold
    # step allocates a single result array — the two-zip_with form
    # (zip a with b, then zip with acc) allocated an extra k-wide
    # intermediate per shingle, measured ~20% slower.
    params = _perm_params(k)
    ab = "array(" + ",".join(f"named_struct('a', {a}L, 'b', {b}L)"
                             for a, b in params) + ")"
    sig = F.expr(
        f"aggregate(__hs__, array_repeat({_MERSENNE}L, {k}), "
        f"(acc, h) -> zip_with(acc, {ab}, "
        f"(m, p) -> least(m, (p.a * h + p.b) % {_MERSENNE}L)))")
    return base.select(F.col(id_col), sig.alias("signature"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 64, bands: int = 16,
                      n: int = 3, threshold: float = 0.5,
                      verify: bool = True, shingle: str = "word") -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    k/bands rows per band; two docs become candidates iff a whole band
    matches. With k=64, b=16 (r=4) the LSH S-curve crosses ~0.5 — tune
    (k, bands) for the target threshold. ``verify`` recomputes exact
    shingle Jaccard for candidates and filters by ``threshold``.
    """
    r = k // bands
    # ONE shingle pass (r11): the signature fold and the two verify
    # joins used to build three separate _shingled plan instances —
    # Spark will not collapse them (no ReusedExchange across
    # instances under AQE), so the tokenize+shingle pipeline ran 3x
    # per invocation. One lazily-checkpointed shingle table feeds
    # all three (guide §2.4; the same trade ngram_jaccard_pairs
    # already makes for its four instances).
    sh = _shingled(_parallelize(df), text_col, id_col, n, shingle) \
        .localCheckpoint(eager=False)
    sigs = _minhash_sigs_from_shingles(sh, id_col, k)
    # band key = xxhash64 over the band's r signature slots directly
    # (multi-arg xxhash64 mixes natively — no per-band string concat/
    # allocation, which halved banding cost vs concat_ws)
    band_rows = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.xxhash64(*[F.element_at("signature", i * r + j + 1)
                                  for j in range(r)]).alias("bhash"))
            for i in range(bands)
        ])).alias("bk"),
    ).select(id_col, "bk.band", "bk.bhash")

    # candidates via bucket grouping, NOT a band_rows self-join: the
    # self-join's two sides are separate plan instances, so Spark
    # recomputes every signature twice (no ReusedExchange under AQE —
    # measured, and ~2x the whole stage). Grouping collects each
    # band-collision bucket once — one shuffle, signatures computed
    # once — and emits the i<j pairs per bucket with an array
    # comprehension. Bucket arrays are bounded by cluster size, which
    # is why exact-dedup runs BEFORE near-dup in the pipeline: a
    # megacluster of byte-identical docs would otherwise quadratically
    # blow up ANY LSH candidate generator, self-join included.
    buckets = (band_rows.groupBy("band", "bhash")
               .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
               .where(F.size("ids") > 1))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    cand = (buckets.select(F.explode(pair_expr).alias("p"))
            .select("p.id_a", "p.id_b").distinct())
    if not verify:
        return cand

    out = (cand
           .join(sh.withColumnRenamed(id_col, "id_a")
                 .withColumnRenamed("sh", "sh_a"), "id_a")
           .join(sh.withColumnRenamed(id_col, "id_b")
                 .withColumnRenamed("sh", "sh_b"), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / union
    return (out.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.4,
                        block_col=None, shingle: str = "char") -> DataFrame:
    """EXACT n-gram Jaccard similarity join — never a cross join.

    With ``block_col`` (e.g. language): equi-join within blocks.
    Without it: prefix filtering (PPJoin-family, Xiao et al. WWW'08 /
    Vernica et al. SIGMOD'10). Tokens get a global rarity order; each
    doc indexes only its first ``|s| - ceil(t*|s|) + 1`` rarest
    shingles. Any pair with Jaccard >= t provably shares a prefix
    token, so candidates form through an equi-join on the prefix
    token and the exact verify runs on candidates only. Same result
    set as the all-pairs join, no cartesian product at any size.
    """
    sh = _shingled(_parallelize(df), text_col, id_col, n, shingle)
    # the shingle table feeds BOTH sides of the candidate self-join
    # and both verify joins — four separate plan instances that Spark
    # will NOT collapse (no ReusedExchange across instances under
    # AQE). localCheckpoint materializes it once to executor-local
    # blocks; at 100 TB that is one write of the narrow (id, shingles)
    # projection vs re-running the tokenize+explode pipeline 4x —
    # the same trade dedup_clusters makes for its edge table.
    sh = sh.localCheckpoint(eager=False)
    if block_col:
        sh = sh.join(df.select(F.col(id_col), F.col(block_col)), id_col)
        a = sh.select(F.col(id_col).alias("id_a"),
                      F.col(block_col).alias("__blk__"),
                      F.col("sh").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"),
                      F.col(block_col).alias("__blk2__"),
                      F.col("sh").alias("sh_b"))
        joined = (a.join(b, F.col("__blk__") == F.col("__blk2__"))
                  .where(F.col("id_a") < F.col("id_b")))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        jac = F.when(union > 0, inter / union).otherwise(0.0)
        return (joined.select("id_a", "id_b",
                              F.round(jac, 6).alias("jaccard"))
                .where(F.col("jaccard") >= threshold))

    # ---- prefix-filtering path (exact, equi-join only) ----
    # carry only (id, len, token) through the freq join and rank
    # window: dragging the full shingle ARRAY through explode would
    # replicate it onto every token row (~50x wider shuffles — this
    # narrowing alone took the sf0.1 pipeline from 13.6s to ~5s)
    tok = sh.select(F.col(id_col), F.size("sh").alias("__len__"),
                    F.explode("sh").alias("__tok__"))
    freq = tok.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__tf__"))
    ranked = tok.join(freq, "__tok__")
    w = Window.partitionBy(id_col).orderBy(F.col("__tf__").asc(),
                                           F.col("__tok__").asc())
    ranked = ranked.withColumn("__pos__", F.row_number().over(w))
    # prefix length: |s| - ceil(t*|s|) + 1 (PPJoin Lemma 1)
    plen = (F.col("__len__")
            - F.ceil(F.lit(threshold) * F.col("__len__")) + 1)
    pref = ranked.where(F.col("__pos__") <= plen) \
        .select(id_col, "__tok__", "__len__", "__pos__") \
        .localCheckpoint(eager=False)  # both self-join sides reuse it:
    # without this the whole explode+freq-join+rank-window pipeline
    # runs twice (measured: the n=5 sf0.1 pipeline drops 5.1s -> 0.4s
    # with the two checkpoints)
    # candidate pruning BEFORE the distinct+verify joins:
    # - length filter: jaccard >= t forces t*|a| <= |b| <= |a|/t
    # - positional filter (PPJoin Lemma 2): a shared token at
    #   positions (pa, pb) caps the overlap at 1 + min(la-pa, lb-pb),
    #   which must reach ceil(t/(1+t) * (la+lb)); a truly-similar
    #   pair's first common prefix token always passes, so keeping a
    #   pair when ANY shared token passes never drops a true pair
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("__la__") + F.col("__lb__")))
    overlap_ub = 1 + F.least(F.col("__la__") - F.col("__pa__"),
                             F.col("__lb__") - F.col("__pb__"))
    cand = (pref.select(F.col(id_col).alias("id_a"), "__tok__",
                        F.col("__len__").alias("__la__"),
                        F.col("__pos__").alias("__pa__"))
            .join(pref.select(F.col(id_col).alias("id_b"), "__tok__",
                              F.col("__len__").alias("__lb__"),
                              F.col("__pos__").alias("__pb__")),
                  "__tok__")
            .where((F.col("id_a") < F.col("id_b"))
                   & (F.col("__la__") * threshold <= F.col("__lb__"))
                   & (F.col("__lb__") * threshold <= F.col("__la__"))
                   & (overlap_ub >= alpha))
            .select("id_a", "id_b").distinct())
    out = (cand
           .join(sh.select(F.col(id_col).alias("id_a"),
                           F.col("sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col(id_col).alias("id_b"),
                           F.col("sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(0.0)
    return (out.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over whitespace tokens.

    One explode + one groupBy: per bit position i, sum +1/-1 of token
    hash bit i; signature bit i set iff the sum is positive. The 64
    conditional sums combine map-side, so the shuffle carries 64 longs
    per doc regardless of document size.
    """
    toks = F.filter(F.split(F.trim(F.lower(F.col(text_col))), "\\s+"),
                    lambda x: x != F.lit(""))
    tok = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    tok = tok.withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else \
            F.when(F.col(f"b{i}") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_expr(text_col: str = "text"):
    """Per-row 64-bit SimHash as ONE array-fold Column expression —
    value-identical to :func:`simhash_signatures` (parity pinned in
    tests), but STATELESS: the explode+groupBy face is a streaming
    aggregation with unbounded per-doc state on a stream, while this
    fold is a plain projection usable in append mode. (Batch keeps
    the explode+groupBy face: its 64 conditional sums combine
    map-side, which wins on very large documents.)

    Tokenless rows fold to signature 0 (the groupBy face drops them
    instead — filter empty docs upstream where the distinction
    matters). shiftleft(1L, 63) wraps to the sign bit, matching the
    batch face's -(1<<63) term.
    """
    toks = (f"filter(split(trim(lower({text_col})), '\\\\s+'), "
            f"x -> x != '')")
    sums = (f"aggregate({toks}, array_repeat(0L, 64), "
            f"(acc, t) -> zip_with(acc, sequence(0, 63), "
            f"(a, i) -> a + CASE WHEN (shiftright(xxhash64(t), i) & 1) "
            f"= 1 THEN 1L ELSE -1L END))")
    return F.expr(
        f"aggregate(zip_with({sums}, sequence(0, 63), "
        f"(s, i) -> CASE WHEN s > 0 THEN shiftleft(1L, i) ELSE 0L END), "
        f"0L, (acc, x) -> acc + x)")


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", radius: int = 3) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= radius.

    Candidates via band collision with radius+1 disjoint bit chunks:
    by pigeonhole any pair within distance <= radius shares at least
    one unchanged chunk. Verified with bit_count(xor) — both JVM
    intrinsics. Larger radius => narrower chunks => more candidates;
    keep radius small (<=8) at scale.
    """
    n_bands = radius + 1
    # chunk boundaries over 64 bits, last chunk absorbs the remainder
    base = 64 // n_bands
    bounds = [(i * base, base if i < n_bands - 1 else 64 - (n_bands - 1) * base)
              for i in range(n_bands)]
    sigs = simhash_signatures(df, text_col, id_col)
    bands = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("simhash"), off)
                     .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk"))
            for i, (off, width) in enumerate(bounds)
        ])).alias("bk")
    ).select(id_col, "simhash", "bk.band", "bk.chunk")
    # bucket grouping instead of a bands self-join — the join's two
    # sides would recompute every signature (no ReusedExchange under
    # AQE; same fix as minhash_lsh_pairs above). sort_array on the
    # (id, sig) structs orders by id, so the comprehension emits
    # id_a < id_b pairs directly.
    buckets = (bands.groupBy("band", "chunk")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("simhash").alias("sig")))).alias("ds"))
               .where(F.size("ds") > 1))
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "x.sig AS sig_a, y.sig AS sig_b))))")
    cand = (buckets.select(F.explode(pair_expr).alias("p"))
            .select("p.id_a", "p.id_b", "p.sig_a", "p.sig_b").distinct())
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.select("id_a", "id_b", dist.cast("long").alias("hamming"))
            .where(F.col("hamming") <= radius))


def embedding_near_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         threshold: float = 0.95,
                         block: bool = True, planes=8,
                         target_bucket: int = 64,
                         seeds: list | None = None) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold.

    ``block=True`` buckets by random-hyperplane signature first (an
    LSH prefilter) so only same-bucket pairs are compared; near-
    identical vectors collide with high probability. block=False is
    the exact (quadratic) path for bounded inputs.

    Candidate counts scale ~n^2/2^planes at a FIXED plane count
    (measured in SCALING.md), so the production knob is planes ~
    log2(n): pass ``planes='auto'`` to size it from the corpus count
    (one cheap count job) targeting ``target_bucket`` expected rows
    per bucket — per-bucket pair work then stays constant as the
    corpus grows. Recall falls as planes rise; ``seeds=[0, 1, 2]``
    counters that: candidate pairs are generated under each seed's
    independent plane family and unioned (dropDuplicates on the id
    pair) before the cosine check — a pair missed by one family is
    found unless EVERY family splits it, so miss probability decays
    exponentially in len(seeds) while cost grows only linearly (all
    signatures ride in one checkpoint; the dedup shuffle is the same
    width as one seed's join output). seeds=None is the single-
    family (seed 0) path, bit-identical to prior rounds.
    """
    import math

    from .similarity import cosine_expr, hyperplane_sig
    if planes == "auto":
        n = df.count()
        planes = max(4, min(24, math.ceil(
            math.log2(max(n, 1) / target_bucket))
            if n > target_bucket else 4))
    v = _parallelize(df).select(F.col(id_col), F.col(vec_col).alias("v"))
    if block:
        # signature SELF-JOIN over a checkpointed signed table — NOT
        # the collect_list bucket grouping minhash/simhash use. Their
        # buckets hold ids only and are bounded by cluster size (exact
        # dedup runs first); here the bucket key is a 2^planes-value
        # hyperplane signature, so a bucket holds ~n/2^planes FULL
        # VECTORS — collect_list would build corpus-fraction-sized
        # single rows (the 2 GB row limit, one task) plus an O(B^2)
        # pair array per row. The join streams the same pairs through
        # a hash/sort-merge join at any bucket size (AQE splits skewed
        # signature keys). localCheckpoint materializes the signatures
        # once so the join's two plan instances don't recompute them
        # (the original motivation for bucket grouping, solved without
        # the giant rows).
        sds = [0] if seeds is None else list(seeds)
        v = v.select(
            "*", *[hyperplane_sig("v", planes, seed=s).alias(f"__sig{s}__")
                   for s in sds]).localCheckpoint()
        per_seed = []
        for s in sds:
            sig = f"__sig{s}__"
            a = v.select(F.col(sig),
                         F.col(id_col).alias("id_a"), F.col("v").alias("va"))
            b = v.select(F.col(sig),
                         F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
            per_seed.append(a.join(b, sig).drop(sig)
                            .where(F.col("id_a") < F.col("id_b")))
        joined = per_seed[0]
        for j in per_seed[1:]:
            joined = joined.unionByName(j)
        if len(sds) > 1:
            # a pair found by several families must score once
            joined = joined.dropDuplicates(["id_a", "id_b"])
    else:
        a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
        b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
        joined = a.crossJoin(b)
    joined = joined.where(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr("va", "vb")
    return (joined.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
            .where(F.col("cosine") >= threshold))


def _min_roots(u, v, n: int):
    """Component root of each of ``n`` nodes under the edges
    ``(u[i], v[i])``: the smallest node index of its component.
    Each round hooks the larger root of every edge that still joins
    two trees under the smaller one, then pointer-jumps until every
    node points straight at its root. Parents only ever decrease, so
    no cycle forms, and a component's minimum is never hooked."""
    import numpy as np

    parent = np.arange(n)
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            return parent
        ru, rv = ru[cross], rv[cross]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _driver_clusters(spark, edges, schema) -> DataFrame:
    """``(node, cluster)`` of the Arrow edge table ``edges`` (integer
    ``src``, ``dst``) solved in numpy and shipped back as one Arrow
    ``LocalRelation``, the route ``plans.ordinal.local_table`` takes.
    The rows are the distributed loop's: a NULL endpoint joins
    nothing, so an edge with one adds its other endpoint as a node
    of its own plus a single ``(NULL, NULL)`` row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    src, dst = edges.column("src"), edges.column("dst")
    whole = pc.and_(pc.is_valid(src), pc.is_valid(dst))
    lone = pc.invert(whole)
    u, v = (pc.filter(c, whole).to_numpy() for c in (src, dst))
    ids, inv = np.unique(np.concatenate(
        [u, v] + [pc.drop_null(pc.filter(c, lone)).to_numpy()
                  for c in (src, dst)]), return_inverse=True)
    m = len(u)
    cluster = ids[_min_roots(inv[:m], inv[m:2 * m], len(ids))]
    arrow = to_arrow_schema(schema)
    cols = [pa.array(a, type=f.type) for a, f in zip((ids, cluster), arrow)]
    if m < len(src):
        cols = [pa.concat_arrays([c, pa.nulls(1, c.type)]) for c in cols]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow),
                                 schema=schema)


def _loop_clusters(frozen: DataFrame, max_iters: int) -> DataFrame:
    """Min-label propagation over the frozen ``(src, dst)`` table: each
    round every node takes the smallest label among itself and its
    neighbours, and a component's diameter bounds the rounds. Each
    round localCheckpoints the labels (iterative Spark jobs otherwise
    stack lineage until planning dominates) and counts the labels it
    lowered; a last round that still lowered one raises."""
    edges = frozen.union(
        frozen.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    for _ in range(max_iters):
        neigh = (edges
                 .join(labels.select(F.col("node").alias("dst"),
                                     F.col("label").alias("dlabel")), "dst")
                 .groupBy("src").agg(F.min("dlabel").alias("nlabel")))
        new_labels = (labels
                      .join(neigh.withColumnRenamed("src", "node"),
                            "node", "left")
                      .select("node",
                              F.least(F.col("label"),
                                      F.coalesce("nlabel", "label"))
                              .alias("label"))).localCheckpoint()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.label") < F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster"))
    raise RuntimeError(
        f"dedup_clusters: labels still changed in round max_iters="
        f"{max_iters}; a component's diameter exceeds the cap")


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b", max_iters: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (node, cluster) where cluster = the MIN doc id in the node's
    component. Transitive closure — (1,2) and (2,3) put 1,2,3 in one
    cluster even though (1,3) was never emitted as a pair.

    The ``(src, dst)`` projection of ``pairs`` is frozen once with
    localCheckpoint, so neither path below re-runs the pair pipeline.
    Two paths, same rows:

    - **driver** (integer ids, at most ``_CC_DRIVER_MAX_EDGES`` pairs):
      one Arrow pull of the edges, components in numpy (hook and
      pointer-jump until no edge joins two trees), the result shipped
      back as one Arrow LocalRelation: the freeze and one pull,
      whatever the component diameter.
    - **distributed** (larger graphs, other id types): min-label
      propagation, two jobs per round; ``max_iters`` caps the rounds
      and a graph still changing at the cap raises ``RuntimeError``
      rather than return unconverged labels.
    """
    from pyspark.sql import types as T

    frozen = pairs.select(F.col(id_a).alias("src"),
                          F.col(id_b).alias("dst")).localCheckpoint()
    # the loop's node type: the union of both endpoint columns
    dtype = (frozen.select("src").union(frozen.select("dst"))
             .schema["src"].dataType)
    if isinstance(dtype, T.IntegralType):
        edges = frozen.limit(_CC_DRIVER_MAX_EDGES + 1).toArrow()
        if edges.num_rows <= _CC_DRIVER_MAX_EDGES:
            schema = T.StructType([T.StructField("node", dtype),
                                   T.StructField("cluster", dtype)])
            return _driver_clusters(frozen.sparkSession, edges, schema)
    return _loop_clusters(frozen, max_iters)


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Keep ONE representative (the min id) per near-duplicate
    cluster: the end-to-end dedup a training-data pipeline actually
    applies. Non-paired documents pass through untouched (they are
    not in the graph at all), so the anti-join is against the LOSER
    set only.

    No broadcast hint on purpose: the loser set scales with the
    corpus duplicate rate (30-50% on web crawls — billions of ids at
    100 TB), so forcing a broadcast OOMs every executor exactly when
    the operator matters most. A plain left_anti lets AQE broadcast
    when the losers actually fit and shuffle-join otherwise."""
    losers = dedup_clusters(pairs).where(F.col("node") != F.col("cluster")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")
