"""Deduplication operators for the training-data pipeline (X1/X2).

Exact dedup is a keyed aggregation; near-dup is hand-rolled MinHash+LSH in
pure DataFrame ops (shingle -> minhash signature -> band -> bucket join) —
no MLlib vector types, no UDFs, so the whole pipeline stays in codegen and
shuffles only (band_hash) keys at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, on: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic representative (min id) per key group.

    ``dropDuplicates`` keeps an *arbitrary* row — fine for semantics, wrong
    for reproducible pipelines and oracle checks; ``min_by`` pins the winner.
    One shuffle on the dedup key; at 100 TB prefer deduping on a 256-bit
    content fingerprint (functions.text.fingerprint_sha256) so the shuffle
    key is 32 bytes instead of the document body.
    """
    others = [c for c in df.columns if c not in on and c != id_col]
    return df.groupBy(*on).agg(
        F.min(id_col).alias(id_col),
        *[F.min_by(c, F.col(id_col)).alias(c) for c in others],
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    k: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact character-k-gram Jaccard near-dup pairs within blocks.

    Shingles are the distinct lowercased k-grams AS STRINGS (not hashed) so
    the arithmetic is exactly set intersection / union — the verifier-stage
    complement to MinHash (which estimates this quantity): at 100 TB, run
    ``minhash_near_dups`` to generate candidates, then this on the candidate
    pairs; standalone, ``block_cols`` (e.g. language + length bucket — near
    dups rarely differ much in length) bounds the quadratic self-join to
    within-block pairs, keeping the shuffle keyed on the block columns.

    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    Single int/int division -> bit-exact across engines.

    Internally shingles are xxhash64'd to longs before the pairwise
    intersections: |hashed A ∩ hashed B| = |A ∩ B| up to 64-bit collisions
    (P < 1e-14 per document), and primitive-long array intersection is ~5x
    cheaper than 5-char-string intersection — same Jaccard values, measured
    126s -> 23s for the sf0.1 contract query.
    """
    # lower() is projected ONCE per row before the transform: referencing it
    # inside the lambda would re-lowercase the whole document per shingle
    # index (O(len^2) per doc — measured 4x slower on the sf0.1 corpus).
    from ..functions.parallelism import spread_scan

    lowered = spread_scan(df.select(
        F.col(id_col).alias("__id"), *block_cols, F.lower(F.col(text_col)).alias("__lc")
    ))
    c = F.col("__lc")
    n = F.length(c)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(c.substr(i, F.lit(k))),
        )
    )
    sh = lowered.select("__id", *block_cols, shingles.alias("__sh"))
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    for bc in block_cols:
        cond = cond & (F.col(f"a.{bc}") == F.col(f"b.{bc}"))
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.col("a.__sh")) + F.size(F.col("b.__sh")) - inter
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_verified_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    candidate_threshold: float = 0.2,
    jaccard_threshold: float = 0.4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """The 100 TB near-dup path: MinHash-LSH candidate generation followed
    by EXACT Jaccard verification of candidates only.

    ``ngram_jaccard_pairs`` is exact but quadratic within blocks; this keeps
    its output semantics (true Jaccard, thresholded) while the pair count is
    bounded by LSH recall: the |D|^2 term never materializes, candidates are
    a few per document, and the verify stage re-joins each candidate pair to
    its two (hashed) shingle sets. Recall is tuned with (bands, rows/band,
    candidate_threshold) without changing the plan shape;
    ``max_bucket_size`` bounds the worst-case candidate quadratic (see
    ``minhash_near_dups``). The candidate list feeds both the semi-join
    and the pair join, and no exchange sits above it for the two to
    share, so it is checkpointed once (left lazy, the final plan re-ran
    the band self-join per consumer: 18 jobs against 15 and ~35 % more
    CPU at sf0.01). A checkpoint, never a persist: the CacheManager
    would match a later read of a rewritten corpus to cached pairs.

    Output: (id_a, id_b, jaccard) with jaccard >= jaccard_threshold.
    """
    cand = minhash_near_dups(
        df, text_col, id_col, shingle_k, num_hashes, bands,
        jaccard_threshold=candidate_threshold,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b").localCheckpoint(eager=True)

    # Exact shingle sets only for documents that appear in a candidate pair
    # (semi-join): at scale candidates are a vanishing fraction of the
    # corpus, so the verify stage's shingling cost tracks |candidates|, not
    # |corpus|.
    ids = cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    from ..functions.parallelism import spread_scan

    lowered = spread_scan(df.join(ids, id_col, "semi").select(
        F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__lc")
    ))
    c = F.col("__lc")
    n = F.length(c)
    sets = lowered.select(
        "__id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (shingle_k - 1), F.lit(1))),
                lambda i: F.xxhash64(c.substr(i, F.lit(shingle_k))),
            )
        ).alias("__sh"),
    )
    sa = sets.select(F.col("__id").alias("__ida"), F.col("__sh").alias("sh_a"))
    sb = sets.select(F.col("__id").alias("__idb"), F.col("__sh").alias("sh_b"))
    paired = (
        cand.join(sa, F.col("id_a") == F.col("__ida"))
        .join(sb, F.col("id_b") == F.col("__idb"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        paired.select(
            "id_a", "id_b", (inter.cast("double") / union).alias("jaccard")
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


_MERSENNE31 = 2147483647


def _shingles(c, k: int):
    """Character k-gram shingle hashes of a PRE-LOWERCASED text column,
    distinct, reduced mod 2^31-1 once here so the minhash lanes'
    universal-hash arithmetic stays overflow-free (the 31-bit collision loss
    is ~1e-5 per document — irrelevant to a similarity ESTIMATE).

    Callers must project ``lower(text)`` into a real column first: embedding
    ``lower()`` here would re-evaluate it per shingle index inside the
    transform lambda (no subexpression elimination in lambda bodies),
    turning shingling O(len^2) per document.
    """
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.pmod(F.xxhash64(c.substr(i, F.lit(k))), F.lit(_MERSENNE31))
        )
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Per document: distinct k-gram shingle hashes; minhash_i = min over
    shingles of xxhash64(shingle, seed_i) — implemented as
    ``xxhash64(concat(shingle, i))`` re-hash, i.e. num_hashes independent
    permutation approximations. Signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; documents sharing any band hash are
    candidates; candidates' exact signature agreement estimates Jaccard.

    Output: (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.

    Scale: the only shuffle is on (band_id, band_hash) — 16 bytes per doc
    per band; candidate verification re-joins signatures by id. The full
    |D|^2 comparison never materializes. For a 100 TB corpus raise bands
    for recall or shingle_k for precision; the plan shape is unchanged.

    The signature table feeds both sides of the band self-join and the
    hot-bucket count; all three read one signature exchange (exchange
    reuse), so the corpus is shingled once per action without a cache.
    Signatures are ~1000x smaller than the documents (num_hashes longs
    per doc); at 100 TB the production form writes them to a table once
    and joins from there.

    ``max_bucket_size`` drops band buckets holding more than that many
    documents BEFORE the self-join: a bucket of B members contributes
    B^2/2 candidate pairs, so one adversarial bucket (boilerplate corpora,
    low-entropy shingles) can turn the candidate join quadratic. Oversized
    buckets are overwhelmingly template/boilerplate collisions, and a
    document in a dropped bucket still pairs through its other bands —
    dropping costs bounded recall, never precision (every surviving pair is
    still exact-verified downstream in the verified path). ``None``
    disables the cap. The cap costs one partial-aggregated count over
    (band, bucket) keys — negligible next to the self-join it bounds.
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes

    sig = minhash_signatures(df, text_col, id_col, shingle_k, num_hashes)
    banded = _band_buckets(sig, bands, rows_per_band)
    banded = _drop_hot_buckets(banded, max_bucket_size)
    return _pairs_from_banded(banded, num_hashes, jaccard_threshold)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    num_hashes: int = 32,
) -> DataFrame:
    """(__id, __sig: array<long>) MinHash signature table — the persistent
    INDEX of the near-dup pipeline. Signatures are ~1000x smaller than the
    documents; at 100 TB the production form lands this frame to a table
    once and every later batch joins against it (see
    ``minhash_near_dups_incremental``) instead of re-shingling the corpus.

    Signatures via explode + num_hashes straight-line min() aggregates:
    each exploded shingle evaluates every lane as plain codegen'd
    arithmetic and partial aggregation combines map-side, so the shuffle
    carries one partially-minimized row per (doc, partition). Measured
    2-3x faster than the array-fold/zip_with form, whose nested lambdas
    run interpreted (sf0.1 corpus: 9.6s -> 3.0s for the signature stage).

    Lanes are a universal-hash family over ONE base hash per shingle:
    lane_i(h) = (a_i * h + b_i) mod p with p = 2^31 - 1 (Mersenne) and
    a_i, b_i fixed constants from a seeded PRNG (deterministic across
    runs/engines — signatures computed in different rounds/batches are
    directly comparable). All values stay < 2^62 — ANSI-overflow-safe.
    """
    p = _MERSENNE31
    rng = __import__("random").Random(0x5EED)
    ab = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]
    from ..functions.parallelism import spread_scan

    lowered = spread_scan(df.select(
        F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__lc")
    ))
    exploded = lowered.select(
        "__id", F.explode(_shingles(F.col("__lc"), shingle_k)).alias("__sh")
    )
    mins = exploded.groupBy("__id").agg(
        *[
            F.min((F.lit(a) * F.col("__sh") + F.lit(b)) % F.lit(p)).alias(f"__m{i}")
            for i, (a, b) in enumerate(ab)
        ]
    )
    return mins.select(
        "__id", F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("__sig")
    )


def _band_buckets(
    sig: DataFrame, bands: int, rows_per_band: int, extra: list[str] | None = None
) -> DataFrame:
    """Explode a signature frame into one row per (doc, band) with the
    band's bucket hash; ``extra`` columns are carried through."""
    extra = extra or []
    return sig.select(
        "__id",
        "__sig",
        *extra,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "__id", "__sig", *extra,
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )


def _drop_hot_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    if max_bucket_size is None:
        return banded
    hot = (
        banded.groupBy("band", "bucket")
        .count()
        .where(F.col("count") > max_bucket_size)
        .select("band", "bucket")
    )
    return banded.join(hot, ["band", "bucket"], "left_anti")


def _pairs_from_banded(
    banded: DataFrame,
    num_hashes: int,
    jaccard_threshold: float,
    extra_cond=None,
) -> DataFrame:
    """Band-bucket self-join -> distinct candidate pairs -> signature-
    agreement Jaccard estimate, thresholded. ``extra_cond(a, b)`` adds a
    join predicate (e.g. the incremental at-least-one-new restriction)."""
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.__id") < F.col("b.__id"))
    )
    if extra_cond is not None:
        cond = cond & extra_cond(a, b)
    cand = (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sig").alias("sig_a"),
            F.col("b.__sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = cand.select(
        "id_a",
        "id_b",
        (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            )
            / F.lit(float(num_hashes))
        ).alias("est_jaccard"),
    )
    return est.where(F.col("est_jaccard") >= jaccard_threshold)


def minhash_near_dups_incremental(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup pairs TOUCHING the new batch only: new x corpus and
    new x new candidates, never corpus x corpus (those were resolved when
    the corpus was ingested). Returns ``(pairs, new_sigs)`` — append
    ``new_sigs`` to the signature index for the next batch.

    This is the 100 TB ingest shape: the corpus is never re-shingled —
    only the batch pays signature cost, and the band join's corpus side
    reads the persisted index. Signature lanes are deterministic across
    runs, so signatures computed in different batches are directly
    comparable; with the same parameters,
    full(corpus) ∪ incremental(batch) ≡ full(corpus ∪ batch)
    (pinned by test; the hot-bucket cap sees per-run bucket counts, so
    equality assumes buckets stay under the cap in both runs).
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    # Checkpointed, not cached: the pairs and the caller's index append
    # are two actions over new_sigs, and a checkpoint is never matched
    # by the CacheManager against a later read of a rewritten input.
    new_sigs = minhash_signatures(
        new_docs, text_col, id_col, shingle_k, num_hashes
    ).localCheckpoint(eager=True)

    all_sigs = corpus_sigs.select(
        "__id", "__sig", F.lit(False).alias("__new")
    ).unionByName(new_sigs.select("__id", "__sig", F.lit(True).alias("__new")))
    banded = _band_buckets(all_sigs, bands, rows_per_band, extra=["__new"])
    banded = _drop_hot_buckets(banded, max_bucket_size)
    pairs = _pairs_from_banded(
        banded,
        num_hashes,
        jaccard_threshold,
        extra_cond=lambda a, b: F.col("a.__new") | F.col("b.__new"),
    )
    return pairs, new_sigs


def edit_distance_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
    block_prefix: int = 8,
    qgram_block: int | None = None,
) -> DataFrame:
    """Near-dup pairs for SHORT strings (titles, names, product labels) by
    exact Levenshtein distance, quadratic only WITHIN blocks.

    Shingle/MinHash machinery misbehaves on strings shorter than a few
    shingles; entity-resolution practice uses edit distance with blocking.
    Candidates are pairs sharing either the first ``block_prefix`` chars
    or the LAST ``block_prefix`` chars (reversed-prefix key — identical
    expression in any engine, unlike negative-index substrings); the
    double key keeps every pair whose edits are confined to one end. A
    pair with at least one edit in the prefix AND one in the suffix
    evades both keys — the documented blocking recall trade (pinned by
    test) with the default keys.

    ``qgram_block=q`` (off by default) adds the standard third key that
    closes exactly that miss: a positional middle q-gram. Each string
    emits its centered ``q``-gram at alignment offsets ``-max_dist ..
    +max_dist`` (2*max_dist+1 keys); a pair whose edits are all confined
    to the two end zones has an untouched middle whose alignment shifts by
    at most ``max_dist``, so some offset pair collides — guaranteed catch
    for the both-ends case (pinned by test). Candidate cost: the block
    fan-out grows by ~(2*max_dist+1) exploded rows per string on the third
    key, and templated MIDDLES join the templated-prefix skew hazard (see
    PERF.md). Middle edits can still evade all three keys — blocking
    recall is always a key-coverage statement, not a proof.

    Output: (id_a, id_b, dist), id_a < id_b, dist <= max_dist. Shuffles
    only on the block keys; ``levenshtein`` runs JVM-side on
    candidates only. Block-size skew is the operator's hazard (empty or
    templated prefixes) — cap upstream via ``max_bucket_size``-style
    filtering if a corpus has degenerate keys.
    """
    t = df.select(
        F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__t")
    )

    def blocked(key):
        a = t.select(
            key(F.col("__t")).alias("__k"),
            F.col("__id").alias("id_a"),
            F.col("__t").alias("__ta"),
        )
        b = t.select(
            key(F.col("__t")).alias("__k"),
            F.col("__id").alias("id_b"),
            F.col("__t").alias("__tb"),
        )
        return a.join(b, "__k").where(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", "__ta", "__tb"
        )

    pre = blocked(lambda c: F.substring(c, 1, block_prefix))
    suf = blocked(lambda c: F.substring(F.reverse(c), 1, block_prefix))
    cand = pre.unionByName(suf)
    if qgram_block is not None:
        q = int(qgram_block)

        def mid_grams(c):
            # centered q-gram at alignment offsets -max_dist..+max_dist;
            # array_distinct collapses the fan-out for short strings where
            # shifted windows coincide
            mid = F.floor((F.length(c) - F.lit(q)) / 2) + 1
            return F.array_distinct(
                F.transform(
                    F.sequence(F.lit(-max_dist), F.lit(max_dist)),
                    lambda o: c.substr(
                        F.greatest(mid + o, F.lit(1)).cast("int"), F.lit(q)
                    ),
                )
            )

        g = t.select(
            "__id", "__t", F.explode(mid_grams(F.col("__t"))).alias("__k")
        )
        ga = g.select(
            "__k", F.col("__id").alias("id_a"), F.col("__t").alias("__ta")
        )
        gb = g.select(
            "__k", F.col("__id").alias("id_b"), F.col("__t").alias("__tb")
        )
        mid_pairs = (
            ga.join(gb, "__k")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__ta", "__tb")
        )
        cand = cand.unionByName(mid_pairs)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    return (
        cand.withColumn("dist", F.levenshtein("__ta", "__tb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def cdc_chunk_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 16,
    density: int = 64,
    min_chunk: int = 24,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, chunk_hash) — content-defined chunking (CDC) fingerprints:
    chunk boundaries fall where the hash of the ``window``-char context
    satisfies a 1/``density`` condition, so boundaries are determined by
    CONTENT, not position. A block of text shared between two documents
    produces the SAME interior chunks in both regardless of where the
    block sits — the property fixed-stride chunking lacks, and the basis
    of partial-overlap (substring) dedup: a doc quoting 30% of another
    shares ~30% of its chunks even when whole-document Jaccard is far
    below any near-dup threshold.

    Spark-first shape: boundary detection, chunk splitting, and chunk
    hashing are ONE projection of nested higher-order functions (filter /
    transform over a position sequence) — no UDFs, no shuffle; the output
    explodes to (id, chunk_hash) rows that shuffle only for the caller's
    groupBy. The O(len) per-position hashing is the algorithm's inherent
    cost (same class as shingling). ``portable_hash=True`` computes both
    the boundary condition and the chunk fingerprint with md5 (engine-
    portable; what the DuckDB oracle replays); the default xxhash64 is
    ~5x cheaper and is the production path (same split as
    ``minhash_near_dups`` vs ``ngram_jaccard_pairs``).

    Chunks shorter than ``min_chunk`` merge into the boundary decision
    window statistically (they are simply dropped): tiny chunks carry no
    dedup signal and would otherwise dominate the pair graph via common
    short strings. Duplicate chunk hashes within one document collapse
    (array_distinct) — self-repetition is ``rep_ngram_ratio``'s job.
    """
    from ..functions.parallelism import spread_scan

    c = F.lower(F.col(text_col))
    lowered = spread_scan(
        df.select(F.col(id_col).alias("__id"), c.alias("__lc"))
    )
    lc = F.col("__lc")
    n = F.length(lc)
    idx = F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1)))
    if portable_hash:
        is_boundary = lambda i: F.substring(  # noqa: E731
            F.md5(lc.substr(i, F.lit(window))), 1, 2
        ) < F.lit(format(256 // density, "02x"))
        chunk_hash = lambda s: F.md5(s)  # noqa: E731
    else:
        is_boundary = lambda i: F.pmod(  # noqa: E731
            F.xxhash64(lc.substr(i, F.lit(window))), F.lit(density)
        ) == 0
        chunk_hash = lambda s: F.xxhash64(s)  # noqa: E731
    bounds = F.concat(
        F.array(F.lit(1)),
        F.filter(idx, lambda i: (i > 1) & is_boundary(i)),
        F.array(n + 1),
    )
    # HOT-PATH HOIST: `bounds` costs O(len) hash evaluations. Referencing
    # the expression inside the transform lambda below would re-evaluate
    # it PER CHUNK (HOF lambdas re-evaluate captured expressions per
    # element — the rep_ngram_ratio lesson, ~20x here); projecting it to
    # a column first makes each element_at an O(1) attribute access.
    bounded = lowered.select("__id", "__lc", bounds.alias("__bounds"))
    bref = F.col("__bounds")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(bref) - 1),
        lambda j: lc.substr(
            F.element_at(bref, j),
            F.element_at(bref, j + 1) - F.element_at(bref, j),
        ),
    )
    hashes = F.array_distinct(
        F.transform(
            F.filter(chunks, lambda s: F.length(s) >= min_chunk), chunk_hash
        )
    )
    return bounded.select(
        "__id", F.explode(hashes).alias("chunk_hash")
    ).select(F.col("__id").alias(id_col), "chunk_hash")


def cdc_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 16,
    density: int = 64,
    min_chunk: int = 24,
    min_shared: int = 2,
    max_chunk_docs: int | None = 10_000,
    portable_hash: bool = False,
) -> DataFrame:
    """(id_a, id_b, shared_chunks) — partial-overlap candidate pairs from
    shared CDC chunks: documents sharing >= ``min_shared`` content-defined
    chunks, id_a < id_b. The substring-dedup modality MinHash misses: a
    long doc embedding a full copy of a short one scores near-zero
    whole-doc Jaccard but shares ALL the short doc's interior chunks.

    Scale shape mirrors the LSH band join: the only shuffle keys are
    chunk hashes; ``max_chunk_docs`` drops chunks present in more
    documents than the cap (corpus-wide boilerplate — navigation blocks,
    license headers — which ``remove_boilerplate`` handles; here they
    would only mint quadratic pairs with no dedup meaning), bounding the
    per-chunk join fan-out exactly like ``_drop_hot_buckets``.
    """
    ch = cdc_chunk_hashes(
        df, text_col, id_col, window, density, min_chunk, portable_hash
    )
    if max_chunk_docs is not None:
        w = ch.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("__d"))
        keep = w.where(F.col("__d") <= max_chunk_docs).select("chunk_hash")
        ch = ch.join(keep, "chunk_hash", "semi")
    a = ch.select(F.col(id_col).alias("id_a"), "chunk_hash")
    b = ch.select(F.col(id_col).alias("id_b"), "chunk_hash")
    return (
        a.join(b, "chunk_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
        .where(F.col("shared_chunks") >= min_shared)
    )


def dedup_repeated_blocks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block: int = 8,
) -> DataFrame:
    """Corpus-level EXACT substring dedup at block granularity (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    split every document into disjoint ``block``-token blocks, drop each
    block whose exact text already occurred EARLIER in the corpus (first
    occurrence wins, order = (id, block index) — total and
    content-addressed, so the survivor set never depends on layout), and
    rebuild the documents from the surviving blocks.

    The modality whole-document dedup misses: a boilerplate paragraph
    pasted into thousands of otherwise-unique pages is invisible to
    doc-level MinHash (every page is "unique") but exactly what the
    block pass removes. Complements `remove_boilerplate` (frequency-
    threshold segments) by catching even a SINGLE repetition, and
    `cdc_overlap_pairs` (pair detection) by actually rewriting the text.

    Output: (id, text_dedup, n_blocks, n_kept) — one row per input
    document; a fully-deduplicated document keeps its row with empty
    text (the trainer's length gate drops it, provenance intact).

    Scale design (100 TB): one `Generate` tokenize+chunk pass (stride =
    window — disjoint, so corpus volume is 1x, not window/stride x);
    first-occurrence winners via ONE groupBy(min struct) on the block
    text — shuffle bounded by DISTINCT block bytes, the same key class
    as exact dedup's sha-256 (hot keys are single blocks, bounded by
    construction since a block has <= corpus occurrences but constant
    size); one join back + per-doc rebuild via `array_sort` structs
    (the boilerplate rebuild — no window function). Three shuffles
    total, none corpus-quadratic.
    """
    from .chunking import chunk_documents

    chunks = chunk_documents(
        docs, text_col, id_col, window=block, stride=block
    )
    winner = chunks.groupBy("chunk_text").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__w")
    )
    kept = chunks.join(winner, on="chunk_text").where(
        (F.col(f"__w.{id_col}") == F.col(id_col))
        & (F.col("__w.chunk_idx") == F.col("chunk_idx"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks")
    )
    return (
        docs.select(id_col)
        .join(totals, on=id_col, how="left")
        .join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    fp_col: str,
    source_col: str,
) -> DataFrame:
    """(source_a, source_b, shared_fps, docs_a, docs_b, overlap_coef):
    the cross-source exact-duplicate matrix — "which feeds are
    re-crawling each other": for every unordered source pair, how many
    distinct content fingerprints appear in BOTH, normalized by the
    smaller side's distinct-fingerprint count (the overlap
    coefficient). The corpus-governance view that decides which source
    to DROP rather than dedup one document at a time — a pair with
    overlap_coef near 1 means one feed is a subset mirror of the other
    (reference analog: none; this is the X12 exact-dedup family lifted
    from row level to source level).

    source_a < source_b lexically; docs_a/docs_b are the sources'
    distinct-fingerprint counts (not row counts — re-posts within one
    source don't inflate the denominator). NULL fingerprints/sources
    are excluded. Pairs with zero overlap are absent (the matrix is
    sparse by construction).

    Scale: one distinct on (fingerprint, source) — partial-agg,
    32-byte keys — then a self-join ON FINGERPRINT whose per-key
    fan-out is bounded by |sources| (a fingerprint appears once per
    source after the distinct), never by duplicate family size; one
    final groupBy over at most |sources|^2 cells.
    """
    fs = (
        df.where(F.col(fp_col).isNotNull() & F.col(source_col).isNotNull())
        .select(F.col(fp_col).alias("__fp"), F.col(source_col).alias("__src"))
        .distinct()
    )
    per_src = fs.groupBy("__src").agg(
        F.count(F.lit(1)).alias("__nfp")
    )
    pairs = (
        fs.alias("l")
        .join(fs.alias("r"), "__fp")
        .where(F.col("l.__src") < F.col("r.__src"))
        .groupBy(
            F.col("l.__src").alias("source_a"),
            F.col("r.__src").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    na = per_src.select(
        F.col("__src").alias("source_a"), F.col("__nfp").alias("docs_a")
    )
    nb = per_src.select(
        F.col("__src").alias("source_b"), F.col("__nfp").alias("docs_b")
    )
    j = pairs.join(F.broadcast(na), "source_a").join(
        F.broadcast(nb), "source_b"
    )
    return j.select(
        "source_a",
        "source_b",
        F.col("shared_fps").cast("long").alias("shared_fps"),
        F.col("docs_a").cast("long").alias("docs_a"),
        F.col("docs_b").cast("long").alias("docs_b"),
        (
            F.col("shared_fps").cast("double")
            / F.least("docs_a", "docs_b").cast("double")
        ).alias("overlap_coef"),
    )
