"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — all as
DataFrame compositions (hashes via JVM-side xxhash64/crc32 over shingle
arrays; no Python in the hot path except none at all).

Scale notes:
- exact dedup = one hash-groupBy (map-side partial agg); never a
  window-over-everything;
- MinHash/LSH: k permutations approximated by k seeded xxhash64 functions
  (standard practice, e.g. Spark MLlib MinHashLSH); candidate generation is
  an equi-join on (band_id, band_hash) buckets — shuffle proportional to
  bucket sizes, never a cross join;
- SimHash: 64-bit fingerprint from token-hash bit voting; near-dup = equal
  fingerprint (or banded prefix) buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalize_text",
    "exact_dedup",
    "shingles",
    "hashed_shingles",
    "lsh_candidate_pairs",
    "minhash_dedup",
    "simhash_frame",
    "ngram_jaccard_pairs",
    "connected_components",
    "benchmark_contamination",
    "dedup_by_components",
    "deterministic_sample",
    "stratified_sample",
    "upsample_mixture",
    "stratified_quota_sample",
    "entity_split",
    "corpus_diff",
    "build_minhash_signature_store",
    "incremental_minhash_dedup",
    "append_signatures",
    "affine_params",
    "POLY_MOD",
    "BAND_MOD",
    "BAND_BASE",
]

# engine-agnostic hash family: polynomial char hash into Z_POLY_MOD composed
# with affine (a*x + b) % POLY_MOD maps — every value is reproducible in
# plain SQL (the DuckDB oracles recompute them), unlike xxhash64. All
# intermediates fit in int64: a, x < POLY_MOD ~ 1e9 -> a*x < 1e18.
POLY_MOD = 1_000_000_007
# band-hash fold modulus/base: acc < BAND_MOD ~ 1e15, acc*BAND_BASE < 8.2e18
BAND_MOD = 999_999_999_999_989
BAND_BASE = 8191


def _mix64(x: int) -> int:
    """splitmix64-style finalizer: the (a_i, b_i) parameters must look
    independent across i or the k min-hash permutations correlate (measured:
    an arithmetic progression of a_i biased the Jaccard estimate 0.69->0.53)."""
    x &= (1 << 64) - 1
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & ((1 << 64) - 1)
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & ((1 << 64) - 1)
    x ^= x >> 33
    return x


def affine_params(num_hashes: int, seed: int, mod: int = POLY_MOD):
    """Deterministic (a_i, b_i) affine-hash parameters shared by the Spark
    expressions and the generated oracle SQL (only the literal values cross
    into SQL, so the mixing function itself needn't be SQL-expressible)."""
    a = [
        _mix64((2 * seed + 1) + i * 0x9E3779B97F4A7C15) % (mod - 1) + 1
        for i in range(num_hashes)
    ]
    b = [_mix64((seed + 77) ^ (i * 0xBF58476D1CE4E5B9)) % mod for i in range(num_hashes)]
    return a, b


def _poly_char_hash(expr) -> "F.Column":
    """h = fold(acc*31 + codepoint) % POLY_MOD over the characters — the
    same polynomial as text.rolling_fingerprint, usable inside lambdas."""
    chars = F.regexp_extract_all(expr, F.lit("."), 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), F.lit(POLY_MOD)),
    )


def normalize_text(col) -> "F.Column":
    """Canonical form for dedup: lowercase, collapse whitespace, strip."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", keep: str = "min"
) -> DataFrame:
    """Keep one representative per exact (normalized) text: the min/max id.
    One hash-aggregation; no sort, no window."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keep_ids = (
        df.select(id_col, normalize_text(text_col).alias("__norm"))
        .groupBy("__norm")
        .agg(agg.alias(id_col))
        .select(id_col)
    )
    return df.join(keep_ids, id_col, "left_semi")


def shingles(col, n: int = 3) -> "F.Column":
    """Word n-gram shingle array (distinct) from a text column.

    The token array is bound ONCE via a single-element ``transform``
    lambda (see ``hashed_shingles``): interpreted HOF trees get no CSE,
    so referencing the split+normalize expression from inside the
    per-position lambda re-ran the whole tokenization O(n_tokens) times
    per row — O(n^2) per document. Values are unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    toks_expr = F.split(normalize_text(c), " ")
    return F.array_distinct(
        F.element_at(
            F.transform(
                F.array(toks_expr),
                lambda toks: F.when(
                    F.size(toks) >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - n),
                        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                    ),
                ).otherwise(F.array(F.array_join(toks, " "))),
            ),
            1,
        )
    )


def hashed_shingles(col, n: int = 3, seed: int = 7) -> "F.Column":
    """Word n-gram shingles as an array<long> of hashes — WITHOUT building
    the n-gram strings. Each token is xxhash64'd once, then consecutive
    token hashes are combined with xxhash64 over n shifted array slices
    (zip_with): all fixed-width integer work after one pass of string
    hashing. Measured 3.9x faster than string shingling + hashing at bench
    scale (string n-gram construction was ~85% of minhash_dedup's signature
    cost). The scale path for minhash; the SQL-replicable ``shingles`` +
    poly family remains for oracle-checked variants.

    Evaluation-count discipline (r8): interpreted HOF trees get NO common-
    subexpression elimination, so referencing the token-hash array from
    every slice re-evaluated the whole split+hash pipeline n times per row
    (measured: 3.9 s of minhash's 5.0 s shingle cost at sf1.0 was exactly
    this re-eval). Binding ``toks`` and ``th`` ONCE each via single-element
    ``transform`` lambdas (a let-expression in HOF clothing) makes every
    later reference an O(1) bound-variable lookup. Values are unchanged —
    same expressions, evaluated once."""
    c = F.col(col) if isinstance(col, str) else col
    toks_expr = F.split(normalize_text(c), " ")

    def with_th(toks, th):
        sz = F.size(th)
        win = sz - (n - 1)
        combined = F.slice(th, 1, win)
        for k in range(1, n):
            combined = F.zip_with(
                combined, F.slice(th, k + 1, win), lambda x, y: F.xxhash64(x, y)
            )
        return F.when(sz >= n, combined).otherwise(
            F.array(F.xxhash64(F.array_join(toks, " "), F.lit(seed)))
        )

    bound = F.element_at(
        F.transform(
            F.array(toks_expr),
            lambda toks: F.element_at(
                F.transform(
                    F.array(F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))),
                    lambda th: with_th(toks, th),
                ),
                1,
            ),
        ),
        1,
    )
    return F.array_distinct(bound)


def _signature_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    hash_family: str,
    seed: int = 7,
) -> DataFrame:
    """``(id, minhash)`` signature frame via explode + hash-aggregate: the
    only MinHash signature implementation in the library.

    Per signature position, the minimum seeded hash over the doc's shingle
    set, computed as a codegen'd HashAggregate over exploded shingle rows
    (measured 2.2x faster at sf1.0 than an interpreted per-row HOF fold
    allocating a ``num_hashes``-wide array per shingle; partial map-side
    aggregation collapses the exploded rows to one row per doc before any
    exchange, so the shuffle carries only (id, num_hashes longs)). The
    per-row fold is the test reference (``tests/_hash_reference.py``),
    pinned value-identical for both families.

    Edge semantics: a group whose every hash is null (only possible for a
    null-text doc under the poly family) emits the init value (POLY_MOD)
    via coalesce — what the fold's init accumulator yields when
    ``least`` skips the nulls."""
    if hash_family == "xxhash":
        # NOTE: the shingle-hash seed is ALWAYS the hashed_shingles
        # default (7), matching the r7 expression path exactly — only the
        # per-signature-position hash seeds derive from ``seed``. Threading
        # ``seed`` into the shingles would silently change signature
        # values for non-default seeds and orphan persisted stores.
        sh = hashed_shingles(text_col, shingle_n)
        ex = df.select(F.col(id_col), F.explode(sh).alias("__s"))
        init = F.lit(2**63 - 1).cast("long")
        mins = [
            F.min(F.xxhash64("__s", F.lit(seed + i))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    elif hash_family == "poly":
        sh = shingles(text_col, shingle_n)
        a_l, b_l = affine_params(num_hashes, seed)
        ex = df.select(F.col(id_col), F.explode(sh).alias("__s")).select(
            F.col(id_col), _poly_char_hash(F.col("__s")).alias("__ph")
        )
        init = F.lit(POLY_MOD).cast("long")
        mins = [
            F.min(
                F.pmod(F.lit(a) * F.col("__ph") + F.lit(b), F.lit(POLY_MOD))
            ).alias(f"__m{i}")
            for i, (a, b) in enumerate(zip(a_l, b_l))
        ]
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return ex.groupBy(id_col).agg(*mins).select(
        F.col(id_col),
        F.array(
            *[F.coalesce(F.col(f"__m{i}"), init) for i in range(num_hashes)]
        ).alias("minhash"),
    )


def band_hash(sig_slice, hash_family: str = "xxhash") -> "F.Column":
    """Collapse one signature band to a join key. xxhash64 for the scale
    path; a polynomial fold (acc*BAND_BASE + x) % BAND_MOD for the
    oracle-replicable family."""
    if hash_family == "xxhash":
        return F.xxhash64(sig_slice)
    return F.aggregate(
        sig_slice,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * BAND_BASE + x, F.lit(BAND_MOD)),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 8,
    num_hashes: int | None = None,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Banding: split the signature into ``bands`` rows, bucket-join on
    (band_id, band_hash). Returns candidate pairs (id_a < id_b) with the
    fraction of matching minhashes (estimated Jaccard).

    ``num_hashes`` is required: inferring it would force a driver-side job
    over the (potentially expensive) signature pipeline before planning."""
    if num_hashes is None:
        raise ValueError(
            "pass num_hashes explicitly (the signature length); inferring it "
            "would run an extra job over the signature pipeline"
        )
    rows_per_band = max(1, num_hashes // bands)
    banded = _banded(df, id_col, sig_col, bands, rows_per_band, hash_family)
    return _pairs_with_est(
        _band_pairs(banded, banded, "band_hash"), df, id_col, sig_col
    )


def _banded(df, id_col, sig_col, bands, rows_per_band, hash_family):
    """Shuffle-byte discipline (100-TB lever): the band explosion multiplies
    row count by ``bands``, so it must NOT carry the full signature array —
    band rows are (id, band_id, band_hash) only (~24 bytes); signatures are
    re-attached AFTER the pair set is deduplicated (``_pairs_with_est``).
    Net big shuffle: 2x signature bytes instead of ``bands``x."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        band_hash(
                            F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                            hash_family,
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("__id", "band.band_id", "band.band_hash")


def _band_pairs(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """The LSH band join: distinct ``(id_a, id_b)``, id_a < id_b, over
    banded rows ``(__id, band_id, key)`` that share a ``(band_id, key)``
    bucket. Every candidate generator here (MinHash self-join, incremental
    store-vs-shard joins, sign-LSH ``cosine_candidate_pairs``) runs this
    one equi-join, so a guard on its output size (Σ bucket_size² over the
    ``(band_id, key)`` buckets) belongs here."""
    a, b = a.alias("a"), b.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _pairs_with_est(pair_ids, sig_df, id_col, sig_col):
    """Attach both signatures to deduplicated candidate pairs and compute
    the matching-minhash fraction (estimated Jaccard)."""
    sigs = sig_df.select(F.col(id_col).alias("__sid"), F.col(sig_col).alias("__s"))
    pairs = (
        pair_ids.join(sigs, F.col("id_a") == F.col("__sid"))
        .select("id_a", "id_b", F.col("__s").alias("sig_a"))
        .join(sigs, F.col("id_b") == F.col("__sid"))
        .select("id_a", "id_b", "sig_a", F.col("__s").alias("sig_b"))
    )
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.size("sig_a")
    )
    return pairs.select("id_a", "id_b", est.cast("double").alias("est_jaccard"))


def _near_dup_ids(pair_ids, sigs, id_col, threshold):
    """The near-dup verdict shared by the batch and incremental operators:
    the higher id of every candidate pair whose estimated Jaccard reaches
    ``threshold``, as a distinct ``id_col`` frame to left-anti against."""
    return (
        _pairs_with_est(pair_ids, sigs, id_col, "minhash")
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_n: int = 3,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Near-dup removal: LSH candidates -> estimated-Jaccard filter ->
    drop the higher id of each surviving pair (greedy, transitive via
    keeping only ids that are never a 'b' side).

    ``id_col`` must be unique. Signatures aggregate by id, so rows that
    share an id merge into one element-wise-min signature (that of the
    union of their shingles) and are kept or dropped together. This is
    not checked at runtime: the check would cost a full-table job."""
    # persist the signatures: the LSH self-join reads them from both sides
    # and recomputing the shingle+hash expression tree twice dominates
    # runtime. Registered with the tracked-persist discipline so callers
    # (or a surrounding tracking_scope) release it — a bare .cache() here
    # accumulated blocks across repeated dedup calls in one session.
    from ..caching import tracked_persist

    # scale path: integer hashed shingles (no n-gram string construction);
    # the poly family keeps string shingles so DuckDB can replicate values.
    # Signatures come from the explode+hash-aggregate formulation
    # (_signature_frame) — value-identical, 2.2x faster than the HOF fold.
    sigs = tracked_persist(
        _signature_frame(df, text_col, id_col, num_hashes, shingle_n, hash_family)
    )
    rows_per_band = max(1, num_hashes // bands)
    banded = _banded(sigs, id_col, "minhash", bands, rows_per_band, hash_family)
    dupes = _near_dup_ids(
        _band_pairs(banded, banded, "band_hash"), sigs, id_col, threshold
    )
    return df.join(dupes, id_col, "left_anti")


def build_minhash_signature_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_family: str = "xxhash",
    seed: int = 7,
) -> DataFrame:
    """``(id, minhash)`` signatures for a corpus shard — the persisted
    artifact the daily ingestion pipeline keeps so new shards dedup against
    the corpus WITHOUT re-shingling it (``incremental_minhash_dedup``).

    The store must hold signatures for ALL ingested ids, including docs the
    dedup itself dropped: the batch operator's greedy rule drops a doc iff
    ANY smaller-id doc (kept or dropped) matches it — in the chain
    a<b<c with pairs (a,b),(b,c) but not (a,c), c is dropped because of the
    already-dropped b. Storing only survivors would silently re-admit c.
    Signatures are a pure function of (id, text), so re-appending a shard
    is idempotent by id.

    ``id_col`` must be unique: rows that share an id merge into ONE
    element-wise-min signature (that of the union of their shingles).
    This is not checked at runtime: the check would cost a full-table
    job."""
    return _signature_frame(
        df, text_col, id_col, num_hashes, shingle_n, hash_family, seed=seed
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    sig_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_n: int = 3,
    hash_family: str = "xxhash",
    seed: int = 7,
):
    """Dedup a NEW shard against a persisted signature store without
    re-scanning the corpus — the operator a real ingestion pipeline runs
    daily. Returns ``(kept_new_docs, new_sigs)``; append ``new_sigs`` (ALL
    new ids, kept or dropped — see ``build_minhash_signature_store`` for
    why) to the store after the run.

    Exactness contract (oracle-checked in the driver battery): the kept set
    equals full-corpus ``minhash_dedup`` over store ∪ shard RESTRICTED to
    shard ids, provided every store id < every shard id (monotone ingest
    ids — the natural shard layout). A new doc is dropped iff some
    smaller-id doc (old OR new) band-collides and passes the estimated-
    Jaccard threshold; old docs are never re-judged (their verdicts are
    already materialized).

    Scale shape: the corpus contributes only its SIGNATURE store — banded
    to (id, band_id, band_hash) rows (~24 B each), one scan, no text ever
    re-read; the band join's b-side is just the new shard. Candidate-pair
    signatures are re-attached after pair dedup, same shuffle-byte
    discipline as the batch operator."""
    from ..caching import tracked_persist

    new_sigs = tracked_persist(
        build_minhash_signature_store(
            new_df, text_col, id_col, num_hashes, shingle_n, hash_family, seed
        )
    )
    store_sigs = sig_store.select(F.col(id_col), "minhash")
    # the union feeds the banded a-side AND both signature re-attach joins
    # in _pairs_with_est — three consumers, so an unpersisted store plan
    # (or raw store scan) would execute three times (r8: measured 1.7x on
    # the incremental query at sf0.1, interleaved min-of-3). Signature rows
    # are (id, num_hashes longs) — tiny relative to the corpus they
    # summarize.
    union_sigs = tracked_persist(store_sigs.unionByName(new_sigs))
    rows_per_band = max(1, num_hashes // bands)
    a = _banded(union_sigs, id_col, "minhash", bands, rows_per_band, hash_family)
    b = _banded(new_sigs, id_col, "minhash", bands, rows_per_band, hash_family)
    dupes = _near_dup_ids(
        _band_pairs(a, b, "band_hash"), union_sigs, id_col, threshold
    )
    kept = new_df.join(dupes, id_col, "left_anti")
    return kept, new_sigs


def append_signatures(
    store: DataFrame, new_sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Id-idempotent store append: a retried shard (failed run re-submitted)
    adds no duplicate rows — ids already present are skipped, which is
    exact because a signature is a pure function of (id, text)."""
    return store.unionByName(
        new_sigs.join(store.select(id_col), id_col, "left_anti")
    )


def simhash_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    seed: int = 11,
    hash_family: str = "xxhash",
) -> DataFrame:
    """``(id, simhash64)`` for a whole table: per bit, the sign of the sum
    over the doc's distinct tokens of +1/-1 from that token's hash bit.
    The only SimHash implementation in the library, computed as ONE
    explode + codegen HashAggregate: per distinct token ONE hash, then
    ``bits`` integer vote sums (exact, order-independent) packed into the
    signed 64-bit fingerprint (the `_signature_frame`/`band_buckets`
    pattern; measured 2.7x at sf1.0 against a per-row interpreted fold
    allocating a ``bits``-wide array per token — that fold is the test
    reference in ``tests/_hash_reference.py``). Null-text docs keep their
    NULL fingerprint via the zero-token guard (explode_outer + vote
    count).

    hash_family="poly" swaps the xxhash64 bit tests for parities of affine
    maps of the polynomial char hash — bit_i(t) =
    ((a_i*poly(t)+b_i) % POLY_MOD) % 2 — so the DuckDB oracle can recompute
    the exact fingerprints."""
    c = F.col(text_col)
    toks = F.array_distinct(F.split(normalize_text(c), " "))
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("__t"))
    if hash_family == "xxhash":
        # explicit null guard: xxhash64 SKIPS null children (a null-text
        # doc's marker row would otherwise hash to a real value and lose
        # its NULL fingerprint)
        ex = ex.select(
            id_col,
            F.when(
                F.col("__t").isNotNull(), F.xxhash64("__t", F.lit(seed))
            ).alias("__h"),
        )
        bit_on = lambda i: F.getbit(F.col("__h"), F.lit(i)) == 1
    elif hash_family == "poly":
        a_l, b_l = affine_params(bits, seed)
        ex = ex.select(id_col, _poly_char_hash(F.col("__t")).alias("__h"))
        bit_on = lambda i: (
            F.pmod(
                F.pmod(
                    F.lit(a_l[i]).cast("long") * F.col("__h") + F.lit(b_l[i]).cast("long"),
                    F.lit(POLY_MOD),
                ),
                F.lit(2),
            )
            == 1
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    aggs = [F.count("__h").alias("__nv")] + [
        F.sum(F.when(bit_on(i), 1).otherwise(-1)).alias(f"__v{i}")
        for i in range(bits)
    ]
    g = ex.groupBy(id_col).agg(*aggs)
    out = F.lit(0).cast("long")
    for i in range(bits):
        bitval = (1 << i) if i < 63 else -(1 << 63)
        out = out + F.when(F.col(f"__v{i}") > 0, F.lit(bitval).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return g.select(
        F.col(id_col),
        F.when(F.col("__nv") > 0, out).alias("simhash"),
    )


def ngram_jaccard_pairs(
    df_a: DataFrame,
    df_b: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.0,
    join_on=None,
) -> DataFrame:
    """Exact n-gram Jaccard between pairs. Pairs come from ``join_on`` bucket
    columns (e.g. lang/source) — NEVER an unbucketed cross join at scale."""
    df_b = df_b or df_a
    a = df_a.select(
        F.col(id_col).alias("id_a"), shingles(text_col, n).alias("sh_a"), *(join_on or [])
    )
    b = df_b.select(
        F.col(id_col).alias("id_b"), shingles(text_col, n).alias("sh_b"), *(join_on or [])
    )
    joined = (
        a.join(b, on=join_on, how="inner") if join_on else a.crossJoin(b)
    ).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select(
        "id_a", "id_b", jac.cast("double").alias("jaccard")
    ).filter(F.col("jaccard") >= min_jaccard)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components over a candidate-pair edge list:
    returns (id, component) where component = the minimum node id reachable
    from ``id`` (the canonical cluster representative).

    Hash-min label propagation, pure DataFrame ops: each round every node
    takes the min of its own label and its neighbors' labels (one
    equi-join shuffle + one groupBy-min shuffle per round), converging in
    O(component diameter) rounds. LSH/Jaccard candidate graphs are
    star-like (bucket-mates all pair with each other), so diameters are
    tiny — typically 2-4 rounds. Per-round checkpointing truncates the
    lineage: without it the iterative plan grows exponentially and round k
    replays rounds 0..k-1.

    Fault tolerance: when the session has a RELIABLE checkpoint dir
    configured (``spark.sparkContext.setCheckpointDir(...)``), rounds use
    ``checkpoint()`` — blocks live on the shared filesystem and survive
    executor loss. Otherwise ``localCheckpoint`` is the fallback: blocks
    are stored only on executors, so on a real cluster losing an executor
    mid-computation makes the truncated lineage unrecoverable and fails
    the job (acceptable for this sandbox's single JVM; set a checkpoint
    dir for production runs).

    Each round's local checkpoint is released as soon as the next round
    has materialized, and the last one when the loop does not converge.
    The returned frame reads the final round's checkpoint, so it owns
    it: those blocks stay until the ContextCleaner frees them once the
    frame is garbage collected.

    Reliable-checkpoint storage caveat: Spark does NOT delete reliable
    checkpoint files by default — each round writes one labels-table copy
    under the checkpoint dir and they outlive the job unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (then
    superseded rounds are removed as their DataFrames are GC'd; the FINAL
    round's files must outlive this call regardless, because the returned
    frame reads from them). Long-lived sessions running dedup repeatedly
    should set that conf or point the checkpoint dir at a TTL'd path.

    Scale shape: never materializes components on the driver; the only
    per-round action is the convergence count. For graphs with genuinely
    long chains raise ``max_iter`` (rounds, not data, are the cost)."""
    from ..caching import _release_frame

    reliable = pairs.sparkSession.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=True
        )

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    held = labels = _ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("comp").alias("dst_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .withColumnRenamed("src", "id")
        )
        # one update join per round; the convergence flag rides the same
        # pass (a __chg column on the checkpointed result) instead of a
        # third labels-join. The eager checkpoint cut the lineage, so the
        # superseded round's blocks go now; reliable checkpoint files need
        # cleanCheckpoints=true (see docstring caveat).
        nc = F.coalesce(F.col("nbr_comp"), F.col("comp"))
        new = _ckpt(
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), nc).alias("comp"),
                (nc < F.col("comp")).cast("long").alias("__chg"),
            )
        )
        _release_frame(held)
        held = new
        changed = new.agg(F.sum("__chg")).collect()[0][0] or 0
        labels = new.select("id", "comp")
        if changed == 0:
            return labels  # the returned frame owns `held`
    _release_frame(held)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (long chains) or check the pair generator"
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive near-dup removal: keep ONE representative (the min id)
    per connected component of the candidate-pair graph. The principled
    closure of pairwise dedup — greedy pair-dropping mishandles chains
    (a~b, b~c, a!~c): it can drop both b and c leaving only a, or keep
    inconsistent sets depending on pair orientation; components keep
    exactly one doc per transitive duplicate group. Docs with no candidate
    pair are their own component and always survive."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    dropped = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dropped, id_col, "left_anti")


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 7,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Reproducible row sampling by key hash — the training-data-pipeline
    form of sampling at 10^12 rows: membership is a pure function of
    (key, seed, fraction), so it is identical across reruns, partitionings,
    resumes, and cluster sizes (``df.sample`` is none of those: its RNG
    draws depend on partition layout), and a row's fate never changes when
    OTHER rows appear or disappear. Widening the fraction keeps every
    previously sampled row (nested samples: f1 <= f2 -> sample(f1) is a
    subset of sample(f2)).

    hash_family="xxhash" is the scale path; "poly" uses the affine
    polynomial char-hash family so the DuckDB oracle reproduces the exact
    membership set (the key is stringified for the char hash)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    u = _sample_uniform(key_col, seed, hash_family)
    return df.filter(u < F.lit(float(fraction)))


def _sample_uniform(key_col: str, seed: int, hash_family: str) -> "F.Column":
    """Deterministic uniform-[0,1) draw from a row key — the shared
    membership primitive of ``deterministic_sample`` / ``stratified_sample``."""
    k = F.col(key_col)
    if hash_family == "xxhash":
        # uniform in [0, 1): splitmix-style xxhash64 bucket / 2^64
        h = F.xxhash64(k, F.lit(seed))
        return (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
    if hash_family == "poly":
        a_l, b_l = affine_params(1, seed)
        ph = _poly_char_hash(k.cast("string"))
        return F.pmod(a_l[0] * ph + b_l[0], F.lit(POLY_MOD)) / F.lit(float(POLY_MOD))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    seed: int = 7,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-MIXING operator: one
    scan re-weights sources/languages/quality tiers to target proportions
    (e.g. ``{"en": 0.5, "code": 1.0}``) with ``deterministic_sample``'s
    guarantees per stratum: membership is a pure function of (key, seed,
    the row's OWN stratum rate), so reruns/repartitionings/resumes agree,
    and raising one stratum's rate keeps every previously sampled row while
    touching no other stratum (nested samples per stratum; strata are
    independent because the draw ignores the stratum entirely).

    Scale shape: a single ``filter`` over a hash expression and a literal
    CASE on ``strata_col`` — no shuffle, no per-stratum pass, no driver
    loop; Catalyst pushes it into the scan like any predicate. Unknown
    strata fall back to ``default_fraction`` (0.0 = drop, the safe default
    for an allowlist-style mix)."""
    for s, f in fractions.items():
        if not 0.0 <= float(f) <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    u = _sample_uniform(key_col, seed, hash_family)
    frac = F.lit(float(default_fraction))
    for s, f in fractions.items():
        frac = F.when(F.col(strata_col) == F.lit(s), F.lit(float(f))).otherwise(frac)
    return df.filter(u < frac)


def upsample_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: dict,
    default_weight: float = 1.0,
    seed: int = 7,
    hash_family: str = "xxhash",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Deterministic fractional-epoch mixture weighting — the OTHER half
    of corpus mixing: where ``stratified_sample`` only thins strata
    (weights <= 1), training mixes also UPSAMPLE scarce domains by
    non-integer epoch counts (e.g. Wikipedia x2.4, books x1.5, web x0.7 —
    the LLaMA-style data recipe). A row with weight ``w`` is emitted
    ``floor(w)`` times plus one more iff its deterministic uniform draw
    falls below ``frac(w)``, so E[copies] == w EXACTLY per row and the
    realized count is a pure function of (key, seed, the row's own
    stratum weight): reruns, repartitionings, and resumes emit identical
    copies, and corpus growth never changes an existing row's count.
    Emitted copies are numbered ``copy_col`` = 1..n so downstream shuffles
    /dedup can tell them apart (and so a loader can epoch-interleave).
    Weight 0 drops the stratum; weights < 1 downsample (floor = 0).

    Scale shape: a pure projection + ``explode(sequence(1, n))`` — no
    shuffle, no state, no join; the Bernoulli top-up reuses
    ``deterministic_sample``'s uniform draw, so the same hash-family
    contract applies (``poly`` = DuckDB-replicable, ``xxhash`` = scale
    path). Output size is sum(w_s * n_s) rows — the operator never
    materializes more than the emitted mix."""
    for s, w in weights.items():
        if float(w) < 0.0:
            raise ValueError(f"weight for stratum {s!r} must be >= 0, got {w}")
    if default_weight < 0.0:
        raise ValueError(f"default_weight must be >= 0, got {default_weight}")
    if copy_col in df.columns:
        raise ValueError(f"copy_col {copy_col!r} collides with an input column")

    w = F.lit(float(default_weight))
    for s, v in weights.items():
        w = F.when(F.col(strata_col) == F.lit(s), F.lit(float(v))).otherwise(w)
    u = _sample_uniform(key_col, seed, hash_family)
    base = F.floor(w).cast("int")
    n = base + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    copies = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(copy_col, F.explode(copies))


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-level diff between two corpus versions — the ingest-ops
    primitive behind "what changed since the last snapshot": returns
    ``(id, status)`` with status ``added`` (id only in new), ``removed``
    (only in old), or ``changed`` (both, different content). Unchanged
    rows are NOT emitted — at 10^12 docs the unchanged bulk dominates and
    materializing it is pure waste; the caller left-antis against the
    diff when it needs the unchanged set.

    Scale shape: each side is projected to ``(id, xxhash64(text))`` BEFORE
    the full-outer join, so the shuffle carries 16 bytes/row instead of
    document text; 'changed' means differing 64-bit content hashes
    (collision odds 2^-64 per pair — the standard content-hash contract,
    same as the exact-dedup operator's)."""
    o = old.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("__h_old"))
    n = new.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("__h_new"))
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(F.col(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def entity_split(
    df: DataFrame,
    entity_col: str,
    weights: dict,
    seed: int = 7,
    hash_family: str = "xxhash",
    out_col: str = "split",
) -> DataFrame:
    """Entity-disjoint train/val/test assignment: every row of an entity
    (conversation, user, document cluster) lands in the SAME split, so
    grouped rows can never leak across the split boundary — the corpus-
    scale counterpart of sklearn's GroupShuffleSplit (splitters.py carries
    the sklearn-exact CV cascade for matrix-sized data; this one is a pure
    column expression for 10^12-row tables: no shuffle, no state, pushes
    like any projection).

    ``weights`` maps split name -> probability mass (must sum to 1 within
    1e-9); assignment is the deterministic hash draw of
    ``deterministic_sample`` cut at the cumulative weights, so it is
    layout-invariant, rerun-identical, and STABLE under corpus growth (an
    entity's split never changes when other entities appear). Iteration
    order of ``weights`` defines the cut order — pass the same dict order
    to reproduce an assignment."""
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(float(w) for w in weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    for s, w in weights.items():
        if float(w) <= 0.0:
            raise ValueError(f"weight for split {s!r} must be positive, got {w}")
    u = _sample_uniform(entity_col, seed, hash_family)
    names = list(weights)
    expr = F.lit(names[-1])  # last split takes the residual mass
    cum = 0.0
    branches = []
    for s in names[:-1]:
        cum += float(weights[s])
        branches.append((cum, s))
    for cut, s in reversed(branches):
        expr = F.when(u < F.lit(cut), F.lit(s)).otherwise(expr)
    return df.withColumn(out_col, expr)


def stratified_quota_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int,
    seed: int = 7,
    hash_family: str = "xxhash",
    prefilter_factor: float | None = None,
) -> DataFrame:
    """EXACT-quota sampling: precisely ``min(k, stratum size)`` rows per
    stratum — the fixed-budget counterpart of ``stratified_sample``'s
    fixed-rate mixing (eval sets, per-language audit panels, balanced
    probes). Selection is the k smallest deterministic hash draws per
    stratum, tie-broken by key: a pure function of the data, identical
    across reruns/partitionings/cluster sizes, and STABLE under corpus
    growth — an existing row leaves the sample only if a new row hashes
    below it (expected churn k·new/total, the minimum any exact-quota rule
    can achieve).

    Scale: the plain path ranks each stratum with one window (full
    per-stratum sort — fine to ~10^8 rows/stratum). For huge strata pass
    ``prefilter_factor`` (e.g. 8.0): per-stratum thresholds
    ``factor·k/n`` cut the window's input to ~factor·k rows per stratum
    BEFORE the sort, then the result is VERIFIED (per-stratum counts,
    #strata scalars) and any stratum the filter starved — vanishingly rare
    at factor≥4, possible only by hash-collision clustering — is recomputed
    unfiltered, so the output is bit-identical to the plain path by
    construction, never approximately so."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    base = df.withColumn("__u", _sample_uniform(key_col, seed, hash_family))
    w = Window.partitionBy(strata_col).orderBy("__u", key_col)

    def _ranked(d: DataFrame) -> DataFrame:
        return (
            d.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= int(k))
            .drop("__rk", "__u")
        )

    if prefilter_factor is None:
        return _ranked(base)
    if prefilter_factor <= 1.0:
        raise ValueError(f"prefilter_factor must be > 1, got {prefilter_factor}")
    counts = {r[0]: r[1] for r in df.groupBy(strata_col).count().collect()}
    thr = F.lit(1.0)
    for s, n in counts.items():
        t = min(1.0, prefilter_factor * k / max(n, 1))
        thr = F.when(F.col(strata_col) == F.lit(s), F.lit(t)).otherwise(thr)
    pre = _ranked(base.filter(F.col("__u") < thr))
    got = {r[0]: r[1] for r in pre.groupBy(strata_col).count().collect()}
    short = [s for s, n in counts.items() if got.get(s, 0) < min(int(k), n)]
    if not short:
        return pre
    fixed = _ranked(base.filter(F.col(strata_col).isin(short)))
    return pre.filter(~F.col(strata_col).isin(short)).unionByName(fixed)


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_hits: int = 1,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Decontamination check: per training document, the number of distinct
    word ``shingle_n``-grams it shares with the benchmark/eval corpus —
    documents with >= ``min_hits`` overlapping shingles are the
    contamination candidates an LLM data pipeline must drop before
    training (n-gram overlap decontamination, the GPT-3/FLAN recipe).

    Returns (id_col, n_contaminated_shingles), one row per flagged doc.

    Scale shape: the benchmark shingle set is small (eval suites are MBs,
    not TBs) — it is deduplicated and BROADCAST, so the big corpus is one
    scan + a broadcast semi-join-shaped equi-join and a partial-agg count;
    the training table is never shuffled on text. hash_family="xxhash"
    joins on 64-bit hashed shingles (the scale path — no shingle strings
    cross the wire); "poly" keeps string shingles so the DuckDB oracle can
    recompute the exact overlap."""
    sh = (
        hashed_shingles(text_col, shingle_n)
        if hash_family == "xxhash"
        else shingles(text_col, shingle_n)
    )
    bsh = (
        hashed_shingles(bench_text_col, shingle_n)
        if hash_family == "xxhash"
        else shingles(bench_text_col, shingle_n)
    )
    bench_set = (
        benchmark.select(F.explode(bsh).alias("__sh")).distinct()
    )
    doc_sh = docs.select(F.col(id_col), F.explode(sh).alias("__sh"))
    return (
        doc_sh.join(F.broadcast(bench_set), "__sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_shingles"))
        .filter(F.col("n_contaminated_shingles") >= int(min_hits))
    )
