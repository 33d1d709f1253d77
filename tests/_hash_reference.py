"""Per-row expression folds for MinHash signatures and SimHash fingerprints.

The library computes both at table level (``dedup._signature_frame`` and
``dedup.simhash_frame``: one explode + codegen HashAggregate). These folds
are the independent per-row formulation the frame forms are checked
against: an interpreted ``aggregate`` over the shingle/token hashes, with
the same hash families and the same null/empty semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from powershap_spark.operators.dedup import (
    POLY_MOD,
    _poly_char_hash,
    affine_params,
    normalize_text,
)


def minhash_signature(
    shingle_col, num_hashes: int = 32, seed: int = 7, hash_family: str = "xxhash"
) -> "F.Column":
    """MinHash signature: for each of ``num_hashes`` hash functions, the
    minimum hash over the shingle set. Returns array<bigint>.

    One aggregate folds an array-of-mins accumulator over the shingle array.

    hash_family:
      - "xxhash": k seeded JVM xxhash64 calls;
      - "poly": affine maps of one polynomial char hash per shingle.
    """
    c = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    if hash_family == "xxhash":
        init = F.array(*[F.lit(2**63 - 1).cast("long") for _ in range(num_hashes)])
        seeds = F.array(*[F.lit(seed + i) for i in range(num_hashes)])
        return F.aggregate(
            c,
            init,
            lambda acc, s: F.zip_with(
                acc, seeds, lambda m, sd: F.least(m, F.xxhash64(s, sd))
            ),
        )
    if hash_family != "poly":
        raise ValueError(f"unknown hash_family {hash_family!r}")
    a_l, b_l = affine_params(num_hashes, seed)
    ab = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in zip(a_l, b_l)
        ]
    )
    phashes = F.transform(c, _poly_char_hash)
    init = F.array(*[F.lit(POLY_MOD).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        phashes,
        init,
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, p: F.least(m, F.pmod(p["a"] * h + p["b"], F.lit(POLY_MOD)))
        ),
    )


def simhash(col, bits: int = 64, seed: int = 11, hash_family: str = "xxhash") -> "F.Column":
    """64-bit SimHash of the token set: per bit, sign of the sum over tokens
    of (+1 / -1) from that token's hash bit.

    One aggregate folds a ``bits``-wide vote array via zip_with; the finish
    lambda packs the votes into the signed 64-bit fingerprint.

    hash_family="poly" swaps the xxhash64 bit tests for parities of affine
    maps of the polynomial char hash: bit_i(t) =
    ((a_i*poly(t)+b_i) % POLY_MOD) % 2."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_distinct(F.split(normalize_text(c), " "))
    init = F.array(*[F.lit(0) for _ in range(bits)])

    if hash_family == "xxhash":
        hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
        positions = F.array(*[F.lit(i) for i in range(bits)])

        def merge(acc, h):
            return F.zip_with(
                acc,
                positions,
                lambda a, i: a + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
            )
    elif hash_family == "poly":
        a_l, b_l = affine_params(bits, seed)
        ab = F.array(
            *[
                F.struct(
                    F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b")
                )
                for a, b in zip(a_l, b_l)
            ]
        )
        hashes = F.transform(toks, _poly_char_hash)

        def merge(acc, h):
            return F.zip_with(
                acc,
                ab,
                lambda a, p: a
                + F.when(
                    F.pmod(F.pmod(p["a"] * h + p["b"], F.lit(POLY_MOD)), F.lit(2)) == 1,
                    1,
                ).otherwise(-1),
            )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")

    def finish(votes):
        out = F.lit(0).cast("long")
        for i in range(bits):
            bitval = (1 << i) if i < 63 else -(1 << 63)
            out = out + F.when(
                F.element_at(votes, i + 1) > 0, F.lit(bitval).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    return F.aggregate(hashes, init, merge, finish)
