"""Hamming-distance near pairs over fingerprints of at most 64 bits,
packed MSB-first in one bigint.  Pigeonhole rule (Manku, Jain, Das
Sarma, WWW 2007): split a fingerprint into ``max_distance + 1`` blocks;
two fingerprints within distance d agree on at least one whole block,
so a self-join inside each block's bucket finds every such pair (exact
recall, never all-pairs) and ``bit_count(a ^ b)`` verifies it."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validate_blocks(max_distance: int, bits: int) -> None:
    """Reject a block layout the key encoding cannot represent.

    A block key packs the block index into 4 low bits
    (``shiftleft(block_bits, 4) + i``), so at most 16 blocks
    (max_distance <= 15); each of the ``max_distance+1`` blocks must be
    at least 1 bit wide or the pigeonhole recall guarantee silently
    degrades to all-zero block keys (all-pairs buckets / over-merged
    clusters); and the fingerprint must fit one bigint."""
    if not 0 <= max_distance <= 15:
        raise ValueError(f"max_distance must be in [0, 15], got {max_distance}")
    if bits > 64:
        raise ValueError(
            f"fingerprint width {bits} exceeds 64 bits: the pigeonhole "
            "blocks are cut from one bigint"
        )
    if bits < max_distance + 1:
        raise ValueError(
            f"bits ({bits}) must be >= max_distance+1 ({max_distance + 1}): "
            "every pigeonhole block needs at least one signature bit"
        )


def _block_bits(sig: Column, i: int, n_blocks: int, bits: int) -> Column:
    """Bits of block ``i``: blocks run from the MSB, ``bits // n_blocks``
    wide, and the last block takes the remainder."""
    width = bits // n_blocks
    length = width if i < n_blocks - 1 else bits - width * (n_blocks - 1)
    mask = (1 << length) - 1
    if mask >= 1 << 63:  # a 64-bit block: all ones is -1 as a signed long
        mask -= 1 << 64
    return F.shiftrightunsigned(sig, bits - i * width - length).bitwiseAND(F.lit(mask))


def block_keys(sig: Column, max_distance: int, bits: int) -> list[Column]:
    """One bigint bucket key per block: ``(block bits << 4) + index`` —
    an integer shuffle key and codegen'd equi-join, no string concat.
    A single block may span all 64 bits and leaves no room for the
    index; with one block the index is not needed, so the key is the
    block itself."""
    n_blocks = max_distance + 1
    if n_blocks == 1:
        return [_block_bits(sig, 0, 1, bits)]
    return [
        F.shiftleft(_block_bits(sig, i, n_blocks, bits), 4) + F.lit(i)
        for i in range(n_blocks)
    ]


def near_pairs(
    sig: DataFrame,
    max_distance: int,
    bits: int,
    max_block_freq: int | None = None,
) -> DataFrame:
    """Every unordered pair of ``(id, sig)`` rows within Hamming
    distance ``max_distance``: ``(id_a, id_b, distance)`` with
    ``id_a < id_b``, each pair once.

    One ``posexplode`` of the block keys, one equi-join on the key.  A
    pair agreeing on several blocks would meet in each of their
    buckets; instead of a DISTINCT shuffle over all candidate pairs only
    its FIRST agreeing block keeps it — for every earlier block the two
    block bit-fields must differ, an unrolled boolean over the
    already-loaded sigs.

    ``max_block_freq`` drops buckets holding more than that many
    fingerprints before the self-join (a viral block value, such as the
    all-zeros block of flat images), bounding any bucket's pair fan-out
    at ``cap²``.  Recall loss is confined to pairs whose ONLY agreeing
    blocks are dropped: each row then carries the indexes of its kept
    blocks, and the first-match filter skips an earlier agreeing block
    whose bucket was dropped, so a pair that also agrees on a kept
    block is still found there."""
    n_blocks = max_distance + 1
    keys = F.array(*block_keys(F.col("sig"), max_distance, bits))
    bucketed = sig.select("id", "sig", F.posexplode(keys).alias("bi", "bk"))
    # a bucket holds at most every row: with no more rows than the cap
    # nothing is dropped and the histogram pass is skipped
    capped = max_block_freq is not None and sig.count() > max_block_freq
    if capped:
        small = (
            bucketed.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("f"))
            .filter(F.col("f") <= max_block_freq)
            .select("bk")
        )
        kept = (
            bucketed.join(small, "bk", "left_semi")
            .groupBy("id", "sig")
            .agg(F.collect_set("bi").alias("kept"))
        )
        bucketed = kept.select(
            "id", "sig", "kept", F.posexplode(keys).alias("bi", "bk")
        ).filter(F.array_contains("kept", F.col("bi")))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    first_match = F.lit(True)
    for j in range(n_blocks - 1):
        differs = _block_bits(F.col("a.sig"), j, n_blocks, bits) != _block_bits(
            F.col("b.sig"), j, n_blocks, bits
        )
        if capped:
            # agreeing blocks share one bucket, so a.kept says for both
            differs = differs | ~F.array_contains("a.kept", j)
        first_match = first_match & ((F.lit(j) >= F.col("a.bi")) | differs)
    return (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .filter(first_match)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
