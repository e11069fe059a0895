"""Multimodal extension queries with a REAL driver-checked oracle.

No binary table exists in testdata, so both engines construct the same
payload deterministically in-plan (the conformance_pipeline_versioned
technique): ``md5(text) || '|MM01|' || doc_id`` encoded as UTF-8 — pure
ASCII, so DuckDB's per-character ``ascii()`` equals the byte value and
the two engines agree byte-for-byte. Contrived payloads, real
operators: the Spark side runs the actual production plumbing
(``attach_media_metadata`` -> Arrow ``map_rows`` decode in
:mod:`sparkgraft.multimodal`, and the declarative byte-slicing
``sample_frames``), which is exactly what a real deployment would run
with a non-fake decoder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import multimodal as M
from ..io import read_table
from ..relational import spread
from .registry import register

# Shared payload construction (both engines build the identical string).
_PAYLOAD_SQL = "md5(text) || '|MM01|' || CAST(doc_id AS VARCHAR)"


def _payload_col() -> F.Column:
    return F.concat(
        F.md5(F.col("text")),
        F.lit("|MM01|"),
        F.col("doc_id").cast("string"),
    )


@register(
    "multimodal_features",
    f"""
    WITH p AS (
        SELECT doc_id AS media_id, {_PAYLOAD_SQL} AS s FROM documents
    )
    SELECT media_id,
           CAST(length(s) AS BIGINT) AS feat_n_bytes,
           round(CAST(list_sum(list_transform(range(1, length(s) + 1),
                     i -> ascii(substr(s, CAST(i AS INT), 1))))
                 AS DOUBLE) / length(s), 4) AS feat_mean_byte,
           CAST(ascii(substr(s, 1, 1)) AS BIGINT) AS feat_first_byte
    FROM p
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary feature extraction end-to-end: payload bytes built
    in-plan, canonical media shape, Arrow-batched ``map_rows``
    decode (the stub decoder's byte statistics ARE the oracle-checkable
    features: exact integer byte sum -> one double division, rounded
    identically on both engines)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    media = M.attach_media_metadata(
        docs.select(
            "doc_id", F.encode(_payload_col(), "UTF-8").alias("payload")
        ),
        payload_col="payload",
        modality="image",
        format="fake",
        id_col="doc_id",
    )
    feats = M.extract_features(media)
    return feats.select(
        "media_id",
        "feat_n_bytes",
        F.round(F.col("feat_mean_byte"), 4).alias("feat_mean_byte"),
        "feat_first_byte",
    )


@register(
    "perceptual_near_dup_planted",
    # PROMOTED to the active driver gate r8 (VERDICT r7 #3 — the
    # perceptual-hash family now that png_resize is a REAL codec; slot
    # funded by retiring the three-round-stable open_lineitems_per_day):
    # media near-dup via perceptual hashing
    # under a REAL oracle — dHash (stride-resample to a 9x8 grid, one
    # bit per horizontal neighbor comparison, 64-bit pack) recomputed
    # from scratch in SQL, then ALL-pairs Hamming <= 6. The planted
    # re-encode shifts every payload byte by +1 (a brightness shift:
    # md5 sees an unrelated blob, every neighbor comparison — hence the
    # dHash — is preserved exactly), so each twin pair lands at Hamming
    # 0 while unrelated payloads sit near the random-pair expectation
    # of 32 differing bits. The Spark side is the production path:
    # Arrow-batched perceptual_hash, then 8-bit banding for candidates
    # (complete for Hamming <= 7 by pigeonhole, so banding finds every
    # pair the all-pairs oracle keeps).
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS media_id, {_PAYLOAD_SQL} AS s FROM documents
    ),
    twin AS (
        SELECT media_id + 10000000 AS media_id,
               list_reduce(list_transform(range(1, length(s) + 1),
                   i -> chr(ascii(substr(s, CAST(i AS INT), 1)) + 1)),
                   (a, b) -> a || b) AS s
        FROM base WHERE media_id % 20 = 0
    ),
    allm AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
    -- fake_resize: payloads are < 144 bytes so the stride is 1 and the
    -- 72-byte grid is the payload extended cyclically
    bytes AS (
        SELECT media_id,
               list_transform(range(0, 72),
                   i -> ascii(substr(s, CAST(i % length(s) AS INT) + 1, 1)))
                   AS bs
        FROM allm
    ),
    -- bit k (row r = k // 8, col c = k % 8): grid cell (r, c+1) vs
    -- (r, c); cell (r, c) = byte[r*9 + c] (9-wide rows, 1-indexed list)
    bits AS (
        SELECT media_id,
               list_transform(range(0, 64),
                   k -> CASE WHEN
                         bs[CAST(k // 8 AS INT) * 9 + CAST(k % 8 AS INT) + 2]
                       > bs[CAST(k // 8 AS INT) * 9 + CAST(k % 8 AS INT) + 1]
                       THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)
                   AS bl
        FROM bytes
    ),
    ph AS (
        SELECT media_id,
               CAST(CASE WHEN v >= CAST(9223372036854775808 AS HUGEINT)
                    THEN v - CAST(18446744073709551616 AS HUGEINT)
                    ELSE v END AS BIGINT) AS phash
        FROM (SELECT media_id,
                     list_reduce(bl, (a, b) -> a * 2 + b) AS v
              FROM bits)
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
           b.media_id = a.media_id + 10000000 AS is_planted_twin
    FROM ph a JOIN ph b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """,
)
def perceptual_near_dup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup, end to end: plant a byte-shifted re-encode of
    every 20th payload (visually identical, md5-distinct), dHash every
    payload through the Arrow decode seam, band the 64 bits into 8
    exact-match bytes for candidates, verify by exact Hamming <= 6.
    Banding is COMPLETE at this threshold (<= 7 differing bits cannot
    dirty all 8 bands), so the banded candidate set provably contains
    every pair the oracle's all-pairs scan keeps — the md5-distinct
    controls (~32 differing bits) cannot band-collide into the output
    because the Hamming verify rejects them."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        _payload_col().alias("s"),
    )
    twin = base.where(F.col("media_id") % 20 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.array_join(
            F.transform(
                F.split(F.col("s"), ""), lambda c: F.char(F.ascii(c) + 1)
            ),
            "",
        ).alias("s"),
    )
    media = (
        base.unionByName(twin)
        .select("media_id", F.encode(F.col("s"), "UTF-8").alias("payload"))
    )
    ph = M.perceptual_hash(media)
    # 8 bands of 8 bits: arithmetic shift then mask — candidates must
    # agree exactly on at least one band (pigeonhole-complete <= 7)
    bands = ph.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("phash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("key"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("bk"),
    ).select("media_id", "phash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            )
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= 6)
        .distinct()
    )
    return pairs.withColumn(
        "is_planted_twin",
        F.col("media_b") == F.col("media_a") + 10_000_000,
    )
