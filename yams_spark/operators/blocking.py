"""Blocking + candidate-pair generation.

Recasts the reference's ANN candidate generation (dedupe.cpp:157-184,
k=6 similarity self-join) as explicit blocking: every page is exploded to
(url, block_key, family) rows across five key families — exact text hash,
Rabin chunk hashes, MinHash LSH bands, SimHash bands, title key — and
candidate pairs are the within-block self-join with ``url_a < url_b``,
deduplicated across families.

Scale levers (the reference is single-node; these are the north-rule
additions):

* oversized blocks are *salted*: keys with more than ``block_cap`` members
  are deterministically split into ``ceil(n/cap)`` sub-blocks by
  xxhash64(url). Cross-sub-block pairs are dropped — by design — and the
  truncation is reported per key in the lineage metrics, never silently
  (mirrors the spirit of max_component_docs=64, topology_baseline.cpp:44).
* AQE skew-join handles residual skew in the pair self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yams_spark.operators.signatures import (
    BLOCKING_FAMILY_SPEC,
    DEFAULT_BLOCKING_FAMILIES,
)

DEFAULT_BLOCK_CAP = 64

#: default blocking families (shared contract in operators/signatures.py).
#: SimHash 16-bit bands are OFF by default: at n docs each 16-bit band
#: bucket holds ~n/65536 docs, so beyond ~10^5 docs the bands mostly emit
#: random (gate-rejected) candidate pairs — at this repo's bench scale they
#: were 78% of all pairs and ~0% of accepted ones. Hamming distance over
#: the full simhash64 stays as a pair *feature*; a web-scale simhash
#: blocker needs multi-probe tables + hamming verify.
DEFAULT_FAMILIES = DEFAULT_BLOCKING_FAMILIES


def blocks_stage(
    signatures: DataFrame, families: tuple[str, ...] = DEFAULT_FAMILIES
) -> DataFrame:
    """signatures -> (url, block_key, family), one row per key.

    Key construction is driven by ``BLOCKING_FAMILY_SPEC`` — the same spec
    the pure-Python oracle consumes via ``blocking_keys_from_signature`` —
    so a one-sided edit to the blocking contract is impossible.
    """
    # One scan + one Generate: per family build an array<struct<block_key,
    # family>> and explode the concatenation — the unioned-scans version
    # read the signature table once PER FAMILY (4 scans of the committed
    # sign parquet at bench scale; guide §2.3 "project before" / §6).
    fam_arrays = []
    for fam in families:
        col, prefix, is_array = BLOCKING_FAMILY_SPEC[fam]
        if is_array:
            keyed = F.transform(
                F.col(col),
                lambda k: F.struct(
                    (F.concat(F.lit(prefix), k) if prefix else k).alias("block_key"),
                    F.lit(fam).alias("family"),
                ),
            )
        else:
            key = (
                F.concat(F.lit(prefix), F.col(col)) if prefix else F.col(col)
            )
            keyed = F.array(
                F.struct(key.alias("block_key"), F.lit(fam).alias("family"))
            )
        fam_arrays.append(
            F.when(F.col(col).isNotNull(), keyed).otherwise(
                F.array().cast("array<struct<block_key:string,family:string>>")
            )
        )
    arr = fam_arrays[0] if len(fam_arrays) == 1 else F.concat(*fam_arrays)
    return (
        signatures.select("url", F.explode(arr).alias("__kf"))
        .select("url", F.col("__kf.block_key").alias("block_key"),
                F.col("__kf.family").alias("family"))
    )


def salt_blocks(blocks: DataFrame, block_cap: int = DEFAULT_BLOCK_CAP) -> tuple[DataFrame, DataFrame]:
    """Split oversized blocks into <=cap salted sub-blocks.

    Returns (salted_blocks, oversize_report). ``salted_blocks`` has the same
    columns with ``block_key`` rewritten to ``key#<salt>`` for hot keys.
    ``oversize_report`` lists every truncated key with its size and salt
    fan-out (lineage: dropped cross-sub-block pairs are accounted for).
    """
    # Only OVERSIZED keys need a size: a partially-aggregated count (map-side
    # combine, ~half the shuffle bytes of the row stream) replaces the old
    # full-table window sort over every (url, key) row — guide §2.3/§2.4:
    # the window shuffled AND sorted all ~35 key rows per page just to tag
    # the handful of keys above the cap. The surviving oversized-key table
    # is tiny (bounded by hot-key count), so AQE turns the join back onto
    # the row stream into a runtime broadcast; at a pathological 100 TB
    # hot-key census it degrades to a plain shuffled join, never an OOM.
    n_salt = F.ceil(F.col("block_size") / F.lit(block_cap)).cast("int")
    big = (
        blocks.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .where(F.col("block_size") > block_cap)
    ).persist()
    salted = (
        blocks.join(big, "block_key", "left")
        .withColumn(
            "block_key",
            F.when(
                F.col("block_size").isNotNull(),
                F.concat_ws(
                    "#", F.col("block_key"),
                    F.pmod(F.xxhash64("url"), n_salt).cast("string"),
                ),
            ).otherwise(F.col("block_key")),
        )
        .select("url", "block_key", "family")
    )
    report = (
        big.withColumn("n_salt", n_salt)
        .withColumn(
            "dropped_pairs_upper_bound",
            (F.col("block_size") * (F.col("block_size") - 1) / 2
             - (F.col("block_size") / F.col("n_salt"))
             * (F.col("block_size") / F.col("n_salt") - 1) / 2 * F.col("n_salt")).cast("long"),
        )
    )
    return salted, report


def simhash_probe_keys(
    sim_col,
    n_bands: int = 4,
    band_bits: int = 16,
    probe_bits: int = 0,
):
    """Array of SimHash band keys ``"<i>:<band value>"`` for a 64-bit
    signature column; ``probe_bits=1`` additionally emits every 1-bit
    flip of each band (multi-probe)."""
    sim = F.col(sim_col) if isinstance(sim_col, str) else sim_col
    mask = (1 << band_bits) - 1
    keys = []
    for i in range(n_bands):
        band = F.shiftrightunsigned(sim, i * band_bits).bitwiseAND(F.lit(mask))
        keys.append(F.concat(F.lit(f"{i}:"), band.cast("string")))
        if probe_bits >= 1:
            for j in range(band_bits):
                keys.append(
                    F.concat(
                        F.lit(f"{i}:"),
                        band.bitwiseXOR(F.lit(1 << j)).cast("string"),
                    )
                )
    return F.array(*keys)


def simhash_multiprobe_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """The web-scale SimHash blocker this module's own note called for:
    multi-probe band tables + Hamming verify (the plain 16-bit band family
    measured 78% junk pairs when fed straight to the expensive scorer —
    the fix is a popcount verify between banding and scoring, plus probes
    for recall past the pigeonhole bound).

    Recall guarantee by pigeonhole over 4 bands of 16 bits: a pair at
    Hamming distance k has some band with <= floor(k/4) differing bits,
    so the exact band join is complete for k < 4, and 1-bit probes (each
    band key also published with every single bit flipped, on ONE side —
    bit flips are symmetric) are complete for k <= 7. Candidates are verified with
    ``bit_count(a XOR b) <= max_hamming`` — one cheap codegen popcount
    per candidate, so junk band collisions die before any scoring.
    Returns (id_a, id_b, hamming).
    """
    n_bands, band_bits = 4, 16
    if max_hamming >= 2 * n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 1-bit multi-probe recall "
            f"guarantee ({2 * n_bands - 1} for {n_bands} bands); add bands "
            "or raise band count"
        )
    probe_bits = 0 if max_hamming < n_bands else 1
    base = signatures.select(F.col("url").alias("id"), F.col("simhash64").alias("sim"))
    left = base.select(
        F.col("id").alias("id_a"), F.col("sim").alias("sim_a"),
        F.explode(
            simhash_probe_keys(F.col("sim"), n_bands, band_bits, probe_bits)
        ).alias("bkey"),
    ).dropDuplicates(["id_a", "bkey"])
    right = base.select(
        F.col("id").alias("id_b"), F.col("sim").alias("sim_b"),
        F.explode(
            simhash_probe_keys(F.col("sim"), n_bands, band_bits, 0)
        ).alias("bkey"),
    )
    cand = (
        left.join(right, "bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def candidate_pairs_stage(blocks: DataFrame) -> DataFrame:
    """(url, block_key) -> distinct (url_a, url_b) with url_a < url_b.

    One keyed shuffle instead of a two-sided self-join (guide §2.4): the
    rows are grouped per block key once, singleton blocks (the majority —
    ~half the distinct keys at bench scale) die in the aggregation, and the
    within-block ordered pairs are generated by a streaming JVM
    Generate+Filter (exactly the row set the old join's probe produced).
    Group size is bounded by the salting cap upstream, so no collected
    block list can exceed ~2x the cap. ``dropDuplicates`` dedupes pairs
    found by multiple key families, with map-side partial aggregation.
    """
    grouped = (
        blocks.groupBy("block_key")
        .agg(F.collect_list("url").alias("us"))
        .where(F.size("us") >= 2)
    )
    return (
        grouped.select(F.explode("us").alias("url_a"), "us")
        .select("url_a", F.explode("us").alias("url_b"))
        .where(F.col("url_a") < F.col("url_b"))
        .dropDuplicates(["url_a", "url_b"])
    )
