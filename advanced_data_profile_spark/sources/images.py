"""The images table: schema, reader, and the deterministic fixture
generator (FIXTURES.md §1).

Schema is the north_rule input_hint shape:
  image_id:string, bytes:binary, w:int, h:int, fmt:string,
  caption:string, phash:bigint  (+ part_id:int partition key)

Storage: identity-partitioned Parquet (``.../part_id=K/``) as the
in-sandbox stand-in for an Iceberg table — no Iceberg runtime jar here
(SURVEY.md §1.3); ``read_images`` takes ``format="iceberg"`` so a real
cluster flips one config, not a code path.

Generation is DISTRIBUTED: ``spark.range`` over row ids →
``mapInPandas`` synthesising payloads executor-side with numpy, seeded
per (seed, part_id, row_idx) so any row is reproducible independently.
The driver never materialises image bytes; this is how a 10^12-row
synthetic table would actually be produced on a cluster.

Planted violations (all modulo-rule deterministic, so tests can compute
exact expected counts without reading the data — see ground_truth()):
  duplicate image_id    : row_idx % DUP_MOD == DUP_AT  (copies id of row_idx-1)
  cross-part duplicate  : row 0 of every part > 0 duplicates part 0's row 0 id
  corrupt payload       : row_idx % CORRUPT_MOD == CORRUPT_AT  (7 bytes truncated)
  domain violation w    : row_idx % WDOM_MOD == WDOM_AT  (w in {0,-5,9000})
  dims mismatch         : row_idx % MISMATCH_MOD == MISMATCH_AT (declared w*2)
  bad fmt               : row_idx % FMT_MOD == FMT_AT  ("tiff??" | "" | null)
  caption null/empty    : row_idx % CAP_MOD in {CAP_NULL_AT, CAP_EMPTY_AT}
  orphan phash          : row_idx % ORPHAN_MOD == ORPHAN_AT (phash < ORPHAN_BASE)
  skewed phash buckets  : row_idx % SKEW_MOD < SKEW_WIDTH (one hot key per part % 2)
Last DRIFT_PARTS partitions have shifted w/h distribution + longer
captions (known-positive drift).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advanced_data_profile_spark.functions.imagecodec import (
    encode_bmp,
    encode_raw,
    pixel_hash,
)

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
    T.StructField("part_id", T.IntegerType(), False),
])

# planted-violation rule constants
DUP_MOD, DUP_AT = 200, 7
CORRUPT_MOD, CORRUPT_AT = 500, 11
WDOM_MOD, WDOM_AT = 331, 13
MISMATCH_MOD, MISMATCH_AT = 449, 17
FMT_MOD, FMT_AT = 333, 19
CAP_MOD, CAP_NULL_AT, CAP_EMPTY_AT = 101, 23, 24
ORPHAN_MOD, ORPHAN_AT = 541, 29
SKEW_MOD, SKEW_WIDTH = 17, 5
DRIFT_PARTS = 2
ORPHAN_BASE = -(1 << 62)
SKEW_PHASH = (123456789123456789, 987654321987654321)
BAD_FMTS = ("tiff??", "", None)

_VOCAB = (
    "image photo picture scene view detail closeup wide shot frame light "
    "shadow color texture pattern object person building tree sky water "
    "street night day sunset portrait landscape abstract urban nature"
).split()
_NON_ASCII_TOKENS = ["héllo", "wörld", "北京", "café", "naïve", "日本語"]


def _caption(rng: np.random.Generator, drift: bool, row_idx: int) -> str | None:
    m = row_idx % CAP_MOD
    if m == CAP_NULL_AT:
        return None
    if m == CAP_EMPTY_AT:
        return ""
    lo, hi = (20, 40) if drift else (3, 18)
    n = int(rng.integers(lo, hi + 1))
    words = [_VOCAB[int(i)] for i in rng.integers(0, len(_VOCAB), n)]
    if row_idx % 37 == 3:
        words[0] = _NON_ASCII_TOKENS[row_idx % len(_NON_ASCII_TOKENS)]
    return " ".join(words)


def _gen_row(seed: int, part_id: int, row_idx: int, n_parts: int,
             dims: tuple[int, ...]) -> dict:
    rng = np.random.default_rng(np.random.SeedSequence([seed, part_id, row_idx]))
    drift = part_id >= n_parts - DRIFT_PARTS and n_parts > DRIFT_PARTS

    if drift:
        # shifted dimension distribution: skew towards the largest dim
        probs = np.ones(len(dims)) / (2 * len(dims))
        probs[-1] += 0.5
        w = h = int(rng.choice(np.array(dims), p=probs))
    else:
        w = int(rng.choice(np.array(dims)))
        h = int(rng.choice(np.array(dims)))

    pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    fmt = "raw" if row_idx % 2 == 0 else "bmp"
    payload = encode_raw(pixels) if fmt == "raw" else encode_bmp(pixels)
    phash = pixel_hash(pixels)

    image_id = f"img-{part_id:04d}-{row_idx:08d}"
    if row_idx % DUP_MOD == DUP_AT and row_idx > 0:
        image_id = f"img-{part_id:04d}-{row_idx - 1:08d}"
    if row_idx == 0 and part_id > 0:
        image_id = "img-0000-00000000"

    if row_idx % CORRUPT_MOD == CORRUPT_AT:
        payload = payload[:-7]
    decl_w = w
    if row_idx % WDOM_MOD == WDOM_AT:
        decl_w = (0, -5, 9000)[(row_idx // WDOM_MOD) % 3]
    elif row_idx % MISMATCH_MOD == MISMATCH_AT:
        decl_w = w * 2
    if row_idx % FMT_MOD == FMT_AT:
        fmt = BAD_FMTS[(row_idx // FMT_MOD) % 3]

    if row_idx % SKEW_MOD < SKEW_WIDTH:
        phash = SKEW_PHASH[part_id % 2]
    elif row_idx % ORPHAN_MOD == ORPHAN_AT:
        phash = ORPHAN_BASE - row_idx

    return {
        "image_id": image_id,
        "bytes": payload,
        "w": decl_w,
        "h": h,
        "fmt": fmt,
        "caption": _caption(rng, drift, row_idx),
        "phash": phash,
        "part_id": part_id,
    }


def generate_images(
    spark: SparkSession,
    n_parts: int = 4,
    rows_per_part: int = 250,
    seed: int = 42,
    dims: tuple[int, ...] = (16, 32, 64),
) -> DataFrame:
    """Distributed deterministic synthesis of the images table."""
    total = n_parts * rows_per_part

    def gen(batches):
        for pdf in batches:
            rows = [
                _gen_row(seed, int(i) // rows_per_part, int(i) % rows_per_part,
                         n_parts, dims)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows)

    base = spark.range(total).repartition(max(n_parts, 8))
    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


def write_images(df: DataFrame, path: str) -> None:
    """Identity-partitioned parquet layout (Iceberg stand-in).

    Repartitioned by part_id first so each partition directory gets one
    coherent file instead of (writer-tasks x partitions) shards — the
    same file-sizing discipline an Iceberg writer enforces with
    write.distribution-mode=hash.

    Compression: UNCOMPRESSED. Image payloads are already-encoded media
    (JPEG/raw pixels — high-entropy bytes); a general-purpose codec on
    top buys ~0% size (measured 1.002x on the fixture) and costs a full
    extra decompress pass over every byte on EVERY read — pure memory-
    bandwidth waste in the decode stage, which is the bandwidth-bound
    stage at high core counts. Standard practice for media-in-table
    storage (Iceberg: write.parquet.compression-codec=uncompressed,
    or per-column codec overrides where supported)."""
    n_parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    df.repartition(int(n_parts), F.col("part_id")).write.mode(
        "overwrite"
    ).option("compression", "uncompressed").partitionBy("part_id").parquet(path)


def write_images_bucketed(
    df: DataFrame, table_name: str, buckets: int = 16,
    bucket_col: str = "image_id",
) -> None:
    """Bucketed+sorted table layout for SHUFFLE-FREE co-located joins on
    the id: both sides of a bucketed equi-join (e.g. candidate vs
    reference in verify_against_reference, or repeated dedup joins on
    image_id) read pre-hashed buckets, so the SortMergeJoin plans with
    NO Exchange — at 10^12 rows that removes the single largest shuffle
    in the verification pipeline (a node-local per-bucket sort remains;
    Spark only trusts file sortedness with one file per bucket). The Iceberg
    equivalent is a `bucket(N, image_id)` partition transform; this is
    the Spark-catalog spelling of the same layout."""
    (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def read_images(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    # the declared schema (part_id included, as an int) spares a
    # footer-read Spark job per read to infer it
    return spark.read.schema(IMAGES_SCHEMA).parquet(path)


def phash_reference(images: DataFrame) -> DataFrame:
    """The valid-phash reference set: every generated (non-orphan) phash.
    Legit phashes are non-negative by construction; orphans negative."""
    return images.select("phash").where(F.col("phash") >= 0).distinct()


def ground_truth(n_parts: int, rows_per_part: int) -> dict:
    """Expected per-partition violation counts, derived purely from the
    modulo rules — never from the data (the test oracle)."""
    out: dict = {}
    for p in range(n_parts):
        caption_null = sum(
            1 for r in range(rows_per_part) if r % CAP_MOD in (CAP_NULL_AT, CAP_EMPTY_AT)
        )
        bad_w = sum(1 for r in range(rows_per_part) if r % WDOM_MOD == WDOM_AT)
        bad_fmt = sum(1 for r in range(rows_per_part) if r % FMT_MOD == FMT_AT)
        orphan = sum(
            1 for r in range(rows_per_part)
            if r % ORPHAN_MOD == ORPHAN_AT and not r % SKEW_MOD < SKEW_WIDTH
        )
        corrupt = sum(1 for r in range(rows_per_part) if r % CORRUPT_MOD == CORRUPT_AT)
        mismatch = sum(
            1 for r in range(rows_per_part)
            if r % MISMATCH_MOD == MISMATCH_AT and r % WDOM_MOD != WDOM_AT
        )
        # duplicate ids: each dup row makes a pair (2 involved rows);
        # row 0 of parts > 0 duplicates across partitions (not within).
        dup_rows = sum(
            1 for r in range(rows_per_part) if r % DUP_MOD == DUP_AT and r > 0
        )
        out[p] = {
            "caption_violations": caption_null,
            "w_domain_violations": bad_w,
            "fmt_violations": bad_fmt,
            "orphan_phash": orphan,
            "corrupt_payloads": corrupt,
            "dim_mismatch": mismatch,
            "dup_id_pairs": dup_rows,
        }
    return out
