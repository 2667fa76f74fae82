"""Image payload verification — Arrow-batched, never per-row Python UDFs.

Two kernels (north_rule / input_hint: "decoded-pixel allclose
(PSNR>=40dB for lossy) + caption equality ... inside Arrow-batched
decode UDFs"):

- ``validate_payloads``: standalone structural validation — payload
  decodes, decoded dims match declared (w, h), fmt is known. Runs as
  ``mapInArrow`` with payloads accessed as zero-copy memoryview slices
  of the Arrow buffers (no per-row Python bytes objects, no pandas
  conversion); batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py)
  because rows are payload-wide. ``validate_payloads_files`` is the
  same kernel with the parquet row groups read by pyarrow INSIDE the
  Python workers — bytes never enter the JVM. Its tasks are byte-sized
  file slices planned on the driver from the partition listing
  (``decode_file_tasks``: no footer read, no Spark job).

  The pipeline's decode pass runs the same kernel but returns counts,
  not per-image rows: ``verdict_counts_files`` packs the slices into
  split-sized groups (``decode_file_groups``, Spark's own file-packing
  rule) and runs ONE single-stage Spark job with one Python task per
  group, each folding its verdicts into one row per partition it read
  (``_fold_verdicts``). Sources with no hive listing (Iceberg, flat
  files) fold the JVM scan's batches the same way (``verdict_counts``),
  and ``verdict_rows`` sums either leg's counts on the driver into
  constraint_results rows.

- ``verify_against_reference``: per-row invariant vs a reference table —
  decoded-pixel PSNR (>= min_psnr passes; lossless identical ⇒ capped
  99 dB) and caption byte-equality. The candidate/reference join is an
  equi-join on image_id: both sides are repartitioned by the join key so
  at cluster scale it is a co-partitioned sort-merge join; the heavy
  decode happens AFTER the join so only matched pairs are decoded.

Only the needed columns are selected before the UDF — Catalyst prunes
everything else out of the parquet scan (rule: never drag ``bytes``
through stages that don't decode).
"""

from __future__ import annotations

import heapq

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from advanced_data_profile_spark.functions.imagecodec import decode, psnr
from advanced_data_profile_spark.operators import constraints as C
from advanced_data_profile_spark.session import pyarrow_path

VALIDATION_SCHEMA = (
    "image_id string, part_id int, decode_ok boolean, dims_match boolean, "
    "fmt_known boolean, error string"
)

# the decode pass's folded verdicts: per partition, its rows and one
# violation count per decode constraint (DECODE_CHECKS, same order)
COUNTS_SCHEMA = "part_id int, n_rows long, v_decode long, v_dims long, v_fmt long"
_COUNTS = ("n_rows", "v_decode", "v_dims", "v_fmt")
DECODE_CHECKS = [
    C.Check(name, "image") for name in ("payload_decodes", "dims_match_payload", "fmt_known")
]

VERIFY_SCHEMA = (
    "image_id string, part_id int, psnr double, pixels_ok boolean, "
    "caption_ok boolean, error string"
)

# decode slices are sized as Spark sizes its parquet splits at its
# defaults (spark.sql.files.maxPartitionBytes and openCostInBytes):
# min(MAX_SPLIT_BYTES, max(MIN_SPLIT_BYTES, (pending bytes +
# OPEN_COST_BYTES per file) / cores)). The JVM scan's child session
# reads MAX_SPLIT_BYTES too.
MAX_SPLIT_BYTES = 128 << 20
MIN_SPLIT_BYTES = 4 << 20
# what each file adds to the pending bytes the split size is computed
# from, as in Spark's bytes-per-core (spark.sql.files.openCostInBytes
# at its default)
OPEN_COST_BYTES = 4 << 20
# rows per Arrow batch of a decode slice (rows are payload-wide; the
# same bound session.py sets for the JVM leg's Arrow batches)
_BATCH_ROWS = 2048
# most Spark partitions a decode job is spread over
_MAX_DECODE_PARTITIONS = 100_000


def _binary_views(barr, n):
    """(offsets, data-memoryview, array) for a flat Arrow binary array —
    the zero-copy access pattern both kernels use: payload i is
    data[offsets[i]:offsets[i+1]], no per-row Python bytes objects."""
    if isinstance(barr, pa.ChunkedArray):  # defensive; batches are flat
        barr = barr.combine_chunks()
    bufs = barr.buffers()
    # [validity, offsets, data]; honor the array's logical offset
    off_dtype = np.int64 if pa.types.is_large_binary(barr.type) else np.int32
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        barr.offset: barr.offset + n + 1
    ]
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    return offsets, data, barr


def _validate_arrow(it):
    """Arrow-native validation kernel: payloads are read as ZERO-COPY
    memoryview slices of the Arrow data buffer — no per-row Python
    bytes objects, no pandas conversion. The decode path is
    memory-bandwidth-bound at high core counts, so eliminating the
    bytes-object copy is the difference between scaling and not."""
    for batch in it:
        n = batch.num_rows
        cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        ws = cols["w"].to_numpy(zero_copy_only=False)
        hs = cols["h"].to_numpy(zero_copy_only=False)
        fmts = cols["fmt"].to_pylist()
        offsets, data, barr = _binary_views(cols["bytes"], n)

        decode_ok = np.zeros(n, dtype=bool)
        dims_match = np.zeros(n, dtype=bool)
        fmt_known = np.zeros(n, dtype=bool)
        errors: list[str | None] = [None] * n
        for i in range(n):
            fmt = fmts[i]
            fmt_known[i] = fmt in ("raw", "bmp")
            try:
                if not barr[i].is_valid:
                    raise ValueError("null payload")
                payload = data[offsets[i]: offsets[i + 1]]
                px = decode(payload, int(ws[i]), int(hs[i]), fmt)
                decode_ok[i] = True
                dims_match[i] = px.shape[0] == hs[i] and px.shape[1] == ws[i]
            except (ValueError, TypeError) as e:
                errors[i] = str(e)[:200]
        yield pa.RecordBatch.from_arrays(
            [
                cols["image_id"], cols["part_id"],
                pa.array(decode_ok), pa.array(dims_match),
                pa.array(fmt_known), pa.array(errors, type=pa.string()),
            ],
            names=["image_id", "part_id", "decode_ok", "dims_match",
                   "fmt_known", "error"],
        )


def validate_payloads(images: DataFrame) -> DataFrame:
    """Structural per-image validation; returns one row per image."""
    src = images.select("image_id", "part_id", "bytes", "w", "h", "fmt")
    return src.mapInArrow(_validate_arrow, schema=VALIDATION_SCHEMA)


def _file_slices(
    spark, images_path: str, part_ids: list
) -> tuple[list[tuple[tuple[str, int, int, int], int]], int]:
    """((path, part_id, k, n), bytes) per decode slice, and the split
    size the slices were cut to (see decode_file_tasks)."""
    from advanced_data_profile_spark.session import (
        hadoop_list_file_sizes,
        hadoop_path_exists,
    )

    files = []
    for pid in part_ids:
        d = f"{images_path}/part_id={int(pid)}"
        # a pending partition with no hive dir has no data files —
        # nothing to decode for it, and the metadata legs see the same
        # empty scan. Raising here would surface only after the
        # pipeline's results overwrite (the decode future is joined
        # inside the write phase), so tolerate-and-skip is the correct
        # shape for missing dirs; real listing errors still propagate.
        if not hadoop_path_exists(spark, d):
            continue
        files += [(p, int(pid), size) for p, size in hadoop_list_file_sizes(spark, d)]
    pending = sum(size + OPEN_COST_BYTES for _, _, size in files)
    split = min(MAX_SPLIT_BYTES, max(
        MIN_SPLIT_BYTES, pending // spark.sparkContext.defaultParallelism))
    return [
        ((p, pid, k, n), (k + 1) * size // n - k * size // n)
        for p, pid, size in sorted(files)
        for n in [-(-size // split)]
        for k in range(n)
    ], split


def decode_file_tasks(
    spark, images_path: str, part_ids: list
) -> list[tuple[str, int, int, int]]:
    """(path, part_id, k, n) decode slices covering exactly the pending
    hive partitions, planned on the driver from the per-part-dir listing
    alone (Hadoop FS API; pruning = listing only pending dirs): no
    footer is read and no Spark job runs. A file of ``len`` bytes is
    cut into n = ceil(len / split) slices, with split =
    min(MAX_SPLIT_BYTES, max(MIN_SPLIT_BYTES, (pending bytes +
    OPEN_COST_BYTES per file) / defaultParallelism)) — the split size
    Spark's parquet scan computes at its defaults. Slice k decodes the
    file's row groups [k·R//n, (k+1)·R//n), so each row group is read
    by exactly one task and, like a Spark split holding no row-group
    midpoint, a slice past the file's row-group count is empty. At
    real-table scale the slice list is the same O(files) driver state
    Spark's own file index holds.

    The pipeline does not run one Python task per slice: each Python
    task pays a fixed start-up cost before user code runs (PySpark's
    worker calls importlib.invalidate_caches(), which re-reads the zip
    directories of the archives on its path), which a small slice
    never earns back, so decode_file_groups packs the slices into
    groups of up to the split size, one task each."""
    return [t for t, _ in _file_slices(spark, images_path, part_ids)[0]]


def pack_slices(slices: list, split: int) -> list[list]:
    """Packs (slice, bytes) pairs into groups of at most ``split`` slice
    bytes, largest slice first, each into the least-loaded group it
    fits in, else into a new group. Returns the groups' slices.

    Spark's FilePartition packs its splits largest first too, but
    closes a partition at the first split that does not fit and charges
    every split an open cost. A Python task's fixed cost is far above a
    file open's, so here the open cost enters only the split size (as
    it enters Spark's bytes-per-core, see decode_file_tasks) and the
    groups fill evenly: on a small input, where split ~ pending / cores,
    that is about one group per core (8 files of 26 and 39 MB: 4 groups
    on 4 cores, where Spark's rule makes 5), while
    split-sized slices at table scale get a group each."""
    groups: list[list] = []
    loads: list[tuple[int, int]] = []  # (bytes, group index), a min-heap
    for task, nbytes in sorted(slices, key=lambda s: -s[1]):
        if loads and loads[0][0] + nbytes <= split:
            load, i = heapq.heappop(loads)
        else:
            load, i = 0, len(groups)
            groups.append([])
        groups[i].append(task)
        heapq.heappush(loads, (load + nbytes, i))
    return groups


def decode_file_groups(spark, images_path: str, part_ids: list) -> list[list]:
    """decode_file_tasks' slices packed into groups of at most the
    split size (pack_slices), one Python task each: on a small input
    about one task per core, at table scale, where slices are already
    split-sized, one slice per task."""
    return pack_slices(*_file_slices(spark, images_path, part_ids))


def _read_slices(tasks):
    """The Arrow batches of decode slices (path, part_id, k, n), read by
    pyarrow inside the Python worker, each with its part_id column."""
    import pyarrow.parquet as pq

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    for p, pid, k, n in tasks:
        with pq.ParquetFile(pyarrow_path(p)) as pf:
            r = pf.metadata.num_row_groups
            rgs = list(range(k * r // n, (k + 1) * r // n))
            if not rgs:
                continue
            for rb in pf.iter_batches(
                batch_size=_BATCH_ROWS, row_groups=rgs, columns=cols
            ):
                yield rb.append_column(
                    "part_id", pa.array([pid] * rb.num_rows, type=pa.int32())
                )


def _slice_job(spark, groups: list[list], kernel, schema: str) -> DataFrame:
    """``kernel`` over the slices of each group in one Spark job with no
    shuffle: ``spark.range`` gives one partition per group, and each
    task reads the groups its ids index in the driver-built plan the
    closure carries (PySpark broadcasts a large pickled command), one
    kernel call per task. The partition count is capped so a
    billion-slice table doesn't ask the scheduler for a billion
    single-task partitions."""
    def run(it):
        yield from kernel(
            rb for b in it for i in b.column(0).to_pylist()
            for rb in _read_slices(groups[i])
        )

    n = len(groups)
    return spark.range(n, numPartitions=min(n, _MAX_DECODE_PARTITIONS)).mapInArrow(
        run, schema)


def validate_payloads_files(
    spark, images_path: str, part_ids: list, tasks: list | None = None
) -> DataFrame:
    """The pyarrow DECODE LEG: same validation rows as
    validate_payloads, but the payload bytes are read by pyarrow
    INSIDE the Python workers (one task per file slice, see
    decode_file_tasks) instead of flowing parquet -> JVM scan -> Arrow
    IPC -> Python. On a memory-bandwidth-bound box that extra JVM hop
    is the decode stage's dominant cost: A/B at the 512k-image scaling
    fixture (local[32], min-of-3) measured 13.5s for the JVM scan at
    16m splits, 6.1s at its best split size (256m), and 3.97s for this
    leg — AT the frameworkless kernel probe's 4.05s floor, i.e. zero
    measurable framework overhead on the bytes stream. The decoded
    verdicts (6 narrow columns) are the only rows that ever cross
    into the JVM.

    Distribution: one Spark partition per slice (_slice_job), each
    task opening its file's footer, taking its slice's row groups and
    streaming them through the same zero-copy _validate_arrow kernel
    as the JVM leg — identical output, property- and parity-tested."""
    if tasks is None:
        tasks = decode_file_tasks(spark, images_path, part_ids)
    if not tasks:
        raise ValueError(
            f"no decode tasks under {images_path!r} for partitions "
            f"{list(part_ids)[:5]}..."
        )
    return _slice_job(spark, [[t] for t in tasks], _validate_arrow, VALIDATION_SCHEMA)


def _sum_by_part(t):
    """Sums the count columns of ``t`` per part_id."""
    s = t.group_by("part_id").aggregate([(c, "sum") for c in _COUNTS])
    return pa.table({"part_id": s["part_id"], **{c: s[f"{c}_sum"] for c in _COUNTS}})


def _fold_verdicts(validated):
    """Folds per-image validation batches (_validate_arrow's output)
    into COUNTS_SCHEMA batches: one row per partition present, with the
    counts validation_verdicts aggregates — rows, failed decodes,
    decoded payloads whose dims differ, unknown formats."""
    parts = []
    for b in validated:
        ok, dims, fmt = (
            b.column(c).to_numpy(zero_copy_only=False)
            for c in ("decode_ok", "dims_match", "fmt_known")
        )
        parts.append(_sum_by_part(pa.table({
            "part_id": b.column("part_id"),
            "n_rows": np.ones(len(ok), np.int64),
            "v_decode": (~ok).astype(np.int64),
            "v_dims": (ok & ~dims).astype(np.int64),
            "v_fmt": (~fmt).astype(np.int64),
        })))
    if parts:
        yield from _sum_by_part(pa.concat_tables(parts)).to_batches()


def _validate_and_fold(it):
    return _fold_verdicts(_validate_arrow(it))


def verdict_counts_files(spark, groups: list[list]) -> DataFrame:
    """The pipeline's decode pass over a hive layout: the packed slice
    groups of decode_file_groups through the validation kernel, folded
    in each task (COUNTS_SCHEMA rows, one per partition a task read).
    One Spark job of one stage, one Python task per group."""
    return _slice_job(spark, groups, _validate_and_fold, COUNTS_SCHEMA)


def verdict_counts(images: DataFrame) -> DataFrame:
    """verdict_counts_files over a JVM scan (sources with no hive
    listing): the scan's Arrow batches through the same kernel and
    fold."""
    src = images.select("image_id", "part_id", "bytes", "w", "h", "fmt")
    return src.mapInArrow(_validate_and_fold, schema=COUNTS_SCHEMA)


def verdict_rows(counts):
    """The decode pass's constraint_results rows (RESULT_SCHEMA, a
    pyarrow Table) from either leg's collected COUNTS_SCHEMA rows,
    summed per partition on the driver: the rows validation_verdicts
    gives over the same images."""
    s = _sum_by_part(counts)
    return C.results_arrow(pa.table({
        "part_id": s["part_id"], "n_rows": s["n_rows"],
        **{f"__v_{i}": s[c] for i, c in enumerate(_COUNTS[1:])},
    }), DECODE_CHECKS)


def validation_verdicts(validated: DataFrame) -> DataFrame:
    """Roll per-image validation up to per-partition constraint rows in
    the constraint_results shape."""
    return C.results_from_agg(validated.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("decode_ok")).cast("long")).alias("__v_0"),
        F.sum((F.col("decode_ok") & ~F.col("dims_match")).cast("long")).alias("__v_1"),
        F.sum((~F.col("fmt_known")).cast("long")).alias("__v_2"),
    ), DECODE_CHECKS, "part_id")


def _verify_arrow(min_psnr: float):
    """Arrow-native twin of _validate_arrow for the reference-verify
    kernel: BOTH payload columns (candidate + reference) are read as
    zero-copy memoryview slices of the Arrow buffers. The old
    mapInPandas version materialized every payload as a Python bytes
    object during the Arrow->pandas conversion — one full extra copy
    of the two heaviest columns per batch; on the bandwidth-bound
    decode path that copy is the difference between scaling and not
    (same reasoning, and same differential tests, as the validation
    kernel)."""
    def fn(it):
        for batch in it:
            n = batch.num_rows
            cols = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            ws = cols["w"].to_numpy(zero_copy_only=False)
            hs = cols["h"].to_numpy(zero_copy_only=False)
            rws = cols["ref_w"].to_numpy(zero_copy_only=False)
            rhs = cols["ref_h"].to_numpy(zero_copy_only=False)
            fmts = cols["fmt"].to_pylist()
            rfmts = cols["ref_fmt"].to_pylist()
            caps = cols["caption"].to_pylist()
            rcaps = cols["ref_caption"].to_pylist()
            a_off, a_data, a_arr = _binary_views(cols["bytes"], n)
            b_off, b_data, b_arr = _binary_views(cols["ref_bytes"], n)

            psnrs = np.zeros(n, dtype=np.float64)
            pixels_ok = np.zeros(n, dtype=bool)
            caption_ok = np.array(
                [c == r for c, r in zip(caps, rcaps)], dtype=bool
            )
            errors: list[str | None] = [None] * n
            for i in range(n):
                try:
                    if not a_arr[i].is_valid or not b_arr[i].is_valid:
                        raise ValueError("null payload")
                    a = decode(
                        a_data[a_off[i]: a_off[i + 1]],
                        int(ws[i]), int(hs[i]), fmts[i],
                    )
                    b = decode(
                        b_data[b_off[i]: b_off[i + 1]],
                        int(rws[i]), int(rhs[i]), rfmts[i],
                    )
                    p = psnr(a, b)
                    psnrs[i] = p
                    pixels_ok[i] = p >= min_psnr
                except (ValueError, TypeError) as e:
                    errors[i] = str(e)[:200]
            yield pa.RecordBatch.from_arrays(
                [
                    cols["image_id"], cols["part_id"],
                    pa.array(psnrs), pa.array(pixels_ok),
                    pa.array(caption_ok), pa.array(errors, type=pa.string()),
                ],
                names=["image_id", "part_id", "psnr", "pixels_ok",
                       "caption_ok", "error"],
            )

    return fn


def verify_against_reference(
    candidate: DataFrame,
    reference: DataFrame,
    min_psnr: float = 40.0,
) -> DataFrame:
    """Per-row invariant vs reference: decoded-pixel PSNR + caption
    equality, joined on image_id. Lossless formats must be identical
    (PSNR capped at 99); lossy formats pass at >= min_psnr dB."""
    cand = candidate.select("image_id", "part_id", "bytes", "w", "h", "fmt", "caption")
    ref = reference.select(
        F.col("image_id"),
        F.col("bytes").alias("ref_bytes"),
        F.col("w").alias("ref_w"),
        F.col("h").alias("ref_h"),
        F.col("fmt").alias("ref_fmt"),
        F.col("caption").alias("ref_caption"),
    )
    joined = cand.join(ref, "image_id", "inner")
    return joined.mapInArrow(_verify_arrow(min_psnr), schema=VERIFY_SCHEMA)
