"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints JSON lines ending with ONE compact line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <scale factor>, ...}

EMISSION CONTRACT (round 8, after BENCH_r07 parsed=null): the driver records
only the LAST ~2000 characters of stdout and parses the last JSON line it
finds there. The full payload (extras: ingest/stream/feed/dedup/multimodal/
metrics/sf1 blocks) is printed FIRST on its own line; the cross-round-critical
fields (headline total, per-query sf0.1, calibration, queries_calibrated,
sf1 total) are re-emitted LAST as a compact line guaranteed to fit the tail.
The last line is the contract — never append anything after it.

Each query executes fully via the ``noop`` sink (computes every row, writes
nothing), which is the honest cost of the query without collect()-to-driver
or disk-write noise. Session setup time is excluded; a warm-up query runs
first so JVM/codegen warm-up isn't billed to the first benchmark entry.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from datalakejson_spark.registry import all_specs
from datalakejson_spark.session import get_spark

# Headline set: one representative per operator family, weighted toward the
# queries whose plans matter at 100 TB (wide agg, star join, windows, dedup,
# similarity, JSON extraction, event-time windows).
HEADLINE = [
    "g3_flagship_pricing_summary",  # wide grouped aggregate (TPC-H Q1 shape)
    "j3_star_join_revenue",         # fact-fact shuffle join + broadcast dims
    "j5_left_outer_join",           # outer join + agg
    "g4_count_distinct_users",      # expand + two-phase distinct agg
    "g6_rollup_time_hierarchy",     # grouping sets
    "w1_ranking",                   # window: rank family
    "w3_running_sum",               # window: running frame
    "f3_json_extraction",           # JSON path extraction + agg
    "t4_tumbling_window",           # event-time tumbling window
    "l1_exact_dedup",               # hash dedup
    "l2_minhash_lsh_pairs",         # shingle -> minhash -> LSH bucket join
    "l3_cosine_topk",               # brute-force cosine top-k
]


def calibrate(n_threads: int) -> dict[str, float]:
    """Fixed synthetic machine-speed kernel. Runs in the SAME session right
    after the headline query block (the Spark JVM is alive and holding
    memory) — that placement is part of the measurement definition; moving
    it would shift the constants and break cross-round comparability.

    Cross-round bench numbers come from whatever box the driver runs on
    that day; r5→r6 showed a uniform +15-45% drift on UNCHANGED queries
    with no way to distinguish box slowdown from regression. These three
    constants make rounds comparable: divide any query time by
    ``numpy_mt_sec`` (the constant that matches Spark's profile — parallel
    compute + memory bandwidth) to get box-normalized units.

    - ``numpy_st_sec``: single-thread numpy sum/multiply over a 32 MB
      array, 30 passes — memory-bandwidth + SIMD speed.
    - ``numpy_mt_sec``: the same per-thread kernel on ``n_threads``
      threads concurrently (numpy releases the GIL) — the parallel
      throughput under bandwidth contention a 32-core Spark local mode
      actually experiences.
    - ``python_st_sec``: a pure-Python int loop — interpreter speed
      (driver-side planning, Pandas-UDF glue).

    Workload sizes, rep counts (3/5/3), and the after-the-queries placement
    are FIXED; never tune them, or history breaks.
    """
    import concurrent.futures

    import numpy as np

    def numpy_kernel() -> float:
        a = np.arange(4_000_000, dtype=np.float64)  # 32 MB
        s = 0.0
        for _ in range(30):
            s += float((a * 1.0000001 + 0.5).sum())
        return s

    def python_kernel() -> int:
        s = 0
        for i in range(2_000_000):
            s += i ^ (i >> 3)
        return s

    def timed(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    def mt_pass() -> None:
        with concurrent.futures.ThreadPoolExecutor(n_threads) as ex:
            list(ex.map(lambda _: numpy_kernel(), range(n_threads)))

    # Best-of-3 per measure: the first mt pass page-faults ~n_threads×32 MB
    # of fresh allocations (measured 9s vs 1.2s steady) — min is the
    # machine's speed, not the allocator's cold start.
    numpy_kernel()  # warm caches once, untimed
    st = min(timed(numpy_kernel) for _ in range(3))
    mt = min(timed(mt_pass) for _ in range(5))  # noisiest measure: 5 reps
    py = min(timed(python_kernel) for _ in range(3))
    return {
        "numpy_st_sec": round(st, 4),
        "numpy_mt_sec": round(mt, 4),
        "python_st_sec": round(py, 4),
        "n_threads": n_threads,
    }


# --- calibration self-check (rounds 10-11) --------------------------------
# The kernel can OVER-correct: r8's numpy_mt read the box 1.85x slow while
# r8's own sf1 raw barely moved vs its neighbors (the AVX kernel throttles
# harder than Spark JVM wall time), so dividing by it made the fastest
# rounds look like regressions. The kernel can also UNDER-read: r10's driver
# run measured numpy_mt 1.156 (near-nominal) on a box whose unchanged-query
# sf1 wall clock had drifted 1.657x — the same kernel read 1.655 on the same
# box hours later on identical code, so the kernel is at best a tie-breaker.
# The check is therefore SYMMETRIC (round 11, VERDICT r10 "what's wrong
# #1"): whenever kernel deviation and measured sf1 wall-clock drift of the
# unchanged headline queries disagree by >1.3x in EITHER direction — no
# matter whether the kernel itself reads nominal — the round is flagged
# box-anomalous, and the trustworthy normalizer is the measured drift, not
# the kernel (``divisor_sec`` below). BENCH_HISTORY.md renders the flag as
# a footnote and divides flagged columns by the drift-derived divisor.
NOMINAL_NUMPY_MT = 1.2
#: EPOCH RE-BASE (r15, first optimization round — declared in
#: OPTIMIZATION_r15.md): the drift gate assumes the reference queries are
#: UNCHANGED, and r15 deliberately changed the cost of every headline query
#: (measured −35-40% total). Against the pre-r15 (r9) snapshot the optimized
#: code reads as "anomalous-fast box" and the drift divisor would divide the
#: real speedup out of the recorded calibrated cells. The snapshots below
#: are therefore re-based from the OPTIMIZED code: per-query MIN over six
#: same-day frozen-methodology runs spanning the round's optimization
#: commits, final-code runs included (kernels read
#: 0.90/0.99/1.41/1.02/0.87/1.31 — the box oscillated; min-pooling
#: approximates its quiet state the same way the old r9 snapshot was that
#: era's fastest nominal run). Pre-r15 rounds
#: are adjudicated against the preserved *_PRE_R15 snapshots by
#: tools/bench_history.py's epoch fence. Update the active refs ONLY from a
#: nominal-kernel run, and ONLY together with a new epoch entry there.
#: PROVENANCE CAVEAT (ADVICE r15, adjudicated r16): min-pooling across runs
#: whose kernels spanned 0.87-1.41 approximates the box's FASTEST state
#: (~0.87× nominal), so these refs read ~10-15% fast and bias drift ratios
#: toward "slow" — the symmetric gate still needs BOTH a >1.3× kernel/drift
#: disagreement to flag, so the bias costs margin, not verdicts. NOT
#: re-based in r16: only g6 of the 12 headliners changed cost (median
#: drift is robust to one query), and the r15 epoch must keep its anchor
#: so same-epoch adjudication (the w1 watch item) can happen at all.
SF1_NOMINAL_REF = {
    "g3_flagship_pricing_summary": 0.731,
    "j3_star_join_revenue": 1.594,
    "j5_left_outer_join": 0.332,
    "g4_count_distinct_users": 0.235,
    "g6_rollup_time_hierarchy": 0.63,
    "w1_ranking": 1.188,
    "w3_running_sum": 0.645,
    "f3_json_extraction": 0.818,
    "t4_tumbling_window": 0.292,
    "l1_exact_dedup": 0.211,
    "l2_minhash_lsh_pairs": 1.954,
    "l3_cosine_topk": 0.488,
}
#: sf0.1 tier-matched reference (same re-base; sf1 drift and sf0.1 drift
#: differ on the same box — r10 measured 1.657x at sf1 but only ~1.35x at
#: sf0.1 — so a divisor must come from the tier it divides).
SF01_NOMINAL_REF = {
    "g3_flagship_pricing_summary": 0.642,
    "j3_star_join_revenue": 0.797,
    "j5_left_outer_join": 0.285,
    "g4_count_distinct_users": 0.168,
    "g6_rollup_time_hierarchy": 0.445,
    "w1_ranking": 0.314,
    "w3_running_sum": 0.339,
    "f3_json_extraction": 0.321,
    "t4_tumbling_window": 0.217,
    "l1_exact_dedup": 0.112,
    "l2_minhash_lsh_pairs": 0.819,
    "l3_cosine_topk": 0.397,
}
#: The pre-r15 epoch's snapshots (the r9 driver run, the fastest round
#: measured on a box whose kernel read nominal, numpy_mt 1.216) — kept as
#: the documented pre-epoch baseline (tools/bench_history.py adjudicates
#: historical rounds against their own epoch's neighbor rounds).
SF1_NOMINAL_REF_PRE_R15 = {
    "g3_flagship_pricing_summary": 0.72,
    "j3_star_join_revenue": 1.273,
    "j5_left_outer_join": 0.555,
    "g4_count_distinct_users": 0.259,
    "g6_rollup_time_hierarchy": 0.816,
    "w1_ranking": 1.007,
    "w3_running_sum": 0.685,
    "f3_json_extraction": 0.577,
    "t4_tumbling_window": 0.341,
    "l1_exact_dedup": 0.247,
    "l2_minhash_lsh_pairs": 2.111,
    "l3_cosine_topk": 0.771,
}
SF01_NOMINAL_REF_PRE_R15 = {
    "g3_flagship_pricing_summary": 0.879,
    "j3_star_join_revenue": 1.644,
    "j5_left_outer_join": 0.55,
    "g4_count_distinct_users": 0.241,
    "g6_rollup_time_hierarchy": 0.649,
    "w1_ranking": 0.413,
    "w3_running_sum": 0.434,
    "f3_json_extraction": 0.429,
    "t4_tumbling_window": 0.268,
    "l1_exact_dedup": 0.188,
    "l2_minhash_lsh_pairs": 1.538,
    "l3_cosine_topk": 0.633,
}


def drift_divisor(timings: dict[str, float], ref: dict[str, float]) -> float | None:
    """NOMINAL_NUMPY_MT x median per-query drift of ``timings`` vs ``ref``
    — the calibration divisor to use for a box-anomalous round, computed
    from the SAME tier as the cells it divides. None when no shared
    queries."""
    ratios = sorted(
        timings[n] / ref[n] for n in ref if n in timings and ref[n]
    )
    if not ratios:
        return None
    return round(NOMINAL_NUMPY_MT * ratios[len(ratios) // 2], 4)


def calibration_check(
    numpy_mt_sec: float,
    sf1_timings: dict[str, float],
    ref: dict[str, float] | None = None,
) -> dict:
    """kernel_deviation (numpy_mt / nominal), sf1_raw_drift (median per-query
    ratio vs the nominal reference), box_anomalous (kernel deviation and
    measured wall-clock drift disagree by >1.3x in either direction —
    SYMMETRIC: a near-nominal kernel on a drifted box flags exactly like an
    over-reading kernel on a steady box), divisor_sec (the calibration
    divisor to trust: the kernel when the two agree, the drift-derived
    ``NOMINAL_NUMPY_MT * drift`` when they disagree — wall-clock drift of
    unchanged queries measures the box's Spark-relevant speed directly,
    while the AVX kernel throttles on its own schedule; both r8 over-read
    1.87x-vs-1.15x and r10 under-read 1.156x-vs-1.657x are real cases).

    ``ref`` defaults to SF1_NOMINAL_REF (this file's frozen nominal-box
    snapshot); tools/bench_history.py passes each historical round's
    nearest nominal-kernel neighbor instead — ONE definition of the
    adjudication math for emission-time and retroactive checks."""
    dev = numpy_mt_sec / NOMINAL_NUMPY_MT
    if ref is None:
        ref = SF1_NOMINAL_REF
    ratios = sorted(
        sf1_timings[n] / ref[n]
        for n in ref
        if n in sf1_timings and ref[n]
    )
    out = {"kernel_deviation": round(dev, 3)}
    # Robustness floor: the verdict rides on the MEDIAN drift, whose noise
    # is small only with enough shared queries (per-query wall noise is
    # ~±10%; a 12-query median's standard error is ~3-4%, so a 1.3x
    # dev/drift disagreement is far outside noise — whereas a 3-query
    # median could cross the gate on ordinary variance). Below the floor,
    # record the evidence but render no verdict and keep the kernel.
    if len(ratios) < 6:
        return out
    drift = ratios[len(ratios) // 2]
    out["sf1_raw_drift_vs_ref"] = round(drift, 3)
    disagree = dev > 1.3 * drift or dev < drift / 1.3
    out["box_anomalous"] = bool(disagree)
    # When they disagree, the drift is the trustworthy divisor in BOTH
    # directions: the median of 12 unchanged Spark queries is low-noise by
    # construction, while the AVX kernel throttles on its own schedule and
    # measured unstable on drifted boxes (1.156 vs 1.655 hours apart on
    # identical r10 code). A borderline flag therefore swaps to the LOWER-
    # noise normalizer — the gate's step discontinuity trades a ≤30%
    # divisor jump for never trending a kernel artifact.
    out["divisor_sec"] = round(
        NOMINAL_NUMPY_MT * drift if disagree else numpy_mt_sec, 4
    )
    return out


def run_one(spark, fn, sf_dir: str) -> float:
    t0 = time.time()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.time() - t0


def _landing_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("event_timestamp", T.StringType()),
            T.StructField("MODE", T.StringType()),
            T.StructField(
                "metadata",
                T.StructType(
                    [
                        T.StructField("app_version", T.StringType()),
                        T.StructField("user_agent", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("transaction_id", T.StringType()),
                        T.StructField("items", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
        ]
    )


def _synth_landing(land: Path, n_files: int, rows_per_file: int) -> None:
    land.mkdir(parents=True)
    for i in range(n_files):
        with open(land / f"f{i:04d}.json", "w") as f:
            for j in range(rows_per_file):
                f.write(
                    json.dumps(
                        {
                            "id": f"r-{i}-{j}",
                            "event_timestamp": "2024-03-01T10:00:00Z",
                            "MODE": "train",
                            "metadata": {"app_version": "1.0", "user_agent": "b"},
                            "payload": {"transaction_id": f"t{i}-{j}", "items": []},
                        }
                    )
                    + "\n"
                )


def bench_ingest(spark, n_files: int = 256, rows_per_file: int = 50) -> float:
    """files/sec through one full discover→claim→read→transform→curated→
    archive→commit batch over a synthetic landing zone. Bounded (256 files)
    so the per-round bench stays fast; the reference's implied ceiling is
    ~11 files/s (10k files / 15 min). Explicit landing schema — the 100 TB
    posture (IngestConfig.schema) that skips per-batch inference."""
    import shutil
    import tempfile

    from datalakejson_spark.plans.ingest import IngestConfig, discover, ingest_batch

    landing_schema = _landing_schema()

    root = Path(tempfile.mkdtemp(prefix="bench_ingest_"))
    try:
        land = root / "landing"
        _synth_landing(land, n_files, rows_per_file)
        conf = IngestConfig(
            landing_dir=str(land),
            curated_dir=str(root / "curated"),
            dlq_dir=str(root / "dlq"),
            archive_dir=str(root / "archive"),
            ledger_dir=str(root / "ledger"),
            schema=landing_schema,
        )
        t0 = time.time()
        discover(spark, conf)
        res = ingest_batch(spark, conf)
        dt = time.time() - t0
        assert len(res.succeeded_files) == n_files, res
        return round(n_files / dt, 2)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_stream(spark, n_files: int = 64, rows_per_file: int = 200) -> float:
    """rows/sec through the Structured Streaming drain (Trigger.AvailableNow
    over a synthetic landing zone, foreachBatch corrupt-split + transform +
    partitioned curated append — the T1-T3 path)."""
    import shutil
    import tempfile

    from datalakejson_spark.streaming.ingest_stream import streaming_ingest

    root = Path(tempfile.mkdtemp(prefix="bench_stream_"))
    try:
        land = root / "landing"
        _synth_landing(land, n_files, rows_per_file)
        t0 = time.time()
        q = streaming_ingest(
            spark,
            landing_dir=str(land),
            curated_dir=str(root / "curated"),
            dlq_dir=str(root / "dlq"),
            checkpoint_dir=str(root / "ckpt"),
            schema=_landing_schema(),
        )
        q.awaitTermination()
        dt = time.time() - t0
        n = spark.read.parquet(str(root / "curated")).count()
        assert n == n_files * rows_per_file, n
        return round(n / dt, 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_feed(spark, sf_dir: str) -> float:
    """rows/sec through the consumption plane's Arrow batch feed: pack the
    documents table (L8), export the shard lake once, then time a full
    deterministic iteration over every shard (the training-loop read path —
    partition-pruned fetch windows, Arrow transfer, batch slicing)."""
    import shutil
    import tempfile

    from datalakejson_spark.consumption import ShardFeed, export_shards
    from datalakejson_spark.functions.llm_pipeline import l8_token_shards
    from datalakejson_spark.sources.tables import load_table

    root = Path(tempfile.mkdtemp(prefix="bench_feed_"))
    try:
        out = str(root / "shards")
        packed = l8_token_shards(spark, sf_dir).join(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
        )
        export_shards(packed, out)
        feed = ShardFeed(spark, out, batch_rows=1024, shards_per_fetch=256)
        t0 = time.time()
        n = sum(b.num_rows for b in feed.batches())
        dt = time.time() - t0
        assert n == packed.count(), n
        return round(n / dt, 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_dedup(spark, sf_dir: str, batch_factor: int = 1) -> tuple[int, float]:
    """(batch_rows, rows/sec) through one incremental-dedup batch: corpus =
    3/4 of the documents table indexed once (setup, untimed), then a delta of
    ``batch_factor`` × the remaining 1/4 audited + appended as one
    ``ingest_batch_dedup`` loop iteration — the per-batch cost a
    continuously-ingesting corpus pays. ``batch_factor`` replicas get every
    word replica-tagged (distinct shingles, disjoint ids) so a larger batch
    is genuinely more novel content, not N-way internal duplicates. Run at
    1×/4×/16× the curve shows how the fixed per-batch overhead (job launch,
    localCheckpoint materialization, index append commit) amortizes."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from datalakejson_spark.functions.dedup import band_table, minhash_signatures
    from datalakejson_spark.functions.incremental_dedup import (
        exact_hash_index,
        ingest_batch_dedup,
        write_lane_meta,
    )
    from datalakejson_spark.sources.tables import load_table

    root = Path(tempfile.mkdtemp(prefix="bench_dedup_"))
    try:
        idx = str(root / "idx")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 4 != 0)
        exact_hash_index(corpus).write.mode("append").parquet(f"{idx}/hashes")
        band_table(minhash_signatures(corpus)).write.mode("append").parquet(
            f"{idx}/bands"
        )
        write_lane_meta(idx)  # direct writers must stamp the definition
        base = docs.filter(F.col("doc_id") % 4 == 0)
        replicas = [base]
        if batch_factor > 1:
            off = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        for i in range(1, batch_factor):
            tag = F.lit(f"b{i}")
            replicas.append(
                base.select(
                    (F.col("doc_id") + F.lit(i * off)).alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.transform(F.split("text", " "), lambda w: F.concat(tag, w)),
                    ).alias("text"),
                )
            )
        delta = replicas[0]
        for r in replicas[1:]:
            delta = delta.unionByName(r)
        n = delta.count()
        t0 = time.time()
        # compact_max_runs=None: the timing isolates ONE loop iteration on
        # a pinned layout — the direct-written index is a dirty (unsorted)
        # run, and the default trigger would otherwise rewrite it inside
        # the timed region, measuring a compaction instead of the batch
        # (compaction cost is measured by its own harness).
        kept = ingest_batch_dedup(spark, delta, idx, compact_max_runs=None)
        kept.write.format("noop").mode("overwrite").save()
        return n, round(n / (time.time() - t0), 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_multimodal(spark) -> dict[str, int]:
    """Decode-tier counts over a synthetic asset mix — real uncompressed
    PPM plus real COMPRESSED formats (PNG via stdlib zlib,
    baseline+progressive JPEG, GIF-LZW, TIFF incl. LZW — imagecodecs.py —
    and, since r7, WebP-lossless VP8L — webpcodec.py), a no-codec format
    (lossy/garbage WebP), malformed payloads, and nulls. Keys are ``tier`` or
    ``tier_failed`` so a consumer can audit how many embeddings are real
    decodes vs labeled stubs vs failed attempts in this environment."""
    import numpy as np

    from datalakejson_spark.functions.imagecodecs import (
        encode_gif,
        encode_jpeg,
        encode_jpeg_progressive,
        encode_png,
        encode_tiff,
    )
    from datalakejson_spark.functions.multimodal import ASSET_SCHEMA, extract_features
    from datalakejson_spark.functions.webpcodec import encode_webp_lossless

    def pixels(i: int) -> "np.ndarray":
        return np.arange(i, i + 4 * 4 * 3, dtype=np.int64).astype(np.uint8).reshape(4, 4, 3)

    rows = []
    for i in range(16):
        rows.append((f"ppm_{i}", "image", b"P6\n4 4\n255\n" + pixels(i).tobytes(), None))
    for i in range(8):
        rows.append((f"png_{i}", "image", encode_png(pixels(i)), None))
        rows.append(
            (f"jpg_{i}", "image", encode_jpeg(pixels(i).astype("float32")), None)
        )
        rows.append(
            (f"pjpg_{i}", "image",
             encode_jpeg_progressive(pixels(i).astype("float32")), None)
        )
        rows.append((f"gif_{i}", "image", encode_gif(pixels(i)), None))
        rows.append((f"tif_{i}", "image", encode_tiff(pixels(i)), None))
        rows.append((f"webpl_{i}", "image", encode_webp_lossless(pixels(i)), None))
    for i in range(8):
        rows.append((f"jpeg_bad_{i}", "image", b"\xff\xd8\xff\xe0" + bytes([i]) * 64, None))
        # lossy/garbage WebP: container sniffs but no VP8L chunk → stub tier
        rows.append((f"webp_{i}", "image", b"RIFF\x00\x00\x00\x00WEBP" + bytes([i]) * 64, None))
    rows.append(("null", "image", None, None))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    import pyspark.sql.functions as F

    tier = F.when(F.col("decoded_ok"), F.col("decode_tier")).otherwise(
        F.when(F.col("decode_tier") == "none", "none").otherwise(
            F.concat_ws("_", "decode_tier", F.lit("failed"))
        )
    )
    return {
        r.tier: r.n
        for r in extract_features(assets)
        .groupBy(tier.alias("tier"))
        .agg(F.count("*").alias("n"))
        .collect()
    }


def bench_audio(spark) -> dict[str, int]:
    """Per-codec decoded_ok counts over a synthetic audio mix — PCM WAV,
    IMA-ADPCM, FLAC, Sun AU (mu-law, r7), AIFF (BE PCM, r7), malformed,
    null — the audio analogue of multimodal_tier_counts: how many audio
    features are real decodes per container/codec this round."""
    import struct as S

    import numpy as np

    from datalakejson_spark.functions.audiocodecs import (
        encode_flac,
        encode_ima_adpcm_wav,
    )
    from datalakejson_spark.functions.multimodal import (
        ASSET_SCHEMA,
        extract_audio_features,
    )

    rate = 8000
    t = np.arange(rate // 4) / rate
    sig = 0.4 * np.sin(2 * np.pi * 440 * t)
    pcm16 = np.clip(sig * 32768, -32768, 32767).astype("<i2").tobytes()

    def wav_pcm16() -> bytes:
        fmt = S.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = (b"WAVE" + b"fmt " + S.pack("<I", len(fmt)) + fmt
                + b"data" + S.pack("<I", len(pcm16)) + pcm16)
        return b"RIFF" + S.pack("<I", len(body)) + body

    def au_ulaw() -> bytes:
        # mu-law COMPRESS (G.711 segment search) — fixture-only inline
        out = bytearray()
        for s in np.clip(sig * 32768, -32635, 32635).astype(int):
            sign = 0x80 if s < 0 else 0
            s = abs(int(s)) + 0x84
            exp = max(0, s.bit_length() - 8)
            mant = (s >> (exp + 3)) & 0x0F
            out.append(~(sign | (exp << 4) | mant) & 0xFF)
        return (b".snd" + S.pack(">IIIII", 24, len(out), 1, rate, 1)
                + bytes(out))

    def aiff_pcm16() -> bytes:
        # 80-bit extended float: for integer rate, exponent = 16383 +
        # (bit_length - 1), mantissa = rate left-justified to 64 bits
        ext = S.pack(
            ">HQ",
            16383 + rate.bit_length() - 1,
            rate << (64 - rate.bit_length()),
        )
        comm = S.pack(">HIH", 1, len(sig), 16) + ext
        be = np.clip(sig * 32768, -32768, 32767).astype(">i2").tobytes()
        ssnd = S.pack(">II", 0, 0) + be
        body = (b"AIFF" + b"COMM" + S.pack(">I", len(comm)) + comm
                + b"SSND" + S.pack(">I", len(ssnd)) + ssnd)
        return b"FORM" + S.pack(">I", len(body)) + body

    rows = [
        ("wav", "audio", wav_pcm16(), None),
        ("adpcm", "audio", encode_ima_adpcm_wav(sig, rate), None),
        ("flac", "audio", encode_flac(sig, rate), None),
        ("au", "audio", au_ulaw(), None),
        ("aiff", "audio", aiff_pcm16(), None),
        ("bad", "audio", b"RIFFjunk" + bytes(32), None),
        ("null", "audio", None, None),
    ]
    feats = extract_audio_features(
        spark.createDataFrame(rows, ASSET_SCHEMA)
    ).collect()
    out: dict[str, int] = {}
    for r in feats:
        key = f"{r.codec}_{'ok' if r.decoded_ok else 'failed'}"
        out[key] = out.get(key, 0) + 1
    return out


def bench_containers(spark) -> dict[str, int]:
    """Compressed-container metadata parse counts (containers.py, r6): real
    ISO-BMFF box walks and MPEG-audio frame-header walks over a synthetic
    MP4/MP3/garbage mix, plus the frame rows the real-duration sampling plan
    derives from the parsed durations — auditable evidence that container
    metadata is REAL even where the inner codec stays gated."""
    from datalakejson_spark.functions.containers import (
        build_mp3,
        build_mp4,
        extract_container_meta,
        frame_sample_plan_from_payloads,
    )
    from datalakejson_spark.functions.multimodal import ASSET_SCHEMA

    import struct as _struct

    rows = []
    for i in range(8):
        rows.append((f"v{i}", "video", build_mp4(duration_ms=1000 + 500 * i), None))
        rows.append((f"a{i}", "audio", build_mp3(n_frames=20 + i), None))
        bits = (16 + i) | ((9 + i) << 14)  # VP8L dims header
        webp = (
            b"RIFF" + _struct.pack("<I", 17) + b"WEBP"
            + b"VP8L" + _struct.pack("<I", 5)
            + bytes([0x2F]) + _struct.pack("<I", bits) + b"\x00"
        )
        rows.append((f"w{i}", "image", webp, None))
        rows.append((f"x{i}", "video", b"\x00garbage" + bytes([i]) * 32, None))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    import pyspark.sql.functions as F

    counts = {
        (r.container or "unparsed"): r.n
        for r in extract_container_meta(assets)
        .groupBy("container")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    counts["frame_plan_rows"] = frame_sample_plan_from_payloads(
        assets, every_ms=250
    ).count()
    return counts


def _run_extra(payload: dict, key: str, extra) -> None:
    """Run one optional extra measurement. Extras are never allowed to
    break the primary metric line: a failure is recorded as
    ``payload["errors"][key] = "<ExcType>: <msg>"`` and the run moves on."""
    try:
        extra()
    except Exception as exc:  # noqa: BLE001 — recorded in the payload
        payload.setdefault("errors", {})[key] = f"{type(exc).__name__}: {exc}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark("datalakejson-bench")
    specs = all_specs()

    # Warm-up: touch the biggest table + codegen paths once.
    run_one(spark, specs["g3_flagship_pricing_summary"].fn, sf_dir)

    # Best-of-3: the first execution of a query pays one-time whole-stage
    # codegen compilation (hundreds of ms) that a long-lived session never
    # pays again, and rep 2 often still carries JIT warm-up; min over three
    # reps is the steady-state cost (measured: rep sequences like
    # 2.9 -> 1.7 -> 1.46 on the LSH join converge only at rep 3).
    timings: dict[str, float] = {}
    for name in HEADLINE:
        reps = [run_one(spark, specs[name].fn, sf_dir) for _ in range(3)]
        timings[name] = round(min(reps), 3)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_query_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }

    # Extras: keys beside the primary metric, each run by _run_extra.
    def calibration() -> None:
        # Machine calibration + normalized times: query_sec / numpy_mt_sec
        # is box-independent (unitless "calibration units"); compare THOSE
        # across rounds, not raw seconds.
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        cal = calibrate(cpus)
        payload["calibration"] = cal
        payload["queries_calibrated"] = {
            n: round(t / cal["numpy_mt_sec"], 2) for n, t in timings.items()
        }

    def ingest() -> None:
        payload["ingest_files_per_sec"] = bench_ingest(spark)

    def stream() -> None:
        payload["stream_rows_per_sec"] = bench_stream(spark)

    def feed() -> None:
        payload["feed_rows_per_sec"] = bench_feed(spark, sf_dir)

    def dedup_curve() -> None:
        # Batch-size curve: rows/s must GROW with batch size (the fixed
        # per-batch overhead — job launch, localCheckpoint, commit —
        # amortizes); dedup_rows_per_sec stays the 1x point for continuity.
        curve = {}
        for k in (1, 4, 16):
            rows, rps = bench_dedup(spark, sf_dir, batch_factor=k)
            curve[str(rows)] = rps
            if k == 1:
                payload["dedup_rows_per_sec"] = rps
        payload["dedup_curve_rows_per_sec"] = curve

    def multimodal() -> None:
        payload["multimodal_tier_counts"] = bench_multimodal(spark)

    def audio() -> None:
        payload["audio_codec_counts"] = bench_audio(spark)

    def containers() -> None:
        payload["container_meta_counts"] = bench_containers(spark)

    def executed_metrics() -> None:
        # Compact executed-SQLMetrics history for EVERY headliner (full
        # table in METRICS.md; this keeps a per-round trace in the recorded
        # bench line — shuffle/spill/scan drift is visible round-over-round
        # without re-deriving it). This is one EXTRA execution per query:
        # the timing reps run through DataFrameWriter (noop), whose
        # QueryExecution is internal to the writer and unreachable from the
        # df, so a collect() on the df's OWN QueryExecution is the only way
        # to read populated metrics without changing the frozen timing
        # definition. ~8 s/round, accepted for the observability.
        from datalakejson_spark.plans.metrics import executed_summary

        em = {}
        for name in HEADLINE:
            df = specs[name].fn(spark, sf_dir)
            df.collect()
            s = executed_summary(df)
            em[name] = {
                "shuffle_bytes": s["shuffle_bytes"],
                "spill_bytes": s["spill_bytes"],
                "scan_rows": s["scan_rows"],
                "n_broadcasts": s["n_broadcasts"],
            }
        payload["executed_metrics"] = em

    def sf1_tier() -> None:
        # sf1 tier: one decade of measured scaling for the headline set.
        # Exponent e = log10(t_sf1 / t_sf0.1): e≈0 = overhead-dominated,
        # e≈1 = linear, e>1.1 = worse than ~O(n log n) over the decade.
        if abs(sf - 0.1) < 1e-9 and os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
            import math

            sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
            from make_scaled_sf import make_scaled_sf

            sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/datalakejson_sf1")
            make_scaled_sf(sf_dir, sf1_dir, 10)  # no-op when already present
            sf1_timings = {}
            for name in HEADLINE:
                reps = [run_one(spark, specs[name].fn, sf1_dir) for _ in range(2)]
                sf1_timings[name] = round(min(reps), 3)
            payload["sf1"] = {
                "value": round(sum(sf1_timings.values()), 3),
                "unit": "sec",
                "queries": sf1_timings,
                "sf": 1.0,
            }
            payload["scaling_exponent"] = {
                n: round(
                    math.log10(max(sf1_timings[n], 0.001) / max(timings[n], 0.001)),
                    2,
                )
                for n in HEADLINE
            }
            if "calibration" in payload:
                check = calibration_check(
                    payload["calibration"]["numpy_mt_sec"], sf1_timings
                )
                payload["calibration_check"] = check
                # When the kernel and the measured drift disagree, the
                # drift-derived divisor is the trustworthy normalizer
                # (symmetric gate, round 11) — re-emit the sf0.1 calibrated
                # series divided by the TIER-MATCHED sf0.1 drift so the
                # recorded artifact is the one to trend without retroactive
                # correction (sf1 drift and sf0.1 drift differ on the same
                # box: r10 read 1.657x vs ~1.35x).
                if check.get("box_anomalous"):
                    div = drift_divisor(timings, SF01_NOMINAL_REF)
                    if div:
                        check["sf01_divisor_sec"] = div
                        payload["queries_calibrated"] = {
                            n: round(t / div, 2) for n, t in timings.items()
                        }
            # Optional SECOND decade (sf10 = 100x rows, ~1.7 GB): off by
            # default to keep the per-round bench fast; run
            # `SPARK_GRAFT_SF10=1 python bench.py` for the two-decade
            # evidence recorded in SCALE.md. A query whose exponent RISES
            # decade-over-decade is leaving the overhead-dominated regime —
            # the second decade is what distinguishes "still flat" from
            # "about to go super-linear".
            if os.environ.get("SPARK_GRAFT_SF10") == "1":
                sf10_dir = os.environ.get(
                    "SPARK_GRAFT_SF10_DIR", "/tmp/datalakejson_sf10"
                )
                make_scaled_sf(sf_dir, sf10_dir, 100)  # no-op when present
                sf10_timings = {}
                for name in HEADLINE:
                    reps = [run_one(spark, specs[name].fn, sf10_dir) for _ in range(2)]
                    sf10_timings[name] = round(min(reps), 3)
                payload["sf10"] = {
                    "value": round(sum(sf10_timings.values()), 3),
                    "unit": "sec",
                    "queries": sf10_timings,
                    "sf": 10.0,
                }
                payload["scaling_exponent_decade2"] = {
                    n: round(
                        math.log10(
                            max(sf10_timings[n], 0.001) / max(sf1_timings[n], 0.001)
                        ),
                        2,
                    )
                    for n in HEADLINE
                }

    for key, extra in (
        ("calibration", calibration),
        ("ingest_files_per_sec", ingest),
        ("stream_rows_per_sec", stream),
        ("feed_rows_per_sec", feed),
        ("dedup_curve_rows_per_sec", dedup_curve),
        ("multimodal_tier_counts", multimodal),
        ("audio_codec_counts", audio),
        ("container_meta_counts", containers),
        ("executed_metrics", executed_metrics),
        ("sf1", sf1_tier),
    ):
        _run_extra(payload, key, extra)
    # Full payload first (humans + local records), compact contract line LAST:
    # the driver keeps only the last ~2000 chars of stdout, so the final line
    # must carry every cross-round-critical field and stay under that budget.
    print(json.dumps(payload))
    summary = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "queries": payload["queries"],
    }
    for k in ("calibration", "queries_calibrated", "calibration_check"):
        if k in payload:
            summary[k] = payload[k]
    if "sf1" in payload:
        summary["sf1_total_sec"] = payload["sf1"]["value"]
    if "sf10" in payload:
        summary["sf10_total_sec"] = payload["sf10"]["value"]
    line = json.dumps(summary)
    # Belt-and-braces: never outgrow the driver's ~2000-char tail. Drop
    # optional keys in increasing order of cross-round value until it fits;
    # metric/value/queries are the non-negotiable core.
    for optional in ("calibration_check", "queries_calibrated", "sf10_total_sec", "sf1_total_sec", "calibration"):
        if len(line) <= 1900:
            break
        summary.pop(optional, None)
        line = json.dumps(summary)
    if len(line) > 1900:
        # Last resort: keep the line parseable rather than truncated.
        summary["queries"] = {"_truncated": len(payload["queries"])}
        line = json.dumps(summary)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
