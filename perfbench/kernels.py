"""Driver-side probes run in traced runs of every workload:

- µs per record of the pure-Python FLAC and baseline-JPEG decoders, on
  seeded payloads made by the in-repo encoders (no Spark involved);
- `lake.load_table` per fixture table: DataFrame construction, i.e.
  listing and schema resolution, with no action;
- the host's memory bandwidth, which no engine change moves: a drift
  indicator for reading the other numbers.
"""

from __future__ import annotations

import random
import statistics
import time

FLAC_RECORDS = 40
JPEG_RECORDS = 40
REPEATS = 3


def _time_per_record(fn, payloads) -> float:
    """Median over REPEATS of the mean µs per decoded payload."""
    runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for p in payloads:
            fn(p)
        runs.append((time.perf_counter() - t0) / len(payloads) * 1e6)
    return statistics.median(runs)


def flac_payloads(seed: int) -> list[bytes]:
    """Stereo 16-bit payloads of 192 frames, block size 64 (the
    `multimodal_flac_stats` shape), samples from the seed."""
    from dynamodb_to_datalake_project_spark.llm.flac import encode_flac

    rng = random.Random(seed)
    out = []
    for _ in range(FLAC_RECORDS):
        a, b = rng.randrange(1, 400), rng.randrange(1, 400)
        samples = []
        for i in range(192):
            samples.append(((a * 131 + i * 7919) % 65536) - 32768)
            samples.append(((b * 37 + i * 101) % 65536) - 32768)
        out.append(encode_flac(samples, n_channels=2, block_size=64))
    return out


def jpeg_payloads(seed: int) -> list[bytes]:
    """16x24 RGB baseline JPEGs at quality 95 with seeded 8x8 blocks."""
    import numpy as np

    from dynamodb_to_datalake_project_spark.llm.multimodal import encode_jpeg

    rng = np.random.default_rng(seed)
    out = []
    for _ in range(JPEG_RECORDS):
        blocks = rng.integers(17, 216, size=(2, 3, 3), dtype=np.int64)
        px = blocks[:, None, :, None, :].repeat(8, axis=1).repeat(8, axis=3)
        out.append(encode_jpeg(px.reshape(16, 24, 3).astype(np.uint8), 24, 16, quality=95))
    return out


def decode_probes(seed: int) -> dict:
    from dynamodb_to_datalake_project_spark.llm.flac import decode_flac_samples
    from dynamodb_to_datalake_project_spark.llm.multimodal import decode_jpeg_array

    return {
        "llm.flac.decode_us_per_record": _time_per_record(decode_flac_samples, flac_payloads(seed)),
        "llm.multimodal.decode_jpeg_us_per_record": _time_per_record(
            decode_jpeg_array, jpeg_payloads(seed)),
    }


def load_table_probe(spark, sf_dir: str) -> tuple[float, dict]:
    """Sum over fixture tables of the median `lake.load_table` time."""
    from dynamodb_to_datalake_project_spark import lake

    per_table = {}
    for name in lake.TABLES:
        runs = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            lake.load_table(spark, sf_dir, name)
            runs.append(time.perf_counter() - t0)
        per_table[name] = statistics.median(runs)
    return sum(per_table.values()), per_table


def host_mem_gbps() -> float:
    """Copy bandwidth of a 64 MB array, median of REPEATS copies."""
    import numpy as np

    src = np.ones(8_000_000)
    dst = np.empty_like(src)
    runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        runs.append(time.perf_counter() - t0)
    return 2 * src.nbytes / statistics.median(runs) / 1e9
