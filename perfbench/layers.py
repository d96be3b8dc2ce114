"""Per-layer floors for the traced run.

- ``spark_floors``: the engine alone on the same pages input. JVM-only
  scan + ``xxhash64``; the same hashes drained through the Arrow boundary
  by a trivial ``mapInPandas`` / ``mapInArrow``; and Spark's own sketch
  aggregates (the native twins of the library's builds).
- ``kernel_floors``: the numpy kernels on one driver core, over hashes of
  the workload's own urls and tokens.
- ``codec_floors``: payload encode / decode through ``to_bytes`` and
  ``sketch_from_bytes``.

No library code runs inside a ``spark.*`` floor.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bloom_filters_spark.kernels import (BloomSketch, CountMinSketch,
                                         HLLSketch, KLLSketch,
                                         sketch_from_bytes)
from bloom_filters_spark.kernels.hll import GroupedHLLFold
from bloom_filters_spark.operators.agg import hash_col
from bloom_filters_spark.operators.textstats import tokenize
from bloom_filters_spark.plans.queries import host_col

from workloads import CMS_DEPTH, CMS_WIDTH, HLL_GROUP_P, HLL_URL_P, P_BLOOM

KERNEL_REPS = 5
CODEC_REPS = 200
TOKEN_SAMPLE = 1_000_000


def _drain_pandas(batches):
    n = 0
    for pdf in batches:
        n += int(pdf["h"].to_numpy(dtype=np.int64).size)
    yield pd.DataFrame({"n": [n]})


def _drain_arrow(batches):
    import pyarrow as pa
    n = 0
    for b in batches:
        n += len(b.column(0).to_numpy(zero_copy_only=False))
    yield pa.RecordBatch.from_pydict({"n": [n]})


def _consume(df):
    """Consume every row: xor-fold the first column (no overflow)."""
    return df.agg(F.bit_xor(F.col(df.columns[0]))).first()[0]


def _median_s(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def python_task_ms(spark) -> float:
    """Fixed cost of one Python task: a near-empty ``mapInPandas`` job of
    2 tasks per core against the same job done in the JVM, per task slot.
    Spark's own "time to initialize Python workers" counter cannot give
    this: for a reused worker it also counts the time the worker sat idle
    since its previous task."""
    cores = spark.sparkContext.defaultParallelism
    tasks = 2 * cores
    ids = spark.range(0, tasks, numPartitions=tasks).select(
        F.col("id").alias("h"))
    t_jvm = _median_s(lambda: _consume(ids))
    t_py = _median_s(lambda: _consume(ids.mapInPandas(_drain_pandas, "n long")))
    return (t_py - t_jvm) * cores / tasks * 1e3


def spark_floors(pages, n_rows: int, span) -> dict:
    """Run every engine floor once inside its own span."""
    urls = pages.select(hash_col(F.col("url")).alias("h"))
    toks = tokenize(pages.select("text"), "text").select(
        hash_col(F.col("token")).alias("h"))
    floors = {
        "spark.scan_hash": lambda: _consume(urls),
        "spark.tokenize_hash": lambda: _consume(toks),
        "spark.arrow_pandas_url": lambda: _consume(
            urls.mapInPandas(_drain_pandas, "n long")),
        "spark.arrow_pandas_token": lambda: _consume(
            toks.mapInPandas(_drain_pandas, "n long")),
        "spark.arrow_arrow_url": lambda: _consume(
            urls.mapInArrow(_drain_arrow, "n long")),
        "spark.native_hll": lambda: pages.agg(F.hll_sketch_estimate(
            F.hll_sketch_agg("url", HLL_URL_P))).first()[0],
        # PySpark has no stat.bloomFilter; call the JVM Dataset's
        "spark.native_bloom": lambda: pages._jdf.stat().bloomFilter(
            "url", n_rows, P_BLOOM).bitSize(),
        # width ceil(2/eps) and depth ceil(-log2(1-confidence)) give the
        # library's CMS(5 x 16384)
        "spark.native_cms": lambda: tokenize(pages.select("text"), "text").agg(
            F.count_min_sketch("token", 2.0 / CMS_WIDTH,
                               1.0 - 2.0 ** -CMS_DEPTH, 0)).first()[0],
        "spark.native_kll": lambda: pages.agg(
            F.kll_sketch_get_quantile_bigint(
                F.kll_sketch_agg_bigint(F.length("text"), 200),
                F.lit(0.5))).first()[0],
        "spark.native_hll_grouped": lambda: pages.groupBy(
            host_col("url").alias("host")).agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("url", HLL_GROUP_P))).collect(),
    }
    for name, run in floors.items():
        with span(name):
            run()
    with span("spark.python_task"):
        return {"spark.python_task_init_ms": python_task_ms(pages.sparkSession)}


def _median_ns(fn, n_items: int) -> float:
    """Median per-item ns of ``fn()`` over KERNEL_REPS calls."""
    return _median_s(fn, KERNEL_REPS) * 1e9 / max(n_items, 1)


def kernel_floors(pages, n_rows: int) -> dict:
    """Single-core kernel costs over the workload's own url and token
    hashes, text lengths and hosts → (metrics, the built sketches and url
    hashes the codec floors encode)."""
    cols = pages.select(hash_col(F.col("url")).alias("h"),
                        F.length("text").alias("len"),
                        host_col("url").alias("host")).toPandas()
    url_h = cols["h"].to_numpy(np.int64)
    lens = cols["len"].to_numpy(np.float64)
    gids = pd.factorize(cols["host"])[0].astype(np.int64)
    tok_h = (tokenize(pages.select("text"), "text")
             .select(hash_col(F.col("token")).alias("h"))
             .limit(TOKEN_SAMPLE).toPandas()["h"].to_numpy(np.int64))

    bloom = BloomSketch.from_capacity(n_rows, P_BLOOM)
    bloom.update_hashes(url_h)
    cms = CountMinSketch(CMS_DEPTH, CMS_WIDTH)
    cms.update_hashes(tok_h)
    dense_a, dense_b = HLLSketch(HLL_URL_P), HLLSketch(HLL_URL_P)
    dense_a.update_hashes(url_h[::2])
    dense_b.update_hashes(url_h[1::2])

    def grouped_fold():
        fold = GroupedHLLFold(HLL_GROUP_P)
        fold.add(gids, url_h)
        fold.payloads(int(gids.max()) + 1)

    return {
        "kernels.hll_update_ns": _median_ns(
            lambda: HLLSketch(HLL_URL_P).update_hashes(url_h), url_h.size),
        "kernels.bloom_update_ns": _median_ns(
            lambda: BloomSketch.from_capacity(n_rows, P_BLOOM)
            .update_hashes(url_h), url_h.size),
        "kernels.cms_update_ns": _median_ns(
            lambda: CountMinSketch(CMS_DEPTH, CMS_WIDTH).update_hashes(tok_h),
            tok_h.size),
        "kernels.kll_update_ns": _median_ns(
            lambda: KLLSketch(200).update_values(lens), lens.size),
        "kernels.bloom_contains_ns": _median_ns(
            lambda: bloom.contains_hashes(url_h), url_h.size),
        "kernels.cms_estimate_ns": _median_ns(
            lambda: cms.estimate_hashes(tok_h), tok_h.size),
        "kernels.grouped_hll_fold_ns": _median_ns(grouped_fold, url_h.size),
        "kernels.hll_merge_us": _median_ns(
            lambda: dense_a.merge(dense_b), 1) / 1e3,
    }, {"bloom": bloom, "cms": cms, "hll_dense": dense_a, "url_h": url_h}


def codec_floors(sketches: dict) -> dict:
    """Encode / decode cost and payload size per sketch kind. The sparse
    HLL holds 20 urls at the grouped precision, the shape of one
    (host, hour) cube payload."""
    sparse = HLLSketch(HLL_GROUP_P)
    sparse.update_hashes(sketches["url_h"][:20])
    kinds = {"hll_sparse": sparse, "hll_dense": sketches["hll_dense"],
             "bloom": sketches["bloom"], "cms": sketches["cms"]}
    out = {}
    for kind, sk in kinds.items():
        payload = sk.to_bytes()
        reps = CODEC_REPS if len(payload) < (1 << 20) else 10
        out[f"kernels.base.{kind}_encode_us"] = _median_ns(
            lambda: [sk.to_bytes() for _ in range(reps)], reps) / 1e3
        out[f"kernels.base.{kind}_decode_us"] = _median_ns(
            lambda: [sketch_from_bytes(payload) for _ in range(reps)],
            reps) / 1e3
        out[f"kernels.base.{kind}_bytes"] = float(len(payload))
    return out
