"""The benchmark's input: one Common-Crawl-shaped pages table per seed.

Rows are ``generate_pdf`` of ids ``[seed*N, (seed+1)*N)``, staged as
parquet in ``FILES`` files. The file count is fixed and does not depend
on the core count; Spark's default split size then decides the number
of input partitions, which every result records.

Exact answers for the output checks come from JVM-only queries here,
never from the library under test.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import Window, functions as F

from bloom_filters_spark.operators.agg import hash_col
from bloom_filters_spark.operators.textstats import tokenize
from bloom_filters_spark.plans.queries import host_col
from bloom_filters_spark.sources.pages import PAGES_SCHEMA, generate_pdf

FILES = 4
NEW_SALT = 1_000_003      # xxhash64 seed that picks the '#new' incoming rows
TOP_TOKENS = 20
# six fixed (host, window) slices: hosts by Zipf rank, windows in hours
# from the first hour of the seed's time range
SLICE_HOSTS = ("host00000.example", "host00001.example", "host00007.example")
SLICE_WINDOWS = ((0, 12), (12, 48))
CHECK_HOSTS = 3           # hottest hosts whose per-host HLL is checked


def _gen(batches):
    for pdf in batches:
        yield generate_pdf(pdf["id"].to_numpy())


def stage_pages(spark, n: int, seed: int, path: str) -> None:
    (spark.range(seed * n, (seed + 1) * n, numPartitions=FILES)
     .mapInPandas(_gen, schema=PAGES_SCHEMA)
     .write.mode("overwrite").parquet(path))


def stage_incoming(pages, path: str) -> None:
    """Same size as pages: half the rows repeat a page's url, the other
    half are ``url || '#new'``, picked by a content hash of the url."""
    new = F.pmod(F.xxhash64("url", F.lit(NEW_SALT)), F.lit(2)) == 1
    (pages.select(F.when(new, F.concat("url", F.lit("#new")))
                  .otherwise(F.col("url")).alias("url"),
                  new.alias("is_new"))
     .write.mode("overwrite").parquet(path))


def slice_predicates(h0):
    """name → Column over the cube's (host, bucket) columns."""
    out = {}
    for host in SLICE_HOSTS:
        for lo, hi in SLICE_WINDOWS:
            out[f"{host}@{lo}-{hi}h"] = (
                (F.col("host") == host)
                & (F.col("bucket") >= F.lit(h0) + F.expr(f"INTERVAL {lo} HOURS"))
                & (F.col("bucket") < F.lit(h0) + F.expr(f"INTERVAL {hi} HOURS")))
    return out


class Truth:
    """Exact answers, each computed once on first use."""

    def __init__(self, fx):
        self.fx = fx

    def ingest(self) -> dict:
        p = self.fx.pages
        row = p.agg(F.countDistinct("url").alias("urls"),
                    F.countDistinct(host_col("url")).alias("hosts")).first()
        toks = tokenize(p.select("text"), "text")
        ranked = toks.groupBy("token").count().select(
            "token", "count", hash_col(F.col("token")).alias("h"),
            F.sum("count").over(Window.partitionBy()).alias("total"))
        top = (ranked.orderBy(F.desc("count"), "token").limit(TOP_TOKENS)
               .toPandas())
        lens = (p.groupBy(F.length("text").alias("len")).count()
                .orderBy("len").toPandas())
        hashes = p.select(
            hash_col(F.col("url")).alias("h"),
            hash_col(F.concat("url", F.lit("#new"))).alias("hn")).toPandas()
        return {"urls": int(row["urls"]), "hosts": int(row["hosts"]),
                "top_tokens": top, "tokens": int(top["total"].iloc[0]),
                "len_values": lens["len"].to_numpy(np.float64),
                "len_counts": lens["count"].to_numpy(np.int64),
                "url_h": hashes["h"].to_numpy(np.int64),
                "new_h": hashes["hn"].to_numpy(np.int64)}

    def probe(self) -> dict:
        inc = self.fx.incoming
        by_new = {bool(r["is_new"]): int(r["count"])
                  for r in inc.groupBy("is_new").count().collect()}
        mult = self.fx.pages.groupBy("url").count()
        repeat_mult = (inc.where(~F.col("is_new")).join(mult, "url")
                       .agg(F.sum("count")).first()[0])
        return {"repeat": by_new.get(False, 0), "new": by_new.get(True, 0),
                "repeat_mult": int(repeat_mult or 0)}

    def rollup(self) -> dict:
        ph = self.fx.pages.select("url", "warc_ts",
                                  host_col("url").alias("host"))
        hosts = ph.groupBy("host").agg(
            F.count("*").alias("n"),
            F.countDistinct("url").alias("d")).toPandas()
        h0 = ph.agg(F.min(F.date_trunc("hour", "warc_ts"))).first()[0]
        cube = ph.withColumn("bucket", F.date_trunc("hour", "warc_ts"))
        preds = slice_predicates(h0)
        r = cube.agg(*[F.count(F.when(p, 1)).alias(f"n{i}")
                       for i, p in enumerate(preds.values())],
                     *[F.countDistinct(F.when(p, F.col("url"))).alias(f"d{i}")
                       for i, p in enumerate(preds.values())]).first()
        slices = {name: (int(r[f"n{i}"]), int(r[f"d{i}"]))
                  for i, name in enumerate(preds)}
        top = hosts.nlargest(CHECK_HOSTS, "n")
        return {"host_rows": dict(zip(hosts["host"], hosts["n"].astype(int))),
                "top_distinct": dict(zip(top["host"], top["d"].astype(int))),
                "h0": h0, "slices": slices}


class Fixture:
    """The staged tables of one run and their exact answers."""

    def __init__(self, spark, n: int, seed: int, work: str, tracer):
        self.spark, self.n, self.work = spark, n, work
        pages_path = os.path.join(work, "pages")
        t0 = time.perf_counter()
        with tracer.span("sources.pages.stage"):
            stage_pages(spark, n, seed, pages_path)
        self.stage_s = time.perf_counter() - t0
        self.pages = spark.read.parquet(pages_path)
        self.input_partitions = self.pages.rdd.getNumPartitions()
        self.truth = Truth(self)
        self._incoming = None

    @property
    def incoming(self):
        """The probe workload's incoming table, staged on first use."""
        if self._incoming is None:
            path = os.path.join(self.work, "incoming")
            stage_incoming(self.pages, path)
            self._incoming = self.spark.read.parquet(path)
        return self._incoming
