"""The three workloads: set-up, one timed pass, and the pass's output checks.

Each pass issues library calls the way a user would, reduces every
result to a few numbers on the driver, and returns them; ``check``
compares them with the exact answers from ``fixture.Truth`` and returns
the names of the checks that failed (empty when the pass is correct).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
from pyspark.sql import functions as F

from bloom_filters_spark.kernels import (BloomSketch, CountMinSketch,
                                         HLLSketch, sketch_from_bytes)
from bloom_filters_spark.operators.agg import (build_grouped_sketches,
                                               build_sketch, cms_lookup,
                                               probe_membership,
                                               salted_repartition)
from bloom_filters_spark.operators.rollup import (query_rollup_many,
                                                  rollup_group_estimates,
                                                  rollup_sketches)
from bloom_filters_spark.operators.sharded import (build_sharded,
                                                   probe_sharded)
from bloom_filters_spark.operators.textstats import tokenize
from bloom_filters_spark.plans.queries import (distinct_hosts, host_col,
                                               text_length_quantiles)

from fixture import slice_predicates

P_BLOOM = 0.01
HLL_URL_P = 13
HLL_GROUP_P = 12
CMS_DEPTH, CMS_WIDTH = 5, 16384
SHARDS = 8
KLL_RANK_EPS = 0.04       # KLL(200) rank error, as in plans.queries.corpus_report


def _hll_ok(est: float, exact: int, rel: float) -> bool:
    return abs(est - exact) <= 3 * rel * max(exact, 1)


class Workload:
    name = ""

    def __init__(self, fx, tracer, sabotage: bool = False):
        self.fx, self.tracer, self.sabotage = fx, tracer, sabotage

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError


class PagesIngest(Workload):
    """Five global builds over the pages: rows in, one payload out."""
    name = "pages_ingest"

    def setup(self) -> None:
        self.truth = self.fx.truth.ingest()

    def run_pass(self) -> dict:
        pages, span, cap = self.fx.pages, self.tracer.span, self.fx.n
        with span("operators.agg.build_hll_url"):
            hll, n_hll = build_sketch(pages, "url", lambda: HLLSketch(HLL_URL_P))
        with span("operators.agg.build_bloom_url"):
            bloom, n_bloom = build_sketch(
                pages, "url", lambda: BloomSketch.from_capacity(cap, P_BLOOM))
        with span("plans.queries.distinct_hosts"):
            hosts = distinct_hosts(pages)
        with span("plans.queries.text_length_quantiles"):
            lens = text_length_quantiles(pages)
        with span("operators.agg.build_cms_token"):
            cms, n_tok = build_sketch(
                tokenize(pages.select("text"), "text"), "token",
                lambda: CountMinSketch(CMS_DEPTH, CMS_WIDTH))
        return {"hll": hll, "n_hll": n_hll, "bloom": bloom,
                "n_bloom": n_bloom, "hosts": hosts, "lens": lens,
                "cms": cms, "n_tok": n_tok}

    def check(self, out: dict) -> list[str]:
        tr, n, failed = self.truth, self.fx.n, []
        if out["n_hll"] != n or not _hll_ok(out["hll"].estimate(), tr["urls"],
                                            out["hll"].relative_error):
            failed.append("hll_url")
        hosts = out["hosts"]
        if hosts["n_rows"] != n or not _hll_ok(
                hosts["estimate"], tr["hosts"], hosts["rel_error_bound"]):
            failed.append("hll_hosts")
        bloom = out["bloom"]
        if (out["n_bloom"] != n or not bloom.contains_hashes(tr["url_h"]).all()
                or bloom.contains_hashes(tr["new_h"]).mean() > P_BLOOM):
            failed.append("bloom_url")
        # KLL median: exact rank(< v) and rank(<= v) bracket 0.5 within
        # the rank error (tie-aware, as corpus_report checks it)
        v = out["lens"]["quantiles"][0.5]
        vals, counts = tr["len_values"], tr["len_counts"]
        tol = KLL_RANK_EPS + 1.0 / n
        lt = counts[vals < v].sum() / n
        le = counts[vals <= v].sum() / n
        if out["lens"]["n_rows"] != n or not (le >= 0.5 - tol and lt <= 0.5 + tol):
            failed.append("kll_median")
        cms, top = out["cms"], tr["top_tokens"]
        est = cms.estimate_hashes(top["h"].to_numpy(np.int64))
        exact = top["count"].to_numpy(np.int64)
        slack = math.e / cms.width * out["n_tok"]
        if (out["n_tok"] != tr["tokens"] or (est < exact).any()
                or (est > exact + slack).any()):
            failed.append("cms_top_tokens")
        return failed


class SeenBeforeProbe(Workload):
    """Probe an incoming table against prebuilt sketches, read side only."""
    name = "seen_before_probe"

    def setup(self) -> None:
        fx, span, cap = self.fx, self.tracer.span, self.fx.n
        self.truth = fx.truth.probe()
        with span("operators.agg.prebuild_bloom_url"):
            self.bloom, _ = build_sketch(
                fx.pages, "url", lambda: BloomSketch.from_capacity(cap, P_BLOOM))
        with span("operators.agg.prebuild_cms_url"):
            self.cms, _ = build_sketch(
                fx.pages, "url", lambda: CountMinSketch(CMS_DEPTH, CMS_WIDTH))
        path = os.path.join(fx.work, "shards")
        with span("operators.sharded.build"):
            (build_sharded(fx.pages, "url", SHARDS, p=P_BLOOM)
             .write.mode("overwrite").parquet(path))
        self.shards = fx.spark.read.parquet(path)
        # a probe hashed with another seed than the build's must show
        # false negatives; the smoke test uses it to prove the checks bite
        self.probe_seed = 1 if self.sabotage else 0

    @staticmethod
    def _counts(df) -> dict:
        return {(bool(r["is_new"]), bool(r["seen"])): int(r["count"])
                for r in df.groupBy("is_new", "seen").count().collect()}

    def run_pass(self) -> dict:
        inc, span = self.fx.incoming, self.tracer.span
        with span("operators.agg.probe_membership"):
            member = self._counts(probe_membership(
                inc, "url", self.bloom, seed=self.probe_seed))
        with span("operators.sharded.probe"):
            sharded = self._counts(probe_sharded(
                inc, "url", self.shards, seed=self.probe_seed))
        with span("operators.agg.cms_lookup"):
            rows = (cms_lookup(inc, "url", self.cms)
                    .groupBy("is_new")
                    .agg(F.sum("est_count").alias("est"),
                         F.sum((F.col("est_count") == 0).cast("long"))
                         .alias("zero"))
                    .collect())
        cms = {bool(r["is_new"]): (int(r["est"]), int(r["zero"])) for r in rows}
        return {"member": member, "sharded": sharded, "cms": cms}

    def fpr(self, counts: dict) -> float:
        return counts.get((True, True), 0) / max(self.truth["new"], 1)

    def check(self, out: dict) -> list[str]:
        tr, failed = self.truth, []
        self.observed_fpr = self.fpr(out["member"])
        for key in ("member", "sharded"):
            c = out[key]
            if (sum(c.values()) != self.fx.n or c.get((False, False), 0)
                    or self.fpr(c) > P_BLOOM):
                failed.append(f"{key}_probe")
        # CMS never under-counts a repeat url (each occurs >= once in the
        # pages) and its mean excess stays within (e/width)·N
        slack = math.e / CMS_WIDTH * self.fx.n
        est_rep, zero_rep = out["cms"].get(False, (0, 0))
        est_new, _ = out["cms"].get(True, (0, 0))
        if (zero_rep or est_rep < tr["repeat_mult"]
                or est_rep - tr["repeat_mult"] > slack * tr["repeat"]
                or est_new > slack * tr["new"]):
            failed.append("cms_lookup")
        return failed


class HostRollup(Workload):
    """Per-host grouped build, per-(host, hour) cube, per-host estimates
    from the cube and six slice questions: many tiny payloads."""
    name = "host_rollup"

    def setup(self) -> None:
        fx = self.fx
        self.truth = fx.truth.rollup()
        self.parts = int(fx.spark.conf.get("spark.sql.shuffle.partitions"))
        self.cube_path = os.path.join(fx.work, "cube")
        self.questions = slice_predicates(self.truth["h0"])

    def run_pass(self) -> dict:
        fx, span = self.fx, self.tracer.span
        ph = fx.pages.select("url", "warc_ts", host_col("url").alias("host"))
        with span("operators.agg.build_grouped_host"):
            grouped = build_grouped_sketches(
                salted_repartition(ph, "host", self.parts, salt_from="url"),
                "url", lambda: HLLSketch(HLL_GROUP_P), ["host"]).collect()
        with span("operators.rollup.build"):
            (rollup_sketches(ph, "url", lambda: HLLSketch(HLL_GROUP_P),
                             time_col="warc_ts", grain="hour",
                             group_cols=["host"])
             .write.mode("overwrite").parquet(self.cube_path))
        cube = fx.spark.read.parquet(self.cube_path)
        with span("operators.rollup.group_estimates"):
            ests = rollup_group_estimates(cube, ["host"]).collect()
        with span("operators.rollup.slices"):
            answers = query_rollup_many(cube, self.questions)
        return {"grouped": {r["host"]: (int(r["n_rows"]), bytes(r["payload"]))
                            for r in grouped},
                "estimates": {r["host"]: (int(r["n_rows"]), r["estimate"])
                              for r in ests},
                "slices": answers}

    def check(self, out: dict) -> list[str]:
        tr, failed = self.truth, []
        rel = HLLSketch(HLL_GROUP_P).relative_error
        decoded = {h: (n, sketch_from_bytes(p).estimate())
                   for h, (n, p) in out["grouped"].items()}
        for key, got in (("grouped", decoded), ("estimates", out["estimates"])):
            if ({h: n for h, (n, _) in got.items()} != tr["host_rows"]
                    or sum(n for n, _ in got.values()) != self.fx.n
                    or not all(_hll_ok(got[h][1], d, rel)
                               for h, d in tr["top_distinct"].items())):
                failed.append(f"{key}_per_host")
        for name, (n, d) in tr["slices"].items():
            sk, got_n = out["slices"][name]
            if got_n != n or (n and not _hll_ok(sk.estimate(), d, rel)):
                failed.append(f"slice:{name}")
        return failed


def set_up(wl, warmups: int) -> list:
    """The workload's set-up, then ``warmups`` untimed passes;
    → [(None, failed check names)] for the warm-up passes."""
    with wl.tracer.span(f"{wl.name}.setup"):
        wl.setup()
    wl.tracer.pass_id = "warmup"
    out = []
    for _ in range(warmups):
        with wl.tracer.span(f"{wl.name}.warmup"):
            out.append((None, wl.check(wl.run_pass())))
    return out


def timed_passes(wl, seconds: float, min_passes: int) -> list:
    """Run passes until ``seconds`` have elapsed (at least ``min_passes``);
    → list of (wall_s, failed check names). Each pass is a span named
    after the workload (a no-op when tracing is off)."""
    out = []
    stop = time.perf_counter() + seconds
    while len(out) < min_passes or time.perf_counter() < stop:
        wl.tracer.pass_id = len(out)
        t0 = time.perf_counter()
        with wl.tracer.span(wl.name):
            res = wl.run_pass()
        out.append((time.perf_counter() - t0, wl.check(res)))
    return out


WORKLOADS = {w.name: w for w in (PagesIngest, SeenBeforeProbe, HostRollup)}
