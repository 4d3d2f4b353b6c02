"""The benchmark workloads: inputs, the timed closed-loop job, output checks.

Every job runs one batch job at a time (closed loop, one client) and is
timed from its generated input tables to its complete written result.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.counters import SparkCounters, dir_usage
from perfbench.trace import TracedFetcher, Tracer, instrument_crawl


class CheckFailed(Exception):
    """A workload's output differs from what its check expects."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class Rep:
    """One timed job: its wall, its engine steps and its checked output."""

    wall_s: float
    items: int  # fetched 2xx pages, or validated images
    step_walls: list[float]  # crawl iteration walls, or the validate stage
    ops: int  # crawl iterations, or image rows
    state_bytes: int
    counts: dict = field(default_factory=dict)
    #: the output's exact counts; every later job of a run must repeat them
    output: dict = field(default_factory=dict)


# ------------------------------------------------------------- crawls

DEEP = gen.DeepShape()
DEEP_DEPTH = 3
DEEP_HOST_LIMIT = 16
DEEP_RETRIES = 1

WIDE = gen.WideShape()
WIDE_HOST_LIMIT = 256
WIDE_ITERATIONS = 1
BLOOM_BUCKETS = 32
WARMUP_SEEDS = 200


class CrawlWorkload:
    """Shared crawl harness; subclasses give inputs, config and checks."""

    name = ""
    min_jobs = 3  # one-iteration crawls; the median drops one slow job

    def __init__(self, spark, counters: SparkCounters, seed: int, root: str):
        self.spark = spark
        self.counters = counters
        self.seed = seed
        self.root = root
        self.inputs = f"{root}/inputs"
        self._n = 0

    # inputs -----------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def config(self, state: str, **over):
        raise NotImplementedError

    def tables(self):
        """(corpus, seeds, robots) as the engine sees them."""
        read = self.spark.read.parquet
        robots = (
            read(f"{self.inputs}/robots") if os.path.isdir(f"{self.inputs}/robots") else None
        )
        return read(f"{self.inputs}/corpus"), read(f"{self.inputs}/seeds"), robots

    # the job ----------------------------------------------------------
    def crawl(self, tracer: Tracer | None = None, seed_limit: int | None = None, **over):
        from dotnetspider_spark.crawler.loop import crawl
        from dotnetspider_spark.sources.fetchers import CorpusFetcher

        self._n += 1
        state = f"{self.root}/state/{self._n}"
        group = f"crawl-{self._n}"
        corpus, seeds, robots = self.tables()
        if seed_limit is not None:
            seeds = seeds.limit(seed_limit)
        fetcher = CorpusFetcher(corpus)
        cfg = self.config(state, **over)
        t0 = time.perf_counter()
        with self.counters.group(group):
            if tracer is None:
                res = crawl(self.spark, corpus, seeds, cfg, robots=robots, fetcher=fetcher)
            else:
                with instrument_crawl(tracer):
                    res = crawl(
                        self.spark, corpus, seeds, cfg, robots=robots,
                        fetcher=TracedFetcher(fetcher, tracer),
                    )
        wall = time.perf_counter() - t0
        totals = self.counters.totals(group)
        files, size = dir_usage(state)
        items = sum(m["n_ok"] for m in res.metrics)
        rep = Rep(
            wall_s=wall,
            items=items,
            step_walls=[m["wall_ms"] / 1000.0 for m in res.metrics],
            ops=res.iterations,
            state_bytes=size,
            counts={
                "jobs": totals.jobs,
                "stages": totals.stages,
                "ckpt_files": files,
                "batch": [m["n_batch"] for m in res.metrics],
                "fresh": [m["n_new"] for m in res.metrics],
            },
        )
        rep.output = {"items": items, **{k: rep.counts[k] for k in ("ckpt_files", "batch", "fresh")}}
        return res, rep, state

    def warmup(self) -> None:
        """One untimed, unchecked iteration from a few seeds: the first crawl
        in a driver spends about half its wall compiling (JIT, codegen),
        whatever the batch size."""
        self.crawl(max_iterations=1, seed_limit=WARMUP_SEEDS)

    def job(self, tracer: Tracer | None = None, check: bool = True) -> Rep:
        res, rep, state = self.crawl(tracer)
        if check:
            self.check(res, rep, state)
        return rep

    def check(self, res, rep: Rep, state: str) -> None:
        raise NotImplementedError

    def trace_metrics(self, untraced: Rep, traced: Rep, tracer: Tracer) -> dict:
        iters = max(untraced.ops, 1)
        ok_rows = tracer.count("fetchers", "rows")
        batch_rows = tracer.count("frontier", "rows")
        pages = tracer.count("parse", "pages")
        cands = tracer.count("dedup", "candidates")
        fresh = tracer.count("dedup", "fresh")
        probed = tracer.count("bloom.probe", "probed")
        definitely_new = tracer.count("bloom.probe", "definitely_new")
        # false positives: rows the probe sent to the exact anti-join that
        # turned out new, i.e. the enclosing dedup call's fresh minus the
        # probe's definitely-new
        dedup_of = {d.group: d for d in tracer.of("dedup")}
        bloom_fresh = sum(dedup_of[p.parent].counts["fresh"] for p in tracer.of("bloom.probe"))
        files = untraced.counts["ckpt_files"]
        return {
            "loop.jobs_per_iter": untraced.counts["jobs"] / iters,
            "loop.stages_per_iter": untraced.counts["stages"] / iters,
            "loop.iter_wall_s": statistics.median(untraced.step_walls),
            "ckpt.files": float(files),
            "ckpt.bytes": float(untraced.state_bytes),
            "ckpt.manifest_s": tracer.seconds("ckpt.manifest"),
            "frontier.rank_s": tracer.seconds("frontier"),
            "frontier.batch_rows": float(batch_rows),
            "frontier.hot_host_share": _ratio(tracer.count("frontier", "hot"), batch_rows),
            "fetchers.fetch_s": tracer.seconds("fetchers"),
            "fetchers.rows": float(ok_rows),
            "fetchers.ok_ratio": _ratio(tracer.count("fetchers", "ok"), ok_rows),
            "parse.s": tracer.seconds("parse"),
            "parse.pages": float(pages),
            "parse.links_per_page": _ratio(tracer.count("parse", "links"), pages),
            "identity.s": tracer.seconds("identity"),
            "dedup.s": tracer.seconds("dedup"),
            "dedup.candidates": float(cands),
            "dedup.fresh_ratio": _ratio(fresh, cands),
            "bloom.build_s": tracer.seconds("bloom.build"),
            "bloom.build_shuffle_bytes": float(
                sum(s.spark.shuffle_bytes for s in tracer.of("bloom.build"))
            ),
            "bloom.probe_s": tracer.seconds("bloom.probe"),
            "bloom.definitely_new_ratio": _ratio(definitely_new, probed),
            "bloom.fp_rate": _ratio(bloom_fresh - definitely_new, bloom_fresh),
        }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class CrawlDeep(CrawlWorkload):
    """BFS over the datagen web with robots, 404/500 pages and retries on.

    Small batches: each iteration's fixed cost (Spark jobs, small parquet
    writes, footer counts) dominates, so this measures ``crawler.loop``
    orchestration and snapshot I/O. BFS because the batched engine's DFS
    fetch set diverges from the oracle (perfbench/DEFECTS.md, defect b).
    """

    name = "crawl_deep"
    min_jobs = 1  # one crawl is already several timed iterations

    def setup(self) -> None:
        gen.write_deep(self.spark, DEEP, self.seed, self.inputs)

    def config(self, state: str, **over):
        from dotnetspider_spark.crawler.loop import CrawlConfig

        kw = dict(
            dfs=False, max_depth=DEEP_DEPTH, per_host_limit=DEEP_HOST_LIMIT,
            cycle_retry_times=DEEP_RETRIES, checkpoint_dir=state,
        )
        return CrawlConfig(**{**kw, **over})

    def oracle(self):
        if not hasattr(self, "_oracle"):
            from dotnetspider_spark.pyref.oracle import Request, crawl as pycrawl
            from dotnetspider_spark.testing.datagen import seed_rows

            cc = DEEP.corpus_config(self.seed)
            self._oracle = pycrawl(
                cc, [Request(**r) for r in seed_rows(cc, DEEP.n_seeds)],
                dfs=False, max_depth=DEEP_DEPTH, cycle_retry_times=DEEP_RETRIES,
            )
        return self._oracle

    def check(self, res, rep: Rep, state: str) -> None:
        want = self.oracle()
        fetched = {r.url for r in res.fetched.select("url").collect()}
        expect(fetched == set(want.fetch_order),
               f"fetched set differs from the oracle: {len(fetched)} vs {len(want.fetch_order)}")
        seen = {r.identity for r in res.seen.collect()}
        expect(seen == want.seen, f"seen set differs from the oracle: {len(seen)} vs {len(want.seen)}")
        expect(rep.items == len(want.fetch_order), "n_ok metrics disagree with the fetched table")


class CrawlWide(CrawlWorkload):
    """Zipf resolvable corpus, a quarter seeded, exact dedup, robots off.

    Batches of thousands of URLs per iteration: ranking, the fetch join,
    the parse UDF, md5 identity and the anti-join grow with batch size.
    """

    name = "crawl_wide"
    use_bloom = False

    def setup(self) -> None:
        gen.write_wide(self.spark, WIDE, self.seed, self.inputs)

    def config(self, state: str, **over):
        from dotnetspider_spark.crawler.loop import CrawlConfig

        kw = dict(
            dfs=True, per_host_limit=WIDE_HOST_LIMIT, max_iterations=WIDE_ITERATIONS,
            robots_enabled=False, use_bloom=self.use_bloom,
            # sized as a user would: the final seen set is at most the
            # corpus, spread over the buckets, at fpp 0.01
            bloom_expected_per_bucket=math.ceil(WIDE.n_pages / BLOOM_BUCKETS),
            bloom_n_buckets=BLOOM_BUCKETS,
            checkpoint_dir=state,
        )
        return CrawlConfig(**{**kw, **over})

    def check(self, res, rep: Rep, state: str) -> None:
        """Politeness and dedup invariants, then exactness: each iteration's
        fresh set must equal exact dedup of the links its fetched pages carry
        (known from the generator, not from the parse UDF) against the seeds
        and every earlier fresh set. Batches follow from the fresh sets, so
        this also pins batch and fresh counts to the exact-dedup crawl."""
        from dotnetspider_spark.functions.identity import request_identity

        fetched = res.fetched.select("iter", "host", "identity").collect()
        per_host = Counter((r.iter, r.host) for r in fetched)
        expect(max(per_host.values(), default=0) <= WIDE_HOST_LIMIT,
               f"a host got more than {WIDE_HOST_LIMIT} fetches in one iteration")
        expect(len({r.identity for r in fetched}) == len(fetched), "an identity was fetched twice")

        read = self.spark.read.parquet
        fresh_by_iter: dict[int, list[str]] = {i: [] for i in range(res.iterations)}
        if os.path.isdir(f"{state}/fresh"):  # one part dir per iteration: iter=N
            for r in read(f"{state}/fresh").select("iter", "identity").collect():
                fresh_by_iter[r.iter].append(r.identity)
        page = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        links = res.fetched.select(
            "iter", F.explode(F.array(*gen.wide_links(WIDE, self.seed, page))).alias("url")
        )
        want_by_iter: dict[int, set[str]] = {i: set() for i in range(res.iterations)}
        for r in links.select("iter", request_identity(F.col("url")).alias("identity")).distinct().collect():
            want_by_iter[r.iter].add(r.identity)

        seen = {r.identity for r in read(f"{state}/frontier/init").select("identity").collect()}
        for i in range(res.iterations):
            fresh = fresh_by_iter[i]
            expect(len(fresh) == len(set(fresh)), f"iteration {i} pushed an identity twice")
            expect(not seen.intersection(fresh),
                   f"iteration {i} pushed an identity already in the prior seen set")
            want = want_by_iter[i] - seen
            expect(set(fresh) == want,
                   f"iteration {i}: fresh {len(fresh)} != exact dedup of its links {len(want)}")
            seen.update(fresh)


class CrawlWideBloom(CrawlWide):
    """``crawl_wide``'s inputs with ``use_bloom=True``: the only workload that
    goes through ``operators.bloom``, which builds and probes its filters
    every iteration. Its check pins it to the exact-dedup crawl."""

    name = "crawl_wide_bloom"
    use_bloom = True


# ------------------------------------------------------------- payload

PAYLOAD = gen.PayloadShape()
CODEC_SAMPLE = {"jpeg": 64, "png": 256}
MAX_HAMMING = 4


class PayloadValidate:
    """validate_payloads on a perturbed fetched copy, phash recompute,
    phash near-duplicates: the pure-Python codec inside pandas UDFs, with
    no frontier work."""

    name = "payload_validate"
    min_jobs = 3  # a pass takes seconds; the median drops the slow first one

    def __init__(self, spark, counters: SparkCounters, seed: int, root: str):
        self.spark = spark
        self.counters = counters
        self.seed = seed
        self.root = root
        self.inputs = f"{root}/inputs"
        self._n = 0

    def setup(self) -> None:
        gen.write_payload(self.spark, PAYLOAD, self.seed, self.inputs)

    def warmup(self) -> None:
        """One untimed, unchecked pass: the first pass in a driver compiles."""
        self.job(check=False)

    def job(self, tracer: Tracer | None = None, check: bool = True) -> Rep:
        from contextlib import nullcontext

        from dotnetspider_spark.operators.validate import (
            phash_near_duplicates,
            phash_udf,
            validate_payloads,
        )

        self._n += 1
        out = f"{self.root}/out/{self._n}"
        read = self.spark.read.parquet
        ref = read(f"{self.inputs}/reference")
        fetched = read(f"{self.inputs}/fetched")

        def span(name):
            return tracer.span(name) if tracer is not None else nullcontext()

        group = f"payload-{self._n}"
        t0 = time.perf_counter()
        with self.counters.group(group):
            with span("validate.psnr"):
                validate_payloads(fetched, ref).write.parquet(f"{out}/validate")
            t1 = time.perf_counter()
            with span("validate.phash"):
                fetched.select(
                    "image_id", phash_udf(F.col("bytes"), F.col("fmt")).alias("phash")
                ).write.parquet(f"{out}/phash")
            with span("validate.neardup"):
                hashes = read(f"{out}/phash").filter(F.col("phash").isNotNull())
                phash_near_duplicates(hashes, max_hamming=MAX_HAMMING).write.parquet(
                    f"{out}/neardup"
                )
        wall = time.perf_counter() - t0
        rows = fetched.count()
        valid = read(f"{out}/validate").filter("valid").count()
        pairs = read(f"{out}/neardup").count()
        rep = Rep(
            wall_s=wall, items=rows, step_walls=[t1 - t0], ops=rows,
            state_bytes=dir_usage(out)[1],
            counts={"valid": valid, "neardup_pairs": pairs},
            output={"items": rows, "valid": valid, "neardup_pairs": pairs},
        )
        if check:
            self.check(out, rep)
        return rep

    def check(self, out: str, rep: Rep) -> None:
        import numpy as np

        read = self.spark.read.parquet
        fetched = {
            r.image_id: r
            for r in read(f"{self.inputs}/fetched").select("image_id", "perturb").collect()
        }
        ref = read(f"{self.inputs}/reference").select("image_id", "phash").collect()
        ref_phash = {r.image_id: r.phash for r in ref}
        verdict = {
            r.image_id: r.valid
            for r in read(f"{out}/validate").select("image_id", "valid").collect()
        }
        intact = {i for i, r in fetched.items() if r.perturb is None}
        expect(set(verdict) == set(fetched), "validate_payloads lost or added rows")
        expect(rep.counts["valid"] == len(intact),
               f"valid rows {rep.counts['valid']} != unperturbed rows {len(intact)}")
        expect(all(verdict[i] is True for i in intact), "an unperturbed row failed validation")
        expect(not any(verdict[i] for i in set(fetched) - intact), "a perturbed row passed validation")

        phash = {r.image_id: r.phash for r in read(f"{out}/phash").collect()}
        for i, r in fetched.items():
            if r.perturb in (None, "caption"):
                expect(phash[i] == ref_phash[i], f"recomputed phash of {i} differs from the stored one")
            elif r.perturb == "truncate":
                expect(phash[i] is None, f"truncated image {i} got a phash")

        # brute-force all pairs within MAX_HAMMING over the recomputed hashes
        ids = sorted(i for i, h in phash.items() if h is not None)
        h = np.array([phash[i] for i in ids], dtype=np.int64).view(np.uint64)
        x = h[:, None] ^ h[None, :]
        popcount = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)
        dist = np.zeros(x.shape, dtype=np.uint8)
        for shift in range(0, 64, 8):
            dist += popcount[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.intp)]
        a, b = np.nonzero(np.triu(dist <= MAX_HAMMING, k=1))
        want = {(ids[p], ids[q]) for p, q in zip(a, b)}
        got = {(r.id_a, r.id_b) for r in read(f"{out}/neardup").select("id_a", "id_b").collect()}
        expect(got == want, f"near-duplicate pairs {len(got)} != brute force {len(want)}")

    def trace_metrics(self, untraced: Rep, traced: Rep, tracer: Tracer) -> dict:
        from dotnetspider_spark.operators.validate import phash_bands

        out = f"{self.root}/out/{self._n}"
        with tracer.bookkeeping():
            hashes = self.spark.read.parquet(f"{out}/phash").filter(F.col("phash").isNotNull())
            bands = hashes.select(
                "image_id",
                F.posexplode(F.array(*phash_bands(F.col("phash")))).alias("band", "val"),
            )
            cands = (
                bands.alias("l").join(bands.alias("r"), ["band", "val"])
                .filter(F.col("l.image_id") < F.col("r.image_id")).count()
            )
        return {
            "validate.psnr_s": tracer.seconds("validate.psnr"),
            "validate.valid_ratio": _ratio(traced.counts["valid"], traced.items),
            "validate.phash_s": tracer.seconds("validate.phash"),
            "validate.neardup_s": tracer.seconds("validate.neardup"),
            "validate.neardup_candidates_per_pair": _ratio(cands, traced.counts["neardup_pairs"]),
            **self.codec_rates(),
        }

    def codec_rates(self) -> dict:
        """``decode_image`` megapixels per second over a fixed-size sample."""
        from dotnetspider_spark.codec.png import decode_image

        ref = self.spark.read.parquet(f"{self.inputs}/reference")
        out = {}
        for fmt, n in CODEC_SAMPLE.items():
            rows = ref.filter(F.col("fmt") == fmt).orderBy("page_id").limit(n).collect()
            t0 = time.perf_counter()
            for r in rows:
                decode_image(bytes(r.bytes), fmt)
            dt = time.perf_counter() - t0
            out[f"codec.decode_mpix_per_s.{fmt}"] = sum(r.w * r.h for r in rows) / 1e6 / dt
        return out


def expect_same(first: Rep, rep: Rep) -> None:
    """A later job of a run must repeat the fully checked first job's output."""
    expect(rep.output == first.output,
           f"job output {rep.output} differs from the checked first job's {first.output}")


WORKLOADS = {w.name: w for w in (CrawlDeep, CrawlWide, CrawlWideBloom, PayloadValidate)}


def reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
