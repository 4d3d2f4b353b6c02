"""Seeded input generators for the benchmark workloads.

Every table a workload hands the engine is made here from ``--seed`` and
written as parquet under the run's work directory, so the engine sees only
generated tables and the same seed gives the same rows.

- ``deep``: the ``testing.datagen`` web (robots rules, 404/500 pages),
  with ``CorpusConfig.seed`` set from the benchmark seed.
- ``wide``: a resolvable Zipf corpus of the shape of
  ``testing.benchjob.resolvable_corpus`` (16,384-host Zipf head, four
  absolute anchors per page that land on other corpus rows), whose host
  and anchor hash salts come from the seed. ``benchjob``'s salts are fixed,
  so it is not reused.
- ``payload``: the input_hint image+caption table from ``datagen`` with
  ``with_payload=True``, plus a "fetched" copy in which a seeded share of
  rows is perturbed.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dotnetspider_spark.testing.datagen import (
    CorpusConfig,
    gen_corpus,
    gen_robots,
    gen_seeds,
)

PARTS = 4  # generator partitions; the crawl itself runs on fixed shuffle partitions


def _salt(seed: int, label: str) -> int:
    """A 31-bit hash salt derived from the seed and a label."""
    return int.from_bytes(hashlib.md5(f"{seed}|{label}".encode()).digest()[:4], "big") >> 1


# ----------------------------------------------------------------- deep


@dataclass(frozen=True)
class DeepShape:
    n_pages: int = 2000
    n_hosts: int = 200
    n_seeds: int = 20

    def corpus_config(self, seed: int) -> CorpusConfig:
        return CorpusConfig(
            n_pages=self.n_pages, n_hosts=self.n_hosts, seed=seed, with_payload=False
        )


def write_deep(spark: SparkSession, shape: DeepShape, seed: int, root: str) -> None:
    cc = shape.corpus_config(seed)
    gen_corpus(spark, cc, parallelism=PARTS).write.mode("overwrite").parquet(
        f"{root}/corpus"
    )
    gen_robots(spark, cc).coalesce(1).write.mode("overwrite").parquet(f"{root}/robots")
    gen_seeds(spark, cc, k=shape.n_seeds).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/seeds"
    )


# ----------------------------------------------------------------- wide

WIDE_HOST_BITS = 14  # 2^(14u): hosts 1..16,384 with a hot Zipf head
WIDE_ANCHORS = 4


@dataclass(frozen=True)
class WideShape:
    n_pages: int = 40_000

    @property
    def n_seeds(self) -> int:
        return self.n_pages // 4  # a quarter of the URL space is seeded


def _zipf_host(col: F.Column, salt: int) -> F.Column:
    u = F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1 << 20)) / F.lit(float(1 << 20))
    return F.floor(F.pow(F.lit(2.0), u * WIDE_HOST_BITS)).cast("long")


def _wide_url(page: F.Column, host_salt: int) -> F.Column:
    return F.concat(
        F.lit("http://host"), _zipf_host(page, host_salt), F.lit(".example/p/"), page
    )


def wide_links(shape: WideShape, seed: int, page: F.Column) -> list[F.Column]:
    """The absolute URLs page ``page`` links to, in document order."""
    host_salt = _salt(seed, "host")
    return [
        _wide_url(
            F.pmod(F.xxhash64(page, F.lit(_salt(seed, f"anchor{j}"))), F.lit(shape.n_pages)),
            host_salt,
        )
        for j in range(WIDE_ANCHORS)
    ]


def wide_tables(spark: SparkSession, shape: WideShape, seed: int):
    """(corpus, seeds): corpus rows ``url, status, html``; seeds ``url, seq``."""
    host_salt = _salt(seed, "host")
    n = shape.n_pages
    anchors = []
    for link in wide_links(shape, seed, F.col("id")):
        anchors += [F.lit('<a href="'), link, F.lit('">l</a>')]
    corpus = spark.range(n, numPartitions=PARTS).select(
        _wide_url(F.col("id"), host_salt).alias("url"),
        F.lit(200).alias("status"),
        F.concat(
            F.lit("<html><body>"), *anchors,
            F.lit('<a href="#f">j</a><p class="cap">c '), F.col("id").cast("string"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    seeds = spark.range(shape.n_seeds, numPartitions=PARTS).select(
        _wide_url(F.col("id"), host_salt).alias("url"), F.col("id").alias("seq")
    )
    return corpus, seeds


def write_wide(spark: SparkSession, shape: WideShape, seed: int, root: str) -> None:
    corpus, seeds = wide_tables(spark, shape, seed)
    corpus.write.mode("overwrite").parquet(f"{root}/corpus")
    seeds.write.mode("overwrite").parquet(f"{root}/seeds")


# -------------------------------------------------------------- payload

PERTURB_EVERY = 10  # one row in ten of the fetched copy is perturbed


@dataclass(frozen=True)
class PayloadShape:
    n_rows: int = 500
    n_hosts: int = 20

    def corpus_config(self, seed: int) -> CorpusConfig:
        return CorpusConfig(
            n_pages=self.n_rows, n_hosts=self.n_hosts, seed=seed, with_payload=True
        )


PAYLOAD_COLS = ["page_id", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def perturb(ref: DataFrame, seed: int) -> DataFrame:
    """The "fetched" copy of ``ref`` with a ``perturb`` column (NULL = intact).

    Perturbed rows, picked by a seeded hash of ``image_id``, are one of:
    ``caption`` (caption edited), ``truncate`` (a JPEG cut to half its
    bytes) or ``swap`` (a PNG replaced by the next page's PNG). PNG rows are
    swapped rather than truncated because a truncated PNG aborts the whole
    validation job (perfbench/DEFECTS.md, defect c).
    """
    pick = F.pmod(
        F.xxhash64("image_id", F.lit(_salt(seed, "perturb"))), F.lit(PERTURB_EVERY * 2)
    )
    nxt = ref.select(
        (F.col("page_id") - 1).alias("page_id"),
        F.col("bytes").alias("__next_bytes"),
        F.col("fmt").alias("__next_fmt"),
    )
    is_png = F.col("fmt") == "png"
    kind = (
        F.when(pick == 0, F.lit("caption"))
        .when((pick == 1) & ~is_png, F.lit("truncate"))
        .when((pick == 1) & is_png & (F.col("__next_fmt") == "png"), F.lit("swap"))
        .when(pick == 1, F.lit("caption"))
    )
    return (
        ref.join(nxt, "page_id", "left")
        .withColumn("perturb", kind)
        .withColumn(
            "caption",
            F.when(
                F.col("perturb") == "caption", F.concat(F.col("caption"), F.lit(" (edited)"))
            ).otherwise(F.col("caption")),
        )
        .withColumn(
            "bytes",
            F.when(
                F.col("perturb") == "truncate",
                F.substring(F.col("bytes"), 1, (F.length("bytes") / 2).cast("int")),
            )
            .when(F.col("perturb") == "swap", F.col("__next_bytes"))
            .otherwise(F.col("bytes")),
        )
        .select(*PAYLOAD_COLS, "perturb")
    )


def write_payload(spark: SparkSession, shape: PayloadShape, seed: int, root: str) -> None:
    gen_corpus(spark, shape.corpus_config(seed), parallelism=PARTS).select(
        *PAYLOAD_COLS
    ).write.mode("overwrite").parquet(f"{root}/reference")
    # derived from the written reference, so image encoding runs once
    perturb(spark.read.parquet(f"{root}/reference"), seed).write.mode(
        "overwrite"
    ).parquet(f"{root}/fetched")
