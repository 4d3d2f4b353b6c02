"""Per-layer spans recorded from outside the engine.

A traced crawl replaces, for its duration only, the public layer functions
that ``crawler.loop.crawl`` calls (``select_fetch_batch``, ``dedup_push``,
the ``operators.bloom`` builders and probes, ``Checkpointer`` manifest I/O)
and the fetcher it is handed, with wrappers that open a span, call the real
function and materialise its output (``localCheckpoint(eager=True)``) so
the span's time is that layer's work. Inputs that still carry an upstream
layer's lineage (the dedup candidates carry parse + identity) are
materialised before the span starts.

``extract_canonical_links_udf`` and ``request_identity`` return Columns
that the loop folds into a larger select, so a span cannot isolate them
there; after each traced fetch the benchmark re-runs both on the fetched
pages itself (``parse`` and ``identity`` spans). That replay is extra work
and lands in the tracing overhead.

Each span runs its Spark jobs under its own job group, so the stage
counters (shuffle bytes, executor time, task skew) are per layer call.
Spans live in memory and are summarised when the run ends.
"""

from __future__ import annotations

import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.counters import SparkCounters, StageTotals

#: layers that get a spark.* counter set, in report order
SPARK_LAYERS = (
    "frontier", "fetchers", "parse", "identity", "dedup",
    "bloom.build", "bloom.probe",
    "validate.psnr", "validate.phash", "validate.neardup",
)


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: StageTotals | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def materialise(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class Tracer:
    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].group if self._open else None
        s = Span(name, f"span-{len(self.spans)}-{name}", parent)
        self.spans.append(s)
        self._open.append(s)
        try:
            with self.counters.group(s.group):
                s.start = time.perf_counter()
                yield s
                s.end = time.perf_counter()
        finally:
            self._open.pop()

    @contextmanager
    def bookkeeping(self):
        """Counting jobs the tracer itself runs, kept out of every span."""
        with self.counters.group("trace-bookkeeping"):
            yield

    def close(self) -> None:
        for s in self.spans:
            if s.spark is None:
                s.spark = self.counters.totals(s.group)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.of(name))

    def count(self, name: str, key: str) -> int:
        return sum(s.counts.get(key, 0) for s in self.of(name))

    def spark_metrics(self) -> dict[str, float]:
        out = {}
        for layer in SPARK_LAYERS:
            spans = self.of(layer)
            out[f"spark.shuffle_bytes.{layer}"] = float(
                sum(s.spark.shuffle_bytes for s in spans)
            )
            out[f"spark.executor_run_s.{layer}"] = sum(
                s.spark.executor_run_s for s in spans
            )
            out[f"spark.task_skew.{layer}"] = max(
                (s.spark.task_skew for s in spans), default=0.0
            )
        return out


def _ok() -> F.Column:
    return (F.col("status") >= 200) & (F.col("status") < 300)


class TracedFetcher:
    """Wraps a fetcher: a ``fetchers`` span per call, then the parse and
    identity replays over the pages it fetched."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer

    def fetch(self, batch: DataFrame) -> DataFrame:
        from dotnetspider_spark.crawler.parse import extract_canonical_links_udf
        from dotnetspider_spark.functions.identity import request_identity

        t = self.tracer
        with t.span("fetchers") as s:
            out = materialise(self.inner.fetch(batch))
        with t.bookkeeping():
            row = out.agg(F.count("*"), F.sum(_ok().cast("int"))).first()
        s.counts.update(rows=row[0], ok=row[1] or 0)

        with t.span("parse") as s:
            links = materialise(
                out.filter(_ok()).select(
                    extract_canonical_links_udf(F.col("html"), F.col("url")).alias("links")
                )
            )
        with t.bookkeeping():
            row = links.agg(F.count("*"), F.sum(F.size("links"))).first()
        s.counts.update(pages=row[0], links=row[1] or 0)

        with t.span("identity"):
            materialise(
                links.select(F.explode("links").alias("url")).select(
                    request_identity(F.col("url")).alias("identity")
                )
            )
        return out


@contextmanager
def instrument_crawl(tracer: Tracer):
    """Patch the layer functions ``crawler.loop.crawl`` calls; undo on exit."""
    import dotnetspider_spark.crawler.loop as loop
    import dotnetspider_spark.operators.bloom as bloom

    t = tracer

    def rank(orig):
        def traced(*a, **kw):
            with t.span("frontier") as s:
                out = materialise(orig(*a, **kw))
            with t.bookkeeping():
                rows = out.count()
                hot = out.groupBy("host").count().agg(F.max("count")).first()[0]
            s.counts.update(rows=rows, hot=hot or 0)
            return out
        return traced

    def dedup(orig):
        def traced(candidates, *a, **kw):
            with t.span("discover"):
                candidates = materialise(candidates)
            with t.span("dedup") as s:
                out = materialise(orig(candidates, *a, **kw))
            with t.bookkeeping():
                s.counts.update(candidates=candidates.count(), fresh=out.count())
            return out
        return traced

    def build(orig):
        def traced(*a, **kw):
            with t.span("bloom.build"):
                return materialise(orig(*a, **kw))
        return traced

    def probe(orig):
        def traced(candidates, *a, **kw):
            candidates = materialise(candidates)
            with t.span("bloom.probe") as s:
                out = materialise(orig(candidates, *a, **kw))
            with t.bookkeeping():
                row = out.agg(F.count("*"), F.sum((~F.col("maybe_seen")).cast("int"))).first()
            s.counts.update(probed=row[0], definitely_new=row[1] or 0)
            return out
        return traced

    def manifest(orig):
        def traced(*a, **kw):
            with t.span("ckpt.manifest"):
                return orig(*a, **kw)
        return traced

    patches = [
        (loop, "select_fetch_batch", rank),
        (loop, "dedup_push", dedup),
        (bloom, "build_blooms", build),
        (bloom, "dedup_push_bloom", dedup),
        (bloom, "probe_blooms", probe),
        (loop.Checkpointer, "save_manifest", manifest),
        (loop.Checkpointer, "load_manifest", manifest),
    ]
    with ExitStack() as undo:
        for owner, name, wrap in patches:
            orig = getattr(owner, name)
            setattr(owner, name, wrap(orig))
            undo.callback(setattr, owner, name, orig)
        yield
