"""The benchmark's embedding backend.

Feature-hash term counts (so vectors carry term overlap and retrieval
ranks by shared words) behind an ``embed_batch`` override. The override
switches off the Catalyst twin, so the engine embeds through the
``mapInPandas`` path that every external model takes.

Work counters ride Spark accumulators, so the embed layer reports the
texts, Arrow batches and seconds spent inside ``embed_batch`` on the
workers without an extra job. Driver-side calls (the single-query probe
embed of ``VectorIndex.search``) are timed separately.
"""

from __future__ import annotations

import time

from pyspark.accumulators import AccumulatorParam

from wagtail_vector_index_spark.embedding.feature_hash import (
    FeatureHashEmbeddingBackend,
)


class _FloatSum(AccumulatorParam):
    def zero(self, value):
        return 0.0

    def addInPlace(self, a, b):
        return a + b


class CountingFeatureHash(FeatureHashEmbeddingBackend):
    model_id = "feature-hash-arrow"

    def __init__(self, sc, dimensions: int = 64):
        super().__init__(dimensions)
        self.texts = sc.accumulator(0)
        self.batches = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0, _FloatSum())
        self.probe_calls = 0
        self.probe_s = 0.0

    def __getstate__(self):
        state = dict(self.__dict__)
        # driver-only tallies stay behind; accumulators pickle themselves
        state.pop("probe_calls", None)
        state.pop("probe_s", None)
        return state

    def embed_batch(self, texts):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        out = super().embed_batch(texts)
        dt = time.perf_counter() - t0
        if TaskContext.get() is None:
            self.probe_calls += 1
            self.probe_s += dt
        else:
            self.texts.add(len(texts))
            self.batches.add(1)
            self.busy_s.add(dt)
        return out

    def counters(self) -> dict:
        return {
            "embed.texts": self.texts.value,
            "embed.arrow_batches": self.batches.value,
            "embed.busy_s": self.busy_s.value,
            "index.probe_embeds": self.probe_calls,
            "index.probe_embed_s": self.probe_s,
        }
