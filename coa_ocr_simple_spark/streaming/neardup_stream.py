"""Streaming near-duplicate candidate detection — MinHash-LSH bands with
per-bucket state via ``applyInPandasWithState``.

The batch engine turns band buckets into candidate pairs after the fact
(plans/driver_queries_dedup.minhash_candidate_pairs); this is the
continuous-ingest variant: each arriving document's band signatures are
computed JVM-side (the identical minhash_bands transform — stateless, so
it runs unchanged on a streaming DataFrame), and per-(band, signature)
state carries the bucket's previously seen doc_ids across micro-batches
and restarts.  A new arrival is emitted as a candidate pair against
every prior member of its bucket the moment it lands — the streaming
analogue of LSH dedup, with downstream exact verification (n-gram
Jaccard) left to the batch path it feeds.

Hot-bucket semantics vs batch: the batch query DROPS a bucket that
exceeds the cap (it sees the full corpus before emitting).  A stream
cannot retract already-emitted pairs, so the streaming operator stops
emitting once a bucket reaches the cap and permanently marks it
overflowed — early pairs from a bucket that later turns out to be
template boilerplate WILL have been emitted; the cap bounds state and
work per bucket either way.  This divergence is inherent to no-
retraction streaming and is documented here by design.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.driver_queries import minhash_bands
from ..plans.driver_queries_dedup import _MAX_BUCKET
from ._runner import to_parquet
from .dedup_stream import DOCUMENTS_FLAT

PAIRS = StructType(
    [
        StructField("band", LongType()),
        StructField("signature", StringType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)

BUCKET_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("overflowed", BooleanType()),
    ]
)


def _make_bucket_fn(cap: int):
    def flag_bucket(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band, signature = key
        if state.exists:
            ids, overflowed = state.get
            ids = list(ids)
        else:
            ids, overflowed = [], False

        out = []
        for pdf in pdfs:
            for doc_id in sorted(int(d) for d in pdf["doc_id"]):
                if overflowed:
                    continue
                if len(ids) >= cap:
                    overflowed = True  # cap reached: stop emitting forever
                    continue
                for prior in ids:
                    a, b = (prior, doc_id) if prior < doc_id else (doc_id, prior)
                    out.append((band, signature, a, b))
                ids.append(doc_id)

        state.update((ids if not overflowed else ids[:cap], overflowed))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in PAIRS.fields])

    return flag_bucket


def run_streaming_neardup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    cap: int = _MAX_BUCKET,
    available_now: bool = True,
):
    """Emit (band, signature, doc_a, doc_b) candidate-pair events as
    documents arrive; bucket membership survives restarts via the
    checkpointed state store."""
    docs = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    bands = minhash_bands(docs)

    pairs = bands.groupBy("band", "signature").applyInPandasWithState(
        _make_bucket_fn(cap),
        outputStructType=PAIRS,
        stateStructType=BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return to_parquet(pairs, output_path, stream_checkpoint, available_now)
