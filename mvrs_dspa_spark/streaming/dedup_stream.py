"""Streaming MinHash near-duplicate detection (SURVEY §2e/§2f).

The streaming analog of the batch `dedup_minhash_lsh` /
`dedup_incremental` pair: documents arrive on a stream, and each doc
is flagged against everything that arrived BEFORE it — the shape of a
continuously-ingesting crawl pipeline, where re-running batch dedup
over the whole corpus per increment is O(corpus) per batch.

Spark-first layout:
- shingle + signature computation is narrow column expressions
  (`signature_array_col`: per-row array_min over affine hash
  families — no aggregation, hence no extra stateful operator);
- LSH banding explodes one (band, bucket) row per band;
- the only stateful step is `applyInPandasWithState` keyed on
  (band, bh): state holds the signatures previously seen in that
  bucket, new arrivals are scored against them (matching-component
  fraction, same estimator as batch) and then appended.

State is bounded per bucket (`max_bucket_docs`, mirroring the batch
known-pairs cap) and bucket COUNT is controlled by the signature
width — with `lsh_bits_for`-style sizing, expected occupancy stays
constant as the corpus grows, so per-key state and per-doc compare
cost stay O(occupancy), not O(corpus).

Ordering semantics: within a micro-batch, docs are processed in
(ts, doc_id) order; `dup_of` always references a doc earlier in that
order or from an earlier batch. A doc pair sharing k bands emits its
match once per shared band (collapse downstream with a groupBy, as
:func:`batch_reference_near_dup` does).
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.functions import minhash as MH

N_HASHES = 32
BANDS = 16
SEED = 2719  # same family as the batch dedup operators
NEAR_DUP_SIM = 0.5
MAX_BUCKET_DOCS = 256

_PARAMS = H.hash_params(N_HASHES, seed=SEED)

OUTPUT_SCHEMA = (
    "doc_id long, dup_of long, band int, bh long, est_sim double"
)
# ids: docs retained in this bucket (insertion order = arrival order);
# sigs: their signatures, flattened row-major (len = len(ids) * n);
# tss: event-time ms per stored doc (drives the optional TTL eviction)
STATE_SCHEMA = "ids array<long>, sigs array<long>, tss array<long>"


def shingle_codes_col(text: Column) -> Column:
    """Distinct bigram shingle codes over whitespace tokens — the same
    expression pipeline as the batch `_doc_shingles` (dedup.py)."""
    toks = F.filter(F.split(text, "\\s+"), lambda t: t != "")
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    left = F.slice(toks, F.lit(1), n)
    right = F.slice(toks, F.lit(2), n)
    return F.array_distinct(
        F.zip_with(
            left,
            right,
            lambda x, y: (H.str_code_col(x) * 31 + H.str_code_col(y)) % F.lit(H.P),
        )
    )


def _dedup_fn(
    n_hashes: int,
    threshold: float,
    max_bucket_docs: int,
    ttl_ms: int | None = None,
):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        import numpy as np  # self-contained closure

        if state.exists:
            ids_l, sigs_l, tss_l = state.get
            ids = list(ids_l)
            flat = list(sigs_l)
            tss = list(tss_l)
        else:
            ids, flat, tss = [], [], []

        # event-time TTL: drop stored docs whose ts is TTL past the
        # watermark BEFORE comparing — a dup of an expired doc is no
        # longer reported (the retention contract), and bucket state
        # is bounded by the retention horizon, not corpus history.
        # getCurrentWatermarkMs raises unless a watermark is set, so
        # only consult it on the TTL path (which always sets one)
        wm_ms = state.getCurrentWatermarkMs() if ttl_ms is not None else 0
        if ttl_ms is not None and wm_ms > 0 and ids:
            keep = [
                i for i, t in enumerate(tss) if t + ttl_ms > wm_ms
            ]
            if len(keep) < len(ids):
                ids = [ids[i] for i in keep]
                tss = [tss[i] for i in keep]
                flat = [
                    x
                    for i in keep
                    for x in flat[i * n_hashes : (i + 1) * n_hashes]
                ]

        rows = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                for _, r in pdf.sort_values(["ts", "doc_id"]).iterrows():
                    ts_ms = int(r["ts"].value // 1_000_000)
                    rows.append((int(r["doc_id"]), list(r["sg"]), ts_ms))
        else:
            for _ in pdfs:  # release Arrow batches
                pass

        out = []
        band, bh = int(key[0]), int(key[1])
        min_match = threshold * n_hashes
        for doc_id, sg, ts_ms in rows:
            if ids:
                prev = np.asarray(flat, dtype=np.int64).reshape(
                    len(ids), n_hashes
                )
                matches = (prev == np.asarray(sg, dtype=np.int64)).sum(axis=1)
                for j in np.nonzero(matches >= min_match)[0]:
                    out.append(
                        {
                            "doc_id": doc_id,
                            "dup_of": ids[j],
                            "band": band,
                            "bh": bh,
                            "est_sim": round(float(matches[j]) / n_hashes, 6),
                        }
                    )
            if len(ids) < max_bucket_docs:
                ids.append(doc_id)
                flat.extend(int(x) for x in sg)
                tss.append(ts_ms)

        if ids:
            state.update((ids, flat, tss))
            if ttl_ms is not None:
                # wake when the oldest stored doc can expire
                state.setTimeoutTimestamp(
                    max(min(tss) + ttl_ms + 1, wm_ms + 1)
                )
        else:
            state.remove()
        if out:
            yield pd.DataFrame(out)

    return fn


def streaming_near_dup(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    threshold: float = NEAR_DUP_SIM,
    max_bucket_docs: int = MAX_BUCKET_DOCS,
    params: list[tuple[int, int]] | None = None,
    state_ttl: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-band near-dup match stream over (doc_id, ts, text).

    Returns append-mode rows (doc_id, dup_of, band, bh, est_sim):
    one row per shared band per matching earlier doc. Collapse to
    per-pair verdicts with ``groupBy(doc_id, dup_of).max(est_sim)``
    in the consumer (e.g. a foreachBatch upsert).

    ``state_ttl`` (e.g. ``"1 hour"``) bounds bucket state by an
    event-time retention horizon: stored docs expire once the
    watermark passes their ts + TTL (watermark-driven, like the
    reply-tree mapping TTL), so dups are only reported against the
    retained window. Without it, state is the full (capped) corpus."""
    params = params if params is not None else H.hash_params(n_hashes, seed=SEED)
    ttl_ms: int | None = None
    if state_ttl is not None:
        qty, unit = state_ttl.split()
        ttl_ms = int(qty) * {
            "second": 1000, "seconds": 1000,
            "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000,
            "day": 86_400_000, "days": 86_400_000,
        }[unit]
        docs = docs.withWatermark("ts", watermark_delay)
    sig = docs.select(
        "doc_id", "ts", shingle_codes_col(F.col("text")).alias("_sh")
    ).select(
        "doc_id",
        "ts",
        MH.signature_array_col("_sh", params).alias("sg"),
        F.size("_sh").alias("_n_sh"),
    ).where(F.col("_n_sh") > 0)
    banded = MH.bucket_rows_from_sig_df(
        sig.select("doc_id", "ts", "sg"), n_hashes, bands
    ).drop("bhs")
    return banded.groupBy("band", "bh").applyInPandasWithState(
        _dedup_fn(n_hashes, threshold, max_bucket_docs, ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def batch_reference_near_dup(docs: DataFrame) -> DataFrame:
    """Batch twin of :func:`streaming_near_dup` for equivalence tests:
    per-pair (doc_id, dup_of, est_sim) where dup_of is earlier by
    (ts, doc_id), using the SAME signature expressions."""
    params = H.hash_params(N_HASHES, seed=SEED)
    sig = (
        docs.select("doc_id", "ts", shingle_codes_col(F.col("text")).alias("_sh"))
        .where(F.size("_sh") > 0)
        .select("doc_id", "ts", MH.signature_array_col("_sh", params).alias("sg"))
    )
    banded = MH.bucket_rows_from_sig_df(sig, N_HASHES, BANDS)
    a, b = banded.alias("a"), banded.alias("b")
    earlier = (F.col("b.ts") < F.col("a.ts")) | (
        (F.col("b.ts") == F.col("a.ts"))
        & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    match = MH.sig_match_count_col(F.col("a.sg"), F.col("b.sg"))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & earlier,
        )
        .where(match >= F.lit(NEAR_DUP_SIM * N_HASHES))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("dup_of"),
            F.round(match.cast("double") / N_HASHES, 6).alias("est_sim"),
        )
        .groupBy("doc_id", "dup_of")
        .agg(F.max("est_sim").alias("est_sim"))
    )
